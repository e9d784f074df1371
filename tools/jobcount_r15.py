#!/usr/bin/env python
"""Count Spark JOBS per bench query + per streaming micro-batch —
noise-free structural evidence for the r15 optimization round (job ids
are sequential; a no-op marker job before/after each body brackets its
count). Batch surfaces mirror bench.py's query bodies (the r14 batch
harness, folded in here); the streaming block drives each handle's
foreachBatch writer directly (the way the tests do) and counts the jobs
one steady-state micro-batch costs — the per-batch fixed-job overhead
VERDICT r14 item 7 asks to measure.

Usage: python tools/jobcount_r15.py [repo_root]
Prints one JSON line {surface: n_jobs, ...}.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
    os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F

from lanterndb_spark.session import get_spark, load_tables


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="jobcount-r15")
    sc = spark.sparkContext
    spark.sparkContext.setLogLevel("ERROR")
    t = load_tables(spark, sf_dir)
    emb, docs = t["embeddings"], t["documents"]
    emb.cache().count(); docs.cache().count()

    from lanterndb_spark.operators.autotune import sample_queries
    from lanterndb_spark.operators.bm25 import (
        build_postings, corpus_stats, search_bm25_df,
    )
    from lanterndb_spark.operators.dedup import minhash_lsh_pairs
    from lanterndb_spark.operators.hybrid import weighted_vector_search_df
    from lanterndb_spark.operators.ivf import build_ivf, ivf_search_batch, ivf_search_df
    from lanterndb_spark.operators.knn import knn_join
    from lanterndb_spark.operators.pq import quantize, train_codebook
    from lanterndb_spark.plans.shape import release

    def _last_job_id() -> int:
        ids = sc.statusTracker().getJobIdsForGroup()
        return max(ids) if ids else -1

    def count_jobs(fn) -> int:
        sc.parallelize([0], 1).count()
        before = _last_job_id()
        fn()
        sc.parallelize([0], 1).count()
        after = _last_job_id()
        return after - before - 1

    out = {}
    idx = build_ivf(emb, "embedding", nlist=16, seed=42)
    idx.assigned.cache().count()
    qs = sample_queries(emb, "embedding", n=10, seed=7)
    p = build_postings(docs).cache(); p.count()
    st = corpus_stats(docs)

    def q_ivf():
        idx2 = build_ivf(emb, "embedding", nlist=16, seed=42)
        idx2.assigned.cache().count()
        qs2 = sample_queries(emb, "embedding", n=10, seed=7)
        ivf_search_batch(idx2, qs2, k=10, nprobe=10, id_col="vec_id").collect()
        idx2.assigned.unpersist()

    out["q_ivf"] = count_jobs(q_ivf)

    def q_minhash():
        o = minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=64,
                              bands=16, threshold=0.5)
        o.count(); release(o)

    out["q_minhash"] = count_jobs(q_minhash)

    def q_knn_join():
        qdf = emb.limit(32).select(F.col("vec_id").alias("q_id"),
                                   F.col("embedding").alias("qv"))
        knn_join(emb, "embedding", qdf, "qv", k=10, id_col="vec_id").collect()

    out["q_knn_join"] = count_jobs(q_knn_join)

    def q_bm25_build():
        p2 = build_postings(docs).cache(); p2.count()
        corpus_stats(docs)
        p2.unpersist()

    out["q_bm25_build"] = count_jobs(q_bm25_build)

    def q_pq():
        cb = train_codebook(emb, "embedding", splits=8, clusters=16, seed=42)
        quantize(emb, "embedding", cb).select(
            F.sum(F.element_at("embedding_pq", 1))).collect()

    out["q_pq"] = count_jobs(q_pq)

    qdf_b = spark.createDataFrame(
        [(i, q) for i, q in enumerate(qs * 200)][:2000],
        "q_id int, query array<double>").persist()
    qdf_b.count()

    def ivfdf():
        o = ivf_search_df(idx, qdf_b, k=10, nprobe=10, id_col="vec_id")
        o.count(); release(o)

    out["ivfdf_2k"] = count_jobs(ivfdf)

    qtexts = ["spark window merge", "broadcast join plan",
              "stream state checkpoint", "partition data table",
              "query engine index", "shuffle spill memory",
              "columnar scan filter", "hash aggregate group"]
    qdf_t = spark.createDataFrame(
        [(i, qtexts[i % 8]) for i in range(64)], "q_id int, query string")

    def bm25df():
        search_bm25_df(docs, qdf_t, limit=10, postings=p, stats=st).count()

    out["bm25df_64"] = count_jobs(bm25df)

    emb2 = emb.select("vec_id", "embedding", F.reverse("embedding").alias("emb_r"))
    qdf_h = spark.createDataFrame(
        [(i, q, list(reversed(q))) for i, q in enumerate(qs * 26)][:256],
        "q_id int, qv array<double>, qv_r array<double>").persist()
    qdf_h.count()

    def hybdf():
        o = weighted_vector_search_df(
            emb2, [(1.0, "embedding", "qv"), (0.5, "emb_r", "qv_r")],
            qdf_h, id_col="vec_id", ef=20, limit=10,
            indexes={"embedding": idx}, nprobe=4)
        o.count(); release(o)

    out["hybriddf_256"] = count_jobs(hybdf)

    # ------------------------------------------------ streaming block
    # one steady-state micro-batch per handle: the writer is called
    # directly (foreachBatch passes plain DataFrames; the tests drive
    # the handles the same way), so the count is exactly the fixed
    # per-micro-batch job overhead.
    emb_rows = emb.select("vec_id", "embedding").limit(96).collect()
    b0 = spark.createDataFrame(emb_rows[:32], emb.select("vec_id", "embedding").schema)
    b1 = spark.createDataFrame(emb_rows[32:64], emb.select("vec_id", "embedding").schema)

    from lanterndb_spark.streaming.semdedup import semantic_dedup_ingest_stream

    sem = semantic_dedup_ingest_stream("vec_id", "embedding", max_cos_dist=0.2)
    sem.writer()(b0, 0)  # first batch: graph build (not steady state)
    out["semdedup_batch"] = count_jobs(lambda: sem.writer()(b1, 1))

    from lanterndb_spark.streaming.ann import ann_ingest_stream

    ann = ann_ingest_stream(idx, id_col="vec_id")
    ann.writer()(b0, 0)
    out["ann_ingest_batch"] = count_jobs(lambda: ann.writer()(b1, 1))
    qdf_s = spark.createDataFrame(
        [(i, list(r["embedding"])) for i, r in enumerate(emb_rows[64:72])],
        "q_id int, query array<double>")

    def ann_search():
        o = ann.search_df(qdf_s, k=5, nprobe=4)
        o.count(); release(o)

    out["ann_ingest_search"] = count_jobs(ann_search)

    from lanterndb_spark.streaming.scd import scd2_ingest_stream

    ev = t["events"].select(
        F.col("user_id").alias("k"), F.col("ts").alias("ts"),
        F.col("event_type").alias("attr"),
    ).limit(400).collect()
    sch = "k bigint, ts timestamp, attr string"
    sb0 = spark.createDataFrame(ev[:200], sch)
    sb1 = spark.createDataFrame(ev[200:], sch)
    scd = scd2_ingest_stream("k", "ts", ["attr"])
    scd.writer()(sb0, 0)
    out["scd2_batch"] = count_jobs(lambda: scd.writer()(sb1, 1))

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()

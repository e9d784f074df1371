#!/usr/bin/env python
"""Interleaved A/B of ivf_search_df's driver-side routing for
Catalyst-known-small query frames (r15) against the executor routing
path — forced by setting plans.shape.KNOWN_SMALL_ROWS=0, which takes
the pre-change routing path (it also turns off the other known-small
gates, e.g. the one-task dup check's coalesce). Measures the bench's ivfdf_2k and
hybriddf_256 bodies (the two bench surfaces whose inner ivf_search_df
calls hit the gate) plus per-body job counts, and asserts row identity
between the arms. Writes spark-warehouse/ivfdroute_ab_r15.json.

Usage: python tools/ab_droute_r15.py [reps]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F

from lanterndb_spark.session import get_spark, load_tables

REPS = int(sys.argv[1]) if len(sys.argv) > 1 else 5
OUT = os.path.join(ROOT, "spark-warehouse", "ivfdroute_ab_r15.json")


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    conditions = {}
    try:
        la = os.getloadavg()
        conditions = {"load_1m": round(la[0], 2), "load_5m": round(la[1], 2)}
    except OSError:
        pass
    spark = get_spark(app_name="ab-droute-r15")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    emb.cache().count()

    from lanterndb_spark.operators.autotune import sample_queries
    from lanterndb_spark.operators.hybrid import weighted_vector_search_df
    from lanterndb_spark.operators.ivf import build_ivf, ivf_search_df
    from lanterndb_spark.plans import shape
    from lanterndb_spark.plans.shape import release

    idx = build_ivf(emb, "embedding", nlist=16, seed=42)
    idx.assigned.cache().count()
    qs = sample_queries(emb, "embedding", n=10, seed=7)

    qdf_b = spark.createDataFrame(
        [(i, q) for i, q in enumerate(qs * 200)][:2000],
        "q_id int, query array<double>").persist()
    qdf_b.count()
    qdf_h = spark.createDataFrame(
        [(i, q, list(reversed(q))) for i, q in enumerate(
            qs * (256 // len(qs) + 1))][:256],
        "q_id int, qv array<double>, qv_r array<double>").persist()
    qdf_h.count()
    emb2 = emb.select(
        "vec_id", "embedding", F.reverse("embedding").alias("emb_r"))

    def body_ivfdf():
        out = ivf_search_df(idx, qdf_b, k=10, nprobe=10, id_col="vec_id")
        n = out.count()
        release(out)
        return n

    def body_hybriddf():
        out = weighted_vector_search_df(
            emb2, [(1.0, "embedding", "qv"), (0.5, "emb_r", "qv_r")],
            qdf_h, id_col="vec_id", ef=20, limit=10,
            indexes={"embedding": idx}, nprobe=4)
        n = out.count()
        release(out)
        return n

    def njobs(fn):
        sc.parallelize([0], 1).count()
        ids = sc.statusTracker().getJobIdsForGroup()
        before = max(ids) if ids else -1
        fn()
        sc.parallelize([0], 1).count()
        ids = sc.statusTracker().getJobIdsForGroup()
        return (max(ids) if ids else -1) - before - 1

    # row identity between arms (ivfdf surface; hybrid rides the same gate)
    out_d = ivf_search_df(idx, qdf_b, k=10, nprobe=10, id_col="vec_id")
    rows_d = sorted((r[0], r[1], round(r[2], 9)) for r in out_d.collect())
    release(out_d)
    old = shape.KNOWN_SMALL_ROWS
    shape.KNOWN_SMALL_ROWS = 0
    try:
        out_e = ivf_search_df(idx, qdf_b, k=10, nprobe=10, id_col="vec_id")
        rows_e = sorted((r[0], r[1], round(r[2], 9)) for r in out_e.collect())
        release(out_e)
    finally:
        shape.KNOWN_SMALL_ROWS = old
    assert rows_d == rows_e and rows_d, "arms disagree"

    doc = {
        "harness": "interleaved same-session A/B; arm B forces the "
                   "executor routing path via shape.KNOWN_SMALL_ROWS=0 "
                   "(the pre-change code path verbatim); medians over "
                   f"{REPS} paired reps after one warm rep each",
        "rows_identical": True,
        "n_rows": len(rows_d),
        "run_conditions": conditions,
        "surfaces": {},
    }
    for name, body in (("ivfdf_2k", body_ivfdf), ("hybriddf_256", body_hybriddf)):
        body()
        shape.KNOWN_SMALL_ROWS = 0
        body()
        shape.KNOWN_SMALL_ROWS = old
        t_d, t_e = [], []
        for _ in range(REPS):
            t0 = time.monotonic(); body(); t_d.append(round(time.monotonic() - t0, 3))
            shape.KNOWN_SMALL_ROWS = 0
            try:
                t0 = time.monotonic(); body(); t_e.append(round(time.monotonic() - t0, 3))
            finally:
                shape.KNOWN_SMALL_ROWS = old
        j_d = njobs(body)
        shape.KNOWN_SMALL_ROWS = 0
        try:
            j_e = njobs(body)
        finally:
            shape.KNOWN_SMALL_ROWS = old
        doc["surfaces"][name] = {
            "driver_route_s": statistics.median(t_d), "samples_driver": t_d,
            "executor_route_s": statistics.median(t_e), "samples_executor": t_e,
            "jobs_driver": j_d, "jobs_executor": j_e,
        }
        print(name, doc["surfaces"][name], flush=True)

    with open(OUT, "w") as f:
        json.dump(doc, f, indent=1)
    print("wrote", OUT)
    spark.stop()


if __name__ == "__main__":
    main()

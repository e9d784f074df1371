"""The closed-loop workloads. Each one generates its inputs from
the seed (outside every timed region), loads them, builds its indexes,
then runs rounds of calls into the program from a single client until
the measuring time is used up, and finally checks every result against
an exact or oracle-checked path."""

from __future__ import annotations

import os
import statistics

import numpy as np

import gen

K = 10

SIZES = {
    "full": {
        "ann_base": 4_000, "ann_shards": 4, "ann_efc": 64, "ann_batch": 200,
        "ann_batches": 8, "ann_nlist": 16, "ann_pq_clusters": 64,
        "ingest_shards": 2, "ingest_delta": 500, "probes": 16,
        "docs": 2_500, "emb": 2_000, "ivf_nlist": 16, "bm25_batch": 64,
        "hybrid_batch": 128, "text_batches": 4, "agreement_sample": 3,
        "recall_queries": 200,
    },
    "tiny": {
        "ann_base": 2_000, "ann_shards": 2, "ann_efc": 32, "ann_batch": 100,
        "ann_batches": 3, "ann_nlist": 8, "ann_pq_clusters": 32,
        "ingest_shards": 2, "ingest_delta": 100, "probes": 16,
        "docs": 500, "emb": 500, "ivf_nlist": 8, "bm25_batch": 16,
        "hybrid_batch": 32, "text_batches": 3, "agreement_sample": 4,
        "recall_queries": 50,
    },
}


def top_ids(rows, q_col: str, id_col: str, score_col: str,
            descending: bool = False) -> dict[int, list[int]]:
    """{q_id: ids ranked by score, id tie-break} from collected rows."""
    sign = -1.0 if descending else 1.0
    by_q: dict[int, list[tuple[float, int]]] = {}
    for r in rows:
        by_q.setdefault(int(r[q_col]), []).append(
            (sign * float(r[score_col]), int(r[id_col]))
        )
    return {q: [i for _, i in sorted(v)] for q, v in by_q.items()}


def recall(got: dict, truth: dict, q_ids) -> float:
    hits = sum(len(set(got.get(q, [])[:K]) & set(truth[q][:K])) for q in q_ids)
    return hits / (K * len(q_ids))


def exact_topk(base: np.ndarray, ids: np.ndarray, queries: np.ndarray) -> list:
    """numpy brute force (float64), the check on the knn_join truth."""
    b = base.astype(np.float64)
    out = []
    for q in queries.astype(np.float64):
        d = ((b - q) ** 2).sum(1)
        top = np.lexsort((ids, d))[:K]
        out.append([int(i) for i in ids[top]])
    return out


def materialize(df):
    df = df.cache()
    df.count()
    return df


class Workload:
    """Base: subclasses fill ``generate``, ``load``, ``build``,
    ``warmup``, ``round`` and ``finish``. ``r`` is the :class:`Run`
    (run.py) that times calls, counts operations and holds metrics."""

    name = ""
    # the workload's own metrics beside the shared ones, with units
    named: dict[str, str] = {}

    def __init__(self, seed: int, size: str, work: str):
        self.seed = seed
        self.sz = SIZES[size]
        self.work = work
        self.query_time = 0.0
        self.queries = 0
        self.latencies: list[float] = []

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def truth(self, r, data, vec_col, id_col, qdf, q_col):
        """Exact top-k through knn_join, cross-checked on the driver."""
        from lanterndb_spark.operators.knn import knn_join

        rows, _ = r.call(
            "knn.knn_join",
            lambda: knn_join(
                data, vec_col, qdf, q_col, k=K, id_col=id_col,
                unique_q_ids=True,
            ).collect(),
        )
        return top_ids(rows, "q_id", id_col, "dist")


class AnnBatch(Workload):
    """Offline build, then eval-pass-sized ANN batches whose query frame
    is read from parquet (row count unknown to Catalyst, so the executor
    query route runs)."""

    name = "ann_batch"
    named = {
        "hnsw_qps": "queries/s", "ivfpq_qps": "queries/s",
        "hnsw_recall_at_10": "fraction", "ivfpq_recall_at_10": "fraction",
    }

    def generate(self):
        sz = self.sz
        src = gen.VectorSource(self.seed)
        self.base = src.draw(sz["ann_base"])
        self.ids = np.arange(sz["ann_base"])
        gen.write(gen.vector_table(self.ids, self.base), self.path("base.parquet"))
        self.qx = []
        for b in range(sz["ann_batches"]):
            q = src.draw(sz["ann_batch"])
            self.qx.append(q)
            gen.write(
                gen.vector_table(np.arange(len(q)), q, "q_id", "query"),
                self.path(f"q{b}.parquet"),
            )

    def load(self, spark):
        self.spark = spark
        self.df = materialize(spark.read.parquet(self.path("base.parquet")))

    def qdf(self, b: int):
        return self.spark.read.parquet(
            self.path(f"q{b % self.sz['ann_batches']}.parquet")
        )

    def build(self, r):
        from lanterndb_spark.operators.hnsw import build_hnsw
        from lanterndb_spark.operators.ivf import build_ivfpq

        sz = self.sz
        self.hnsw, t1 = r.call(
            "hnsw.build_hnsw", build_hnsw, self.df, "v", id_col="id",
            num_shards=sz["ann_shards"], ef_construction=sz["ann_efc"],
            seed=self.seed,
        )

        def ivfpq():
            p = build_ivfpq(
                self.df, "v", nlist=sz["ann_nlist"], splits=8,
                clusters=sz["ann_pq_clusters"], seed=self.seed,
            )
            materialize(p.assigned)
            return p

        self.pq, t2 = r.call("ivf.build_ivfpq", ivfpq)
        return t1 + t2

    def _hnsw(self, r, b):
        from lanterndb_spark.operators.hnsw import hnsw_search_df

        rows, t = r.call(
            "hnsw.hnsw_search_df",
            lambda: hnsw_search_df(self.hnsw, self.qdf(b), k=K, ef=64).collect(),
        )
        r.check("hnsw rows == nq*k", len(rows) == self.sz["ann_batch"] * K,
                f"batch {b}: {len(rows)} rows")
        return rows, t

    def _ivfpq(self, r, b):
        from lanterndb_spark.operators.ivf import ivfpq_search_df

        rows, t = r.call(
            "ivf.ivfpq_search_df",
            lambda: ivfpq_search_df(
                self.pq, self.pq.codebook, self.qdf(b), k=K, nprobe=8,
                refine=4, id_col="id",
            ).collect(),
        )
        r.check("ivfpq rows == nq*k", len(rows) == self.sz["ann_batch"] * K,
                f"batch {b}: {len(rows)} rows")
        return rows, t

    def warmup(self, r):
        # batch 0 is untimed; its leading queries are the recall sample
        hn, _ = self._hnsw(r, 0)
        pq, _ = self._ivfpq(r, 0)
        self.got_hnsw = top_ids(hn, "q_id", "id", "dist")
        self.got_pq = top_ids(pq, "q_id", "id", "dist")
        self.t = {"hnsw": [0.0, 0], "ivfpq": [0.0, 0]}

    def round(self, r, i):
        for kind, fn in (("hnsw", self._hnsw), ("ivfpq", self._ivfpq)):
            _, t = fn(r, i + 1)
            self.t[kind][0] += t
            self.t[kind][1] += self.sz["ann_batch"]
            self.query_time += t
            self.queries += self.sz["ann_batch"]

    def finish(self, r):
        nq = self.sz["recall_queries"]
        qdf = self.qdf(0).filter(f"q_id < {nq}")
        truth = self.truth(r, self.df, "v", "id", qdf, "query")
        r.check_oracle(truth, exact_topk(self.base, self.ids, self.qx[0][:nq]))
        q_ids = range(nq)
        rec_h = recall(self.got_hnsw, truth, q_ids)
        rec_p = recall(self.got_pq, truth, q_ids)
        r.check("hnsw recall@10 >= 0.9", rec_h >= 0.9, f"{rec_h:.4f}")
        r.check("ivfpq recall@10 >= 0.5", rec_p >= 0.5, f"{rec_p:.4f}")
        return {
            "hnsw_qps": (self.t["hnsw"][1] / self.t["hnsw"][0], "queries/s"),
            "ivfpq_qps": (self.t["ivfpq"][1] / self.t["ivfpq"][0], "queries/s"),
            "hnsw_recall_at_10": (rec_h, "fraction"),
            "ivfpq_recall_at_10": (rec_p, "fraction"),
            "recall_at_10": (min(rec_h, rec_p), "fraction"),
        }


class IngestLeg:
    """Writes beside reads, the streaming-ANN micro-batch shape: each
    step inserts a known-small delta into an HNSW index (the
    broadcast-delta insert path), then searches a 16-query LocalRelation
    batch (the driver query route) of which half are rows just inserted.
    Every insert re-mints the touched shards' blobs, so the search's
    graph cache misses by construction and per-call job overhead
    dominates."""

    def __init__(self, seed: int, sz: dict, base: np.ndarray):
        self.sz = sz
        self.seed = seed
        self.base = base
        self.recall_q = gen.embeddings(seed, sz["recall_queries"], stream=3000)
        self.deltas: list[np.ndarray] = []
        self.rows = 0
        self.insert_time = 0.0
        self.latencies: list[float] = []
        self.fresh_hits = [0, 0]

    def step_inputs(self, i: int):
        """Step ``i``'s delta (ids, vectors) and probe batch, drawn from
        the seed alone so any number of steps is reproducible. Both are
        LocalRelations: Catalyst knows their exact size."""
        d, half = self.sz["ingest_delta"], self.sz["probes"] // 2
        x = gen.embeddings(self.seed, d, stream=1000 + i)
        ids = np.arange(len(self.base) + i * d, len(self.base) + (i + 1) * d)
        pick = np.random.default_rng([self.seed, 7, i]).choice(d, half, replace=False)
        q = np.concatenate([gen.embeddings(self.seed, half, stream=2000 + i), x[pick]])
        delta = self.spark.createDataFrame(
            gen.vector_table(ids, x, "vec_id", "embedding"))
        probes = self.spark.createDataFrame(
            gen.vector_table(np.arange(len(q)), q, "q_id", "query"))
        return x, ids[pick], delta, probes

    def load(self, spark):
        self.spark = spark

    def build(self, r, df):
        from lanterndb_spark.operators.hnsw import build_hnsw

        self.index, t = r.call(
            "hnsw.build_hnsw", build_hnsw, df, "embedding", id_col="vec_id",
            num_shards=self.sz["ingest_shards"], ef_construction=64,
            seed=self.seed,
        )
        return t

    def step(self, r, timed: bool):
        """Insert the next delta, then search the probes; return the
        search wall time."""
        from lanterndb_spark.operators.hnsw import hnsw_insert, hnsw_search_df

        x, picked, delta, probes = self.step_inputs(len(self.deltas))
        self.deltas.append(x)
        old = self.index.graphs
        self.index, t_ins = r.call(
            "hnsw.hnsw_insert", hnsw_insert, self.index, delta
        )
        old.unpersist()
        rows, t_s = r.call(
            "hnsw.hnsw_search_df",
            lambda: hnsw_search_df(self.index, probes, k=K, ef=64).collect(),
        )
        nq = self.sz["probes"]
        r.check("hnsw probe rows == nq*k", len(rows) == nq * K,
                f"{len(rows)} rows")
        got = top_ids(rows, "q_id", "vec_id", "dist")
        for j, vid in enumerate(picked):
            self.fresh_hits[0] += got.get(nq // 2 + j, [None])[0] == int(vid)
            self.fresh_hits[1] += 1
        if timed:
            self.insert_time += t_ins
            self.rows += len(x)
            self.latencies.append(t_s)
        return t_s

    def finish(self, r, truth_fn) -> dict:
        """HNSW recall@10 against exact truth over the grown table."""
        from lanterndb_spark.operators.hnsw import hnsw_search_df

        allx = np.concatenate([self.base] + self.deltas)
        grown = self.spark.createDataFrame(gen.vector_table(
            np.arange(len(allx)), allx, "vec_id", "embedding"
        ))
        qdf = self.spark.createDataFrame(gen.vector_table(
            np.arange(len(self.recall_q)), self.recall_q, "q_id", "query"
        ))
        rows, _ = r.call(
            "hnsw.hnsw_search_df",
            lambda: hnsw_search_df(self.index, qdf, k=K, ef=64).collect(),
        )
        got = top_ids(rows, "q_id", "vec_id", "dist")
        truth = truth_fn(r, grown, "embedding", "vec_id", qdf, "query")
        r.check_oracle(truth, exact_topk(allx, np.arange(len(allx)), self.recall_q))
        rec = recall(got, truth, range(len(self.recall_q)))
        fresh = self.fresh_hits[0] / self.fresh_hits[1]
        r.check("hnsw recall@10 >= 0.9", rec >= 0.9, f"{rec:.4f}")
        r.check("fresh_hit_rate >= 0.9", fresh >= 0.9, f"{fresh:.4f}")
        return {
            "insert_rows_per_s": (self.rows / self.insert_time, "rows/s"),
            "search_p50_s": (statistics.median(self.latencies), "s"),
            "fresh_hit_rate": (fresh, "fraction"),
            "hnsw_recall_at_10": (rec, "fraction"),
        }


class Sf01Retrieval(Workload):
    """sf0.1-shaped text + embeddings. Each round runs a BM25 batch, a
    hybrid batch (an IVF term plus an exact term), a MinHash-LSH dedup
    pass and one :class:`IngestLeg` step over an HNSW index of the
    embeddings. The tables are small, so per-job and Python-worker start
    costs dominate rather than kernels."""

    name = "sf01_retrieval"
    named = {
        "bm25_qps": "queries/s", "hybrid_qps": "queries/s",
        "dedup_docs_per_s": "docs/s", "bm25_agreement": "fraction",
        "insert_rows_per_s": "rows/s", "search_p50_s": "s",
        "fresh_hit_rate": "fraction", "hnsw_recall_at_10": "fraction",
    }

    def generate(self):
        sz = self.sz
        docs, self.twins = gen.documents(self.seed, sz["docs"])
        gen.write(docs, self.path("documents.parquet"))
        self.emb_x = gen.embeddings(self.seed, sz["emb"])
        gen.write(
            gen.vector_table(np.arange(sz["emb"]), self.emb_x, "vec_id", "embedding"),
            self.path("embeddings.parquet"),
        )
        nb, nh = sz["bm25_batch"], sz["hybrid_batch"]
        self.texts = gen.query_texts(self.seed, nb * sz["text_batches"])
        self.qv = [
            gen.embeddings(self.seed, nh, stream=b + 1)
            for b in range(sz["text_batches"])
        ]
        self.ingest = IngestLeg(self.seed, sz, self.emb_x)
        self.latencies = self.ingest.latencies

    def load(self, spark):
        from pyspark.sql import functions as F

        self.spark = spark
        self.docs = materialize(spark.read.parquet(self.path("documents.parquet")))
        emb = spark.read.parquet(self.path("embeddings.parquet"))
        # the second term scores the reversed vector against the reversed
        # query, so the joint distance is 1.5 * l2sq and exact truth is
        # the single-column top-k
        self.emb = materialize(
            emb.select("vec_id", "embedding",
                       F.reverse("embedding").alias("emb_r"))
        )
        nb = self.sz["bm25_batch"]
        self.bm25_q = [
            spark.createDataFrame(
                [(j, t) for j, t in enumerate(self.texts[b * nb:(b + 1) * nb])],
                "q_id int, query string",
            )
            for b in range(self.sz["text_batches"])
        ]
        self.hybrid_q = []
        for q in self.qv:
            t = gen.vector_table(np.arange(len(q)), q, "q_id", "qv")
            t = t.append_column("qv_r", gen.vector_table(
                np.arange(len(q)), q[:, ::-1], "q_id", "v").column("v"))
            self.hybrid_q.append(spark.createDataFrame(t))
        self.ingest.load(spark)

    def build(self, r):
        from lanterndb_spark.operators.bm25 import build_postings, corpus_stats
        from lanterndb_spark.operators.ivf import build_ivf

        self.postings, t1 = r.call(
            "bm25.build_postings", lambda: materialize(build_postings(self.docs))
        )
        self.stats, t2 = r.call("bm25.corpus_stats", corpus_stats, self.docs)

        def ivf():
            idx = build_ivf(self.emb, "embedding", nlist=self.sz["ivf_nlist"],
                            seed=self.seed)
            materialize(idx.assigned)
            return idx

        self.ivf, t3 = r.call("ivf.build_ivf", ivf)
        self.t = {"bm25": [0.0, 0], "hybrid": [0.0, 0], "dedup": [0.0, 0]}
        return t1 + t2 + t3 + self.ingest.build(r, self.emb)

    def _bm25(self, r, b):
        from lanterndb_spark.operators.bm25 import search_bm25_df

        rows, t = r.call(
            "bm25.search_bm25_df",
            lambda: search_bm25_df(
                self.docs, self.bm25_q[b], limit=K, postings=self.postings,
                stats=self.stats,
            ).collect(),
        )
        r.check("bm25 rows == nq*k", len(rows) == self.sz["bm25_batch"] * K,
                f"{len(rows)} rows")
        return rows, t

    def _hybrid(self, r, b):
        from lanterndb_spark.operators.hybrid import weighted_vector_search_df

        rows, t = r.call(
            "hybrid.weighted_vector_search_df",
            lambda: weighted_vector_search_df(
                self.emb, [(1.0, "embedding", "qv"), (0.5, "emb_r", "qv_r")],
                self.hybrid_q[b], id_col="vec_id", ef=20, limit=K,
                indexes={"embedding": self.ivf}, nprobe=4,
            ).select("q_id", "vec_id", "joint_dist").collect(),
        )
        r.check("hybrid rows == nq*k", len(rows) == self.sz["hybrid_batch"] * K,
                f"{len(rows)} rows")
        return rows, t

    def _dedup(self, r):
        from lanterndb_spark.operators.dedup import minhash_lsh_pairs
        from lanterndb_spark.plans.shape import release

        def run():
            out = minhash_lsh_pairs(
                self.docs, "doc_id", "text", num_hashes=64, bands=16,
                threshold=0.5,
            )
            rows = out.collect()
            release(out)
            return rows

        rows, t = r.call("dedup.minhash_lsh_pairs", run)
        pairs = {tuple(sorted((int(x["id_a"]), int(x["id_b"])))) for x in rows}
        found = sum(p in pairs for p in self.twins) / max(1, len(self.twins))
        r.check("planted twins found >= 0.9", found >= 0.9, f"{found:.3f}")
        r.check("pairs jaccard >= 0.5",
                all(x["jaccard"] >= 0.5 for x in rows), f"{len(rows)} pairs")
        return t

    def warmup(self, r):
        rows, _ = self._bm25(r, 0)
        self.got_bm25 = top_ids(rows, "q_id", "doc_id", "bm25", descending=True)
        self.bm25_rows = rows
        rows, _ = self._hybrid(r, 0)
        self.got_hybrid = top_ids(rows, "q_id", "vec_id", "joint_dist")
        self._dedup(r)
        self.ingest.step(r, timed=False)

    def round(self, r, i):
        b = 1 + i % (self.sz["text_batches"] - 1)
        _, t = self._bm25(r, b)
        self.t["bm25"][0] += t
        self.t["bm25"][1] += self.sz["bm25_batch"]
        _, t2 = self._hybrid(r, b)
        self.t["hybrid"][0] += t2
        self.t["hybrid"][1] += self.sz["hybrid_batch"]
        self.query_time += t + t2
        self.queries += self.sz["bm25_batch"] + self.sz["hybrid_batch"]
        self.t["dedup"][0] += self._dedup(r)
        self.t["dedup"][1] += self.sz["docs"]
        self.query_time += self.ingest.step(r, timed=True)
        self.queries += self.sz["probes"]

    def finish(self, r):
        from lanterndb_spark.operators.bm25 import search_bm25

        agree = 0
        n = self.sz["agreement_sample"]
        for j in range(n):
            rows, _ = r.call(
                "bm25.search_bm25",
                lambda: search_bm25(
                    self.docs, self.texts[j], limit=K, postings=self.postings,
                    stats=self.stats,
                ).collect(),
            )
            single = [int(x["doc_id"]) for x in rows]
            agree += single == self.got_bm25.get(j, [])
        agreement = agree / n
        r.check("bm25_agreement == 1", agreement == 1.0, f"{agreement:.3f}")
        # the joint distance ranks like single-column l2sq, so the
        # driver-side brute force is the hybrid's exact truth
        nq = min(self.sz["recall_queries"], self.sz["hybrid_batch"])
        exact = exact_topk(self.emb_x, np.arange(self.sz["emb"]), self.qv[0][:nq])
        rec = recall(self.got_hybrid, dict(enumerate(exact)), range(nq))
        r.check("hybrid recall@10 >= 0.9", rec >= 0.9, f"{rec:.4f}")
        out = self.ingest.finish(r, self.truth)
        out.update({
            "bm25_qps": (self.t["bm25"][1] / self.t["bm25"][0], "queries/s"),
            "hybrid_qps": (self.t["hybrid"][1] / self.t["hybrid"][0], "queries/s"),
            "dedup_docs_per_s": (self.t["dedup"][1] / self.t["dedup"][0], "docs/s"),
            "bm25_agreement": (agreement, "fraction"),
            "recall_at_10": (min(rec, out["hnsw_recall_at_10"][0]), "fraction"),
        })
        return out


WORKLOADS = {w.name: w for w in (AnnBatch, Sf01Retrieval)}

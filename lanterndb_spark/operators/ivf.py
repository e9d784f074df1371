"""IVF-flat ANN index: k-means centroids + nprobe candidate pruning.

The reference's acceleration structure is an HNSW graph (usearch) built
per-table and stored in index pages. A pointer-chasing graph is the wrong
shape for a shared-nothing engine; the Spark-native equivalent with the
same contract (approximate top-k with a recall/latency knob) is IVF:

- build: one distributed MLlib KMeans over the vector column → ``nlist``
  centroids; every row gets its nearest-centroid ``cluster_id``. Persisted
  with ``partitionBy(cluster_id)`` the layout gives partition pruning —
  the scan for a query only reads ``nprobe``/``nlist`` of the data, the
  IVF analogue of the HNSW index "visiting few nodes"
  (cost model hnsw.c:89-145).
- search: nearest ``nprobe`` centroids to the query (driver-side argmin
  over nlist rows — tiny), then exact knn over only those clusters.
  ``nprobe`` plays the role of the ``ef`` GUC (options.c:337-348):
  recall/latency knob, tuned by operators.autotune.

With nprobe == nlist this degrades gracefully to exact search (recall 1),
mirroring how the reference tests ANN against the exact oracle
(test/sql/hnsw_correct.sql:17-48).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lanterndb_spark.operators.knn import knn

# ivf_search_df auto-impl crossover, in QUERIES PER PROBED CLUSTER
# (nq x nprobe / nlist). Both impls' dominant costs scale linearly
# with base rows — expr pays interpreted folds on rows_probed x
# queries_per_cluster pairs, arrow pays Arrow serialization of the
# probed rows — so base size cancels and the crossover is a pure
# density. Measured r9 at the 2M tier (DESIGN.md): expr/arrow 40.4 s
# vs 8.1 s at density 16, 328.8 s vs 24.1 s at density 128 — arrow's
# fixed cost (worker spin-up + probed-row serialization) is ~3-8 s
# flat, so breakeven density is ~2-3; gate at 8 to keep genuinely
# small batches on the lower-latency codegen join.
_ARROW_QPC_CROSSOVER = 8


class IvfIndex:
    """Handle holding the assigned DataFrame + centroid array."""

    def __init__(self, assigned: DataFrame, centroids: np.ndarray, vec_col: str):
        self.assigned = assigned
        self.centroids = centroids
        self.vec_col = vec_col

    @property
    def nlist(self) -> int:
        return len(self.centroids)


class IvfPqIndex(IvfIndex):
    """IvfIndex whose assigned table carries PQ codes, plus the FROZEN
    codebook — the ``pq=true`` reloption as a first-class handle (the
    reference stores the codebook IN the index, build.c:497-501, and
    scores quantized at scan time, scan.c:75-81). ``codebook`` is the
    local frame :func:`train_codebook` / :func:`load_ivfpq` return: it
    was trained (or read) once, so searches read it without a job and
    score codes against the very centroids that encoded them — a lazy
    lineage here re-ran k-means on every search (~1.4 s each). Because
    ``assigned`` retains the original vectors alongside the codes, the
    handle also works anywhere a plain IvfIndex does (hybrid candidate
    stages, ivf_search) — the codes only accelerate the pq-aware
    routes."""

    def __init__(
        self,
        assigned: DataFrame,
        centroids: np.ndarray,
        vec_col: str,
        codebook: DataFrame,
        pq_col: str | None = None,
    ):
        super().__init__(assigned, centroids, vec_col)
        self.codebook = codebook
        self.pq_col = pq_col or f"{vec_col}_pq"


def build_ivfpq(
    df: DataFrame,
    vec_col: str,
    nlist: int = 16,
    splits: int = 8,
    clusters: int = 256,
    seed: int = 42,
    **ivf_kw,
) -> IvfPqIndex:
    """One-call pq=true build: IVF layout + trained codebook + coded
    rows (build.c:453-501's CREATE INDEX ... WITH (pq=true) path).
    Search with :func:`ivfpq_search` / :func:`ivfpq_search_df` passing
    ``index.codebook``."""
    from lanterndb_spark.operators.pq import (
        CODEBOOK_SCHEMA, quantize, train_codebook,
    )

    raw = build_ivf(df, vec_col, nlist=nlist, seed=seed, **ivf_kw)
    if raw.nlist == 0:
        # empty build (build.c:653-727 analogue, same contract as
        # build_ivf): typed-empty index, no codebook to train — the
        # searches' nlist==0 guards return typed-empty results
        spark = df.sparkSession
        cb = spark.createDataFrame([], CODEBOOK_SCHEMA)
        assigned = raw.assigned.withColumn(
            f"{vec_col}_pq", F.lit(None).cast("array<smallint>")
        )
        return IvfPqIndex(assigned, raw.centroids, vec_col, cb)
    cb = train_codebook(df, vec_col, splits=splits, clusters=clusters, seed=seed)
    return IvfPqIndex(quantize(raw.assigned, vec_col, cb), raw.centroids, vec_col, cb)


def build_ivf(
    df: DataFrame,
    vec_col: str,
    nlist: int = 16,
    seed: int = 42,
    max_iter: int = 25,
    cluster_col: str = "cluster_id",
    sample_limit: int = 50_000,
) -> IvfIndex:
    """Sample-trained k-means centroids + distributed full-table assignment.

    IVF centroid quality needs only a bounded random sample (the standard
    coarse-quantizer recipe; the reference bounds codebook training the
    same way via ``dataset_size_limit``, lantern.sql:196). Training a
    full-data distributed k-means would scan 100 TB per Lloyd iteration;
    sampling caps training at one scan + a driver-side fit, and the only
    full-data pass is the embarrassingly-parallel assignment — an
    Arrow-batched numpy argmin against the broadcast centroid matrix.
    """
    from lanterndb_spark.operators.pq import _kmeans_numpy

    from lanterndb_spark.plans.shape import bounded_rand_sample

    # driver-safe sample: the old orderBy(rand).limit(n).collect() plan
    # ships every task's local top-n to the driver — past ~40 partitions
    # at n=50k that exceeds spark.driver.maxResultSize (found by the r12
    # 50M smoke)
    rows = bounded_rand_sample(
        df.select(F.col(vec_col).alias("v")), sample_limit, seed
    )
    if not rows:
        # empty build (ldb_ambuildunlogged analogue, build.c:653-727):
        # a valid zero-vector index; searches return empty
        empty = df.withColumn(cluster_col, F.lit(0).cast("int"))
        return IvfIndex(empty, np.zeros((0, 0)), vec_col)
    x = np.asarray([r["v"] for r in rows], dtype=np.float64)
    centroids = _kmeans_numpy(x, nlist, seed=seed, max_iters=max_iter).astype(np.float64)
    assigned = df.withColumn(
        cluster_col, _assign_expr(df.sparkSession, centroids, vec_col)
    )
    return IvfIndex(assigned, centroids, vec_col)


def _assign_expr(spark, centroids: np.ndarray, vec_col: str):
    """Arrow-batched nearest-centroid id against broadcast centroids."""
    bc = spark.sparkContext.broadcast(centroids)

    @F.pandas_udf("int")
    def assign(s: pd.Series) -> pd.Series:
        c = bc.value
        xs = np.asarray(s.tolist(), dtype=np.float64)
        d = (xs**2).sum(1)[:, None] - 2.0 * xs @ c.T + (c**2).sum(1)[None, :]
        return pd.Series(d.argmin(axis=1).astype(np.int32))

    return assign(F.col(vec_col))


def ivfpq_search(
    index: IvfIndex,
    codebook: DataFrame,
    query: list[float],
    k: int = 10,
    nprobe: int = 4,
    refine: int = 4,
    pq_col: str | None = None,
    id_col: str | None = None,
) -> DataFrame:
    """IVF + PQ composite — the reference's pq=true index mode
    (build.c:497-501 loads the codebook into the index; scan.c:75-81
    scores quantized) and the standard billion-scale layout:

    1. prune to ``nprobe`` clusters (partition pruning on the saved
       layout — reads nprobe/nlist of the data);
    2. ADC-score the PQ codes (1 byte/subvector instead of 4·dim — the
       scan that touches every surviving row reads ~32× less);
    3. exact re-rank of the top ``k·refine`` candidates on the full
       vectors (a k·refine-row job, negligible).

    ``index.assigned`` must carry the PQ code column (run pq.quantize
    over the assigned table once at build time).
    """
    from lanterndb_spark.operators.pq import adc_knn

    pq_col = pq_col or f"{index.vec_col}_pq"
    if index.nlist == 0:  # empty index → typed empty result (ivf_search's guard)
        return knn(
            index.assigned.filter(F.lit(False)), index.vec_col, query,
            k=k, id_col=id_col,
        )
    q = np.asarray(query, dtype=np.float64)
    d = ((index.centroids - q[None, :]) ** 2).sum(axis=1)
    probes = [int(i) for i in np.argsort(d)[:nprobe]]
    cand = index.assigned.filter(F.col("cluster_id").isin(probes))
    coarse = adc_knn(cand, pq_col, query, codebook, k=k * refine, id_col=id_col).drop("dist")
    return knn(coarse, index.vec_col, query, k=k, id_col=id_col)


def ivfsq_search(
    index: IvfIndex,
    query: list[float],
    k: int = 10,
    nprobe: int = 4,
    refine: int = 4,
    code_col: str | None = None,
    id_col: str | None = None,
) -> DataFrame:
    """IVF + SQ8 composite — the reference's ``quant_bits=8`` reloption
    over an index (options.c:137-158 / hnsw_sq.sql) re-expressed on the
    IVF backend, sitting between plain IVF and IVF+PQ on the
    accuracy/size curve:

    1. prune to ``nprobe`` clusters (same partition pruning as
       :func:`ivf_search` — reads nprobe/nlist of the data);
    2. coarse-score the int8 codes dequantized on the fly
       (``code·scale`` — the scan reads 1 byte/dim + one scale instead
       of 4 bytes/dim, symmetric-scale i8 like usearch's);
    3. exact re-rank of the top ``k·refine`` on the full vectors.

    ``index.assigned`` must carry the SQ8 columns (run
    ``sq.sq8_quantize`` over the assigned table once at build time, the
    same contract as :func:`ivfpq_search`'s codes).
    """
    from lanterndb_spark.operators.knn import knn
    from lanterndb_spark.operators.sq import sq8_dequantize

    code_col = code_col or f"{index.vec_col}_sq8"
    if index.nlist == 0:
        return knn(
            index.assigned.filter(F.lit(False)), index.vec_col, query,
            k=k, id_col=id_col,
        )
    q = np.asarray(query, dtype=np.float64)
    d = ((index.centroids - q[None, :]) ** 2).sum(axis=1)
    probes = [int(i) for i in np.argsort(d)[:nprobe]]
    cand = index.assigned.filter(F.col("cluster_id").isin(probes))
    deq = sq8_dequantize(cand, code_col, "__sq_deq")
    coarse = knn(deq, "__sq_deq", query, k=k * refine, id_col=id_col).drop(
        "dist", "__sq_deq"
    )
    return knn(coarse, index.vec_col, query, k=k, id_col=id_col)


def ivfsq_search_batch(
    index: IvfIndex,
    queries: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
    refine: int = 4,
    code_col: str | None = None,
    id_col: str | None = None,
) -> DataFrame:
    """Batch twin of :func:`ivfsq_search`, composed from the IVF batch
    machinery: the coarse pass runs :func:`ivf_search_batch` over the
    ON-THE-FLY dequantized codes (top ``k·refine`` per query), then one
    distributed window re-ranks each query's candidates on the full
    vectors. Same shape as knn_join: nothing scales with n after the
    pruned compressed scan. Returns (q_id, …data cols…, dist).
    """
    from pyspark.sql.window import Window

    from lanterndb_spark.functions.distance import distance
    from lanterndb_spark.operators.sq import sq8_dequantize

    code_col = code_col or f"{index.vec_col}_sq8"
    deq = sq8_dequantize(index.assigned, code_col, "__sq_deq")
    coarse_index = IvfIndex(deq, index.centroids, "__sq_deq")
    coarse = ivf_search_batch(
        coarse_index, queries, k=k * refine, nprobe=nprobe, id_col=id_col
    ).drop("dist", "__sq_deq")
    spark = index.assigned.sparkSession
    qdf = spark.createDataFrame(
        [(i, [float(x) for x in q]) for i, q in enumerate(queries)],
        "q_id int, __qv array<double>",
    )
    rescored = coarse.join(F.broadcast(qdf), "q_id").withColumn(
        "dist", distance("l2sq", F.col(index.vec_col), F.col("__qv"))
    )
    order = [F.col("dist").asc()]
    if id_col:
        order.append(F.col(id_col).asc())
    w = Window.partitionBy("q_id").orderBy(*order)
    return (
        rescored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn", "__qv")
    )


def _partial_topk(k: int, id_col: str):
    """Map-side per-query cut: only k rows per query can survive the
    global window, so each partition forwards at most nq·k rows.
    Incremental fold — each Arrow batch is cut to k-per-query BEFORE
    joining the running accumulator, and the accumulator re-cuts
    whenever it doubles, so held memory is O(nq·k), never the raw
    pair count of the partition (on the expr path that pair set is
    rows_probed × queries_per_cluster and must not be materialized
    whole). pandas (not lexsort) so q_id may be any orderable dtype."""
    def partial_topk(batches):
        def cut(pdf):
            pdf = pdf.sort_values(["__qid", "dist", id_col])
            return pdf.groupby("__qid", sort=False).head(k)

        acc = None
        watermark = 0  # size of acc right after its last cut
        for pdf in batches:
            if not len(pdf):
                continue
            part = cut(pdf)
            if acc is None:
                acc, watermark = part, len(part)
                continue
            acc = pd.concat([acc, part], ignore_index=True)
            if len(acc) > 2 * watermark:
                acc = cut(acc)
                watermark = max(len(acc), 1)
        if acc is not None:
            yield cut(acc)

    return partial_topk


# element cap of one (B, nlist, dim) routing block: <=~256 MB of f64
_ROUTE_BLOCK_ELEMS = 1 << 25
# element cap of one (queries, rows) scoring block: <=~128 MB of f64.
# The kernels read it from their closure, so it is fixed at plan time.
_SCORE_BLOCK_ELEMS = 1 << 24


def _route_blocks(cents: np.ndarray, qarr: np.ndarray, np_eff: int):
    """Yield ``(start, probes)`` per block of queries: each query's
    ``np_eff`` nearest centroids, bit-identical (set AND order) to the
    full ``((cents - q)**2).sum`` formulation and np.argsort that
    ivf_search runs, even at near-tied centroid distances. A BLAS
    ``|c|² − 2·q·cᵀ`` pass keeps the centroids within a rounding bound
    of each query's np_eff-th expanded distance; only those are
    re-scored by the exact formulation. A query whose exact top
    np_eff + 1 distances hold a tie falls back to the full argsort of
    its row, so tie order never differs either. Blocked so the
    (B, nlist, dim) tensor stays within ``_ROUTE_BLOCK_ELEMS``; each
    query's row is computed alone, so the block size never changes a
    probe. The one routing of the ivf family AND of cluster-routed hnsw
    (shards are its cells): every hnsw search form, single-query to
    executor route, probes through it."""
    dim = cents.shape[1] if cents.ndim == 2 else 1
    blk = max(1, _ROUTE_BLOCK_ELEMS // max(len(cents) * dim, 1))
    cn = np.einsum("sd,sd->s", cents, cents)
    for s in range(0, len(qarr), blk):
        yield s, _route_block(cents, cn, qarr[s : s + blk], np_eff)


def _full_route(cents: np.ndarray, qb: np.ndarray, np_eff: int) -> np.ndarray:
    """The exact formulation over every centroid."""
    d = ((cents[None, :, :] - qb[:, None, :]) ** 2).sum(-1)
    return np.argsort(d, axis=1)[:, :np_eff]


def _route_block(cents, cn, qb, np_eff: int) -> np.ndarray:
    """:func:`_route_blocks`' probes for one query block."""
    S, dim = len(cents), cents.shape[-1]
    if 2 * (np_eff + 1) > S:  # a prefilter cannot drop half the row
        return _full_route(cents, qb, np_eff)
    # cn − 2·q·cᵀ orders each row as |q − c|² does (|q|² is a per-row
    # shift); |expanded − exact| <= ~(2·dim + 5)·u·(|q| + |c|)² with
    # u = eps / 2, and tol bounds it 4x over, so every centroid whose
    # exact distance can reach the exact np_eff-th lies within kth + 2·tol
    approx = qb @ cents.T
    approx *= -2.0
    approx += cn
    if not np.isfinite(approx).all():
        return _full_route(cents, qb, np_eff)
    cand = np.argpartition(approx, (np_eff - 1, np_eff), axis=1)
    kth = np.take_along_axis(approx, cand[:, np_eff - 1 : np_eff], 1)
    tol = 4 * (dim + 4) * np.finfo(np.float64).eps * (
        np.sqrt(np.einsum("bd,bd->b", qb, qb)) + np.sqrt(cn.max())) ** 2
    m = max(int((approx <= kth + 2 * tol[:, None]).sum(1).max()), np_eff + 1)
    if 2 * m > S:
        return _full_route(cents, qb, np_eff)
    if m > np_eff + 1:
        cand = np.argpartition(approx, m - 1, axis=1)
    cand = cand[:, :m]
    d = ((cents[cand] - qb[:, None, :]) ** 2).sum(-1)
    order = np.argsort(d, axis=1)[:, : np_eff + 1]
    ds = np.take_along_axis(d, order, 1)
    probes = np.take_along_axis(cand, order[:, :np_eff], 1)
    tie = (ds[:, 1:] == ds[:, :-1]).any(1)
    if tie.any():
        probes[tie] = _full_route(cents, qb[tie], np_eff)
    return probes


def _route_probes(cents: np.ndarray, qarr: np.ndarray, np_eff: int) -> np.ndarray:
    """(nq, np_eff) probes for a driver-side query matrix (nq >= 1)."""
    return np.concatenate([p for _, p in _route_blocks(cents, qarr, np_eff)])


def _centroid_route(bc, np_eff: int):
    """mapInPandas generator routing each query to its ``np_eff``
    nearest centroids via :func:`_route_blocks` (ivf_search_df's
    executor route); emits (__qid, __q, cluster_id) x np_eff rows per
    query."""
    def route(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            qids = pdf["__qid"]
            qarr = np.asarray(pdf["__q"].tolist(), dtype=np.float64)
            for s, probes in _route_blocks(bc.value, qarr, np_eff):
                B = len(probes)
                qb = qarr[s : s + B]
                yield pd.DataFrame({
                    "__qid": qids.iloc[s : s + B].repeat(np_eff).to_numpy(),
                    "__q": [qb[i].tolist() for i in range(B) for _ in range(np_eff)],
                    "cluster_id": probes.reshape(-1).astype(np.int32),
                })

    return route


def _per_row_qid_wrap(
    search, queries: DataFrame, q_id_col: str, q_vec_col: str, id_col: str
) -> DataFrame:
    """Surrogate-wrap a query frame with DUPLICATE q_id values so the
    batch answers PER ROW (each input row keeps its own top-k — the
    lateral-join semantics a SQL batch would have), matching the hnsw
    forms since r11 so the ``LanternTable.knn_batch`` router returns
    the same row count whatever index kind the table happens to carry
    (VERDICT r11 item 1). ``search`` is the backend's own batch route,
    called once on the surrogate-keyed frame with uniqueness asserted;
    the restore join swaps the caller's values back and carries the
    persisted-intermediate and probed-cluster attachments through."""
    from lanterndb_spark.operators.hnsw import (
        _restore_surrogate, _surrogate_key_queries,
    )

    keyed = _surrogate_key_queries(queries, q_id_col, q_vec_col)
    inner = search(keyed.drop("__orig_qid"))
    out = _restore_surrogate(
        inner, keyed, q_id_col, [id_col, "dist"], key_col=q_id_col
    )
    probed = inner.__dict__.get("_lantern_probed")
    if probed is not None:
        out.__dict__["_lantern_probed"] = probed
    return out


# target f64 bytes per salted cogroup task on the arrow kernel's base
# side: the per-(cluster, salt) block is decoded to float64 before the
# matmul, so rows_per_task * dim * 8 should stay well under executor
# task memory. 32 MiB leaves ~4x headroom under the kernel's own 128 MiB
# distance-matrix block and absorbs moderate cluster skew.
_SALT_TARGET_BYTES = 32 << 20


def _adaptive_salt(index: "IvfIndex", salt_cap: int) -> int:
    """Scale-adaptive cogroup salt: ``ceil(per-cluster f64 block bytes /
    32 MiB)``, clamped to [1, salt_cap].

    The salt exists to bound per-task memory (cluster_rows/salt per
    task); it never changes results. A fixed salt=8 is right at the
    measured 2M x 768d tier (~768 MB/cluster) but at small/medium bases
    it splits already-tiny blocks 8 ways, multiplying the routed side
    (which replicates per salt value, query vector payload included) and
    the cogroup task count for nothing — measured 3.6 -> 2.3 s on the
    bench's 2k-query batch over a 2k-row base (profile_r14.json,
    ivfdf.full_salt8 vs ivfdf.salt1). Row/size estimates come from
    Catalyst statistics (driver-side, no job); when stats are
    unavailable the cap (the old fixed behavior) applies."""
    try:
        dim = int(index.centroids.shape[1]) or 1
        stats = index.assigned._jdf.queryExecution().optimizedPlan().stats()
        rc = stats.rowCount()
        if rc.isDefined():
            rows = float(str(rc.get()))
        else:
            # float-array row estimate from byte stats (vec dominates)
            rows = float(str(stats.sizeInBytes())) / max(dim * 4 + 16, 1)
        block_bytes = rows / max(index.nlist, 1) * dim * 8.0
        import math

        return max(1, min(int(salt_cap), math.ceil(block_bytes / _SALT_TARGET_BYTES)))
    except Exception:  # stats unavailable: keep the caller's bound
        return int(salt_cap)


def ivf_search_df(
    index: IvfIndex,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    metric: str = "l2sq",
    id_col: str | None = None,
    pred: Column | None = None,
    q_id_col: str = "q_id",
    q_vec_col: str = "query",
    prune: bool = True,
    impl: str = "auto",
    salt: int = 8,
    unique_q_ids: bool = False,
    base_decode: tuple | None = None,
) -> DataFrame:
    """DataFrame-native batch ANN over an IVF index: queries arrive as a
    DataFrame and are routed to their ``nprobe`` nearest centroids
    EXECUTOR-side (mapInPandas against the broadcast centroid matrix),
    so the batch size is unbounded — the 10^5–10^6-query eval /
    hard-negative-mining shape that the driver-list
    :func:`ivf_search_batch` guards against at 100k. The ivf twin of
    ``hnsw.hnsw_search_df``; reference parity: the scan contract
    (lantern_hnsw/src/hnsw/scan.c:167-238) is per-query, this is the
    batch recast that scales it per backend.

    Plan, and why each stage holds at 100 TB:

    1. route — one ``mapInPandas`` argsorts each query against the
       (tiny, broadcast) centroid matrix and emits
       (q_id, query_vec, cluster_id) × nprobe. Same argsort order as
       :func:`ivf_search`, so per-query results are identical to the
       driver-list form by construction. No driver collect of queries
       — EXCEPT when Catalyst knows the frame's exact row count is
       ≤ ``shape.KNOWN_SMALL_ROWS`` (r15): such batches collect once
       and route on the driver with the identical numpy argsort, the
       prune stats and dup/NULL check become driver-side lookups
       (zero jobs), and the scoring kernel reads the query matrix
       from a broadcast while the routed relation shrinks to
       (position, cluster) pairs.
       Unknown or larger stats keep the executor pass.
    2. prune — the routed frame persists and a map-side-combined
       per-cluster count aggregates over the CACHE (so routing runs
       once; the scoring stage reuses the cached rows); the collected
       stats are bounded by ``nlist`` rows, turn the probed union into
       a static ``isin`` the scan can push down (PartitionFilters on a
       ``partitionBy(cluster_id)`` layout — a batch touching p clusters
       reads p/nlist of the data), AND decide the ``auto`` density gate
       for free (every query emits exactly nprobe routed rows, so the
       counts sum to nq·nprobe). ``prune=False`` skips the pass (and
       the cache) when the batch is known to probe everything; the gate
       then runs its own capped count.
    3. score — two impls, routed by query density (``impl='auto'``):

       - ``expr``: shuffle equi-join base ⋈ routed on cluster_id (plain
         sort-merge/hash join — AQE's skew split covers hot clusters),
         then the JVM-codegen ``distance`` expression. The query vector
         rides the routed side so the distance is computable BEFORE any
         q_id shuffle. Best at low queries-per-cluster: the pair count
         is rows_probed × queries_per_cluster, and each pair pays an
         interpreted array fold.
       - ``arrow``: SALTED cogroup — the base side of each cluster
         splits ``salt_eff`` ways (deterministic pmod of the id;
         ``salt`` is the UPPER BOUND — the effective value adapts to
         the estimated per-cluster block size via :func:`_adaptive_salt`
         so a small base is not split into confetti tasks while the
         100 TB tier keeps the full memory bound), the
         routed side replicates per salt value, and each
         (cluster, salt) task scores its base block against its
         cluster's queries with ONE blocked numpy matmul + in-kernel
         per-query top-k (np.partition threshold keeps boundary ties
         for the exact window to resolve — same kernel contract as
         ivf_search_batch's arrow path). The salt bounds per-task
         memory at cluster_rows/salt regardless of cluster skew — the
         reason a bare cogroup was rejected — and each task emits
         ≤ k·(queries probing the cluster) rows, so the pair matrix
         never hits the shuffle. l2sq + cos (cos = normalized matmul;
         zero-norm rows and queries drop, mirroring the expr path's
         NULL-dist filter); at 10k+ query batches this is the only
         shape whose scoring cost is matmul flops instead of
         interpreted folds.
       - ``auto``: arrow when metric is l2sq/cos and a limit-capped
         probe shows ≥8 queries per probed cluster (nq ≥
         8·nlist/nprobe). The crossover is a density, not a volume —
         both impls' dominant costs scale with base rows, so base size
         cancels (measured at the 2M tier; DESIGN.md r9).
    4. cut — a NARROW per-partition top-k combiner (pandas sort +
       groupby-head, any q_id dtype) shrinks the final window shuffle
       from (candidates) rows to ≤ (partitions × nq × k), then one
       ``row_number`` window resolves the global per-query top-k with
       the (dist, id) tie order shared by every batch path.

    ``pred`` composes before scoring (filtered ANN,
    test/sql/hnsw_select.sql:50-51: the k budget goes to qualifying
    rows only). Returns (q_id_col, id_col, dist) — ``id_col`` is
    required (it is the deterministic tie-break and keeps the combiner
    schema skinny). Duplicate q_id VALUES are PER-ROW, matching the
    hnsw forms (each input row keeps its own top-k): duplicates are
    detected from the keys the driver route collects, or in the prune
    rollup on the executor route (a call with neither — ``prune=False``
    or nprobe ≥ nlist — pays one column-pruned aggregate), and the
    frame falls into the same surrogate wrap ``hnsw_search_df`` uses
    when they exist, so ``LanternTable.knn_batch`` returns the same
    row count whichever index kind routes the call. Callers that mint
    their own unique ids pass ``unique_q_ids=True`` to skip the check
    (asserting uniqueness — with duplicates present it silently merges
    their candidate sets, the pre-r12 behavior).

    The queries lineage is evaluated ONCE: with ``prune`` on, the routed
    frame is persisted and the prune stats (which also decide the
    ``auto`` density gate for free — every query emits exactly nprobe
    routed rows) aggregate over the cache, which the scoring route then
    reuses; call ``plans.shape.release`` on the result after
    materializing to free it. With ``prune=False`` there is no second
    pass to collapse (the gate runs a limit-capped count, bounded).

    ``base_decode`` — coded-scan hook for the arrow kernel:
    ``([col, ...], fn)`` where ``fn(bpdf) -> (rows, dim) float64``.
    When set and the resolved impl is ``arrow``, the base side ships
    ONLY those columns through the Arrow boundary and the kernel
    decodes them in numpy. Two users: ``ivfsq_search_df`` passes its
    int8 codes + scale (cutting the Python-boundary bytes ~8x vs
    serializing the dequantized float column, measured at 2M x 768d,
    spark-warehouse/ab_dim768_r13.json), and ``ivfpq_search_df``
    passes its PQ codes, decoded against the frozen codebook (its ADC
    l2sq is exactly the l2sq to the decoded vector). The expr path
    ignores the hook and reads ``index.vec_col`` (the decoded column
    must still exist on ``index.assigned`` for it; ivfpq forces
    ``impl='arrow'``). ``fn`` must reproduce the vec_col values
    bit-exactly or the two impls diverge."""
    params = dict(
        k=k, nprobe=nprobe, metric=metric, id_col=id_col, pred=pred,
        q_id_col=q_id_col, q_vec_col=q_vec_col, prune=prune, impl=impl,
        salt=salt, base_decode=base_decode,
    )
    out, needs_wrap = _ivf_search_df(
        index, queries, unique_q_ids=unique_q_ids, **params
    )
    if not needs_wrap:
        return out
    return _per_row_qid_wrap(
        lambda q: _ivf_search_df(index, q, unique_q_ids=True, **params)[0],
        queries, q_id_col, q_vec_col, id_col,
    )


def _ivf_search_df(
    index: IvfIndex,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    metric: str = "l2sq",
    id_col: str | None = None,
    pred: Column | None = None,
    q_id_col: str = "q_id",
    q_vec_col: str = "query",
    prune: bool = True,
    impl: str = "auto",
    salt: int = 8,
    unique_q_ids: bool = False,
    base_decode: tuple | None = None,
) -> tuple[DataFrame | None, bool]:
    """Body of :func:`ivf_search_df`: returns ``(result, False)``, or
    ``(None, True)`` when ``unique_q_ids`` is False and the frame holds a
    duplicate or NULL q_id. The caller then takes the per-row surrogate
    wrap around whatever it composes on top of this pass (ivf_search_df
    around itself, :func:`_coarse_rerank_df` around the coarse pass AND
    its re-rank), so the check rides this pass's own collect or prune
    rollup instead of a standalone action."""
    from pyspark.sql import Window

    from lanterndb_spark.functions.distance import distance
    from lanterndb_spark.plans.shape import widen_partitions

    if id_col is None:
        raise ValueError("ivf_search_df requires id_col (tie-break + output key)")
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    if salt < 1:
        # salt=0 would silently match no (cluster, salt) cogroup keys
        raise ValueError(f"salt must be >= 1, got {salt}")
    spark = index.assigned.sparkSession
    q_id_type = queries.schema[q_id_col].dataType.simpleString()
    id_type = index.assigned.schema[id_col].dataType.simpleString()
    if index.nlist == 0:
        # empty build (ldb_ambuildunlogged analogue): valid index, empty answer
        return spark.createDataFrame(
            [], f"{q_id_col} {q_id_type}, {id_col} {id_type}, dist double"
        ), False
    np_eff = min(int(nprobe), index.nlist)

    # KNOWN-SMALL query frames route on the DRIVER (r15, guide §4/§5 —
    # the same single-collect pattern as knn_join's capped collect):
    # when Catalyst KNOWS the frame's exact row count and it is at most
    # shape.KNOWN_SMALL_ROWS, collect the queries ONCE and run the
    # SAME blocked ``_route_blocks`` as _centroid_route — probe choice
    # is bit-identical by construction — then answer the
    # dup/NULL check, the prune stats, the density gate, and the probed
    # set driver-side with NO job at all. The scoring kernel reads the
    # query matrix from a broadcast and the routed relation shrinks to
    # narrow (position, cluster) pairs, so the executor routing pass,
    # its persist, and the rollup aggregate job all disappear (measured
    # 1.57 s of ivfdf_2k's 2.3 s at bench scale). Unknown or large
    # stats keep the executor path unchanged.
    droute = None
    if prune and np_eff < index.nlist:
        from lanterndb_spark.plans.shape import known_small

        if known_small(queries):
            qrows = queries.select(
                F.col(q_id_col), F.col(q_vec_col).cast("array<double>")
            ).collect()
            keys = [r[0] for r in qrows]
            if not unique_q_ids:
                from lanterndb_spark.operators.hnsw import (
                    _collected_qids_need_wrap,
                )

                if _collected_qids_need_wrap(keys, queries, q_id_col):
                    return None, True
            if not qrows:
                return spark.createDataFrame(
                    [], f"{q_id_col} {q_id_type}, {id_col} {id_type}, "
                        "dist double"
                ), False
            qarr = np.asarray([list(r[1]) for r in qrows], dtype=np.float64)
            probes = _route_probes(index.centroids, qarr, np_eff)
            droute = (keys, qarr, probes)

    # duplicate/NULL q_id detection: when the prune pass runs anyway, it
    # rides the SAME aggregate over the cached routed frame (every query
    # emits exactly np_eff routed rows, so dup-or-NULL ⟺
    # count_distinct(__qid)·np_eff ≠ count(1) — count_distinct skips
    # NULLs, so a NULL key also breaks the equality), saving the
    # standalone query-side aggregate job. Without a prune pass the
    # standalone check runs as before.
    deferred_dup_check = (
        (not unique_q_ids) and droute is None
        and prune and np_eff < index.nlist
    )
    if not unique_q_ids and droute is None and not deferred_dup_check:
        from lanterndb_spark.operators.hnsw import _has_duplicate_qids

        if _has_duplicate_qids(queries, q_id_col):
            return None, True
    routed = None
    if droute is None:
        bc = spark.sparkContext.broadcast(index.centroids)
        qsel = queries.select(
            F.col(q_id_col).alias("__qid"),
            F.col(q_vec_col).cast("array<double>").alias("__q"),
        )

        # known-small query batches route in a few big Python tasks
        # instead of one near-empty task per input partition
        # (stats-driven, no job; large/unknown inputs keep their
        # parallelism)
        from lanterndb_spark.plans.shape import coalesce_known_small

        routed = coalesce_known_small(qsel, queries).mapInPandas(
            _centroid_route(bc, np_eff),
            f"__qid {q_id_type}, __q array<double>, cluster_id int",
        )

    # column selection is deferred to the impl branch below: the arrow
    # kernel may scan a coded layout (base_decode) whose columns differ
    # from the expr path's float column, and selecting before the
    # widen_partitions exchange is what keeps the unneeded one out of
    # the shuffle
    src = index.assigned
    if pred is not None:
        src = src.filter(pred)
    probed_stats = None
    cached_routed = None
    probed = None
    if droute is not None:
        # prune stats are a driver-side bincount over the routed probes
        # — no persist, no rollup job; the probed-cluster set and the
        # density gate come for free
        keys, qarr, probes = droute
        counts = np.bincount(probes.reshape(-1), minlength=index.nlist)
        probed = [int(c) for c in np.nonzero(counts)[0]]
        src = src.filter(F.col("cluster_id").isin(probed))
    elif prune and np_eff < index.nlist:
        # ONE evaluation of the queries lineage: the routed frame is
        # persisted and the prune stats aggregate over the CACHE (the
        # collect materializes it), so the scoring route reads cached
        # (qid, vec, cluster) rows instead of re-running routing — and a
        # heavy upstream lineage (join-derived eval sets, hybrid batch
        # candidate unions) pays once. The cache holds nq·nprobe skinny
        # rows across executors; it is attached to the result for
        # plans.shape.release(), like hnsw_search_df_filtered's rounds.
        cached_routed = routed.persist()
        if deferred_dup_check:
            # rollup gives the per-cluster counts AND the grand-total
            # row (cluster_id NULL — route never emits NULL cluster
            # ids) in one job; count_distinct detects dup/NULL keys
            rows = (
                cached_routed.rollup("cluster_id")
                .agg(
                    F.count(F.lit(1)).alias("cnt"),
                    F.count_distinct(F.col("__qid")).alias("dq"),
                )
                .collect()  # bounded: <= nlist + 1 rows
            )
            probed_stats = [r for r in rows if r["cluster_id"] is not None]
            # empty queries → rollup emits no rows at all (grouping keys
            # present): nothing to wrap, nothing to probe
            total = next((r for r in rows if r["cluster_id"] is None), None)
            if total is not None and total["dq"] * np_eff != total["cnt"]:
                cached_routed.unpersist()
                return None, True
        else:
            probed_stats = (
                cached_routed.groupBy("cluster_id")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .collect()  # bounded: <= nlist rows, map-side-combined agg
            )
        routed = cached_routed
        probed = [int(r["cluster_id"]) for r in probed_stats]
        src = src.filter(F.col("cluster_id").isin(probed))

    if impl == "auto":
        # the crossover is query DENSITY (queries per probed cluster) —
        # below it the codegen expr join wins on latency, above it
        # matmul flops beat interpreted per-pair folds
        if droute is not None:
            # every query emits exactly np_eff routed rows
            dense = (
                len(droute[0]) * np_eff >= _ARROW_QPC_CROSSOVER * index.nlist
            )
        elif probed_stats is not None:
            # the prune pass already measured the batch for free: every
            # query emits exactly np_eff routed rows, so sum(cnt) =
            # nq * np_eff and the gate needs NO extra job over queries
            dense = (
                sum(r["cnt"] for r in probed_stats)
                >= _ARROW_QPC_CROSSOVER * index.nlist
            )
        else:
            # limit-capped probe (never a full count)
            cap = max(1, -(-_ARROW_QPC_CROSSOVER * index.nlist // np_eff))
            dense = qsel.limit(cap).count() >= cap
        impl = "arrow" if metric in ("l2sq", "cos") and dense else "expr"
    if impl == "arrow" and metric not in ("l2sq", "cos"):
        raise ValueError("impl='arrow' batch scoring implements l2sq and cos only")
    if impl == "arrow" and base_decode is not None:
        # coded scan: only the code columns cross the exchange and the
        # Arrow boundary; the kernel decodes them in numpy
        data = widen_partitions(src.select("cluster_id", id_col, *base_decode[0]))
    else:
        data = widen_partitions(src.select("cluster_id", id_col, index.vec_col))
    if impl == "arrow":
        vec_col = index.vec_col
        decode_fn = base_decode[1] if base_decode is not None else None
        kk = int(k)
        salt_eff = _adaptive_salt(index, salt)
        base_s = data.withColumn(
            "__salt", F.pmod(F.hash(F.col(id_col)), F.lit(salt_eff)).cast("int")
        )
        qbc = None
        if droute is not None:
            # narrow routed relation: (query position, cluster) pairs —
            # the query VECTORS reach the kernel through one broadcast
            # (the same task-closure pattern as knn_join's arrow path),
            # so neither the routed exchange nor the Arrow boundary
            # carries nq x nprobe vector copies
            keys, qarr, probes = droute
            nq = len(keys)
            qkeys = np.empty(nq, dtype=object)
            qkeys[:] = keys
            qbc = spark.sparkContext.broadcast((qkeys, qarr))
            routed_n = spark.createDataFrame(pd.DataFrame({
                "__pos": np.repeat(
                    np.arange(nq, dtype=np.int32), np_eff),
                "cluster_id": probes.reshape(-1).astype(np.int32),
            }))
            routed_s = routed_n.withColumn(
                "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_eff - 1)))
            )
        else:
            routed_s = routed.withColumn(
                "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_eff - 1)))
            )

        block_elems = _SCORE_BLOCK_ELEMS

        def score(key, bpdf: pd.DataFrame, qpdf: pd.DataFrame) -> pd.DataFrame:
            # QUERY-MAJOR kernel (r11): the distance matrix is (queries,
            # rows) so the per-query top-kk cut is ONE contiguous
            # partition(axis=1) + ONE nonzero over the whole block — the
            # previous row-major kernel cut with a per-query python loop
            # (flatnonzero/repeat per column) plus a column-strided
            # partition. Honest evidence state (r12, the r11 profile
            # artifact was lost): at k=10 eval shapes the two kernels
            # measure EQUAL (vs the r10 kernel, spark-warehouse/
            # ab_qmajor_r12*.json — small-k cuts are not the
            # bottleneck); the rewrite's measured win is the LARGE-k
            # coarse cut of the hybrid candidate stage (k=ef), where the
            # r11 same-session profile halved 24.2 s -> 11.9 s at 2k
            # queries over 2M (spark-warehouse/hybrid_profile_r11.json)
            if not len(bpdf) or not len(qpdf):
                return pd.DataFrame({"__qid": [], id_col: [], "dist": []})
            if decode_fn is not None:
                X = decode_fn(bpdf)
            else:
                X = np.asarray(bpdf[vec_col].tolist(), dtype=np.float64)
            ids = bpdf[id_col].to_numpy()
            if qbc is not None:
                qk, qm = qbc.value
                pos = qpdf["__pos"].to_numpy()
                Q = qm[pos]
                qids = qk[pos]
            else:
                Q = np.asarray(qpdf["__q"].tolist(), dtype=np.float64)
                qids = qpdf["__qid"].to_numpy()
            if metric == "cos":
                # zero-norm rows/queries have undefined angle — drop,
                # mirroring the expr path's NULL-dist filter
                # (distance.py cos_dist convention)
                xn = np.sqrt((X**2).sum(1))
                live = xn > 0.0
                X, ids, xn = X[live], ids[live], xn[live]
                qn = np.sqrt((Q**2).sum(1))
                qlive = qn > 0.0
                Q, qids, qn = Q[qlive], qids[qlive], qn[qlive]
                if not len(X) or not len(Q):
                    return pd.DataFrame({"__qid": [], id_col: [], "dist": []})
            else:
                xn = (X**2).sum(1)
            out_q, out_i, out_d = [], [], []
            # block queries so the (blk, nb) distance matrix stays
            # <=~128 MB however many queries probe this cluster
            blk = max(1, block_elems // max(len(X), 1))
            nb = len(X)
            # one C-contiguous transpose per key: dgemm reads it across
            # every block without re-packing
            Xt = np.ascontiguousarray(X.T)
            for s in range(0, len(Q), blk):
                Qb = Q[s : s + blk]
                # in-place rank-1 updates: the naive expression
                # materializes four (blk, nb) temporaries, and under
                # 32-way worker parallelism the kernel is memory-
                # bandwidth-bound — each avoided pass is wall time
                d = Qb @ Xt
                if metric == "cos":
                    d /= qn[s : s + blk][:, None]
                    d /= xn[None, :]
                    np.subtract(1.0, d, out=d)
                else:
                    d *= -2.0
                    d += (Qb**2).sum(1)[:, None]
                    d += xn[None, :]
                if kk < nb:
                    thr = np.partition(d, kk - 1, axis=1)[:, kk - 1]
                    qi, ri = np.nonzero(d <= thr[:, None])
                else:
                    B = d.shape[0]
                    qi = np.repeat(np.arange(B), nb)
                    ri = np.tile(np.arange(nb), B)
                out_q.append(qids[s + qi])
                out_i.append(ids[ri])
                out_d.append(d[qi, ri])
            return pd.DataFrame({
                "__qid": np.concatenate(out_q),
                id_col: np.concatenate(out_i),
                "dist": np.concatenate(out_d),
            })

        cand = (
            base_s.groupBy("cluster_id", "__salt")
            .cogroup(routed_s.groupBy("cluster_id", "__salt"))
            .applyInPandas(
                score, f"__qid {q_id_type}, {id_col} {id_type}, dist double"
            )
        )
    else:
        if droute is not None:
            # the expr join needs the vectors ON the routed rows (the
            # distance expression reads __q); a driver-built local
            # relation carries them — still no routing job, no persist,
            # no rollup
            keys, qarr, probes = droute
            routed = spark.createDataFrame(
                [(keys[i], [float(x) for x in qarr[i]], int(c))
                 for i in range(len(keys)) for c in probes[i]],
                f"__qid {q_id_type}, __q array<double>, cluster_id int",
            )
        pairs = data.join(routed, on="cluster_id").withColumn(
            "dist", distance(metric, index.vec_col, F.col("__q")).cast("double")
        )
        # NULL dist (cos zero-norm, distance.py's convention) is
        # undefined order — drop, like hnsw_search_df drops zero-norm
        # queries
        cand = pairs.select("__qid", id_col, "dist").filter(
            F.col("dist").isNotNull()
        )

    cand = cand.mapInPandas(
        _partial_topk(k, id_col),
        f"__qid {q_id_type}, {id_col} {id_type}, dist double",
    )
    w = Window.partitionBy("__qid").orderBy(F.col("dist").asc(), F.col(id_col).asc())
    out = (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(F.col("__qid").alias(q_id_col), id_col, "dist")
    )
    if cached_routed is not None:
        from lanterndb_spark.plans.shape import attach_persisted

        out = attach_persisted(out, cached_routed)
    if probed is not None:
        # the probed-cluster set rides the result so composites
        # (ivfsq_search_df's exact re-rank) can keep the coarse pass's
        # partition pruning instead of re-scanning the full table
        out.__dict__["_lantern_probed"] = probed
    return out, False


def _coarse_rerank_df(
    index: IvfIndex,
    coarse_index: IvfIndex,
    queries: DataFrame,
    k: int,
    refine: int,
    id_col: str,
    q_id_col: str,
    q_vec_col: str,
    unique_q_ids: bool,
    base_decode: tuple,
    **search_params,
) -> DataFrame:
    """Shared body of the quantized batch forms (:func:`ivfsq_search_df`,
    :func:`ivfpq_search_df`), which differ only in ``coarse_index`` and
    ``base_decode``:

    1. coarse — ONE :func:`ivf_search_df` pass over ``coarse_index``
       for the top ``k·refine`` per query, whose arrow kernel decodes
       ``base_decode``'s code columns in numpy. The pass also answers
       the per-row q_id question without a standalone action
       (:func:`_ivf_search_df`): from the keys its driver route
       collects, or in its prune rollup on the executor route; only a
       call with no such pass (``prune=False``, or nprobe ≥ nlist)
       runs the standalone check. Duplicate or NULL q_id VALUES then
       take the same surrogate wrap as ``ivf_search_df``, around the
       coarse pass AND the re-rank (without it the re-rank's
       join-by-q_id would fan out across the duplicates and drop NULL
       keys); ``unique_q_ids=True`` skips the check;
    2. re-rank — candidates join the raw base rows by id (restricted to
       the coarse pass's probed clusters, keeping its partition
       pruning) and their ORIGINAL query vectors by q_id (≤ k·refine
       rows per query), then one exact l2sq window with the shared
       (dist, id) tie order cuts the final top-k.

    The coarse stage's persisted cache rides the result for
    ``plans.shape.release``."""
    from pyspark.sql import Window

    from lanterndb_spark.functions.distance import distance

    coarse, needs_wrap = _ivf_search_df(
        coarse_index, queries, k=k * refine, id_col=id_col,
        q_id_col=q_id_col, q_vec_col=q_vec_col, unique_q_ids=unique_q_ids,
        base_decode=base_decode, **search_params,
    )
    if needs_wrap:
        return _per_row_qid_wrap(
            lambda q: _coarse_rerank_df(
                index, coarse_index, q, k, refine, id_col, q_id_col,
                q_vec_col, True, base_decode, **search_params,
            ),
            queries, q_id_col, q_vec_col, id_col,
        )
    persisted = coarse.__dict__.get("_lantern_persisted", [])
    qslim = queries.select(
        q_id_col, F.col(q_vec_col).cast("array<double>").alias("__qv")
    )
    rerank_src = index.assigned
    probed = coarse.__dict__.get("_lantern_probed")
    if probed is not None:
        rerank_src = rerank_src.filter(F.col("cluster_id").isin(probed))
    rescored = (
        coarse.drop("dist")
        .join(rerank_src.select(id_col, index.vec_col), on=id_col)
        .join(qslim, on=q_id_col)
        .withColumn(
            "dist",
            distance("l2sq", F.col(index.vec_col), F.col("__qv")).cast("double"),
        )
    )
    w = Window.partitionBy(q_id_col).orderBy(
        F.col("dist").asc(), F.col(id_col).asc()
    )
    out = (
        rescored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(q_id_col, id_col, "dist")
    )
    if persisted:
        from lanterndb_spark.plans.shape import attach_persisted

        out = attach_persisted(out, *persisted)
    return out


def _pq_decoder(codebook: DataFrame, pq_col: str):
    """``base_decode`` function for PQ codes: an (nb, splits) code block
    decodes to an (nb, dim) float64 block, ``book_s[codes[:, s]]`` into
    each subvector's ``subvector_bounds`` slice — bit-exact with
    ``pq.dequantize`` (codebook entries are float32 values). The frozen
    codebook is read without a job and reaches the kernel through one
    broadcast."""
    from lanterndb_spark.operators.pq import _codebook_arrays, subvector_bounds

    books = _codebook_arrays(codebook)
    dim = sum(b.shape[1] for b in books)
    # an empty build has no codebook (and no search reaches the kernel)
    bounds = subvector_bounds(dim, len(books)) if books else []
    bc = codebook.sparkSession.sparkContext.broadcast((books, bounds))

    def decode(bpdf: pd.DataFrame) -> np.ndarray:
        bks, bnds = bc.value
        codes = np.asarray(bpdf[pq_col].tolist(), dtype=np.int64)
        X = np.empty((len(codes), dim), dtype=np.float64)
        for s, ((lo, hi), book) in enumerate(zip(bnds, bks)):
            X[:, lo:hi] = book[codes[:, s]]
        return X

    return decode


def ivfpq_search_df(
    index: IvfIndex,
    codebook: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    refine: int = 4,
    pq_col: str | None = None,
    id_col: str | None = None,
    q_id_col: str = "q_id",
    q_vec_col: str = "query",
    prune: bool = True,
    salt: int = 8,
    unique_q_ids: bool = False,
) -> DataFrame:
    """DataFrame-native batch twin of :func:`ivfpq_search` — the
    reference's pq=true index mode (build.c:497-501, scan.c:75-81) at
    eval-pass query volumes, completing the batch family over the
    byte-coded billion-scale layout.

    ADC l2sq (pq.py: ``Σ_s LUT[s, code_s]`` with
    ``LUT[s, c] = ||q_s - book_s[c]||²``) is EXACTLY the l2sq between
    the query and the decoded code vector, so the coarse pass is plain
    :func:`ivf_search_df` over decoded codes, built like
    :func:`ivfsq_search_df` (:func:`_coarse_rerank_df`):

    1. coarse — one ``ivf_search_df(impl='arrow')`` call for the top
       ``k·refine`` per query: its routing (driver route for
       Catalyst-known small frames, executor route otherwise), cluster
       pruning and salted cogroup. ``base_decode`` ships only the code
       column through the exchange and the Arrow boundary, and each
       (cluster, salt) task decodes its code block once against the
       frozen codebook (:func:`_pq_decoder`) before the kernel's
       blocked matmul cut. The scan that touches every surviving row
       reads the codes, not 4·dim bytes per row. Coarse distances equal
       the ADC LUT sums up to f64 rounding; only exact distances are
       returned.
    2. re-rank — candidates join their ORIGINAL query vectors by q_id
       and the raw base rows by id (≤ k·refine rows per query), one
       exact l2sq window resolves the final top-k.

    ``index.assigned`` must carry the PQ code column (pq.quantize over
    the assigned table at build time — :func:`ivfpq_search`'s
    contract). Returns (q_id_col, id_col, dist); the routed cache rides
    the result for ``plans.shape.release``. Like the other re-ranked
    forms, the queries lineage is read once more by the re-rank join —
    persist heavy lineages before calling. Duplicate q_id VALUES are
    PER-ROW via the same surrogate wrap as ``ivf_search_df``;
    ``unique_q_ids=True`` skips the detection pass.

    WHEN TO PICK THIS over plain ``ivf_search_df``: ivfpq is the
    CAPACITY/FOOTPRINT option, not the wall-clock option — its coarse
    scan reads ~30x fewer bytes (1 byte/subvector vs 4/dim, and
    parquet column pruning delivers that on disk: 197 MB vs 5.9 GB at
    2M x 768d). The wall-clock A/Bs on record were measured on the
    former LUT-gather ADC kernel, since removed, not on this decode +
    matmul kernel: at 20M x 64d (spark-warehouse/ab_ivfpq_disk_r12.json)
    it ran 2.0x slower than ivf in RAM and 1.55x off parquet, and at
    2M x 768d (spark-warehouse/ab_dim768_r13.json) ~5-8x slower, the
    gather scaling with splits=dim/8. Re-measure before quoting a wall
    for the current kernel. ADC ordering noise grows with dim, and at
    768d it is a recall CEILING, not a knob (recall-matched sweep,
    spark-warehouse/recall_ops_r14.json): on the 2M iid-gaussian
    corpus recall@10 plateaus at 0.451 even at nprobe=nlist with
    refine=30 — there is NO 0.8 operating point within a block-safe
    refine window. Keep k*refine BELOW rows/(nlist*salt) (~the
    per-cogroup-block size) or the coarse per-block cut prunes nothing
    and the full probed volume hits the global window (measured on the
    gather kernel: refine=100 at 2M/256/8 turned a 30 ms/q scan into
    175 ms/q — arms_refine100 in the r13 artifact). Choose ivfpq when
    the coarse table cannot fit hot storage at all (the 30x smaller
    scan is the difference between a cold S3/HDFS read of 197 MB vs
    5.9 GB per batch, where bandwidth, not decode, is the wall) AND the
    recall target tolerates the ADC ceiling (or refine can ride a
    larger block: fewer salts, bigger clusters); choose plain ivf
    whenever the f32/f64 table is servable, and SQ8 as the middle tier.
    At MATCHED RECALL sq8 carries no quality tax at all: its 768d
    recall curve is pointwise identical to raw ivf (0.468 / 0.687 /
    0.871 / 0.972 at nprobe 32/64/96/128, refine=10 — the exact re-rank
    absorbs the int8 rounding), so the 1/4-byte scan is free
    quality-wise; recall-matched walls are recorded per-arm with in-JVM
    clock probes in recall_ops_r14.json (this host's clock swings ~3x
    between arms — compare walls only with their probes, e.g. ivf 31.0
    ms/q@0.87 at probe 78 GFLOP/s vs ivfsq 34.7 ms/q@0.87 at probe
    226). Two honest context lines from that sweep: on ISOTROPIC
    gaussian 768d even raw ivf must probe fraction 0.375 of clusters
    for 0.8 recall and 0.5 for 0.9 (cluster pruning buys only ~2-3x
    over a full scan in this worst case — real embedding manifolds
    cluster far better), and the graph backend needs (nprobe=200/400
    shards, ef=256) for 0.9, at ~10x the ivf wall at this scale — the
    dgemm coarse-scan family is the 768d default."""
    if id_col is None:
        raise ValueError("ivfpq_search_df requires id_col (tie-break + output key)")
    pq_col = pq_col or f"{index.vec_col}_pq"
    return _coarse_rerank_df(
        index, index, queries, k, refine, id_col, q_id_col, q_vec_col,
        unique_q_ids, ([pq_col], _pq_decoder(codebook, pq_col)),
        nprobe=nprobe, prune=prune, salt=salt, impl="arrow",
    )


def ivfsq_search_df(
    index: IvfIndex,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    refine: int = 4,
    code_col: str | None = None,
    id_col: str | None = None,
    q_id_col: str = "q_id",
    q_vec_col: str = "query",
    pred: Column | None = None,
    unique_q_ids: bool = False,
    **search_params,
) -> DataFrame:
    """DataFrame-native batch twin of :func:`ivfsq_search` — the
    ``quant_bits=8`` composite (options.c:137-158) at eval-pass query
    volumes. The coarse pass is :func:`ivf_search_df` over the sq8
    codes (top ``k·refine`` per query; queries route executor-side, so
    the batch is unbounded like the plain ivf and hnsw forms): the
    arrow kernel receives the 1-byte codes + scale through the Arrow
    boundary and dequantizes IN-KERNEL (bit-exact float64(c)*scale —
    r13; shipping the Catalyst-dequantized float column cost the same
    boundary bytes as raw ivf and measured 2.2-3.3x slower at 2M x
    768d, spark-warehouse/ab_sqdecode_r13.json), while the expr path
    reads the on-the-fly dequantized column. Then the candidates join
    their ORIGINAL query
    vectors by q_id — a plain equi-join, ≤ k·refine rows per query —
    for one exact re-rank window with the shared (dist, id) tie order
    (:func:`_coarse_rerank_df`, shared with :func:`ivfpq_search_df`).

    l2sq only (the SQ8 scale model is symmetric-l2; the table route
    enforces the same). Returns (q_id_col, id_col, dist); the coarse
    stage's internal cache rides the result for
    ``plans.shape.release``. Like the pq re-rank in hnsw_search_df,
    the queries lineage is read once more by the re-rank join —
    persist heavy lineages before calling. Duplicate q_id VALUES are
    PER-ROW via the same surrogate wrap as ``ivf_search_df`` (without
    it the re-rank's join-by-q_id would also fan out across the
    duplicates); ``unique_q_ids=True`` skips the detection pass."""
    from lanterndb_spark.operators.sq import sq8_dequantize

    if id_col is None:
        raise ValueError("ivfsq_search_df requires id_col (tie-break + output key)")
    code_col = code_col or f"{index.vec_col}_sq8"
    deq = sq8_dequantize(index.assigned, code_col, "__sq_deq")
    scale_col = f"{code_col}_scale"

    def _sq8_decode(bpdf):
        # bit-exact twin of sq8_dequantize's float64(c) * float64(scale)
        # — decoded executor-side in numpy so the Arrow boundary carries
        # 1-byte codes + one scale double instead of 8 bytes/dim
        # (~8x fewer boundary bytes; measured at 2M x 768d,
        # spark-warehouse/ab_dim768_r13.json)
        import numpy as np

        X = np.asarray(bpdf[code_col].tolist(), dtype=np.float64)
        X *= bpdf[scale_col].to_numpy(dtype=np.float64)[:, None]
        return X

    return _coarse_rerank_df(
        index, IvfIndex(deq, index.centroids, "__sq_deq"), queries, k,
        refine, id_col, q_id_col, q_vec_col, unique_q_ids,
        ([code_col, scale_col], _sq8_decode),
        nprobe=nprobe, pred=pred, **search_params,
    )


def ivf_assign(index: IvfIndex, delta: DataFrame, cluster_col: str = "cluster_id") -> DataFrame:
    """Assign NEW rows to the existing centroids — the aminsert analogue
    for the IVF layout (insert.c:51-262 appends to the existing graph
    without retraining). Compose with maintenance.with_deltas so queries
    see base ∪ delta with both sides cluster-pruned; retrain (build_ivf)
    when drift degrades recall, as measured by autotune.validate_ann."""
    return delta.withColumn(
        cluster_col, _assign_expr(delta.sparkSession, index.centroids, index.vec_col)
    )


def save_ivf(index: IvfIndex, path: str, spark=None) -> None:
    """Persist partitioned by cluster_id → partition pruning on search."""
    index.assigned.write.mode("overwrite").partitionBy("cluster_id").parquet(f"{path}/data")
    spark = spark or index.assigned.sparkSession
    cent = [(int(i), [float(x) for x in c]) for i, c in enumerate(index.centroids)]
    spark.createDataFrame(cent, "cluster_id int, centroid array<double>").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/centroids")


def load_ivf(spark, path: str, vec_col: str) -> IvfIndex:
    assigned = spark.read.parquet(f"{path}/data")
    cent_rows = spark.read.parquet(f"{path}/centroids").collect()
    centroids = np.array(
        [r["centroid"] for r in sorted(cent_rows, key=lambda r: r["cluster_id"])]
    )
    return IvfIndex(assigned, centroids, vec_col)


def save_ivfpq(index: IvfPqIndex, path: str, spark=None) -> None:
    """:func:`save_ivf`'s layout (coded rows partitioned by cluster_id)
    plus the frozen codebook — the reference persists the codebook
    INSIDE the index (build.c:497-501), so a loaded handle searches
    without retraining."""
    save_ivf(index, path, spark=spark)
    index.codebook.write.mode("overwrite").parquet(f"{path}/codebook")


def load_ivfpq(
    spark, path: str, vec_col: str, pq_col: str | None = None
) -> IvfPqIndex:
    """Reload a :func:`save_ivfpq` index; the codebook is read once and
    held frozen, so searches on the handle do not re-read it."""
    from lanterndb_spark.operators.pq import freeze_codebook

    base = load_ivf(spark, path, vec_col)
    cb = freeze_codebook(spark.read.parquet(f"{path}/codebook"))
    return IvfPqIndex(base.assigned, base.centroids, vec_col, cb, pq_col)


def ivf_search(
    index: IvfIndex,
    query: list[float],
    k: int = 10,
    nprobe: int = 4,
    metric: str = "l2sq",
    id_col: str | None = None,
    pred: Column | None = None,
) -> DataFrame:
    """ANN top-k: prune to the ``nprobe`` nearest clusters, exact re-rank.

    The cluster filter is a plain ``isin`` → Catalyst pushes it to the
    scan (partition pruning when saved partitioned by cluster_id)."""
    if index.nlist == 0:  # empty index → empty result
        return knn(
            index.assigned.filter(F.lit(False)), index.vec_col, query,
            k=k, metric=metric, id_col=id_col,
        )
    q = np.asarray(query, dtype=np.float64)
    d = ((index.centroids - q[None, :]) ** 2).sum(axis=1)
    probes = [int(i) for i in np.argsort(d)[:nprobe]]
    cand = index.assigned.filter(F.col("cluster_id").isin(probes))
    if pred is not None:
        cand = cand.filter(pred)
    return knn(cand, index.vec_col, query, k=k, metric=metric, id_col=id_col)


def ivf_search_batch(
    index: IvfIndex,
    queries: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
    metric: str = "l2sq",
    id_col: str | None = None,
    impl: str = "auto",
    pred: Column | None = None,
) -> DataFrame:
    """ANN top-k for a whole query batch in ONE distributed job.

    Probe selection is a driver-side argmin over the (tiny) centroid
    array per query; the resulting (q_id, cluster_id, query_vec) table is
    broadcast and equi-joined on cluster_id, so each data row is scored
    only against the queries that probe its cluster. Per-query top-k is a
    rank-filtered window → WindowGroupLimit prunes map-side (see
    knn.knn_join). Returns (q_id, …data cols…, dist).

    This replaces the per-query driver loop: at autotune/bench scale the
    speedup is ~#queries×, and at cluster scale it's the only shape that
    amortizes scan + scheduling over the batch.
    """
    from pyspark.sql import Window

    from lanterndb_spark.functions.distance import distance

    spark = index.assigned.sparkSession
    qarr = np.asarray(queries, dtype=np.float64)
    probe_ids = _route_probes(index.centroids, qarr, nprobe)
    from lanterndb_spark.plans.shape import widen_partitions

    # static partition-pruning filter: the equi-join alone doesn't prune a
    # partitionBy(cluster_id) layout at planning time; the isin over the
    # union of probed clusters does (PartitionFilters in the scan), so a
    # batch touching p clusters reads p/nlist of the data
    probed_clusters = sorted({int(c) for qi in range(len(queries)) for c in probe_ids[qi]})
    base = index.assigned.filter(F.col("cluster_id").isin(probed_clusters))
    if pred is not None:
        # filtered ANN (hnsw_select.sql:50-51): applied before scoring so
        # the per-query k budget goes to qualifying rows only
        base = base.filter(pred)
    data = widen_partitions(base)
    order_tail = [F.col(id_col).asc()] if id_col else []

    if impl == "auto":
        # arrow scores every kept row against ALL queries; worth it when
        # the wasted factor (~nlist/nprobe) stays within the ~10-20×
        # per-op advantage of vectorized over interpreted scoring.
        # ≥4 queries, matching knn_join's measured crossover: the r14
        # interleaved A/B shows arrow ahead already at nq=4 (paired-
        # delta medians +0.08 s at nq=4/8, +0.17 s at nq=10 on the
        # bench corpus — the query-major kernel rewrite moved the
        # crossover down from the r9-era 16)
        impl = (
            "arrow"
            if len(queries) >= 4
            and metric in ("l2sq", "cos")
            and nprobe * 8 >= index.nlist
            else "expr"
        )

    if impl == "arrow" and metric not in ("l2sq", "cos"):
        raise ValueError("impl='arrow' batch scoring implements l2sq and cos only")
    if impl == "arrow":
        # one matmul per Arrow batch scores the pruned union against ALL
        # queries, and the per-query top-k happens INSIDE the batch (same
        # shape as knn_join's batch path): each batch emits ≤ nq·(k+ties)
        # rows — not the n_kept×nq exploded matrix — restricted to rows
        # whose cluster the query actually probes. The final (dist, id)
        # window over ~k·nq·partitions rows resolves ties exactly.
        nlist, nq = index.nlist, len(queries)
        allowed = np.zeros((nlist, nq), dtype=bool)
        for qi in range(nq):
            allowed[probe_ids[qi], qi] = True
        bc = spark.sparkContext.broadcast((qarr, allowed))
        vec_col = index.vec_col
        out_schema = ", ".join(
            [f"{f.name} {f.dataType.simpleString()}" for f in data.schema.fields]
            + ["q_id int", "dist double"]
        )

        block_elems = _SCORE_BLOCK_ELEMS

        def topk_block(batches):
            qm_all, allow_all = bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                x = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
                xn = (x**2).sum(1)
                cl = pdf["cluster_id"].to_numpy()
                take_idx, take_q, take_d = [], [], []
                # block the queries so the (rows, blk) distance matrix
                # stays <=~128 MB however many queries the batch holds
                blk = max(1, block_elems // len(x))
                for s in range(0, nq, blk):
                    qm = qm_all[s : s + blk]
                    eligible = allow_all[cl, s : s + blk]  # (n, blk)
                    if metric == "cos":
                        # zero-norm rows/queries have undefined angle —
                        # mask them out of eligibility (distance.py's
                        # NULL-dist convention: never in the top-k)
                        denom = np.sqrt(xn)[:, None] * np.sqrt((qm**2).sum(1))[None, :]
                        safe = denom > 0.0
                        d = np.where(
                            safe, 1.0 - (x @ qm.T) / np.where(safe, denom, 1.0), np.inf
                        )
                        eligible = eligible & safe
                    else:
                        d = xn[:, None] - 2.0 * x @ qm.T + (qm**2).sum(1)[None, :]
                    for j in range(qm.shape[0]):
                        rows_j = np.flatnonzero(eligible[:, j])
                        if not len(rows_j):
                            continue
                        dj = d[rows_j, j]
                        if k < len(dj):
                            thresh = np.partition(dj, k - 1)[k - 1]
                            keep = dj <= thresh
                            rows_j, dj = rows_j[keep], dj[keep]
                        take_idx.append(rows_j)
                        take_q.append(np.full(len(rows_j), s + j))
                        take_d.append(dj)
                if not take_idx:
                    continue
                rows = np.concatenate(take_idx)
                out = pdf.iloc[rows].copy()
                out["q_id"] = np.concatenate(take_q)
                out["dist"] = np.concatenate(take_d)
                yield out

        pruned = data.mapInPandas(topk_block, out_schema)
        w = Window.partitionBy("q_id").orderBy(F.col("dist").asc(), *order_tail)
        return (
            pruned.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .drop("__rn")
        )

    if len(queries) < 4 and np.isfinite(qarr).all():
        # literal-array kernel for tiny batches (r15, VERDICT r14 item 6):
        # below the arrow crossover the broadcast-join shape paid a
        # LocalRelation build + broadcast + join purely to attach 1-3
        # query vectors — fixed driver/plan latency that dominates at
        # this size. Each query becomes one struct of (q_id, distance to
        # a PARSED literal array, its own cluster-eligibility isin);
        # explode + filter replaces the join, all codegen, one scan.
        # Measured (interleaved medians, sf0.1): nq=1 0.77->0.46 s,
        # nq=2 0.70->0.56, nq=3 0.75->0.61; rows identical. Non-finite
        # query values (repr would not parse as SQL literals) keep the
        # join shape.
        structs = [
            F.struct(
                F.lit(qi).alias("q_id"),
                distance(
                    metric, index.vec_col,
                    F.expr("array(" + ",".join(
                        repr(float(x)) + "D" for x in qarr[qi]
                    ) + ")"),
                ).alias("dist"),
                F.col("cluster_id").isin(
                    [int(c) for c in probe_ids[qi]]
                ).alias("e"),
            )
            for qi in range(len(queries))
        ]
        pairs = (
            data.select("*", F.explode(F.array(*structs)).alias("__s"))
            # NULL dist (cos zero-norm, distance.py's convention) is
            # undefined order — drop, matching the arrow path's mask
            .filter(F.col("__s.e") & F.col("__s.dist").isNotNull())
            .select(
                "*",
                F.col("__s.q_id").alias("q_id"),
                F.col("__s.dist").alias("dist"),
            )
            .drop("__s")
        )
        w = Window.partitionBy("q_id").orderBy(F.col("dist").asc(), *order_tail)
        return (
            pairs.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .drop("__rn")
        )

    # (q_id, cluster_id, query vec) relation built ONLY for this join
    # shape — the arrow and literal-kernel paths never touch it (r15)
    rows = [
        (int(qi), int(c), [float(x) for x in qarr[qi]])
        for qi in range(len(queries))
        for c in probe_ids[qi]
    ]
    probes = spark.createDataFrame(rows, "q_id int, cluster_id int, __qv array<double>")
    pairs = data.join(F.broadcast(probes), on="cluster_id")
    pairs = pairs.withColumn("dist", distance(metric, index.vec_col, F.col("__qv")))
    # NULL dist (cos zero-norm, distance.py's convention) is undefined
    # order — drop, matching the arrow path's eligibility mask
    pairs = pairs.filter(F.col("dist").isNotNull())
    w = Window.partitionBy("q_id").orderBy(F.col("dist").asc(), *order_tail)
    return (
        pairs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__qv", "__rn")
    )

"""Product quantization: codebook training, encode/decode, ADC top-k.

Reference:
- ``create_pq_codebook`` runs k-means per subvector over a (optionally
  sampled) column scan (lantern_hnsw/src/hnsw/pqtable.c:40-333, k-means
  core product_quantization.c:207-293). Codebook table shape:
  (subvector_id INT, centroid_id INT, c REAL[]) — lantern.sql:229-249.
- ``quantize_vector`` = per-subvector argmin-distance centroid id
  (lantern.sql:256-307; get_closest_centroid pq/quantization.rs:25-42).
- ``dequantize_vector`` = concat centroids by subvector_id
  (lantern.sql:310-339).
- edge cases honored: dim not divisible by splits → LAST subvector takes
  the remainder (product_quantization.c:276-280); empty cluster keeps its
  old center (product_quantization.c:152-166); cluster count ≤ 256
  (pqtable.c:85-87); Lloyd stop threshold 0.1 (product_quantization.c:173-193).

Spark design: training fans out per subvector with ``applyInPandas`` —
``splits`` independent small k-means problems run in parallel executors on
a bounded sample (the reference's GCP-Batch per-subvector fan-out,
pq/gcp_batch.rs:230-473, collapses into one groupBy). Training runs ONCE,
when ``train_codebook`` is called: its ≤ 256 × splits rows come back to
the driver and are returned FROZEN as a local, pandas-backed frame (the
reference stores the codebook in the index, build.c:497-501). A lazy
lineage would re-run the sample sort and every k-means on each collect —
measured at ~1.4 s of every ``ivfpq_search_df`` call — and could score
codes against a different training run than the one that encoded them.
Encoding broadcasts the codebook (splits × clusters × subdim floats — a
few MB at most) into an Arrow-batched pandas UDF doing vectorized numpy
argmin; the full-table encode is embarrassingly parallel and never
touches the driver. ADC search builds the query's (splits × clusters)
distance LUT once on the driver, broadcasts it, and scores each code
with numpy fancy-indexing — then exact top-k via orderBy.limit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MAX_CLUSTERS = 256  # codes must fit one byte (pqvec.c:36-47, pqtable.c:85-87)
KMEANS_STOP_THRESHOLD = 0.1  # product_quantization.c:173-193
CODEBOOK_SCHEMA = "subvector_id int, centroid_id int, c array<float>"


def subvector_bounds(dim: int, splits: int) -> list[tuple[int, int]]:
    """Start/end offsets per subvector; last one takes the remainder
    (product_quantization.c:276-280)."""
    if splits > dim:
        raise ValueError(f"splits {splits} > dim {dim}")
    sub = dim // splits
    bounds = [(i * sub, (i + 1) * sub) for i in range(splits)]
    bounds[-1] = (bounds[-1][0], dim)
    return bounds


def _kmeans_numpy(x: np.ndarray, k: int, seed: int, max_iters: int = 25) -> np.ndarray:
    """Seeded Lloyd's k-means; empty clusters keep their previous center,
    iteration stops when total center movement < 0.1 (reference semantics)."""
    rng = np.random.default_rng(seed)
    k = min(k, len(x))
    centers = x[rng.choice(len(x), size=k, replace=False)].astype(np.float64)
    x_sq = (x**2).sum(axis=1)[:, None]
    for _ in range(max_iters):
        # |a-b|^2 = |a|^2 - 2ab + |b|^2: O(n*k*dim) matmul, no 3-D tensor
        d = x_sq - 2.0 * x @ centers.T + (centers**2).sum(axis=1)[None, :]
        assign = d.argmin(axis=1)
        new_centers = centers.copy()
        for c in range(k):
            members = x[assign == c]
            if len(members):  # empty cluster keeps old center
                new_centers[c] = members.mean(axis=0)
        shift = np.abs(new_centers - centers).sum()
        centers = new_centers
        if shift < KMEANS_STOP_THRESHOLD:
            break
    return centers.astype(np.float32)


def train_codebook(
    df: DataFrame,
    vec_col: str,
    splits: int,
    clusters: int,
    dim: int | None = None,
    sample_limit: int | None = 10_000,
    seed: int = 42,
    max_iters: int = 25,
) -> DataFrame:
    """Train the PQ codebook: one k-means per subvector, fanned out with
    applyInPandas (each group = all sampled subvectors of one subvector_id).

    ``sample_limit`` mirrors the reference's ``dataset_size_limit``
    (lantern.sql:196); training on a bounded sample is how this stays sane
    at 100 TB while the full-table encode remains distributed.

    Returns (subvector_id INT, centroid_id INT, c ARRAY<FLOAT>), trained
    once by this call and frozen (see :func:`freeze_codebook`): every
    consumer reads the same centroids without launching a job.
    """
    if clusters > MAX_CLUSTERS:
        raise ValueError(f"cluster count must be <= {MAX_CLUSTERS}")

    sample = df.select(F.col(vec_col).alias("v"))
    if sample_limit:
        # seeded random sample (same idiom as build_ivf): a bare limit()
        # takes the head of the first partitions — a biased training set
        # when the data is ordered or clustered on disk
        sample = sample.orderBy(F.rand(seed)).limit(sample_limit)

    # explode each vector into its subvectors: (subvector_id, subvec)
    if dim is not None:
        bounds = subvector_bounds(dim, splits)
        sub_exprs = [
            F.struct(
                F.lit(i).alias("subvector_id"),
                F.slice("v", lo + 1, hi - lo).alias("subvec"),
            )
            for i, (lo, hi) in enumerate(bounds)
        ]
        exploded = sample.select(F.explode(F.array(*sub_exprs)).alias("s")).select(
            "s.subvector_id", "s.subvec"
        )
    else:
        # dim read IN-PLAN from size(v) (r15): the former
        # ``df.select(vec_col).first()`` probe paid a standalone job per
        # build just to compute static slice bounds. The SQL mirror of
        # subvector_bounds: sub = dim div splits, the LAST subvector
        # takes the remainder. assert_true keeps the splits > dim
        # contract an error (raised at job time instead of plan time —
        # the trade for not scanning up front); it rides subvector_id,
        # a consumed column, so it cannot be pruned away.
        sub = f"(size(v) DIV {splits})"
        last = splits - 1
        exploded = sample.select(
            F.expr(
                f"explode(transform(sequence(0, {last}), i -> struct("
                f"CAST(i + CAST(assert_true(size(v) >= {splits}, "
                f"'splits {splits} > dim') IS NOT NULL AS INT) AS INT)"
                f" AS subvector_id, "
                f"slice(v, CAST(i AS INT) * {sub} + 1, "
                f"IF(i = {last}, size(v) - {last} * {sub}, {sub}))"
                f" AS subvec)))"
            ).alias("s")
        ).select("s.subvector_id", "s.subvec")

    def fit_group(pdf: pd.DataFrame) -> pd.DataFrame:
        sv = int(pdf["subvector_id"].iloc[0])
        x = np.asarray(pdf["subvec"].tolist(), dtype=np.float64)
        centers = _kmeans_numpy(x, clusters, seed=seed + sv, max_iters=max_iters)
        return pd.DataFrame(
            {
                "subvector_id": sv,
                "centroid_id": np.arange(len(centers), dtype=np.int32),
                "c": [c.tolist() for c in centers],
            }
        )

    return freeze_codebook(
        exploded.groupBy("subvector_id").applyInPandas(fit_group, CODEBOOK_SCHEMA)
    )


def freeze_codebook(codebook: DataFrame) -> DataFrame:
    """Run ``codebook``'s plan once and return its rows as a local frame
    built from pandas (the Arrow path): collecting it is job-free, where
    a lazy lineage re-runs its whole plan — k-means, or a parquet read —
    on every collect. Rows are in (subvector_id, centroid_id) order."""
    pdf = codebook.toPandas().sort_values(
        ["subvector_id", "centroid_id"], ignore_index=True
    )
    return codebook.sparkSession.createDataFrame(pdf, CODEBOOK_SCHEMA)


def _codebook_arrays(codebook: DataFrame) -> list[np.ndarray]:
    """Collect the codebook into one numpy array per subvector (driver-side;
    splits×clusters×subdim floats — small by construction)."""
    rows = codebook.collect()
    by_sv: dict[int, dict[int, list[float]]] = {}
    for r in rows:
        by_sv.setdefault(r["subvector_id"], {})[r["centroid_id"]] = r["c"]
    return [
        np.array([by_sv[sv][c] for c in sorted(by_sv[sv])], dtype=np.float64)
        for sv in sorted(by_sv)
    ]


def quantize(
    df: DataFrame,
    vec_col: str,
    codebook: DataFrame,
    out_col: str | None = None,
) -> DataFrame:
    """Add ``<col>_pq`` (array<smallint>, one centroid id per subvector) —
    the ``quantize_table`` analogue (lantern.sql:342-429)."""
    out_col = out_col or f"{vec_col}_pq"
    cb = _codebook_arrays(codebook)
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast([a for a in cb])

    dim = sum(a.shape[1] for a in cb)
    bounds = subvector_bounds(dim, len(cb))

    @F.pandas_udf("array<smallint>")
    def encode(s: pd.Series) -> pd.Series:
        books = bc.value
        x = np.asarray(s.tolist(), dtype=np.float64)
        codes = np.empty((len(x), len(books)), dtype=np.int16)
        for i, ((lo, hi), book) in enumerate(zip(bounds, books)):
            sub = x[:, lo:hi]
            # ||a-b||^2 = |a|^2 - 2ab + |b|^2 ; argmin over centroids
            d = (sub**2).sum(1)[:, None] - 2.0 * sub @ book.T + (book**2).sum(1)[None, :]
            codes[:, i] = d.argmin(axis=1)
        return pd.Series(list(codes))

    return df.withColumn(out_col, encode(F.col(vec_col)))


def dequantize(
    df: DataFrame,
    pq_col: str,
    codebook: DataFrame,
    out_col: str = "dequantized",
) -> DataFrame:
    """Decode codes back to a float vector by concatenating centroids
    (``dequantize_vector``, lantern.sql:310-339)."""
    cb = _codebook_arrays(codebook)
    bc = df.sparkSession.sparkContext.broadcast(cb)

    @F.pandas_udf("array<float>")
    def decode(s: pd.Series) -> pd.Series:
        books = bc.value
        return s.map(
            lambda codes: np.concatenate(
                [books[i][int(c)] for i, c in enumerate(codes)]
            ).astype(np.float32).tolist()
        )

    return df.withColumn(out_col, decode(F.col(pq_col)))


def adc_knn(
    df: DataFrame,
    pq_col: str,
    query: list[float],
    codebook: DataFrame,
    k: int = 10,
    id_col: str | None = None,
    dist_col: str = "dist",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: per-query LUT of
    (subvector × centroid) squared distances, score = Σ LUT[s, code[s]].

    This is how the PQ-enabled index scores candidates (scan.c:75-81 loads
    the codebook at scan time); exact same math, expressed as a broadcast
    numpy table + vectorized gather."""
    cb = _codebook_arrays(codebook)
    q = np.asarray(query, dtype=np.float64)
    bounds = subvector_bounds(len(q), len(cb))
    lut = np.stack(
        [
            ((book - q[lo:hi][None, :]) ** 2).sum(axis=1)
            for (lo, hi), book in zip(bounds, cb)
        ]
    )  # (splits, clusters)
    bc = df.sparkSession.sparkContext.broadcast(lut)

    @F.pandas_udf("double")
    def adc(s: pd.Series) -> pd.Series:
        table = bc.value
        codes = np.asarray(s.tolist(), dtype=np.int64)
        return pd.Series(table[np.arange(codes.shape[1])[None, :], codes].sum(axis=1))

    out = df.withColumn(dist_col, adc(F.col(pq_col)))
    order = [F.col(dist_col).asc()]
    if id_col:
        order.append(F.col(id_col).asc())
    return out.orderBy(*order).limit(k)


def drop_quantization(df: DataFrame, vec_col: str) -> DataFrame:
    """``drop_quantization`` analogue: drop the generated pq column."""
    return df.drop(f"{vec_col}_pq")

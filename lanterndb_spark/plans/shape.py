"""Plan-shape utilities: helpers that exist purely to make Catalyst emit
the physical plan we want for expression-heavy pipelines.

Two measured pathologies these fix (numbers from sf0.1 documents, local[32]):

1. ``F.explode(expensive_expr)`` — Catalyst's InferFiltersFromGenerate
   rule synthesizes ``size(expensive_expr) > 0`` and pushes it through
   every project down to the scan, with the full expression tree inlined.
   For a shingle expression whose elements access a projected token
   array, the inlined copy re-evaluates tokenization per element access
   (O(len²)) on the scan's partitioning (often 1 row-group = 1 task).
   Measured: 13s → 0.4s for a 260k-shingle explode after switching to
   ``explode_outer`` (exempt from the rule) + a post-filter on the
   generator output, which cannot be pushed below the Generate.

2. Heavy per-row expressions run map-side BEFORE any shuffle, i.e. in
   the *input's* partitioning. A single-row-group parquet file or a
   1-partition cached table serializes the whole corpus onto one core
   no matter how wide the cluster is. ``widen_partitions`` repartitions
   up to ``defaultParallelism`` only when the input has fewer
   partitions — at 100 TB inputs carry thousands of partitions and this
   is a no-op (no extra shuffle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def widen_partitions(df: DataFrame, target: int | None = None) -> DataFrame:
    """Round-robin repartition up to the cluster parallelism, only when
    the plan's current partitioning is narrower. Call this on a skinny
    projection (id + raw text) BEFORE computing heavy expressions so the
    shuffle moves raw bytes, not computed arrays."""
    sc = df.sparkSession.sparkContext
    target = target or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def salted_collect_list(
    df: DataFrame,
    keys: list[str],
    col: str | Column,
    alias: str = "items",
    salt: int = 16,
    sort: bool = True,
) -> DataFrame:
    """Two-stage collect_list for skewed keys: collect per (keys, salt)
    → flatten per keys. ``col`` may be any expression (e.g. a struct).

    Algebraic aggs (sum/min/max/count) don't need this — Spark's partial
    aggregation combines them map-side. collect_list is the exception:
    it is size-bound, gets NO map-side combine (ObjectHashAggregate
    falls back to sort-agg), and a hot key (a stop-word-like term in a
    postings build) funnels its entire group through one reducer task.
    Salting splits that group ``salt`` ways and the final flatten handles
    `salt` pre-built arrays instead of millions of rows. AQE's skew
    handling only splits joins, not aggregations — this is the manual
    equivalent for the agg side.

    ``salt <= 1`` short-circuits to a single-exchange groupBy — callers
    that can bound the hottest group (small inputs, proven caps) skip
    the second aggregation stage entirely; the output rows are
    identical either way (``sort`` canonicalizes the array order)."""
    col = F.col(col) if isinstance(col, str) else col
    if salt <= 1:
        out = df.groupBy(*keys).agg(F.collect_list(col).alias(alias))
    else:
        salted = df.withColumn("__salt", F.pmod(F.hash(col), F.lit(salt)))
        partial = salted.groupBy(*keys, "__salt").agg(
            F.collect_list(col).alias("__part")
        )
        out = partial.groupBy(*keys).agg(
            F.flatten(F.collect_list("__part")).alias(alias)
        )
    if sort:
        out = out.withColumn(alias, F.sort_array(F.col(alias)))
    return out


def salted_join(
    facts: DataFrame,
    dim: DataFrame,
    key: str | list[str],
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-proof fact⋈dim equi-join: salt the FACT side ``salt`` ways,
    replicate the DIM side once per salt value, join on (key, salt).

    AQE's skew-join splitting handles most cases at runtime, but it only
    fires on sort-merge joins whose partition stats cross its thresholds,
    and it re-plans AFTER a skewed shuffle has already materialized. When
    one key holds half the fact table (the null-ish id, the default
    bucket, the viral document), pre-salting guarantees the hot key
    spreads over ``salt`` reducers in the FIRST shuffle. The dim side
    must be the small-but-not-broadcastable one: it is exploded
    ``salt``× (a broadcastable dim should just use ``F.broadcast``).

    Only inner/left joins are safe here (right/outer would duplicate
    unmatched dim rows across salts); enforced.
    """
    if how not in ("inner", "left", "left_outer"):
        raise ValueError(f"salted_join supports inner/left joins only: {how}")
    keys = [key] if isinstance(key, str) else list(key)
    f = facts.withColumn(
        "__fsalt", F.pmod(F.hash(*[F.col(k) for k in keys], F.monotonically_increasing_id()), F.lit(salt))
    )
    d = dim.withColumn("__fsalt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
    out = f.join(d, [*keys, "__fsalt"], how)
    return out.drop("__fsalt")


def estimated_rows(df: DataFrame) -> float | None:
    """Catalyst row-count estimate of ``df`` — driver-side, no job.

    Returns the optimized plan's ``rowCount`` when defined (exact for a
    materialized InMemoryRelation, whose stats come from the cache
    accumulators; available for CBO-analyzed tables), else ``None``.
    Use for plan-shape decisions whose RESULT is estimate-invariant —
    the caller must fall back to an exact ``count()`` (or a
    scale-conservative default) when this returns ``None``.

    Reads stats off a freshly derived Dataset (``select("*")``): a
    Dataset memoizes its QueryExecution, so a handle whose plan was
    analyzed BEFORE ``cache()``/materialization would otherwise report
    the stale pre-cache stats (no rowCount) forever.

    A ``LocalRelation`` root carries no ``rowCount`` in its
    Statistics, but its row count is exact and driver-resident by
    definition; read it from the node directly. The optimizer folds
    Project/Filter chains over local data into a new LocalRelation, so
    the count is post-pruning exact. Which ad-hoc frames are
    LocalRelations depends on how they were built: a pandas- or
    Arrow-built ``createDataFrame`` (and SQL ``VALUES``) is one, but
    ``createDataFrame(list_of_tuples, ddl)`` parallelizes to a
    ``LogicalRDD`` and reads as unknown (None) — a query frame built
    that way misses every known-small route.

    ``Project`` roots are walked through (r15): the size-only stats
    visitor drops ``rowCount`` at every unary node, so a projection of
    a materialized cache — exactly what the batch search forms receive
    from composing callers like the hybrid batch — would otherwise
    read as unknown. A Project is strictly row-preserving (generators
    plan as ``Generate`` nodes, never Project), so the child's count IS
    the projection's count."""
    try:
        fresh = df.select("*")
        plan = fresh._jdf.queryExecution().optimizedPlan()
        while plan.getClass().getSimpleName() == "Project":
            plan = plan.child()
        rc = plan.stats().rowCount()
        if rc.isDefined():
            return float(str(rc.get()))
        if plan.getClass().getSimpleName() == "LocalRelation":
            return float(plan.data().size())
        return None
    except Exception:
        return None


# the one known-small bound: a frame whose EXACT row count Catalyst knows
# to be at or under this may be collected or broadcast driver-side (the
# ANN driver routes, hnsw_insert's broadcast delta, the one-task dup check)
KNOWN_SMALL_ROWS = 65_536


def known_small(df: DataFrame) -> bool:
    """True when :func:`estimated_rows` knows ``df``'s row count and it
    is at most :data:`KNOWN_SMALL_ROWS` — driver-side, no job. Unknown
    stats answer False (the scale-conservative default): a frame built
    with ``createDataFrame(list_of_tuples, ddl)`` is a LogicalRDD and
    answers False however few rows it holds; build small query frames
    from pandas or Arrow (LocalRelations) to take the known-small
    routes."""
    est = estimated_rows(df)
    return est is not None and est <= KNOWN_SMALL_ROWS


def coalesce_known_small(
    df: DataFrame, stats_of: DataFrame, rows_per_task: int = 1024
) -> DataFrame:
    """Bound a Python-boundary pass's task count when Catalyst KNOWS the
    input row count (guide §4.5 — amortize per-task init; §2.6 task
    scheduling): a few thousand query rows spread over 32 input
    partitions pay ~32 Python worker round-trips for microseconds of
    kernel work each. ``coalesce`` is narrow and never INCREASES the
    partition count, so a large input keeps its parallelism; unknown
    stats return ``df`` unchanged (the scale-conservative default).
    ``stats_of`` is the handle to read the row count from — pass the raw
    cached frame, not a derived projection (rowCount does not propagate
    through Project/Filter with CBO off)."""
    est = estimated_rows(stats_of)
    if est is None:
        return df
    import math

    return df.coalesce(max(1, math.ceil(est / rows_per_task)))


def attach_persisted(out: DataFrame, *intermediates: DataFrame) -> DataFrame:
    """Record persisted intermediates on a result DataFrame so callers can
    free executor storage once the result is materialized (long sessions
    calling pair-operators repeatedly would otherwise accumulate cached
    shingle/signature tables). See :func:`release`."""
    out.__dict__["_lantern_persisted"] = list(intermediates)
    return out


def release(df: DataFrame) -> None:
    """Unpersist intermediates attached by :func:`attach_persisted`.
    Call AFTER materializing ``df`` (collect/write); unpersisting earlier
    would force recomputation of the self-join inputs the cache exists
    for. Attachments may include :class:`CheckpointHandle` entries whose
    blocks CANNOT be recomputed — re-reading ``df`` lazily after release
    fails loudly instead of silently recomputing."""
    for p in df.__dict__.pop("_lantern_persisted", []):
        p.unpersist()


class CheckpointHandle:
    """release()-compatible handle for a ``localCheckpoint(eager=True)``
    frame. ``DataFrame.unpersist()`` only uncaches CacheManager entries —
    it does NOT free checkpoint RDD blocks (verified: getPersistentRDDs
    stays populated after it) — so this reaches the LogicalRDD's backing
    RDD through the analyzed plan and unpersists THAT. Duck-typed so
    :func:`release` frees it like any attached intermediate."""

    def __init__(self, checkpointed: DataFrame) -> None:
        self._df = checkpointed

    def unpersist(self) -> None:
        try:
            plan = self._df._jdf.queryExecution().analyzed()
            plan.rdd().unpersist(False)
        except Exception:
            # plan shape changed (not a LogicalRDD) or the context is
            # gone — storage dies with the session either way
            pass


def explode_nonempty(df: DataFrame, arr, alias: str, *keep) -> DataFrame:
    """``select(*keep, explode(arr))`` without InferFiltersFromGenerate's
    pushed-down ``size(arr) > 0`` filter (pathology 1 above): explode_outer
    is exempt from the rule, and the null rows it adds for empty arrays are
    dropped by a filter on the generator OUTPUT, which stays above the
    Generate node. Semantically identical to inner explode."""
    arr = F.col(arr) if isinstance(arr, str) else arr
    out = df.select(*keep, F.explode_outer(arr).alias(alias))
    return out.filter(F.col(alias).isNotNull())

def posexplode_nonempty(df: DataFrame, arr, pos_alias: str, alias: str, *keep) -> DataFrame:
    """``posexplode`` twin of :func:`explode_nonempty` — same
    InferFiltersFromGenerate dodge, keeping the element index."""
    arr = F.col(arr) if isinstance(arr, str) else arr
    out = df.select(*keep, F.posexplode_outer(arr).alias(pos_alias, alias))
    return out.filter(F.col(alias).isNotNull())


def bounded_rand_sample(df: DataFrame, n: int, seed: int, n_rows: int | None = None) -> list:
    """Driver-safe seeded random sample of ~``n`` rows, collected.

    Replaces the ``orderBy(rand(seed)).limit(n).collect()`` idiom for
    LARGE ``n``: that plan is TakeOrderedAndProject, where EVERY task
    ships its local top-``n`` rows to the driver — at 50M rows / 99
    partitions x 50k limit that is ~2.7 GB of task results, past
    spark.driver.maxResultSize (found in the r12 50M smoke attempt;
    the completed run over this sampler is committed as
    spark-warehouse/smoke_50m_r13.json — ivf + hnsw both clear the
    tier, worker peak RSS < 1 GB). Here a
    rand filter thins the scan to ~1.25·n rows FIRST, so the driver
    receives a bounded ~1.25·n regardless of partition count; the
    collected rows then sort by their rand key driver-side and cut to
    ``n``, which keeps the result deterministic for a given seed and
    partitioning independent of task arrival order (the property the
    old idiom had). The widening loop guarantees len == min(n, n_rows)
    — the old idiom's contract — terminating at frac == 1.0 where the
    filter keeps everything (r13 advice: a single 4x retry could still
    return short and quietly shrink a k-means/logreg training sample).
    Pass ``n_rows`` when the caller already knows the count to skip one
    aggregate job. Rows carry an extra ``__r`` field; callers index by
    name. When the caller doesn't know it, Catalyst often does (r15):
    :func:`estimated_rows` answers exactly for materialized caches and
    local relations with NO job — the common sample source is a cached
    training table — and only an estimate-less input pays the count."""
    if n_rows is None:
        est = estimated_rows(df)
        n_rows = int(est) if est is not None else df.count()
    if n_rows <= n:
        # small table: every row survives; keep the rand-sorted ORDER
        # the old idiom produced (k-means init indexes into this order,
        # so byte-identical behavior below the limit is free)
        rows = df.withColumn("__r", F.rand(seed)).collect()
        rows.sort(key=lambda r: r["__r"])
        return rows
    frac = min(1.0, 1.25 * n / n_rows)
    while True:
        rows = (
            df.withColumn("__r", F.rand(seed))
            .filter(F.col("__r") < frac)
            .collect()
        )
        if len(rows) >= n or frac >= 1.0:
            break
        frac = min(1.0, 4 * frac)
    rows.sort(key=lambda r: r["__r"])
    return rows[:n]

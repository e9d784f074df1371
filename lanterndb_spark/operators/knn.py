"""Exact top-k nearest-neighbor retrieval — the core query operator.

Reference: the ONLY way lantern's HNSW index is used is
``SELECT … ORDER BY v <-> q LIMIT k`` (order-by-operator scan,
lantern_hnsw/src/hnsw.c:230-236, scan.c:167-238). Filtered ANN composes a
WHERE clause with the ordered scan (test/sql/hnsw_select.sql:50-51).

Spark recast: ``df.filter(pred).withColumn(dist).orderBy(dist).limit(k)``.
Catalyst turns sort+limit into ``TakeOrderedAndProject`` — each partition
computes its local top-k with a bounded heap and the driver merges k-sized
lists, so the plan does no global shuffle and scales linearly with
partition count. That IS the distributed exact-knn algorithm; no custom
code needed. ANN acceleration (IVF / PQ) lives in ``operators.ivf`` and
``operators.pq`` and reuses this operator for the final re-rank.

Determinism: ties at the k boundary are broken on ``id_col`` so results
are stable across partitionings and comparable to a SQL oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lanterndb_spark.functions.distance import distance, query_vec


def knn(
    df: DataFrame,
    vec_col: str,
    query,
    k: int = 10,
    metric: str = "l2sq",
    pred: Column | None = None,
    id_col: str | None = None,
    dist_col: str = "dist",
) -> DataFrame:
    """Exact k-nearest-neighbors of ``query`` under ``metric``.

    ``query`` may be a python list (literal vector) or a Column.
    ``pred`` is an optional pre-filter (applied before the ordered scan,
    like Postgres applies WHERE before LIMIT). ``id_col`` adds a
    deterministic tie-break.
    """
    q = query if isinstance(query, Column) else query_vec(query)
    if pred is not None:
        df = df.filter(pred)
    out = df.withColumn(dist_col, distance(metric, vec_col, q))
    order = [F.col(dist_col).asc()]
    if id_col:
        order.append(F.col(id_col).asc())
    return out.orderBy(*order).limit(k)


def knn_stream(
    df: DataFrame,
    vec_col: str,
    query,
    init_k: int = 10,
    max_k: int = 1000,
    metric: str = "l2sq",
    pred: Column | None = None,
    id_col: str | None = None,
):
    """Generator yielding neighbors in distance order with doubling
    re-search — the reference's streaming-k scan (scan.c:240-292: when
    the consumer exhausts the first ``init_k`` results, re-search with
    k·2, warning cap at 1000; GUC ``lantern_hnsw.init_k`` default 10 max
    1000, options.c:324-335). Stop iterating when satisfied; each growth
    step is one more top-k job over the same plan."""
    k = init_k
    seen = 0
    while True:
        rows = knn(
            df, vec_col, query, k=k, metric=metric, pred=pred, id_col=id_col
        ).collect()
        for r in rows[seen:]:
            yield r
        if len(rows) < k:
            return  # exhausted the table
        seen = len(rows)
        if k >= max_k:
            return
        k = min(k * 2, max_k)


def knn_join(
    data: DataFrame,
    vec_col: str,
    queries: DataFrame,
    q_vec_col: str,
    k: int = 10,
    metric: str = "l2sq",
    id_col: str | None = None,
    q_id_col: str = "q_id",
    dist_col: str = "dist",
    impl: str = "auto",
    unique_q_ids: bool = False,
) -> DataFrame:
    """Top-k neighbors in ``data`` for EVERY row of ``queries`` — the
    reference's lateral-join query shape (test/sql/hnsw_select.sql:66-67:
    ``FROM queries, LATERAL (SELECT … ORDER BY v <-> q.v LIMIT k)``) as one
    distributed job instead of a per-query driver loop.

    Per-query top-k is ``row_number() OVER (PARTITION BY q_id ORDER BY
    dist)`` ≤ k; Spark ≥3.5 rewrites the rank filter into a
    WindowGroupLimit that prunes to a per-partition top-k heap BEFORE the
    shuffle, so the exchange carries ≤ k·partitions rows per query.
    Queries must stay broadcast-small (≤ ~100k rows). The cap is
    enforced with a capped count (plus the collect/join itself), so a
    query table on a heavy lineage is evaluated twice — persist it
    before calling, as with the DataFrame-native batch forms.

    Two scoring paths (``impl``):
    - ``expr``: broadcast join + distance expression per (row, query).
      Interpreted array fold — best for few queries / hamming metric.
    - ``arrow``: ONE numpy matmul per Arrow batch computes the full
      row×query distance block (X@Q.T), posexplode, then the same window
      prune. Measured 10× faster at 16 queries × 1M rows: the fold costs
      O(nq·dim) interpreted ops per row, the matmul amortizes Arrow
      transfer across all queries.
    - ``auto``: arrow for ≥4 queries on l2sq/cos/inner, else expr.

    Duplicate q_id VALUES are PER-ROW (each input row keeps its own
    top-k) via the same surrogate wrap as the ANN batch forms — without
    it the per-query window below would merge them, violating the
    "EVERY row" contract above. ``unique_q_ids=True`` skips the
    one-aggregate detection pass (asserting uniqueness; duplicates then
    merge).
    """
    from pyspark.sql import Window

    from lanterndb_spark.plans.shape import widen_partitions

    order_tail = [F.col(id_col).asc()] if id_col else []

    # BOTH impls broadcast the query table (the expr path as a broadcast
    # join, the arrow path as a task closure) — fine for the documented
    # ≤100k contract, a quadratic-memory cliff beyond it. ONE capped
    # collect (limit(cap+1), never unbounded) replaces the former
    # probe-count + cap-count + duplicate-q_id aggregate + arrow collect
    # — four jobs' worth of query-lineage evaluations fused into a
    # single evaluation (r14: each small job cost ~0.1-0.3 s of fixed
    # latency at bench scale, and a heavy query lineage paid it 2-4x).
    # The driver memory ceiling is unchanged: the expr path already
    # collected the same rows into the driver-built broadcast relation,
    # the arrow path into the task closure. Duplicate/NULL q_id
    # detection happens driver-side on the collected keys
    # (_collected_qids_need_wrap, the twin of _has_duplicate_qids).
    MAX_BROADCAST_QUERIES = 100_000
    qsel_schema = queries.select(q_id_col, q_vec_col).schema
    qrows = queries.select(q_id_col, q_vec_col).limit(
        MAX_BROADCAST_QUERIES + 1
    ).collect()
    nq = len(qrows)
    if nq > MAX_BROADCAST_QUERIES:
        raise ValueError(
            f"knn_join broadcasts the query table and scores every "
            f"row x query pair; got more than {MAX_BROADCAST_QUERIES} "
            "query rows. Use the DataFrame-native ANN batch forms "
            "(ivf_search_df / hnsw_search_df, unbounded) or shard the "
            "batch."
        )
    if not unique_q_ids and nq >= 2:
        from lanterndb_spark.operators.hnsw import (
            _collected_qids_need_wrap, _restore_surrogate,
            _surrogate_key_queries,
        )

        if _collected_qids_need_wrap([r[0] for r in qrows], queries, q_id_col):
            keyed = _surrogate_key_queries(queries, q_id_col, q_vec_col)
            inner = knn_join(
                data, vec_col, keyed.drop("__orig_qid"), q_vec_col, k=k,
                metric=metric, id_col=id_col, q_id_col=q_id_col,
                dist_col=dist_col, impl=impl, unique_q_ids=True,
            )
            tail = [c for c in inner.columns if c != q_id_col]
            return _restore_surrogate(
                inner, keyed, q_id_col, tail, key_col=q_id_col
            )
    if impl == "auto":
        impl = "arrow" if nq >= 4 and metric in ("l2sq", "cos", "inner") else "expr"

    if impl == "expr":
        # rebuild the (already collected) rows as a local relation so
        # the broadcast build does not re-evaluate the query lineage
        qlocal = data.sparkSession.createDataFrame(qrows, qsel_schema)
        pairs = widen_partitions(data).join(
            F.broadcast(qlocal.select(F.col(q_id_col), F.col(q_vec_col).alias("__qv")))
        )
        pairs = pairs.withColumn(dist_col, distance(metric, vec_col, F.col("__qv")))
        w = Window.partitionBy(q_id_col).orderBy(F.col(dist_col).asc(), *order_tail)
        return (
            pairs.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .drop("__qv", "__rn")
        )

    qids = [r[0] for r in qrows]
    qmat = np.asarray([list(r[1]) for r in qrows], dtype=np.float64)
    data_w = widen_partitions(data)
    bc = data_w.sparkSession.sparkContext.broadcast((qids, qmat))
    q_id_type = queries.schema[q_id_col].dataType.simpleString()
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in data_w.schema.fields]
        + [f"{q_id_col} {q_id_type}", f"{dist_col} double"]
    )

    def topk_block(batches):
        # Per-Arrow-batch matmul + per-query top-k INSIDE Python: each
        # batch emits ≤ nq·(k + ties) rows instead of n·nq exploded rows,
        # so the downstream window/shuffle sees k·nq·partitions rows, not
        # the full distance matrix. Ties at the k-th distance are kept
        # (threshold-inclusive) and resolved by the final (dist, id)
        # window, preserving exact tie-break semantics.
        ids, q = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            if metric == "l2sq":
                d = (x**2).sum(1)[:, None] - 2.0 * x @ q.T + (q**2).sum(1)[None, :]
            elif metric == "inner":
                d = -(x @ q.T)
            else:  # cos
                xn = np.linalg.norm(x, axis=1, keepdims=True)
                qn = np.linalg.norm(q, axis=1, keepdims=True)
                denom = xn @ qn.T
                with np.errstate(divide="ignore", invalid="ignore"):
                    d = 1.0 - (x @ q.T) / denom
                d[denom == 0] = np.nan
            n = len(pdf)
            take_idx, take_q, take_d = [], [], []
            for j in range(len(ids)):
                dj = d[:, j]
                if k >= n:
                    sel = np.arange(n)
                else:
                    thresh = np.partition(dj, k - 1)[k - 1]
                    # NaN thresh → fewer than k finite dists: keep all,
                    # the final window orders NaN last like Spark does
                    sel = (
                        np.arange(n) if np.isnan(thresh)
                        else np.flatnonzero(dj <= thresh)
                    )
                take_idx.append(sel)
                take_q.append(np.full(len(sel), j))
                take_d.append(dj[sel])
            rows = np.concatenate(take_idx)
            out = pdf.iloc[rows].copy()
            out[q_id_col] = [ids[j] for j in np.concatenate(take_q)]
            out[dist_col] = np.concatenate(take_d)
            yield out

    pruned = data_w.mapInPandas(topk_block, out_schema)
    w = Window.partitionBy(q_id_col).orderBy(F.col(dist_col).asc(), *order_tail)
    return (
        pruned.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def hard_negatives(
    data: DataFrame,
    vec_col: str,
    queries: DataFrame,
    q_vec_col: str,
    exclude: Column,
    k: int = 10,
    metric: str = "l2sq",
    id_col: str | None = None,
    q_id_col: str = "q_id",
    dist_col: str = "dist",
) -> DataFrame:
    """Hard-negative mining: per anchor, the k nearest rows that are NOT
    positives — the contrastive-training sampler (similar-but-wrong
    examples are what make the loss informative).

    ``exclude`` is a Column over the JOINED (data ⨯ anchor) row — e.g.
    ``F.col("label") == F.col("q_label")`` — evaluated BEFORE the
    per-anchor window, so excluded positives never consume the k budget
    (post-top-k filtering would silently return fewer than k negatives
    for anchors whose neighborhood is positive-dense — the exact anchors
    hard-negative mining cares about most).

    A correlated pair-level predicate rules out the pre-pushed scan
    filter that ``knn(pred=...)`` uses and the matmul batch path (the
    exclusion depends on both sides), so this is the broadcast-join +
    codegen'd distance expression shape: anchors broadcast (same ≤~100k
    contract as knn_join), data streams map-side, and the rank filter
    plans as WindowGroupLimit — per-partition top-k heaps before the
    single shuffle on anchor id. For anchor sets beyond the broadcast
    contract, partition anchors into batches (the mining jobs are
    embarrassingly parallel across batches).
    """
    from pyspark.sql import Window

    from lanterndb_spark.plans.shape import widen_partitions

    order_tail = [F.col(id_col).asc()] if id_col else []
    pairs = widen_partitions(data).join(F.broadcast(queries))
    pairs = (
        pairs.filter(~exclude)
        .withColumn(dist_col, distance(metric, vec_col, F.col(q_vec_col)))
    )
    w = Window.partitionBy(q_id_col).orderBy(F.col(dist_col).asc(), *order_tail)
    return (
        pairs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn", q_vec_col)
    )

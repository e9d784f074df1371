"""Physical-plan assertions — the 100 TB posture checks.

Each test pins a plan property that makes the operator scale: filter and
projection pushdown to the parquet scan, partition pruning on the IVF
layout, map-side top-k (TakeOrderedAndProject / WindowGroupLimit), and
broadcast of the small side. A correctness-green operator that loses one
of these properties regresses 100× at scale without failing any value
test — so the plan itself is under test.
"""

import pytest
from pyspark.sql import functions as F

from lanterndb_spark.operators.knn import knn, knn_join

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb_parquet(spark):
    # read straight from parquet (NOT cached) so scan-level pushdown shows
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_knn_is_take_ordered_with_column_pruning(emb_parquet):
    out = knn(emb_parquet, "embedding", [0.0] * 16, k=5, id_col="vec_id").select(
        "vec_id", "dist"
    )
    plan = _plan(out)
    assert "TakeOrderedAndProject" in plan  # partition-local top-k + k-merge
    # label not needed → pruned from the parquet ReadSchema
    scan = plan[plan.index("FileScan") :]
    assert "label" not in scan.split("ReadSchema")[1][:200]


def test_filter_pushdown_reaches_scan(emb_parquet):
    out = knn(
        emb_parquet, "embedding", [0.0] * 16, k=5,
        pred=F.col("label") == 3, id_col="vec_id",
    )
    plan = _plan(out)
    assert "PushedFilters: [" in plan
    assert "EqualTo(label,3)" in plan


def test_knn_join_broadcasts_queries_and_group_limits(emb_parquet, spark):
    qdf = spark.createDataFrame(
        [(0, [0.0] * 16), (1, [1.0] * 16)], "q_id int, qv array<double>"
    )
    plan = _plan(knn_join(emb_parquet, "embedding", qdf, "qv", k=3))
    assert "WindowGroupLimit" in plan  # map-side per-query top-k heap
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_ivf_saved_layout_prunes_partitions(emb_parquet, spark, tmp_path):
    from lanterndb_spark.operators.ivf import build_ivf, ivf_search, load_ivf, save_ivf

    idx = build_ivf(emb_parquet, "embedding", nlist=4, seed=42)
    save_ivf(idx, str(tmp_path / "ivf"))
    loaded = load_ivf(spark, str(tmp_path / "ivf"), "embedding")
    q = [float(x) for x in emb_parquet.first()["embedding"]]
    out = ivf_search(loaded, q, k=3, nprobe=1, id_col="vec_id")
    plan = _plan(out)
    # cluster_id isin [...] must hit the partitioned layout as a
    # partition filter, not a post-scan filter
    scan = plan[plan.index("FileScan") :]
    assert "PartitionFilters" in scan
    assert "cluster_id" in scan.split("PartitionFilters")[1][:200]


def test_bm25_search_prunes_postings_scan(spark, tmp_path, tables):
    from lanterndb_spark.operators.bm25 import build_postings, corpus_stats, search_bm25

    docs = tables["documents"]
    postings_path = str(tmp_path / "postings")
    build_postings(docs).write.parquet(postings_path)
    postings = spark.read.parquet(postings_path)
    stats = corpus_stats(docs)
    out = search_bm25(
        docs, "spark window merge", limit=5, postings=postings, stats=stats
    )
    plan = _plan(out)
    assert "PushedFilters: [In(term" in plan  # only query-term rows are read


def test_hybrid_candidate_avoids_full_sort(tables):
    from lanterndb_spark.operators.hybrid import weighted_vector_search

    emb = tables["embeddings"]
    df = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("v1"),
        F.reverse("embedding").alias("v2"),
    )
    q = [0.0] * 16
    out = weighted_vector_search(
        df, [(1.0, "v1", q), (0.5, "v2", list(reversed(q)))], ef=20, limit=5
    )
    plan = _plan(out)
    # candidate mode: per-column top-ef are TakeOrdered, never a global Sort
    assert plan.count("TakeOrderedAndProject") >= 2


def test_exact_dedup_single_shuffle(tables):
    from lanterndb_spark.operators.dedup import exact_dedup

    docs = tables["documents"]
    plan = _plan(exact_dedup(docs, ["text"], "doc_id"))
    # groupBy + self-join on (text, doc_id): AQE may leave 2 exchanges
    # pre-join, but there must be no third shuffle after the join
    assert plan.count("Exchange hashpartitioning") <= 4


def test_salted_collect_list_matches_plain(tables):
    from lanterndb_spark.plans.shape import salted_collect_list

    docs = tables["documents"]
    plain = {
        r["lang"]: r["ids"]
        for r in docs.groupBy("lang")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .collect()
    }
    salted = {
        r["lang"]: r["ids"]
        for r in salted_collect_list(docs, ["lang"], "doc_id", "ids", salt=8).collect()
    }
    assert salted == plain


def test_ivf_batch_search_prunes_partitions(emb_parquet, spark, tmp_path):
    from lanterndb_spark.operators.ivf import build_ivf, ivf_search_batch, load_ivf, save_ivf

    idx = build_ivf(emb_parquet, "embedding", nlist=4, seed=42)
    save_ivf(idx, str(tmp_path / "ivf_b"))
    loaded = load_ivf(spark, str(tmp_path / "ivf_b"), "embedding")
    qs = [[float(x) for x in r["embedding"]] for r in emb_parquet.limit(3).collect()]
    out = ivf_search_batch(loaded, qs, k=3, nprobe=1, id_col="vec_id")
    plan = _plan(out)
    scan = plan[plan.index("FileScan") :]
    assert "PartitionFilters" in scan
    assert "cluster_id" in scan.split("PartitionFilters")[1][:300]


def test_postings_build_salt_adapts_to_corpus_size(spark):
    """The postings collect_list salt is ADAPTIVE (r14): a corpus whose
    Catalyst size estimate is large keeps the two-stage salted shape —
    collect per (term, salt) then flatten per term, so one hot term
    cannot funnel its whole posting list through a single reducer —
    while a small corpus (where even the worst-case posting list is a
    few MB) takes the single-exchange groupBy and skips the second
    aggregation stage."""
    from pyspark.sql import functions as F

    from lanterndb_spark.operators.bm25 import build_postings

    # small corpus: estimated size far under the 64 MiB threshold
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(build_postings(docs))
    assert "__salt" not in plan
    # big ESTIMATED corpus (plan-only — nothing executes): range stats
    # put the projection far over the threshold
    big = spark.range(200_000_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma "), F.col("id").cast("string")).alias("text"),
    )
    plan_big = _plan(build_postings(big))
    assert "__salt" in plan_big
    assert (
        plan_big.count("ObjectHashAggregate") + plan_big.count("SortAggregate") >= 4
    )


def test_tpch_q6_pushes_all_predicates_to_scan(spark):
    """Q6's four predicates and 4-column projection must reach the parquet
    scan — a Q6 that filters post-scan reads the whole fact table at 100 TB."""
    import __spark_entry__ as e

    df = e.q_tpch_q6(spark, SF_DIR)
    # toString() truncates PushedFilters; the formatted explain prints it whole
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    pushed = plan.split("PushedFilters:")[1].split("\n")[0]
    for frag in ["GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
                 "GreaterThanOrEqual(l_discount", "LessThan(l_quantity"]:
        assert frag in pushed, frag
    read = plan.split("ReadSchema:")[1].split("\n")[0]
    for col in ["l_returnflag", "l_orderkey", "l_tax"]:
        assert col not in read, col


def test_tpch_q4_is_semi_join(spark):
    """The EXISTS must compile to a LeftSemi join (no row multiplication
    from duplicate lineitems) with lineitem pruned to two columns."""
    import __spark_entry__ as e

    plan = _plan(e.q_tpch_q4(spark, SF_DIR))
    assert "LeftSemi" in plan
    li_scan = [s for s in plan.split("FileScan") if "lineitem" in s[:400]]
    assert li_scan and "l_extendedprice" not in li_scan[0].split("ReadSchema")[1][:200]


def test_tpch_q8_broadcasts_all_dimensions(spark):
    """The 7-table market-share join must hash-shuffle lineitem<->orders
    ONLY: part, supplier, nation, region, customer-side prune all ride
    broadcast joins, and no join degenerates to a nested loop."""
    import __spark_entry__ as e

    plan = _plan(e.q_tpch_q8(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 4
    # one (AQE may plan both sides of the orderkey join) shuffled join max
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1


def test_tpch_q19_disjunction_stays_equi_join(spark):
    """The OR-of-ANDs predicate must remain a residual on the partkey
    equi-join (broadcast), never a nested loop over lineitem x part."""
    import __spark_entry__ as e

    plan = _plan(e.q_tpch_q19(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_tpch_q22_anti_join_shape(spark):
    """No-recent-orders must compile to a LeftAnti join, with the order
    scan pruned to the two columns the anti-join needs."""
    import __spark_entry__ as e

    plan = _plan(e.q_tpch_q22(spark, SF_DIR))
    assert "LeftAnti" in plan
    o_scan = [s for s in plan.split("FileScan") if "orders" in s[:400]]
    assert o_scan and "o_totalprice" not in o_scan[0].split("ReadSchema")[1][:250]


def test_salted_join_matches_plain(spark, tables):
    """Value-equivalence: salted fact-dim join == plain join for inner and
    left, including unmatched fact rows; outer shapes are rejected."""
    from lanterndb_spark.plans.shape import salted_join

    ev = tables["events"].select("event_id", "user_id", "value")
    dim = (
        tables["events"].select("user_id").distinct()
        .filter(F.col("user_id") % 3 != 0)  # some users unmatched
        .withColumn("tier", F.pmod("user_id", F.lit(5)))
    )
    for how in ("inner", "left"):
        a = salted_join(ev, dim, "user_id", salt=8, how=how)
        b = ev.join(dim, "user_id", how)
        ka = sorted((r["event_id"], r["tier"]) for r in a.select("event_id", "tier").collect())
        kb = sorted((r["event_id"], r["tier"]) for r in b.select("event_id", "tier").collect())
        assert ka == kb and ka

    with pytest.raises(ValueError, match="inner/left"):
        salted_join(ev, dim, "user_id", how="right")


def test_chunk_documents_is_shuffle_free(spark):
    """Chunking must ride the scan: generate + project only, no Exchange."""
    from lanterndb_spark.operators.paragraphs import chunk_documents

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(chunk_documents(docs, max_tokens=32, overlap=8))
    assert "Exchange" not in plan
    assert "Generate" in plan  # the explode of chunk ids


def test_tpch_q2_broadcasts_dims_no_cartesian(spark):
    """The min-per-part join-back must stay an equi-join (partkey + unit),
    with part/supplier/nation riding broadcasts — a nested loop over
    offers x offers would be quadratic in the fact table."""
    import __spark_entry__ as e

    plan = _plan(e.q_tpch_q2(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_tpch_q9_single_shuffled_join(spark):
    """Profit rollup: only the lineitem<->orders join may shuffle; the
    part filter, supplier, and nation all broadcast into the fact scan."""
    import __spark_entry__ as e

    plan = _plan(e.q_tpch_q9(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1


def test_tpch_q12_date_filter_reaches_scan(spark):
    """The one-year window must prune the lineitem scan before the orders
    join — post-join filtering reads the whole fact table at scale."""
    import __spark_entry__ as e

    df = e.q_tpch_q12(spark, SF_DIR)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    pushed = plan.split("PushedFilters:")[1].split("\n")[0]
    assert "GreaterThanOrEqual(l_shipdate" in pushed
    assert "LessThan(l_shipdate" in pushed


def test_tpch_q15_broadcasts_scalar_max_and_supplier(spark):
    """Top-supplier: the scalar max and the supplier dim must broadcast;
    the only shuffle is the per-supplier revenue agg."""
    import __spark_entry__ as e

    plan = _plan(e.q_tpch_q15(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 1
    # scalar max rides a broadcast nested loop (1-row build side) or BHJ
    assert "BroadcastExchange" in plan


def test_tpch_q16_anti_join_and_pruned_lineitem(spark):
    """Supplier-count rollup: excluded suppliers via LeftAnti broadcast,
    and lineitem pruned to the two join keys."""
    import __spark_entry__ as e

    plan = _plan(e.q_tpch_q16(spark, SF_DIR))
    assert "LeftAnti" in plan
    li_scan = [s for s in plan.split("FileScan") if "lineitem" in s[:400]]
    assert li_scan
    read = li_scan[0].split("ReadSchema")[1][:200]
    assert "l_extendedprice" not in read and "l_quantity" not in read


def test_tpch_q17_broadcasts_stats_no_cartesian(spark):
    """The per-part average rides a broadcast join back onto the
    brand-pruned facts — never a cartesian, never a shuffled self-join."""
    import __spark_entry__ as e

    plan = _plan(e.q_tpch_q17(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") == 0


def test_minhash_estimate_matches_exact_within_bound(spark):
    """Estimate-mode Jaccard (coordinate agreement) must track exact
    shingle Jaccard — the xorshift avalanche decorrelates the KM stream;
    without it one shared low-h2 shingle drove near-disjoint docs to
    estimate ~1.0 (the 63/64-coordinate pathology)."""
    from lanterndb_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    est = minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.0, verify="estimate", max_bucket=None
    ).select("id_a", "id_b", F.col("jaccard").alias("est_j"))
    exact = minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.0, verify="exact", max_bucket=None
    ).select("id_a", "id_b", F.col("jaccard").alias("exact_j"))
    row = (
        est.join(exact, ["id_a", "id_b"])
        .agg(F.max(F.abs(F.col("est_j") - F.col("exact_j"))).alias("max_err"),
             F.count("*").alias("n"))
        .first()
    )
    assert row["n"] > 0
    assert row["max_err"] <= 0.3


def test_events_cube_single_shuffle_expand(spark):
    """CUBE must plan as one Expand + one aggregation shuffle — four
    separate scans/aggs would read the stream four times at scale."""
    import __spark_entry__ as e

    plan = _plan(e.q_events_cube(spark, SF_DIR))
    assert "Expand" in plan
    # one agg exchange + the final orderBy's range exchange at most
    assert plan.count("Exchange hashpartitioning") <= 1


def test_window_stats_single_window_chain(spark):
    """All four window functions share (user_id, ts) partitioning — the
    plan must contain exactly one hash exchange for the window chain,
    not one per function."""
    import __spark_entry__ as e

    plan = _plan(e.q_window_stats(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1


def test_tpch_q11_broadcasts_suppliers_and_total(spark):
    """The nation-filtered supplier list and the scalar total both ride
    broadcasts; the only shuffle is the per-part value agg."""
    import __spark_entry__ as e

    plan = _plan(e.q_tpch_q11(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") == 0


def test_tpch_q20_semi_join_pair_agg(spark):
    """Excess-stock suppliers: the part family and the qualifying-supplier
    list both broadcast (LeftSemi), the only shuffle is the
    (partkey, suppkey) pair agg — no cartesian fallback."""
    import __spark_entry__ as e

    plan = _plan(e.q_tpch_q20(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") == 0


def test_tpch_q21_no_expand_two_pair_sized_exchanges(spark):
    """Waiting-orders: the sole-blame rewrite must NOT plan as a
    multi-count-distinct Expand (doubles the fact rows); the fact crosses
    the wire once post-combine into (order, supplier) pairs and the
    window exchange moves pair-sized data only. Supplier broadcasts; no
    join back against raw lineitems."""
    import __spark_entry__ as e

    plan = _plan(e.q_tpch_q21(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "Expand" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning(l_orderkey") <= 2


def test_events_resample_grid_is_executor_side(spark):
    """Resample: the densified grid must come from a Generate (sequence +
    explode) over per-key spans — never a driver-built range — and the
    LOCF window must not add an exchange beyond the key partitioning."""
    import __spark_entry__ as e

    plan = _plan(e.q_events_resample(spark, SF_DIR))
    assert "Generate explode" in plan
    assert "CartesianProduct" not in plan
    # spans agg + grid-vs-agged join + window all key on user_id; the
    # window itself must piggyback on an existing user_id exchange
    assert "Window" in plan


def test_hard_negatives_filters_before_window(spark):
    """The correlated exclusion must sit BELOW the rank window in the
    plan (positives never consume the k budget) with anchors broadcast
    and the rank filter compiled to a WindowGroupLimit heap."""
    import __spark_entry__ as e

    plan = _plan(e.q_hard_negatives(spark, SF_DIR))
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # exclusion is a Filter under the Window, not above it
    assert plan.index("Window") < plan.index("NOT (label")


def test_minhash_candidates_scope_prunes_verify_scan(spark):
    """verify_scope='candidates' must re-read the corpus through a
    broadcast LeftSemi on the candidate ids — the verify join sees a
    candidate-sized shingle table, never a corpus-sized one."""
    from lanterndb_spark.operators.dedup import minhash_lsh_pairs
    from lanterndb_spark.plans.shape import release

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=32, bands=16, threshold=0.3,
        verify_scope="candidates",
    )
    plan = _plan(out)
    release(out)
    assert "LeftSemi" in plan


def test_repeated_spans_no_quadratic_join(spark):
    """Span dedup must stay a hash-join + window pipeline: the dup-hash
    filter joins postings on the md5 key (equi-join, broadcastable),
    never a nested loop, and the islands merge is ONE window partitioned
    by doc — no self-join of the corpus anywhere."""
    from lanterndb_spark.operators.spans import repeated_spans
    from lanterndb_spark.plans.shape import release

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = repeated_spans(docs, "doc_id", "text", min_len=10, min_docs=2)
    plan = _plan(out)
    release(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # prev-end max + island sum: two Window nodes PIPELINED over one
    # per-doc exchange (same partitioning/ordering, no exchange between)
    assert plan.count("Window") == 2
    # shuffles: count-distinct two-stage agg (2) + the windows' per-doc
    # exchange (1) — the dup-hash set reaches the postings via a
    # BroadcastHashJoin, not a shuffle
    assert plan.count("Exchange hashpartitioning") <= 4
    assert "BroadcastHashJoin" in plan


def test_projection_is_shuffle_free(spark):
    """JL projection is a pure Arrow-batched map: it must ride the scan
    with zero Exchange (the matrix ships in the UDF closure)."""
    from lanterndb_spark.operators.project import project_embeddings

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _plan(project_embeddings(emb, "embedding", 16, seed=42, in_dim=64))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan


def test_search_bm25_df_group_limits_and_prunes_terms(tables, spark):
    """The batch BM25 plan must carry (a) the term-isin prune from the
    capped probe when the postings are LARGE (the scan-pushable twin of
    the single-query term filter — r14: a small postings table skips
    the probe job, the equi-join restricts identically) and (b) a
    WindowGroupLimit so the per-query cut happens map-side, not after a
    full candidate shuffle."""
    from pyspark.sql import functions as F

    from lanterndb_spark.operators.bm25 import build_postings, search_bm25_df

    docs = tables["documents"]
    qdf = spark.createDataFrame(
        [(0, "spark window merge"), (1, "broadcast join plan")],
        "q_id int, query string",
    )
    plan = _plan(search_bm25_df(docs, qdf, limit=5))
    assert "WindowGroupLimit" in plan
    # small postings: the probe job is skipped — no isin enters the plan
    assert "term IN" not in plan
    # big ESTIMATED postings (plan-only — the probe job runs on the tiny
    # query side only): the isin prune must reach the postings side
    big = spark.range(50_000_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma "), F.col("id").cast("string")).alias("text"),
    )
    plan_big = _plan(search_bm25_df(
        docs, qdf, limit=5, postings=build_postings(big), stats=(50, 4.0)))
    assert "WindowGroupLimit" in plan_big
    assert "term IN" in plan_big or "term#" in plan_big and " IN (" in plan_big


def test_weighted_search_df_group_limits(tables, spark):
    """Batch hybrid: each candidate stage and the final joint cut are
    rank-filtered windows that must compile to WindowGroupLimit heaps
    (map-side pruning before any per-query shuffle)."""
    from lanterndb_spark.operators.hybrid import weighted_vector_search_df

    df = tables["embeddings"].select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("v1"),
        F.reverse(F.col("embedding")).alias("v2"),
        "label",
    )
    qdf = df.filter(F.col("id") == 0).select(
        F.lit(0).alias("q_id"),
        F.col("v1").alias("qv1"),
        F.col("v2").alias("qv2"),
    )
    plan = _plan(
        weighted_vector_search_df(
            df, [(1.0, "v1", "qv1"), (0.5, "v2", "qv2")], qdf, ef=20, limit=5
        )
    )
    assert "WindowGroupLimit" in plan


def test_bounded_rand_sample_widens_until_full(spark):
    """bounded_rand_sample guarantees len == min(n, n_rows) — the old
    orderBy(rand).limit(n) contract (r13 advice: a single 4x widening
    retry could still return a short draw and quietly shrink a
    k-means/logreg training sample). Forcing shortness: pass an
    inflated n_rows so the initial fraction draws ~nothing; the loop
    must widen to frac=1.0 and still return exactly n rows."""
    from lanterndb_spark.plans.shape import bounded_rand_sample

    df = spark.range(100).select(F.col("id").alias("x"))
    rows = bounded_rand_sample(df, 50, seed=7, n_rows=100_000)
    assert len(rows) == 50
    assert len({r["x"] for r in rows}) == 50
    # determinism: same seed, same draw
    again = bounded_rand_sample(df, 50, seed=7, n_rows=100_000)
    assert [r["x"] for r in rows] == [r["x"] for r in again]
    # small-table path unchanged: every row survives, rand-sorted
    assert len(bounded_rand_sample(df, 200, seed=7)) == 100


def test_estimated_rows_sees_post_cache_stats(spark):
    """estimated_rows drives plan-only decisions (minhash verify scope,
    adaptive salts) without a job. Contract: None when Catalyst has no
    row count (plain scans/local rdds with CBO off), the EXACT count for
    a materialized cache — even on a handle whose QueryExecution was
    memoized before cache(), which is why the helper derives a fresh
    Dataset internally."""
    from lanterndb_spark.plans.shape import estimated_rows

    df = spark.createDataFrame([(i,) for i in range(100)], "x int")
    assert estimated_rows(df) is None  # memoizes the pre-cache QE
    df.cache()
    df.count()
    try:
        assert estimated_rows(df) == 100.0
    finally:
        df.unpersist()


def test_estimated_rows_reads_local_relations(spark):
    """A LocalRelation root (SQL VALUES / JVM-literal data) carries no
    rowCount in its Statistics, but its data is driver-resident — the
    helper reads the exact size off the node, post-optimizer-folding
    (Filter over local data collapses into a pruned LocalRelation), so
    known-small ad-hoc query frames take the single-task dup-check path
    with zero jobs. Python-list createDataFrame parallelizes to a
    LogicalRDD and stays None (no driver-resident count to read)."""
    from lanterndb_spark.plans.shape import estimated_rows

    v = spark.sql("SELECT * FROM VALUES (1,'a'),(2,'b'),(3,'c') AS t(q_id, q)")
    assert estimated_rows(v) == 3.0
    assert estimated_rows(v.filter("q_id < 3")) == 2.0


def test_known_small_by_frame_construction(spark):
    """known_small by how an ad-hoc query frame is built: a Python-list
    createDataFrame plans as a LogicalRDD with unknown stats (False, so
    the ANN searches take their executor routes); pandas- and Arrow-
    built frames are LocalRelations with an exact count (True, the
    known-small routes)."""
    import pandas as pd
    import pyarrow as pa

    from lanterndb_spark.plans.shape import known_small

    ddl = "q_id long, x double"
    rows = [(i, float(i)) for i in range(8)]
    assert not known_small(spark.createDataFrame(rows, ddl))
    pdf = pd.DataFrame(rows, columns=["q_id", "x"])
    assert known_small(spark.createDataFrame(pdf, ddl))
    assert known_small(spark.createDataFrame(pa.Table.from_pandas(pdf)))


def test_coalesce_known_small_bounds_python_tasks(spark):
    """r14 contract for the query-routing coalesce: a KNOWN-small input
    (materialized cache stats) routes in ceil(rows/rows_per_task) tasks;
    unknown stats leave the frame untouched (scale-conservative), and
    coalesce can only ever REDUCE the partition count, so a large input
    keeps its parallelism."""
    from lanterndb_spark.plans.shape import coalesce_known_small

    raw = spark.createDataFrame([(i,) for i in range(2000)], "x int")
    derived = raw.select("x")
    # LogicalRDD: no stats -> unchanged
    assert coalesce_known_small(derived, raw) is derived
    cached = raw.persist()
    cached.count()
    try:
        out = coalesce_known_small(cached.select("x"), cached,
                                   rows_per_task=1024)
        assert out.rdd.getNumPartitions() == 2
        assert out.count() == 2000
        # rows_per_task above the row count -> a single task
        one = coalesce_known_small(cached.select("x"), cached,
                                   rows_per_task=100_000)
        assert one.rdd.getNumPartitions() == 1
    finally:
        cached.unpersist()

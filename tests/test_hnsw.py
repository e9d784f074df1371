"""Partition-local HNSW graph backend (operators/hnsw.py) — the
reference's namesake index (lantern_hnsw/src/hnsw/build.c / insert.c /
scan.c) recast as per-shard numpy graphs."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from lanterndb_spark.operators.hnsw import (
    build_hnsw,
    hnsw_compact,
    hnsw_insert,
    hnsw_search,
    hnsw_search_batch,
    load_hnsw,
    save_hnsw,
)
from lanterndb_spark.operators.knn import knn


@pytest.fixture(scope="module")
def emb(tables):
    return tables["embeddings"]


@pytest.fixture(scope="module")
def index(emb):
    return build_hnsw(
        emb, "embedding", id_col="vec_id", m=8, ef_construction=64,
        num_shards=4, seed=42,
    )


def qvec(emb, i):
    return [float(x) for x in emb.filter(F.col("vec_id") == i).first()["embedding"]]


def test_build_covers_every_row(index, emb):
    tot = index.graphs.agg(F.sum("n")).first()[0]
    assert tot == emb.count()
    assert index.graphs.count() == 4


def test_full_probe_equals_exact(index, emb):
    """ef >= n degenerates to the exact scan — the reference's own ANN
    oracle shape (test/sql/hnsw_correct.sql:17-48)."""
    n = emb.count()
    q = qvec(emb, 0)
    got = hnsw_search(index, emb, q, k=10, ef=n).collect()
    want = knn(emb, "embedding", q, k=10, id_col="vec_id").collect()
    assert [r["vec_id"] for r in got] == [r["vec_id"] for r in want]
    for g, w in zip(got, want):
        assert abs(g["dist"] - w["dist"]) < 1e-6


def test_default_ef_recall(index, emb):
    """Graph-path recall@10 at default ef over sampled queries ≥ 0.95 —
    the round-5 target (reference HNSW at m=16/ef=64 sits ≥0.97)."""
    from lanterndb_spark.operators.autotune import exact_topk_batch, recall_at_k

    rows = emb.orderBy(F.rand(7)).limit(10).collect()
    queries = [[float(x) for x in r["embedding"]] for r in rows]
    truth = exact_topk_batch(emb, "embedding", queries, k=10, id_col="vec_id")
    res = hnsw_search_batch(index, queries, k=10, ef=64)
    got: dict[int, list] = {}
    for r in res.orderBy("q_id", "dist", "vec_id").collect():
        got.setdefault(r["q_id"], []).append(r["vec_id"])
    recs = [recall_at_k(got.get(i, []), truth.get(i, [])) for i in range(len(queries))]
    assert sum(recs) / len(recs) >= 0.95


def test_batch_matches_single(index, emb):
    qs = [qvec(emb, 1), qvec(emb, 2)]
    batch = hnsw_search_batch(index, qs, k=5, ef=32)
    for qi, q in enumerate(qs):
        single = hnsw_search(index, emb, q, k=5, ef=32).collect()
        got = [r["vec_id"] for r in
               batch.filter(F.col("q_id") == qi).orderBy("dist", "vec_id").collect()]
        assert got == [r["vec_id"] for r in single]


def test_insert_is_incremental_and_visible(index, emb, spark):
    q = qvec(emb, 3)
    twin = spark.createDataFrame(
        [(90_001, q, 0)], "vec_id long, embedding array<float>, label int"
    )
    idx2 = hnsw_insert(index, twin.select("vec_id", "embedding"))
    got = hnsw_search(idx2, emb.unionByName(twin), q, k=3, ef=64).collect()
    assert got[0]["vec_id"] in (3, 90_001) and {3, 90_001} <= {r["vec_id"] for r in got}
    # original index untouched (immutable handle semantics)
    got0 = hnsw_search(index, emb, q, k=3, ef=64).collect()
    assert all(r["vec_id"] != 90_001 for r in got0)
    idx2.graphs.unpersist()


def test_insert_passes_untouched_shards_through_verbatim(index, emb, spark):
    """A delta that routes to one shard must NOT re-serialize the others:
    their blob BYTES come through identical (cost O(touched shards) per
    micro-batch — the streaming/hnsw.py contract)."""
    q = qvec(emb, 3)
    twin = spark.createDataFrame([(90_002, q)], "vec_id long, embedding array<float>")
    before = {r["shard"]: bytes(r["blob"]) for r in index.graphs.collect()}
    idx2 = hnsw_insert(index, twin)
    after = {r["shard"]: bytes(r["blob"]) for r in idx2.graphs.collect()}
    changed = [s for s in before if after[s] != before[s]]
    assert len(changed) == 1  # exactly the twin's shard
    untouched = [s for s in before if s not in changed]
    assert untouched and all(after[s] == before[s] for s in untouched)
    idx2.graphs.unpersist()


def test_tombstone_skip_and_compact(index, emb):
    q = qvec(emb, 5)
    got = hnsw_search(index, emb, q, k=3, ef=64, deleted={5}).collect()
    assert all(r["vec_id"] != 5 for r in got)
    # vacuum: shard-local rebuild without the dead row
    idx2 = hnsw_compact(index, {5})
    assert idx2.graphs.agg(F.sum("n")).first()[0] == emb.count() - 1
    got2 = hnsw_search(idx2, emb, q, k=3, ef=64).collect()
    assert [r["vec_id"] for r in got2] == [r["vec_id"] for r in got]
    idx2.graphs.unpersist()


def test_save_load_roundtrip(index, emb, tmp_path, spark):
    save_hnsw(index, str(tmp_path / "hnsw"))
    idx2 = load_hnsw(spark, str(tmp_path / "hnsw"))
    q = qvec(emb, 7)
    a = [r["vec_id"] for r in hnsw_search(index, emb, q, k=5, ef=64).collect()]
    b = [r["vec_id"] for r in hnsw_search(idx2, emb, q, k=5, ef=64).collect()]
    assert a == b
    assert (idx2.m, idx2.ef_construction, idx2.num_shards) == (8, 64, 4)
    idx2.graphs.unpersist()


def test_table_hnsw_route(emb, spark):
    from lanterndb_spark.table import LanternTable

    t = LanternTable(emb, "vec_id").create_index(
        "embedding", kind="hnsw", m=8, ef_construction=64, num_shards=4, seed=42
    )
    n = emb.count()
    q = qvec(emb, 2)
    got = [r["vec_id"] for r in t.knn("embedding", q, k=10, ef=n).collect()]
    want = [r["vec_id"] for r in t.knn("embedding", q, k=10, mode="exact").collect()]
    assert got == want  # full-probe == exact through the table API
    cat = {i["column"]: i for i in t.get_indexes()}
    assert cat["embedding"]["kind"] == "hnsw"
    assert cat["embedding"]["params"]["m"] == 8

    # visibility: inserted twin surfaces, deleted id disappears, compact folds
    twin = spark.createDataFrame(
        [(90_002, q, 0)], "vec_id long, embedding array<float>, label int"
    )
    t.insert(twin)
    got2 = [r["vec_id"] for r in t.knn("embedding", q, k=3, ef=64).collect()]
    assert 90_002 in got2 and 2 in got2
    t.delete([2])
    got3 = [r["vec_id"] for r in t.knn("embedding", q, k=3, ef=64).collect()]
    assert 2 not in got3 and 90_002 in got3
    t.compact()
    assert not t._deltas and not t._tombstones
    got4 = [r["vec_id"] for r in t.knn("embedding", q, k=3, ef=64).collect()]
    assert got4 == got3
    # validate_index analogue over the hnsw route
    assert t.validate("embedding", k=10, n_queries=3) >= 0.9


def test_autotune_hnsw_grid(emb):
    from lanterndb_spark.operators.autotune import autotune_hnsw

    best, results = autotune_hnsw(
        emb, "embedding", "vec_id", k=10, m_grid=(8,), ef_grid=(8, 64),
        n_queries=3, target_recall=0.5, num_shards=2,
    )
    assert len(results) == 2
    # wider beam never hurts recall on the same graph
    by_ef = {r.params["ef"]: r.recall for r in results}
    assert by_ef[64] >= by_ef[8]
    assert best is not None and best.recall >= 0.5


def test_cos_metric_full_probe_and_recall(emb, spark):
    """cos graphs navigate normalized l2sq (identical ordering on the
    unit sphere) and emit dist = cos_dist exactly; full probe must match
    the exact cos knn."""
    from lanterndb_spark.operators.autotune import exact_topk_batch, recall_at_k

    idx = build_hnsw(
        emb, "embedding", id_col="vec_id", m=8, ef_construction=64,
        num_shards=4, seed=42, metric="cos",
    )
    n = emb.count()
    q = qvec(emb, 4)
    got = hnsw_search(idx, emb, q, k=10, ef=n).collect()
    want = knn(emb, "embedding", q, k=10, metric="cos", id_col="vec_id").collect()
    assert [r["vec_id"] for r in got] == [r["vec_id"] for r in want]
    for g, w in zip(got, want):
        # 1e-6: graph vectors round-trip through float32 blob storage
        assert abs(g["dist"] - w["dist"]) < 1e-6

    # default-ef recall against cos ground truth
    rows = emb.orderBy(F.rand(3)).limit(5).collect()
    queries = [[float(x) for x in r["embedding"]] for r in rows]
    truth = exact_topk_batch(
        emb, "embedding", queries, k=10, id_col="vec_id", metric="cos"
    )
    res = hnsw_search_batch(idx, queries, k=10, ef=64)
    got_b: dict[int, list] = {}
    for r in res.orderBy("q_id", "dist", "vec_id").collect():
        got_b.setdefault(r["q_id"], []).append(r["vec_id"])
    recs = [recall_at_k(got_b.get(i, []), truth.get(i, []))
            for i in range(len(queries))]
    assert sum(recs) / len(recs) >= 0.95
    idx.graphs.unpersist()


def test_cos_metric_route_and_mismatch_guard(emb):
    from lanterndb_spark.table import LanternTable

    t = LanternTable(emb, "vec_id").create_index(
        "embedding", kind="hnsw", m=8, ef_construction=64, num_shards=2,
        seed=42, metric="cos",
    )
    n = emb.count()
    q = qvec(emb, 9)
    got = [r["vec_id"] for r in
           t.knn("embedding", q, k=5, metric="cos", ef=n).collect()]
    want = [r["vec_id"] for r in
            t.knn("embedding", q, k=5, metric="cos", mode="exact").collect()]
    assert got == want
    with pytest.raises(ValueError):
        t.knn("embedding", q, k=5, metric="l2sq")


def test_cos_zero_norm_rows_excluded(spark):
    """Zero-norm vectors never enter a cos graph (undefined angle = the
    engine's NULL convention) and a zero-norm query raises."""
    rows = [(i, [float(i + 1), 1.0]) for i in range(20)] + [(99, [0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx = build_hnsw(df, "embedding", id_col="vec_id", num_shards=1,
                     seed=1, metric="cos")
    assert idx.graphs.agg(F.sum("n")).first()[0] == 20
    got = hnsw_search(idx, df, [1.0, 1.0], k=25, ef=100).collect()
    assert all(r["vec_id"] != 99 for r in got)
    with pytest.raises(ValueError):
        hnsw_search(idx, df, [0.0, 0.0], k=5)
    idx.graphs.unpersist()


def test_cluster_routing_full_probe_and_pruning(emb, spark):
    """IVF-over-graphs composite: nprobe=num_shards + ef>=n reproduces
    the exact knn; nprobe=1 touches only the probed shard's graph and
    still finds the query's own twin (it routes to its own cluster)."""
    idx = build_hnsw(
        emb, "embedding", id_col="vec_id", m=8, ef_construction=64,
        num_shards=4, seed=42, routing="cluster",
    )
    assert idx.centroids is not None and len(idx.centroids) == 4
    # cluster shards still cover every row exactly once
    assert idx.graphs.agg(F.sum("n")).first()[0] == emb.count()
    n = emb.count()
    q = qvec(emb, 6)
    got = hnsw_search(idx, emb, q, k=10, ef=n, nprobe=4).collect()
    want = knn(emb, "embedding", q, k=10, id_col="vec_id").collect()
    assert [r["vec_id"] for r in got] == [r["vec_id"] for r in want]

    # nprobe=1: the query's own row lives in the probed cluster
    got1 = hnsw_search(idx, emb, q, k=1, ef=64, nprobe=1).collect()
    assert got1[0]["vec_id"] == 6

    # batch with routing agrees with single-query on probed shards
    batch = hnsw_search_batch(idx, [q], k=5, ef=64, nprobe=2)
    single = hnsw_search(idx, emb, q, k=5, ef=64, nprobe=2).collect()
    assert [r["vec_id"] for r in batch.orderBy("dist", "vec_id").collect()] == \
        [r["vec_id"] for r in single]

    # insert routes by FROZEN centroids: a twin of q joins q's cluster,
    # so even nprobe=1 finds it
    twin = spark.createDataFrame([(90_003, q)], "vec_id long, embedding array<float>")
    idx2 = hnsw_insert(idx, twin)
    got2 = [r["vec_id"] for r in
            hnsw_search_batch(idx2, [q], k=2, ef=64, nprobe=1).collect()]
    assert 90_003 in got2
    idx2.graphs.unpersist()
    idx.graphs.unpersist()


def test_cluster_routing_save_load(emb, tmp_path, spark):
    idx = build_hnsw(
        emb, "embedding", id_col="vec_id", m=8, ef_construction=64,
        num_shards=3, seed=42, routing="cluster",
    )
    save_hnsw(idx, str(tmp_path / "chnsw"))
    idx2 = load_hnsw(spark, str(tmp_path / "chnsw"))
    assert idx2.centroids is not None
    import numpy as np
    assert np.allclose(idx2.centroids, idx.centroids)
    q = qvec(emb, 8)
    a = [r["vec_id"] for r in hnsw_search(idx, emb, q, k=5, ef=64, nprobe=2).collect()]
    b = [r["vec_id"] for r in hnsw_search(idx2, emb, q, k=5, ef=64, nprobe=2).collect()]
    assert a == b
    idx.graphs.unpersist(); idx2.graphs.unpersist()


def test_filtered_search_streaming_k_doubling(emb, index):
    """WHERE + ORDER BY on the graph route: predicate rechecks outside
    the access method; a starving filter triggers the width doubling
    until k survivors exist (scan.c:240-292); at exhaustion the result
    equals the exact filtered knn."""
    from lanterndb_spark.operators.hnsw import hnsw_search_filtered

    q = qvec(emb, 0)
    # label == 3 keeps ~1/7 of rows -> ef=8 must starve and double
    pred = F.col("label") == 3
    got = hnsw_search_filtered(index, emb, q, pred, k=10, ef=8).collect()
    want = knn(emb, "embedding", q, k=10, id_col="vec_id", pred=pred).collect()
    assert [r["vec_id"] for r in got] == [r["vec_id"] for r in want]
    assert all(r["label"] == 3 for r in got)

    # ultra-selective: fewer matches than k -> exhaustion returns ALL
    # matches, exact-filtered
    pred1 = F.col("vec_id") % 100 == 1
    got2 = hnsw_search_filtered(index, emb, q, pred1, k=10, ef=8).collect()
    want2 = knn(emb, "embedding", q, k=10, id_col="vec_id", pred=pred1).collect()
    assert [r["vec_id"] for r in got2] == [r["vec_id"] for r in want2]


def test_filtered_search_through_table_route(emb):
    from lanterndb_spark.table import LanternTable

    t = LanternTable(emb, "vec_id").create_index(
        "embedding", kind="hnsw", m=8, ef_construction=64, num_shards=4, seed=42
    )
    q = qvec(emb, 0)
    pred = F.col("label") == 3
    got = [r["vec_id"] for r in t.knn("embedding", q, k=10, pred=pred, ef=16).collect()]
    want = [r["vec_id"] for r in
            t.knn("embedding", q, k=10, pred=pred, mode="exact").collect()]
    assert got == want


def test_autotune_hnsw_cluster_nprobe_grid(emb):
    from lanterndb_spark.operators.autotune import autotune_hnsw

    best, results = autotune_hnsw(
        emb, "embedding", "vec_id", k=10, m_grid=(8,), ef_grid=(64,),
        nprobe_grid=(1, 4), n_queries=3, target_recall=0.5,
        num_shards=4, routing="cluster",
    )
    assert len(results) == 2
    by_np = {r.params["nprobe"]: r.recall for r in results}
    assert by_np[4] >= by_np[1]  # more probes never hurt recall
    assert best is not None


def test_autotune_hnsw_replicas_grid(emb):
    """replicas_grid prices the r11 build-vs-search lever inside the
    find_best_variant loop (index_autotune/mod.rs:220-254's grid shape
    extended): one build per (m, replicas), replicas recorded in
    params, recall at full probe unaffected by replication (the
    min-dist dedup keeps each id once), and hash routing rejects the
    knob like build_hnsw does."""
    import pytest as _pytest

    from lanterndb_spark.operators.autotune import autotune_hnsw

    n = emb.count()
    best, results = autotune_hnsw(
        emb, "embedding", "vec_id", k=10, m_grid=(8,), ef_grid=(n,),
        nprobe_grid=(4,), replicas_grid=(1, 2), n_queries=3,
        target_recall=0.5, num_shards=4, routing="cluster",
    )
    assert len(results) == 2
    by_r = {r.params["replicas"]: r for r in results}
    assert set(by_r) == {1, 2}
    # full probe + ef >= n: exact either way, replicated or not
    assert abs(by_r[1].recall - 1.0) < 1e-12
    assert abs(by_r[2].recall - 1.0) < 1e-12
    assert best is not None
    with _pytest.raises(ValueError, match="routing='cluster'"):
        autotune_hnsw(
            emb, "embedding", "vec_id", replicas_grid=(1, 2), routing="hash"
        )


def test_autotune_hnsw_batch_replicas_grid(emb):
    """Batch twin: same replicas_grid surface on the throughput grid."""
    import pytest as _pytest

    from lanterndb_spark.operators.autotune import autotune_hnsw_batch

    n = emb.count()
    best, results = autotune_hnsw_batch(
        emb, "embedding", "vec_id", k=10, m_grid=(8,), ef_grid=(n,),
        nprobe_grid=(4,), replicas_grid=(1, 2), n_queries=4,
        target_recall=0.5, num_shards=4, routing="cluster", seed=42,
    )
    assert len(results) == 2
    by_r = {r.params["replicas"]: r for r in results}
    assert abs(by_r[1].recall - 1.0) < 1e-12
    assert abs(by_r[2].recall - 1.0) < 1e-12
    assert all(r.params["batch_s"] > 0 for r in results)
    assert best is not None
    with _pytest.raises(ValueError, match="routing='cluster'"):
        autotune_hnsw_batch(
            emb, "embedding", "vec_id", replicas_grid=(2,), routing="hash"
        )


def test_empty_and_single_row_builds(spark):
    """Empty build is valid (ldb_ambuildunlogged analogue, build.c:653-727
    — searches return empty); a single-row graph serves itself."""
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    idx = build_hnsw(empty, "embedding", id_col="vec_id", num_shards=2, seed=1)
    assert idx.graphs.count() == 0
    assert hnsw_search(idx, empty, [1.0, 2.0], k=5).collect() == []
    assert hnsw_search_batch(idx, [[1.0, 2.0]], k=5).collect() == []
    idx.graphs.unpersist()

    one = spark.createDataFrame([(7, [1.0, 2.0])], "vec_id long, embedding array<float>")
    idx1 = build_hnsw(one, "embedding", id_col="vec_id", num_shards=2, seed=1)
    got = hnsw_search(idx1, one, [1.0, 2.0], k=5).collect()
    assert [r["vec_id"] for r in got] == [7]
    idx1.graphs.unpersist()


def test_cos_cluster_routing_full_probe(emb, spark):
    """Spherical cluster routing: cos metric + k-means cells on the unit
    sphere. Full probe == exact cos knn; a twin inserted through the
    frozen-centroid route lands in its query's cell (nprobe=1 finds it)."""
    idx = build_hnsw(
        emb, "embedding", id_col="vec_id", m=8, ef_construction=64,
        num_shards=3, seed=42, metric="cos", routing="cluster",
    )
    assert idx.centroids is not None
    n = emb.count()
    assert idx.graphs.agg(F.sum("n")).first()[0] == n
    q = qvec(emb, 11)
    got = hnsw_search(idx, emb, q, k=10, ef=n, nprobe=3).collect()
    want = knn(emb, "embedding", q, k=10, metric="cos", id_col="vec_id").collect()
    assert [r["vec_id"] for r in got] == [r["vec_id"] for r in want]

    twin = spark.createDataFrame([(90_004, q)], "vec_id long, embedding array<float>")
    idx2 = hnsw_insert(idx, twin)
    got2 = [r["vec_id"] for r in
            hnsw_search_batch(idx2, [q], k=2, ef=64, nprobe=1).collect()]
    assert 90_004 in got2
    idx2.graphs.unpersist()
    idx.graphs.unpersist()


def test_tombstones_cannot_starve_topk(emb, index):
    """Deleting many of the nearest neighbors must not shrink the result
    below k while live rows exist — the beam widens by the skip count
    (the emit-time label skip would otherwise eat the whole beam)."""
    q = qvec(emb, 0)
    # tombstone the 60 nearest — more than ef=64 leaves room for
    nearest = [r["vec_id"] for r in
               knn(emb, "embedding", q, k=60, id_col="vec_id").collect()]
    dead = set(nearest)
    got = hnsw_search(index, emb, q, k=10, ef=64, deleted=dead).collect()
    assert len(got) == 10
    assert not dead & {r["vec_id"] for r in got}
    # and the survivors are the TRUE next-best: equal to exact knn over
    # the live rows (full probe)
    n = emb.count()
    got_full = [r["vec_id"] for r in
                hnsw_search(index, emb, q, k=10, ef=n, deleted=dead).collect()]
    want = [r["vec_id"] for r in
            knn(emb.filter(~F.col("vec_id").isin(list(dead))), "embedding",
                q, k=10, id_col="vec_id").collect()]
    assert got_full == want


def test_nprobe_validation(emb):
    idx = build_hnsw(
        emb, "embedding", id_col="vec_id", m=8, ef_construction=64,
        num_shards=3, seed=42, routing="cluster",
    )
    q = qvec(emb, 0)
    with pytest.raises(ValueError):
        hnsw_search(idx, emb, q, k=5, nprobe=0)
    with pytest.raises(ValueError):
        hnsw_search_batch(idx, [q], k=5, nprobe=-1)
    idx.graphs.unpersist()


def test_hamming_metric_full_probe_and_insert(emb, spark):
    """Hamming graphs: int32 rows expand to 0/1 bits and l2sq-of-bits IS
    the hamming distance (hnsw.c:308-319 bit layout), so full probe must
    equal the exact hamming knn, including the emitted integer
    distances."""
    iv = emb.withColumn(
        "iv", F.transform("embedding",
                          lambda x: F.floor(x.cast("double") * 10).cast("int"))
    ).select("vec_id", "label", "iv")
    idx = build_hnsw(
        iv, "iv", id_col="vec_id", m=8, ef_construction=64,
        num_shards=3, seed=42, metric="hamming",
    )
    n = iv.count()
    q = [int(x) for x in iv.filter(F.col("vec_id") == 3).first()["iv"]]
    got = hnsw_search(idx, iv, q, k=10, ef=n).collect()
    want = knn(iv, "iv", q, k=10, metric="hamming", id_col="vec_id").collect()
    assert [r["vec_id"] for r in got] == [r["vec_id"] for r in want]
    for g, w in zip(got, want):
        assert int(g["dist"]) == int(w["dist"])  # integer-exact

    # aminsert: a bit-identical twin lands at distance 0
    twin = spark.createDataFrame([(90_005, q)], "vec_id long, iv array<int>")
    idx2 = hnsw_insert(idx, twin)
    top = hnsw_search_batch(idx2, [q], k=2, ef=64).collect()
    assert {r["vec_id"] for r in top} >= {90_005}
    assert min(r["dist"] for r in top) == 0.0
    idx2.graphs.unpersist()
    idx.graphs.unpersist()


# ---- in-graph compression (quant_bits / pq=true — options.c:137-158,
# build.c:497-501; tests hnsw_sq.sql / hnsw_pq_index.sql)


def test_quant_blob_roundtrip_and_sizes():
    from lanterndb_spark.operators.hnsw import _Graph

    rs = np.random.RandomState(3)
    n, d = 1500, 64
    X = rs.standard_normal((n, d))
    g = _Graph(np.arange(n, dtype=np.int64), X, 8, 32, 3)
    base = g.to_blob()
    q = rs.standard_normal(d)
    want, _ = _Graph.from_blob(base).search(q, 10, 64)
    sizes = {"f32": len(base)}
    for quant in ("f16", "i8"):
        g.quant = quant
        g.q_min = g.q_scale = None
        b = g.to_blob()
        sizes[quant] = len(b)
        got, _ = _Graph.from_blob(b).search(q, 10, 64)
        # lossy storage may perturb the tail, never the top hit
        assert got[0] == want[0]
    g.quant = None
    g.freeze_pq(seed=11, clusters=64)
    bpq = g.to_blob()
    gq = _Graph.from_blob(bpq)
    assert gq.storage == "pq" and gq.codes.shape == (n, 8)
    # the vector payload shrinks monotonically with the format
    assert sizes["f16"] < sizes["f32"]
    assert sizes["i8"] < sizes["f16"]


def test_b1_packed_hamming_exact_and_small():
    from lanterndb_spark.operators.hnsw import _Graph

    rs = np.random.RandomState(5)
    n, bits = 800, 128
    B = (rs.rand(n, bits) > 0.5).astype(np.float64)
    g = _Graph(np.arange(n, dtype=np.int64), B, 8, 32, 5)
    dense = g.to_blob()
    g.quant = "b1"
    packed = g.to_blob()
    assert len(packed) < len(dense) - n * bits * 3  # ≥ ~24 of 32 bits saved
    gb = _Graph.from_blob(packed)
    assert gb.storage == "bits"
    q = (rs.rand(bits) > 0.5).astype(np.float64)
    got, ds = gb.search(q, 10, n)  # full probe == exact hamming, lossless
    exact = np.argsort(np.abs(B - q).sum(1), kind="stable")[:10]
    assert got[:10].tolist() == exact.tolist()
    assert all(float(x).is_integer() for x in ds[:10])
    # aminsert on the packed graph: unpack -> insert -> repack, lossless
    newB = (rs.rand(20, bits) > 0.5).astype(np.float64)
    gb.add(np.arange(n, n + 20, dtype=np.int64), newB, 7)
    got2, ds2 = gb.search(q, 10, n + 20)
    allB = np.vstack([B, newB])
    exact2 = np.argsort(np.abs(allB - q).sum(1), kind="stable")[:10]
    assert got2[:10].tolist() == exact2.tolist()
    # and the repacked blob round-trips the appended rows bit-exactly
    gb2 = _Graph.from_blob(gb.to_blob())
    assert np.array_equal(
        np.unpackbits(gb2.Xb, axis=1)[:, :bits], allB.astype(np.uint8)
    )


def test_quant_spark_surface_and_insert(emb, spark):
    q3 = qvec(emb, 3)
    for quant in ("i8", "pq"):
        idx = build_hnsw(
            emb, "embedding", id_col="vec_id", m=8, ef_construction=64,
            num_shards=2, seed=42, quant=quant,
        )
        assert idx.quant == quant
        got = hnsw_search(idx, emb, q3, k=3, ef=64).collect()
        assert got[0]["vec_id"] == 3  # self-query top hit survives quant
        twin = spark.createDataFrame(
            [(90_010, q3)], "vec_id long, embedding array<float>"
        )
        idx2 = hnsw_insert(idx, twin)
        top = [r["vec_id"] for r in
               hnsw_search_batch(idx2, [q3], k=2, ef=64).collect()]
        assert 90_010 in top  # frozen quant params survive aminsert
        idx2.graphs.unpersist()
        idx.graphs.unpersist()


def test_hamming_defaults_to_packed_bits(emb, spark):
    hv = emb.selectExpr(
        "vec_id", "transform(embedding, x -> int(x * 1000)) as hv"
    )
    idx = build_hnsw(hv, "hv", id_col="vec_id", metric="hamming",
                     num_shards=2, seed=42)
    assert idx.quant == "b1"
    from lanterndb_spark.operators.hnsw import _Graph

    g = _Graph.from_blob(bytes(idx.graphs.first()["blob"]))
    assert g.storage == "bits" and g.Xb.dtype == np.uint8
    q = [int(x * 1000) for x in qvec(emb, 7)]
    got = hnsw_search(idx, hv, q, k=3, ef=hv.count()).collect()
    assert got[0]["vec_id"] == 7 and got[0]["dist"] == 0.0
    idx.graphs.unpersist()


def test_quant_validation(emb):
    with pytest.raises(ValueError, match="quant"):
        build_hnsw(emb, "embedding", id_col="vec_id", quant="pq",
                   metric="hamming", num_shards=2)
    with pytest.raises(ValueError, match="quant"):
        build_hnsw(emb, "embedding", id_col="vec_id", quant="b1",
                   metric="l2sq", num_shards=2)


def test_cluster_routing_composes_with_pq(emb, spark):
    """IVF-over-graphs x in-graph PQ: cluster-routed shards each carry
    their own frozen codebook; nprobe-pruned search + exact rerank still
    finds the self-query, and insert routes to the frozen centroids."""
    idx = build_hnsw(
        emb, "embedding", id_col="vec_id", m=8, ef_construction=64,
        num_shards=4, seed=42, routing="cluster", quant="pq",
    )
    q = qvec(emb, 11)
    got = hnsw_search(idx, emb, q, k=3, ef=64, nprobe=4).collect()
    assert got[0]["vec_id"] == 11
    twin = spark.createDataFrame(
        [(90_020, q)], "vec_id long, embedding array<float>"
    )
    idx2 = hnsw_insert(idx, twin)
    top = [r["vec_id"] for r in
           hnsw_search_batch(idx2, [q], k=2, ef=64, nprobe=4).collect()]
    assert 90_020 in top
    idx2.graphs.unpersist()
    idx.graphs.unpersist()


def test_insert_new_pq_shard_inherits_codebook_geometry(emb, spark):
    """ADVICE r6: a brand-new shard created by hnsw_insert must freeze a
    codebook with the SAME pq_splits/pq_clusters the index was built
    with, or sibling shards' ADC distances aren't comparable."""
    from lanterndb_spark.operators.hnsw import _Graph

    idx = build_hnsw(
        emb.limit(200), "embedding", id_col="vec_id", m=8,
        ef_construction=64, num_shards=2, seed=42, quant="pq",
        pq_splits=4, pq_clusters=16,
    )
    assert idx.pq_splits == 4 and idx.pq_clusters == 16
    # force a brand-new shard: hash routing with ids that land in a
    # shard the 2-shard base build might not have seen is not reliable,
    # so instead rebuild with num_shards chosen to leave a shard empty
    empty_base = build_hnsw(
        emb.limit(40), "embedding", id_col="vec_id", m=8,
        ef_construction=64, num_shards=8, seed=42, quant="pq",
        pq_splits=4, pq_clusters=16,
    )
    have = {r["shard"] for r in empty_base.graphs.select("shard").collect()}
    missing = sorted(set(range(8)) - have)
    if missing:
        rows = emb.limit(400).collect()
        import pyspark.sql.functions as SF
        tgt = missing[0]
        fresh = [
            (int(r["vec_id"]) + 1_000_000, list(r["embedding"]))
            for r in rows
        ]
        delta = spark.createDataFrame(
            fresh, "vec_id long, embedding array<float>"
        ).filter(SF.pmod(SF.xxhash64(SF.col("vec_id")), SF.lit(8)) == tgt)
        if delta.count() > 0:
            idx2 = hnsw_insert(empty_base, delta)
            g = _Graph.from_blob(
                bytes(idx2.graphs.filter(F.col("shard") == tgt)
                      .first()["blob"])
            )
            # codebook geometry matches the build, not freeze_pq defaults
            assert g.cb.shape[0] == 4        # pq_splits
            assert g.cb.shape[1] == 16       # pq_clusters
            idx2.graphs.unpersist()
    empty_base.graphs.unpersist()
    idx.graphs.unpersist()


def test_save_load_roundtrips_pq_geometry(emb, spark, tmp_path):
    idx = build_hnsw(
        emb.limit(100), "embedding", id_col="vec_id", m=8,
        ef_construction=64, num_shards=2, seed=42, quant="pq",
        pq_splits=4, pq_clusters=16,
    )
    save_hnsw(idx, str(tmp_path / "pqidx"))
    back = load_hnsw(spark, str(tmp_path / "pqidx"))
    assert back.pq_splits == 4 and back.pq_clusters == 16
    back.graphs.unpersist()
    idx.graphs.unpersist()


def test_filtered_pq_search_matches_exact(emb):
    """ADVICE r6: pq filtered search oversamples the ADC candidate
    round 8x before the exact rescore, so filtered top-k on a pq index
    matches the exact filtered answer at full probe width."""
    from lanterndb_spark.operators.hnsw import hnsw_search_filtered

    idx = build_hnsw(
        emb, "embedding", id_col="vec_id", m=8, ef_construction=64,
        num_shards=2, seed=42, quant="pq", pq_splits=4, pq_clusters=16,
    )
    q = qvec(emb, 3)
    pred = F.col("vec_id") % 2 == 1
    n = emb.count()
    got = [r["vec_id"] for r in
           hnsw_search_filtered(idx, emb, q, pred, k=10, ef=n).collect()]
    exact = [r["vec_id"] for r in
             knn(emb, "embedding", q, k=10, id_col="vec_id",
                 pred=pred).collect()]
    assert got == exact
    idx.graphs.unpersist()


def _pairs_by_q(rows):
    out = {}
    for r in rows:
        out.setdefault(int(r["q_id"]), []).append(
            (int(r["vec_id"]), round(float(r["dist"]), 9))
        )
    return {q: sorted(v) for q, v in out.items()}


def _list_and_pandas(spark, rows):
    """The same (q_id, query) rows as a Python-list-built frame (a
    LogicalRDD with unknown stats: the executor route) and a pandas-built
    one (a LocalRelation: the known-small route)."""
    import pandas as pd

    from lanterndb_spark.plans.shape import known_small

    ddl = "q_id long, query array<double>"
    ldf = spark.createDataFrame(rows, ddl)
    pdf = spark.createDataFrame(pd.DataFrame({
        "q_id": pd.array([q for q, _ in rows], dtype="Int64"),
        "query": [v for _, v in rows],
    }), ddl)
    assert not known_small(ldf) and known_small(pdf)
    return ldf, pdf


def _assert_routes_equal_batch(spark, idx, qs, **kw):
    """hnsw_search_batch, the known-small route and the executor route
    return identical sorted (q_id, id, round(dist, 9)) rows."""
    from lanterndb_spark.operators.hnsw import (
        hnsw_search_batch, hnsw_search_df,
    )

    def key(rows):
        return sorted((int(r["q_id"]), int(r["vec_id"]),
                       round(float(r["dist"]), 9)) for r in rows)

    want = key(hnsw_search_batch(idx, qs, **kw).collect())
    assert want
    for qdf in _list_and_pandas(spark, list(enumerate(qs))):
        assert key(hnsw_search_df(idx, qdf, **kw).collect()) == want


def test_search_df_equals_batch(index, ridx, emb, spark):
    """hnsw_search_df must return exactly what the driver-list
    hnsw_search_batch returns on BOTH routes — same lockstep core, same
    routing, same tie-breaks: hash routing (with tombstones too), the
    replicated cluster-routed probe, and cos."""
    qs = [qvec(emb, i) for i in (1, 5, 9, 23, 44)]
    _assert_routes_equal_batch(spark, index, qs, k=5, ef=32)
    _assert_routes_equal_batch(spark, index, qs, k=5, ef=32,
                               deleted={1, 5, 6, 23})
    _assert_routes_equal_batch(spark, ridx, qs, k=5, ef=32, nprobe=2)
    cidx = build_hnsw(
        emb, "embedding", id_col="vec_id", m=8, ef_construction=64,
        num_shards=2, seed=42, metric="cos",
    )
    _assert_routes_equal_batch(spark, cidx, qs, k=5, ef=32)
    cidx.graphs.unpersist()


def test_search_df_cluster_routed_and_pq(emb, spark):
    """DF-native search composes with cluster routing (nprobe pruning)
    and pq rerank, matching the driver-list twin on both routes."""
    idx = build_hnsw(
        emb, "embedding", id_col="vec_id", m=8, ef_construction=64,
        num_shards=4, seed=42, routing="cluster", quant="pq",
        pq_splits=4, pq_clusters=16,
    )
    qs = [qvec(emb, i) for i in (2, 7, 31)]
    _assert_routes_equal_batch(spark, idx, qs, k=4, ef=48, nprobe=2, base=emb)
    _assert_routes_equal_batch(spark, idx, qs, k=4, ef=48, nprobe=2)
    idx.graphs.unpersist()


def test_search_df_cos_drops_zero_norm(emb, spark):
    from lanterndb_spark.operators.hnsw import hnsw_search_df

    idx = build_hnsw(
        emb, "embedding", id_col="vec_id", m=8, ef_construction=64,
        num_shards=2, seed=42, metric="cos",
    )
    dim = len(qvec(emb, 1))
    qdf = spark.createDataFrame(
        [(0, qvec(emb, 1)), (1, [0.0] * dim)],
        "q_id long, query array<double>",
    )
    rows = hnsw_search_df(idx, qdf, k=3, ef=32).collect()
    got = _pairs_by_q(rows)
    assert 1 not in got                       # zero-norm query dropped
    assert got[0][0] == min(got[0])           # well-formed result set
    assert any(v == 1 for v, _ in got[0]) or len(got[0]) == 3
    idx.graphs.unpersist()


def test_batch_query_guard(index):
    """>100k driver-list queries must refuse loudly (closure-size
    contract) and point at hnsw_search_df."""
    from lanterndb_spark.operators.hnsw import hnsw_search_batch

    class _FakeLen(list):
        def __len__(self):
            return 100_001

    with pytest.raises(ValueError, match="hnsw_search_df"):
        hnsw_search_batch(index, _FakeLen(), k=1)


def test_search_many_chunks_bound_state(emb):
    """search_many's lockstep state stays bounded at _CHUNK queries per
    wave-set: a 300-query batch still matches per-query search."""
    from lanterndb_spark.operators.hnsw import _CHUNK, _Graph

    rows = emb.limit(400).collect()
    ids = np.asarray([int(r["vec_id"]) for r in rows])
    X = np.asarray([list(r["embedding"]) for r in rows], dtype=np.float64)
    g = _Graph(ids, X, 8, 64, 42)
    Qs = [X[i].tolist() for i in range(300)]
    res = g.search_many(Qs, 5, 32)
    assert len(res) == 300
    assert g._vis2d.shape[0] <= max(_CHUNK, 300 % _CHUNK or _CHUNK)
    assert g._vis2d.shape[0] == _CHUNK
    for i in (0, 150, 299):
        sid, sd = g.search(Qs[i], 5, 32)
        assert list(res[i][0]) == list(sid)
        np.testing.assert_allclose(res[i][1], sd)


def test_search_df_filtered_equals_driver_form(emb, spark):
    """Batch streaming-k == the per-query driver form, including the
    escalation rounds a selective predicate forces."""
    from pyspark.sql import functions as F

    from lanterndb_spark.operators.hnsw import (
        build_hnsw, hnsw_search_df_filtered, hnsw_search_filtered,
    )
    from lanterndb_spark.plans.shape import release

    idx = build_hnsw(
        emb, "embedding", id_col="vec_id", m=8, ef_construction=64,
        num_shards=4, seed=42,
    )
    qids = [0, 7, 13]
    pred = F.col("label") == 1  # selective: starves small-ef rounds
    qdf = emb.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("query")
    )
    got = hnsw_search_df_filtered(
        idx, emb, qdf, pred, k=5, ef=8, max_rounds=2
    )
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["q_id"], set()).add(
            (r["vec_id"], round(r["dist"], 9))
        )
    release(got)
    for qi in qids:
        qv = [float(x) for x in
              emb.filter(F.col("vec_id") == qi).first()["embedding"]]
        want = {
            (r["vec_id"], round(r["dist"], 9))
            for r in hnsw_search_filtered(
                idx, emb, qv, pred, k=5, ef=8
            ).collect()
        }
        assert by_q.get(qi, set()) == want, f"q {qi}"
    # zero-match predicate: exact-fallback path, empty result
    none = hnsw_search_df_filtered(
        idx, emb, qdf, F.col("label") == -99, k=3, ef=8, max_rounds=1
    )
    assert none.count() == 0
    release(none)
    # tombstones respected through both rounds and the exact fallback
    top1 = hnsw_search_df_filtered(idx, emb, qdf, pred, k=1, ef=8)
    first = {r["q_id"]: r["vec_id"] for r in top1.collect()}
    release(top1)
    dead = set(first.values())
    got2 = hnsw_search_df_filtered(
        idx, emb, qdf, pred, k=3, ef=8, deleted=dead, max_rounds=1
    )
    ids2 = {r["vec_id"] for r in got2.collect()}
    release(got2)
    assert not (ids2 & dead)
    idx.graphs.unpersist()


def test_search_df_string_q_ids_equal_long(index, emb, spark):
    """Non-integral q_ids ride the surrogate-key wrap: a string-keyed
    query frame answers exactly what the long-keyed frame answers, with
    the caller's ids (and type) restored in the output."""
    from lanterndb_spark.operators.hnsw import hnsw_search_df

    qs = [qvec(emb, i) for i in (1, 5, 9, 23, 44)]
    ldf = spark.createDataFrame(
        [(i, q) for i, q in enumerate(qs)], "q_id long, query array<double>"
    )
    sdf = spark.createDataFrame(
        [(f"eval/{i}", q) for i, q in enumerate(qs)],
        "q_id string, query array<double>",
    )
    got_l = hnsw_search_df(index, ldf, k=5, ef=32).collect()
    out = hnsw_search_df(index, sdf, k=5, ef=32)
    assert out.schema["q_id"].dataType.simpleString() == "string"
    got_s = out.collect()
    key_l = sorted((f"eval/{r['q_id']}", r["vec_id"], round(r["dist"], 9)) for r in got_l)
    key_s = sorted((r["q_id"], r["vec_id"], round(r["dist"], 9)) for r in got_s)
    assert key_s == key_l


def test_search_df_filtered_string_q_ids_equal_long(emb, index, spark):
    """The filtered batch form keeps the caller's q_id type too —
    including through escalation rounds and the exact fallback."""
    from lanterndb_spark.operators.hnsw import hnsw_search_df_filtered
    from lanterndb_spark.plans.shape import release

    qids = [0, 7, 13]
    pred = F.col("label") == 1
    base_q = emb.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("query")
    )
    sdf = base_q.select(
        F.concat(F.lit("q/"), F.col("q_id").cast("string")).alias("q_id"),
        "query",
    )
    got_l = hnsw_search_df_filtered(index, emb, base_q, pred, k=5, ef=8, max_rounds=2)
    rows_l = got_l.collect()
    release(got_l)
    got_s = hnsw_search_df_filtered(index, emb, sdf, pred, k=5, ef=8, max_rounds=2)
    assert got_s.schema["q_id"].dataType.simpleString() == "string"
    rows_s = got_s.collect()
    release(got_s)
    key_l = sorted((f"q/{r['q_id']}", r["vec_id"], round(r["dist"], 9)) for r in rows_l)
    key_s = sorted((r["q_id"], r["vec_id"], round(r["dist"], 9)) for r in rows_s)
    assert key_s == key_l


def test_autotune_hnsw_batch_grid(emb):
    """Batch-throughput grid on the graph backend: ef >= n measures
    recall exactly 1.0 (exact-degenerate beams), the selected best
    meets the target, and each variant records its batch wall time."""
    from lanterndb_spark.operators.autotune import autotune_hnsw_batch

    n = emb.count()
    best, results = autotune_hnsw_batch(
        emb, "embedding", "vec_id", k=10,
        m_grid=(8,), ef_grid=(4, n), n_queries=6, target_recall=0.5,
        num_shards=2, seed=42,
    )
    assert len(results) == 2
    full = [r for r in results if r.params["ef"] >= n]
    assert full and all(abs(r.recall - 1.0) < 1e-12 for r in full)
    assert best is not None and best.recall >= 0.5
    assert all(r.params["batch_s"] > 0 for r in results)


def test_search_df_empty_string_keyed_queries(index, spark):
    """An empty non-integral query frame rides the surrogate wrap to an
    empty result with the caller's q_id type, no errors."""
    from lanterndb_spark.operators.hnsw import hnsw_search_df

    qdf = spark.createDataFrame([], "q_id string, query array<double>")
    out = hnsw_search_df(index, qdf, k=3, ef=16)
    assert out.schema["q_id"].dataType.simpleString() == "string"
    assert out.count() == 0


def test_search_df_duplicate_q_ids_per_row_every_dtype(index, emb, spark):
    """Duplicate q_id VALUES are per-row on EVERY key path: an integral
    frame with duplicate ids answers exactly what the same frame under
    string keys answers — k rows per input ROW, each row's own top-k —
    instead of the old dtype-dependent merge on the integral fast path."""
    from lanterndb_spark.operators.hnsw import hnsw_search_df

    qa, qb, qc = qvec(emb, 1), qvec(emb, 29), qvec(emb, 44)
    # q_id=7 appears twice with DIFFERENT vectors; q_id=3 once
    ldf = spark.createDataFrame(
        [(7, qa), (7, qb), (3, qc)], "q_id long, query array<double>"
    )
    sdf = spark.createDataFrame(
        [("7", qa), ("7", qb), ("3", qc)], "q_id string, query array<double>"
    )
    got_l = hnsw_search_df(index, ldf, k=5, ef=32).collect()
    got_s = hnsw_search_df(index, sdf, k=5, ef=32).collect()
    assert len(got_l) == 15  # 3 input rows x k, NOT 10 (merged)
    key_l = sorted((str(r["q_id"]), r["vec_id"], round(r["dist"], 9)) for r in got_l)
    key_s = sorted((r["q_id"], r["vec_id"], round(r["dist"], 9)) for r in got_s)
    assert key_l == key_s
    # unique_q_ids=True asserts uniqueness: duplicates then MERGE (the
    # caller took responsibility) — documents the escape hatch's sharp edge
    merged = hnsw_search_df(index, ldf, k=5, ef=32, unique_q_ids=True).collect()
    assert len(merged) == 10


def _per_row_key(rows):
    return sorted(
        (str(r["q_id"]), r["vec_id"], round(r["dist"], 9)) for r in rows
    )


def _long_and_string(spark, rows):
    """The same (q_id, query) rows keyed by long and by string (the
    string frame always takes the surrogate wrap: the reference answer)."""
    ldf = spark.createDataFrame(rows, "q_id long, query array<double>")
    sdf = spark.createDataFrame(
        [(None if q is None else str(q), v) for q, v in rows],
        "q_id string, query array<double>",
    )
    return ldf, sdf


def test_search_df_duplicate_null_q_ids_executor_route(index, ridx, emb, spark):
    """The executor route (``broadcast_queries=False``) keys each row by
    an inline occurrence number: duplicate integral q_ids (same or
    different vectors) and NULL q_ids answer exactly what the same rows
    under string keys answer, NULL labels restored. Covers the hash-
    routed full probe and the cluster-routed replicated probe."""
    from lanterndb_spark.operators.hnsw import hnsw_search_df

    qa, qb, qc, qd = (qvec(emb, i) for i in (1, 29, 44, 5))
    rows = [(7, qa), (7, qb), (7, qa), (None, qc), (None, qd), (3, qc)]
    ldf, sdf = _long_and_string(spark, rows)
    for idx, kw in ((index, {}), (ridx, {"nprobe": 2})):
        got = hnsw_search_df(
            idx, ldf, k=5, ef=32, broadcast_queries=False, **kw
        ).collect()
        exp = hnsw_search_df(idx, sdf, k=5, ef=32, **kw).collect()
        assert len(got) == 30  # 6 input rows x k
        assert _per_row_key(got) == _per_row_key(exp)
    # unique keys: the same rows with or without the occurrence key
    uniq = spark.createDataFrame(
        [(i, v) for i, (_, v) in enumerate(rows)],
        "q_id long, query array<double>",
    )
    assert sorted(hnsw_search_df(
        index, uniq, k=5, ef=32, broadcast_queries=False
    ).collect()) == sorted(hnsw_search_df(
        index, uniq, k=5, ef=32, broadcast_queries=False, unique_q_ids=True
    ).collect())


def test_search_df_cos_zero_norm_query_executor_route(spark):
    """A zero-norm cos query is dropped from the per-row keys too: the
    duplicate key's other row keeps its answer."""
    from lanterndb_spark.operators.hnsw import hnsw_search_df

    base = spark.createDataFrame(
        [(i, [float(i + 1), 1.0]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    idx = build_hnsw(base, "embedding", id_col="vec_id", num_shards=2,
                     seed=1, metric="cos")
    rows = [(5, [0.0, 0.0]), (5, [1.0, 2.0]), (None, [3.0, 1.0])]
    ldf, sdf = _long_and_string(spark, rows)
    got = hnsw_search_df(
        idx, ldf, k=3, ef=40, broadcast_queries=False).collect()
    exp = hnsw_search_df(idx, sdf, k=3, ef=40).collect()
    assert len(got) == 6
    assert _per_row_key(got) == _per_row_key(exp)
    idx.graphs.unpersist()


def test_search_df_dup_path_runs_no_extra_job(index, emb, spark, job_ids):
    """On the executor route the per-row answer is plan-inline: a frame
    with duplicate and NULL keys runs exactly as many jobs as a frame
    with unique keys (no detection action, no checkpoint)."""
    from lanterndb_spark.operators.hnsw import hnsw_search_df

    qa, qb, qc = qvec(emb, 1), qvec(emb, 29), qvec(emb, 44)

    def njobs(rows):
        qdf = spark.createDataFrame(rows, "q_id long, query array<double>")
        _, jobs = job_ids(lambda: hnsw_search_df(
            index, qdf, k=5, ef=32, broadcast_queries=False).collect())
        return len(jobs)

    assert njobs([(7, qa), (7, qb), (None, qc)]) == njobs(
        [(0, qa), (1, qb), (2, qc)])


def test_search_df_duplicate_null_q_ids_known_small_route(
        index, ridx, emb, spark, job_ids):
    """The known-small route keys rows by position: duplicate and NULL
    integral q_ids answer exactly what the same rows under string keys
    answer (NULL labels kept), with no check and no surrogate wrap — so
    such a frame runs as many jobs as one with unique keys. The pq
    re-rank on that route is keyed by position too."""
    from lanterndb_spark.operators.hnsw import hnsw_search_df

    qa, qb, qc, qd = (qvec(emb, i) for i in (1, 29, 44, 5))
    rows = [(7, qa), (7, qb), (7, qa), (None, qc), (None, qd), (3, qc)]
    _, pdf = _list_and_pandas(spark, rows)
    _, sdf = _long_and_string(spark, rows)
    _, udf = _list_and_pandas(
        spark, [(i, v) for i, (_, v) in enumerate(rows)])
    pidx = build_hnsw(
        emb, "embedding", id_col="vec_id", m=8, ef_construction=64,
        num_shards=2, seed=42, quant="pq", pq_splits=4, pq_clusters=16,
    )
    for idx, kw in ((index, {}), (ridx, {"nprobe": 2}),
                    (pidx, {"base": emb})):
        got = hnsw_search_df(idx, pdf, k=5, ef=32, **kw).collect()
        exp = hnsw_search_df(idx, sdf, k=5, ef=32, **kw).collect()
        assert len(got) == 30  # 6 input rows x k
        assert _per_row_key(got) == _per_row_key(exp)

    def njobs(qdf):
        def run():
            return hnsw_search_df(index, qdf, k=5, ef=32).collect()

        run()  # warm
        return len(job_ids(run)[1])

    assert njobs(pdf) == njobs(udf)
    pidx.graphs.unpersist()


def test_search_df_known_small_jobs_within_batch(index, emb, spark, job_ids):
    """A warm known-small call runs the driver-list kernel: no more jobs
    than hnsw_search_batch on the same queries (the pandas-built frame
    collects without a job)."""
    from lanterndb_spark.operators.hnsw import (
        hnsw_search_batch, hnsw_search_df,
    )

    qs = [qvec(emb, i) for i in (1, 5, 9)]
    _, pdf = _list_and_pandas(spark, list(enumerate(qs)))

    def warm_jobs(fn):
        fn()
        return len(job_ids(fn)[1])

    n_df = warm_jobs(
        lambda: hnsw_search_df(index, pdf, k=5, ef=32).collect())
    n_batch = warm_jobs(
        lambda: hnsw_search_batch(index, qs, k=5, ef=32).collect())
    assert n_df <= n_batch, (n_df, n_batch)


def test_surrogate_checkpoint_blocks_released(index, emb, spark):
    """release() frees the surrogate wrap's localCheckpoint blocks:
    DataFrame.unpersist() alone leaves them (the r10 leak), so the wrap
    attaches a CheckpointHandle that unpersists the backing RDD.

    Asserts on the SPECIFIC RDD ids this test creates (set diffs), not
    the global persistent count — the ContextCleaner and other modules'
    non-blocking unpersists mutate the global map concurrently under
    full-suite ordering (the r13 flake), while our own ids are race-free
    (unpersist removes from the map synchronously; RDD ids never reuse)."""
    from lanterndb_spark.operators.hnsw import hnsw_search_df
    from lanterndb_spark.plans.shape import release

    def pids():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    before = pids()
    sdf = spark.createDataFrame(
        [(f"e/{i}", qvec(emb, i)) for i in (2, 11)],
        "q_id string, query array<double>",
    )
    out = hnsw_search_df(index, sdf, k=3, ef=16)
    out.collect()
    created = pids() - before
    assert created  # the pinned mapping
    release(out)
    assert not (created & pids())  # every block the wrap pinned is freed


# ---- cluster-routing multi-assignment (replicas) ----------------------


@pytest.fixture(scope="module")
def ridx(emb):
    """replicas=2 cluster-routed index shared by the replica tests."""
    idx = build_hnsw(
        emb, "embedding", id_col="vec_id", m=8, ef_construction=64,
        num_shards=4, seed=42, routing="cluster", replicas=2,
    )
    yield idx
    idx.graphs.unpersist()


def test_replicas_each_row_in_exactly_r_shards(ridx, emb):
    """Multi-assignment coverage: every row lives in exactly `replicas`
    shards (its 2 nearest cells), so shard row counts sum to 2n."""
    assert ridx.replicas == 2
    assert ridx.graphs.agg(F.sum("n")).first()[0] == 2 * emb.count()
    from collections import Counter

    from lanterndb_spark.operators.hnsw import _Graph

    counts = Counter()
    for row in ridx.graphs.collect():
        counts.update(int(i) for i in _Graph.from_blob(row["blob"]).ids)
    assert set(counts.values()) == {2}
    assert len(counts) == emb.count()


def test_replicas_full_probe_equals_exact_no_duplicates(ridx, emb):
    """Overlapping shards must NOT leak duplicate ids: at full probe +
    ef>=n the search still returns the exact top-k, each id once."""
    n = emb.count()
    q = qvec(emb, 6)
    got = hnsw_search(ridx, emb, q, k=10, ef=n, nprobe=4).collect()
    want = knn(emb, "embedding", q, k=10, id_col="vec_id").collect()
    assert [r["vec_id"] for r in got] == [r["vec_id"] for r in want]
    assert len({r["vec_id"] for r in got}) == 10
    for g, w in zip(got, want):
        assert abs(g["dist"] - w["dist"]) < 1e-6


def test_replicas_search_df_exact_and_distinct(ridx, emb, spark):
    """Batch form over the replicated index: full probe == exact knn
    per query, and no (q_id, id) pair appears twice (the min-dist merge
    before the rank window)."""
    from lanterndb_spark.operators.hnsw import hnsw_search_df

    n = emb.count()
    qdf = spark.createDataFrame(
        [(i, qvec(emb, i)) for i in (0, 6, 11)],
        "q_id long, query array<double>",
    )
    got = hnsw_search_df(ridx, qdf, k=5, ef=n).collect()
    assert len(got) == 15
    pairs = [(r["q_id"], r["vec_id"]) for r in got]
    assert len(set(pairs)) == len(pairs)
    by_q = {}
    for r in got:
        by_q.setdefault(r["q_id"], []).append((round(r["dist"], 9), r["vec_id"]))
    for qi in (0, 6, 11):
        want = knn(emb, "embedding", qvec(emb, qi), k=5, id_col="vec_id").collect()
        assert sorted(by_q[qi]) == [
            (round(r["dist"], 9), r["vec_id"]) for r in want
        ]


def test_replicas_partial_probe_recall_not_worse(emb):
    """The point of multi-assignment: at the same partial nprobe, the
    replicated index's recall is >= the disjoint index's (boundary rows
    are findable from both sides). Deterministic under fixed seeds."""
    from lanterndb_spark.operators.autotune import exact_topk_batch, recall_at_k
    from lanterndb_spark.operators.hnsw import hnsw_search_batch

    base = build_hnsw(
        emb, "embedding", id_col="vec_id", m=8, ef_construction=64,
        num_shards=4, seed=42, routing="cluster",
    )
    rep = build_hnsw(
        emb, "embedding", id_col="vec_id", m=8, ef_construction=64,
        num_shards=4, seed=42, routing="cluster", replicas=2,
    )
    qs = [qvec(emb, i) for i in range(0, 40, 4)]
    truth = exact_topk_batch(emb, "embedding", qs, k=5, id_col="vec_id")

    def rec(idx):
        got = {}
        rows = hnsw_search_batch(idx, qs, k=5, ef=64, nprobe=1).collect()
        for r in rows:
            got.setdefault(r["q_id"], []).append(r["vec_id"])
        return sum(
            recall_at_k(got.get(i, []), truth[i]) for i in range(len(qs))
        ) / len(qs)

    assert rec(rep) >= rec(base)
    base.graphs.unpersist()
    rep.graphs.unpersist()


def test_replicas_insert_replicates_delta(ridx, emb, spark):
    """hnsw_insert on a replicated index routes the delta to ITS
    `replicas` nearest cells too — the inserted twin is findable at
    nprobe=1 and the shard totals grow by replicas rows."""
    q = qvec(emb, 6)
    before = ridx.graphs.agg(F.sum("n")).first()[0]
    twin = spark.createDataFrame(
        [(90_007, q)], "vec_id long, embedding array<float>"
    )
    idx2 = hnsw_insert(ridx, twin)
    assert idx2.graphs.agg(F.sum("n")).first()[0] == before + 2
    got = [r["vec_id"] for r in
           hnsw_search_batch(idx2, [q], k=2, ef=64, nprobe=1).collect()]
    assert 90_007 in got
    assert len(set(got)) == len(got)
    idx2.graphs.unpersist()


def test_replicas_save_load_roundtrip(ridx, emb, tmp_path, spark):
    save_hnsw(ridx, str(tmp_path / "rhnsw"))
    idx2 = load_hnsw(spark, str(tmp_path / "rhnsw"))
    assert idx2.replicas == 2
    q = qvec(emb, 8)
    a = [r["vec_id"] for r in
         hnsw_search(ridx, emb, q, k=5, ef=64, nprobe=2).collect()]
    b = [r["vec_id"] for r in
         hnsw_search(idx2, emb, q, k=5, ef=64, nprobe=2).collect()]
    assert a == b
    idx2.graphs.unpersist()


def test_replicas_requires_cluster_routing(emb):
    with pytest.raises(ValueError, match="cluster"):
        build_hnsw(
            emb, "embedding", id_col="vec_id", num_shards=4,
            routing="hash", replicas=2,
        )
    with pytest.raises(ValueError, match="replicas"):
        build_hnsw(
            emb, "embedding", id_col="vec_id", num_shards=4,
            routing="cluster", replicas=0,
        )


def test_replicas_clamp_warns(spark):
    """When k-means yields fewer cells than the requested replicas (tiny
    or degenerate tables), the clamp is SURFACED instead of silently
    building a less-replicated index (ADVICE r11)."""
    import warnings

    tiny = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [10.0, 10.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.warns(UserWarning, match="clamped to num_shards"):
        idx = build_hnsw(
            tiny, "embedding", id_col="vec_id", m=4, ef_construction=8,
            num_shards=4, routing="cluster", replicas=3, seed=1,
        )
    assert idx.replicas == 2  # k-means found only 2 cells in 2 rows
    # the clamped index still answers exactly at full probe
    got = hnsw_search(idx, tiny, [0.0, 0.0], k=2, ef=4).collect()
    assert [r["vec_id"] for r in got] == [0, 1]
    idx.graphs.unpersist()


def test_insert_broadcast_path_matches_cogroup(index, emb, spark):
    """r15: hnsw_insert's broadcast-delta shape (small deltas — untouched
    blobs pass through in the JVM with no exchange above the graphs
    cache and no Python round-trip) must agree with the cogroup shape on
    shard membership, counts, and search results — including a
    brand-new shard and a multi-row delta to one shard."""
    import io
    from contextlib import redirect_stdout

    from lanterndb_spark.operators import hnsw as H

    rows = [(90_100 + i, qvec(emb, i)) for i in range(6)]
    twin = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = hnsw_insert(index, twin, broadcast_delta=True)
    b = hnsw_insert(index, twin, broadcast_delta=False)
    ga = {r["shard"]: (r["n"], bytes(r["blob"])) for r in a.graphs.collect()}
    gb = {r["shard"]: (r["n"], bytes(r["blob"])) for r in b.graphs.collect()}
    assert set(ga) == set(gb)
    assert {s: n for s, (n, _) in ga.items()} == {s: n for s, (n, _) in gb.items()}
    # graph CONTENT equal per shard: same ids (blob uids differ by design)
    for s in ga:
        assert list(H._Graph.from_blob(ga[s][1]).ids) == list(
            H._Graph.from_blob(gb[s][1]).ids)
    q = qvec(emb, 2)
    ra = [r["vec_id"] for r in hnsw_search_batch(a, [q], k=5, ef=64).collect()]
    rb = [r["vec_id"] for r in hnsw_search_batch(b, [q], k=5, ef=64).collect()]
    assert ra == rb
    # untouched shards: verbatim bytes on the broadcast path too (a
    # 1-row delta touches exactly one shard). A FRESH index is built
    # here and its blobs pinned through localCheckpoint: late in the
    # suite the shared fixture's cache can be evicted, and a re-read
    # re-serializes every blob with a fresh generation uid — an
    # eviction artifact this assertion must not confuse with the
    # insert re-serializing untouched shards.
    base = emb.limit(60).select("vec_id", "embedding")
    fresh_idx = build_hnsw(
        base, "embedding", id_col="vec_id", m=8, ef_construction=32,
        num_shards=4, seed=11,
    )
    fresh_idx = fresh_idx._replace(
        graphs=fresh_idx.graphs.localCheckpoint(eager=True)
    )
    before = {r["shard"]: bytes(r["blob"]) for r in fresh_idx.graphs.collect()}
    one = spark.createDataFrame(rows[:1], "vec_id long, embedding array<float>")
    c = hnsw_insert(fresh_idx, one, broadcast_delta=True)
    gc = {r["shard"]: bytes(r["blob"]) for r in c.graphs.collect()}
    changed = [s for s in before if gc[s] != before[s]]
    assert len(changed) == 1
    assert all(gc[s] == before[s] for s in before if s not in changed)
    # plan: no Exchange above the graphs-side cache scan (the blobs never
    # shuffle); the only exchange under the join is the packed delta's agg
    buf = io.StringIO()
    with redirect_stdout(buf):
        c.graphs.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan
    import re
    # the graphs cache feeds the join's streamed side directly
    assert not re.search(r"Exchange[\s\S]{0,400}InMemoryTableScan", plan.split("BroadcastExchange")[0])
    a.graphs.unpersist(); b.graphs.unpersist(); c.graphs.unpersist()


def test_insert_shard_key_stamp_chained(index, emb, spark):
    """r15: the broadcast insert collects the routed delta ONCE and
    detects brand-new shards against a driver-local shard-key set the
    previous chained insert stamped on the graphs frame — the stamp
    must match the real shard set exactly, a chained (stamped) insert
    must run strictly fewer jobs than a first (unstamped) one, and both
    must produce identical graphs."""
    from lanterndb_spark.operators import hnsw as H

    rows1 = [(91_200 + i, qvec(emb, i)) for i in range(4)]
    rows2 = [(91_300 + i, qvec(emb, i + 4)) for i in range(4)]
    d1 = spark.createDataFrame(rows1, "vec_id long, embedding array<float>")
    d2 = spark.createDataFrame(rows2, "vec_id long, embedding array<float>")
    a1 = hnsw_insert(index, d1, broadcast_delta=True)
    stamp = a1.graphs.__dict__["_lantern_shard_keys"]
    actual = {int(r["shard"]) for r in a1.graphs.select("shard").collect()}
    assert stamp == actual

    sc = spark.sparkContext

    def njobs(fn):
        sc.parallelize([0], 1).count()
        ids = sc.statusTracker().getJobIdsForGroup()
        before = max(ids) if ids else -1
        out = fn()
        sc.parallelize([0], 1).count()
        ids = sc.statusTracker().getJobIdsForGroup()
        return out, (max(ids) if ids else -1) - before - 1

    chained, n_chain = njobs(
        lambda: hnsw_insert(a1, d2, broadcast_delta=True))
    a1.graphs.__dict__.pop("_lantern_shard_keys")
    cold, n_cold = njobs(
        lambda: hnsw_insert(a1, d2, broadcast_delta=True))
    assert n_chain < n_cold, (n_chain, n_cold)
    gc_ = {r["shard"]: list(H._Graph.from_blob(bytes(r["blob"])).ids)
           for r in chained.graphs.collect()}
    gk = {r["shard"]: list(H._Graph.from_blob(bytes(r["blob"])).ids)
          for r in cold.graphs.collect()}
    assert gc_ == gk
    for ix in (a1, chained, cold):
        ix.graphs.unpersist()


def test_search_df_graphs_cogroup_no_exchange(emb, spark):
    """r15: build_hnsw persists the graphs cache hash-partitioned ON
    THE SHARD KEY, so the search cogroup's graphs side reads the blobs
    with NO Exchange above the cache scan — the former plan re-shuffled
    every blob (the whole index, at scale) on every call. A FRESH index
    is built here: the shared fixture's cache can be unpersisted by
    earlier tests, and an uncached graphs frame replays its build
    lineage (exchanges included) — an eviction artifact, not the
    property under test."""
    import io
    from contextlib import redirect_stdout

    from lanterndb_spark.operators.hnsw import hnsw_search_df

    own = build_hnsw(
        emb.limit(120).select("vec_id", "embedding"), "embedding",
        id_col="vec_id", m=8, ef_construction=32, num_shards=4, seed=21,
    )
    qdf = spark.createDataFrame(
        [(i, qvec(emb, i)) for i in range(6)],
        "q_id long, query array<double>")
    out = hnsw_search_df(own, qdf, k=5, ef=32, unique_q_ids=True)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    # the cogroup's LEFT (graphs) subtree prints first: it must reach
    # its InMemoryTableScan without an intervening Exchange
    seg = plan.split("FlatMapCoGroupsInPandas", 1)[1]
    assert "InMemoryTableScan" in seg, plan
    head = seg[:seg.index("InMemoryTableScan")]
    assert "Exchange" not in head, head
    assert len(out.collect()) > 0
    own.graphs.unpersist()


def test_search_df_broadcast_queries_matches_executor(index, emb, spark):
    """The driver route for known-small query frames
    (broadcast_queries) must return rows identical to the executor
    prep/route path — full probe AND cluster-routed nprobe, cos
    included (zero-norm drop happens in the same _prep_rows). The
    driver route runs the driver-list kernel: one MapInPandas over the
    graphs, no cogroup and no query-side Python pass."""
    import io
    from contextlib import redirect_stdout

    from lanterndb_spark.operators.hnsw import hnsw_search_df

    qdf = spark.createDataFrame(
        [(i, qvec(emb, i)) for i in range(12)],
        "q_id long, query array<double>").persist()
    qdf.count()

    def run(force):
        out = hnsw_search_df(index, qdf, k=5, ef=32, unique_q_ids=True,
                             broadcast_queries=force)
        buf = io.StringIO()
        with redirect_stdout(buf):
            out.explain("formatted")
        return (sorted((r[0], r[1], round(r[2], 9)) for r in out.collect()),
                buf.getvalue())

    rows_d, plan_d = run(True)
    rows_e, plan_e = run(False)
    assert rows_d == rows_e and rows_d
    # driver route: one kernel pass over the graphs; executor route:
    # a MapInPandas prep over the query frame feeds the shard cogroup
    assert "FlatMapCoGroupsInPandas" not in plan_d
    assert "FlatMapCoGroupsInPandas" in plan_e
    n_py_d = plan_d.count("MapInPandas")
    n_py_e = plan_e.count("MapInPandas")
    assert n_py_d < n_py_e, (n_py_d, n_py_e)

    # cos metric + cluster-routed nprobe: same equality through the
    # driver _norm_rows prep and centroid routing
    base = emb.limit(80).select("vec_id", "embedding")
    cidx = build_hnsw(base, "embedding", id_col="vec_id", metric="cos",
                      m=8, ef_construction=32, num_shards=4, seed=3,
                      routing="cluster")
    out_d = hnsw_search_df(cidx, qdf, k=5, ef=32, nprobe=2,
                           unique_q_ids=True, broadcast_queries=True)
    out_e = hnsw_search_df(cidx, qdf, k=5, ef=32, nprobe=2,
                           unique_q_ids=True, broadcast_queries=False)
    kd = sorted((r[0], r[1], round(r[2], 9)) for r in out_d.collect())
    ke = sorted((r[0], r[1], round(r[2], 9)) for r in out_e.collect())
    assert kd == ke and kd
    cidx.graphs.unpersist()
    qdf.unpersist()

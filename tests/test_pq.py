import numpy as np
import pytest
from pyspark.sql import functions as F

from lanterndb_spark.operators.pq import (
    adc_knn,
    dequantize,
    quantize,
    subvector_bounds,
    train_codebook,
)
from lanterndb_spark.operators.knn import knn


@pytest.fixture(scope="module")
def emb(tables):
    return tables["embeddings"]


@pytest.fixture(scope="module")
def codebook(emb):
    return train_codebook(emb, "embedding", splits=8, clusters=16, seed=42)


def test_subvector_bounds_remainder():
    # last subvector takes the remainder (product_quantization.c:276-280)
    assert subvector_bounds(10, 3) == [(0, 3), (3, 6), (6, 10)]
    assert subvector_bounds(64, 8) == [(i * 8, (i + 1) * 8) for i in range(8)]
    with pytest.raises(ValueError):
        subvector_bounds(4, 8)


def test_cluster_cap():
    with pytest.raises(ValueError):
        train_codebook(None, "v", splits=2, clusters=257)


def test_codebook_shape(codebook):
    # invariant pattern of hnsw_pq.sql:53-56
    rows = codebook.collect()
    svs = {r["subvector_id"] for r in rows}
    cents = {r["centroid_id"] for r in rows}
    assert svs == set(range(8))
    assert cents == set(range(16))
    assert len(rows) == 8 * 16
    assert all(len(r["c"]) == 8 for r in rows)


def test_codebook_deterministic(emb):
    a = train_codebook(emb, "embedding", splits=4, clusters=8, seed=7).collect()
    b = train_codebook(emb, "embedding", splits=4, clusters=8, seed=7).collect()
    key = lambda r: (r["subvector_id"], r["centroid_id"])
    for ra, rb in zip(sorted(a, key=key), sorted(b, key=key)):
        assert ra["c"] == rb["c"]


def test_quantize_codes_valid(emb, codebook):
    q = quantize(emb, "embedding", codebook)
    rows = q.select("embedding_pq").collect()
    for r in rows:
        codes = r["embedding_pq"]
        assert len(codes) == 8
        assert all(0 <= c < 16 for c in codes)


def test_roundtrip_reduces_error(emb, codebook):
    # dequantize(quantize(v)) must be closer to v than a zero vector is,
    # and within the coarse quantization error bound
    q = dequantize(quantize(emb, "embedding", codebook), "embedding_pq", codebook)
    from lanterndb_spark.functions.distance import l2sq_dist, vector_norm

    stats = q.select(
        F.avg(l2sq_dist("embedding", "dequantized")).alias("err"),
        F.avg(l2sq_dist("embedding", F.array([F.lit(0.0)] * 64))).alias("base"),
    ).first()
    assert stats["err"] < stats["base"] * 0.7


def test_adc_knn_recall_vs_exact(emb, codebook):
    q_row = emb.filter(F.col("vec_id") == 5).first()
    qv = [float(x) for x in q_row["embedding"]]
    coded = quantize(emb, "embedding", codebook).cache()
    ann = [r["vec_id"] for r in adc_knn(coded, "embedding_pq", qv, codebook, k=10, id_col="vec_id").collect()]
    exact = [r["vec_id"] for r in knn(emb, "embedding", qv, k=10, id_col="vec_id").collect()]
    # ANN vs exact: recall-based acceptance, never hash-compare (SURVEY §7)
    recall = len(set(ann) & set(exact)) / 10
    assert recall >= 0.3  # 8x16 codebook on 500 docs is coarse; sanity bound
    # the query's own row must be found (dist to itself is the LUT floor)
    assert 5 in ann[:3]


def test_train_codebook_inplan_dim_matches_static(emb, job_ids):
    """dim=None derives the subvector bounds IN-PLAN from size(v) (r15 —
    the former first() probe job is gone); the codebook must be
    bit-identical to the static-bounds path with the true dim, and the
    lazy path must not cost MORE jobs than the static one. splits > dim
    still errors (at job time now)."""
    from pyspark.sql.utils import AnalysisException

    dim = len(emb.select("embedding").first()[0])

    lazy, j_lazy = job_ids(lambda: train_codebook(
        emb, "embedding", splits=3, clusters=8, seed=7).collect())
    static, j_static = job_ids(lambda: train_codebook(
        emb, "embedding", splits=3, clusters=8, seed=7, dim=dim).collect())
    key = lambda rows: sorted(
        (r["subvector_id"], r["centroid_id"], tuple(r["c"])) for r in rows
    )
    assert key(lazy) == key(static)
    assert len(j_lazy) <= len(j_static)  # the probe job is gone, not moved

    import pytest as _pytest
    with _pytest.raises(Exception, match="splits"):
        train_codebook(emb, "embedding", splits=dim + 1, clusters=4).collect()


def test_codebook_is_frozen_at_training(emb, job_ids):
    """train_codebook trains once, when called: the returned frame is a
    local relation, so collecting it (or its arrays) submits no job, and
    every collect sees the same centroids."""
    from lanterndb_spark.operators.pq import _codebook_arrays

    cb, trained = job_ids(lambda: train_codebook(
        emb, "embedding", splits=4, clusters=8, seed=7))
    assert trained  # the training itself ran here
    assert cb.schema.simpleString() == (
        "struct<subvector_id:int,centroid_id:int,c:array<float>>"
    )
    first, jobs = job_ids(cb.collect)
    assert jobs == []
    again, jobs = job_ids(lambda: _codebook_arrays(cb))
    assert jobs == []
    assert [(r["subvector_id"], r["centroid_id"]) for r in first] == [
        (sv, c) for sv in range(4) for c in range(8)
    ]
    assert all(
        np.array_equal(again[r["subvector_id"]][r["centroid_id"]], r["c"])
        for r in first
    )

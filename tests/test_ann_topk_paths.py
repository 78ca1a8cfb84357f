"""r6 optimization internals: the batched IVF top-k ID-closure fast
path must return exactly what the join+Arrow fallback returns, and the
CC star-forest convergence test must accept exactly the converged
star-forest shapes."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from warps_nutch_spark.operators import ann
from warps_nutch_spark.operators.cc import _converged


def _emb_df(spark, n=120, dim=16, seed=3):
    rng = np.random.default_rng(seed)
    vecs = rng.normal(size=(n, dim))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    return (
        spark.createDataFrame(rows, ["vec_id", "embedding"])
        .select(
            "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
        )
        # single partition -> scan_is_narrow holds, so the batch-gated
        # ID-closure fast path is the one under test
        .coalesce(1)
    )


def test_ivf_topk_batch_fast_path_equals_join_path(spark, monkeypatch):
    emb = _emb_df(spark)
    cent = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("ce")
    )
    queries = emb.filter(F.col("vec_id") % 7 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    fast = ann.ivf_topk_batch(emb, cent, queries, k=3, n_probe=2).collect()
    # force the join+Arrow fallback by declining the ID-closure core
    monkeypatch.setattr(ann, "_pair_scores_by_id", lambda *a, **k: None)
    slow = ann.ivf_topk_batch(emb, cent, queries, k=3, n_probe=2).collect()
    assert sorted(map(tuple, fast)) == sorted(map(tuple, slow))
    assert fast, "vacuous: no candidates scored"


def test_cosine_verify_double_embeddings_equal_join_path(spark, monkeypatch):
    # the broadcast matrix is float32: cutting array<double> to it moves
    # this cosine from 0.99503719021 to 0.99503719006, across the
    # threshold, so the batch path must score doubles as the join form
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.1])], "vec_id long, embedding array<double>"
    ).coalesce(1)
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    batch = ann.cosine_verify_pairs(vecs, pairs, 0.99503719015).collect()
    monkeypatch.setattr(ann, "_pair_scores_by_id", lambda *a, **k: None)
    join = ann.cosine_verify_pairs(vecs, pairs, 0.99503719015).collect()
    assert batch == join
    assert len(join) == 1, "vacuous: the pair fell below the threshold"


def test_pair_scores_by_id_declines_on_conflicting_duplicate_ids(spark):
    # same id, different vector: the broadcast-matrix closure cannot
    # represent both — the core must decline (return None), not pick one
    rows = [(1, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 1.0])]
    vecs = (
        spark.createDataFrame(rows, ["vec_id", "embedding"])
        .select(
            "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
        )
        .coalesce(1)  # make the batch-bounded gate pass so the
        # duplicate-vector check is what declines
    )
    pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    assert ann._pair_scores_by_id(vecs, pairs) is None


def test_pair_scores_by_id_tolerates_identical_duplicate_ids(spark):
    rows = [(1, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [1.0, 1.0])]
    vecs = (
        spark.createDataFrame(rows, ["vec_id", "embedding"])
        .select(
            "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
        )
        .coalesce(1)
    )
    pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    out = ann._pair_scores_by_id(vecs, pairs)
    assert out is not None
    got = out.collect()
    assert len(got) == 1 and got[0]["_dot"] == pytest.approx(1.0)


@pytest.mark.parametrize(
    "rows",
    [
        [(1, [1.0, 0.0]), (2, None)],  # null embedding
        [(1, [1.0, 0.0]), (2, [1.0])],  # ragged embeddings
        [(1, [1.0, 0.0]), (2, [1.0, None])],  # null element
        [(1, None), (2, None)],  # every embedding null
    ],
    ids=["null", "ragged", "null-element", "all-null"],
)
def test_pair_scores_by_id_declines_on_non_matrix_embeddings(spark, rows):
    # the broadcast matrix cannot hold these rows: the core must decline
    # (return None) so the join form scores them, not raise
    vecs = (
        spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        .select(
            "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
        )
        .coalesce(1)
    )
    pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    assert ann._pair_scores_by_id(vecs, pairs) is None


@pytest.mark.parametrize(
    "edges,expect",
    [
        # proper star forest: children -> smaller roots, disjoint sides
        ([(5, 1), (6, 1), (9, 7)], True),
        # child with two roots (not a function)
        ([(5, 1), (5, 2)], False),
        # node both child and root (chain)
        ([(5, 3), (3, 1)], False),
        # mis-oriented edge (root larger than child)
        ([(1, 5)], False),
        # empty set converges trivially
        ([], True),
    ],
)
def test_cc_converged_is_exactly_star_forest(spark, edges, expect):
    df = spark.createDataFrame(edges or [(0, 0)], ["u", "v"])
    if not edges:
        df = df.filter(F.col("u") != F.col("v"))
    assert _converged(df) is expect

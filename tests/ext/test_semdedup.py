"""SemDeDup: within-cluster pruning vs a pure-python model (both
execution paths), Arrow-vs-expression path equivalence, planted
duplicate recovery, and the cluster-blocked join shape."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from colnade_spark.operators.semdedup import semantic_dedup, semantic_dup_pairs

# two well-separated clusters on the unit circle, quarter-step exact floats
CENTROIDS = [[1.0, 0.0], [0.0, 1.0]]


def _vecs():
    # ids 1-4 near centroid 0, ids 5-7 near centroid 1; 2 is a paraphrase
    # of 1 (cos ~ .9998), 6 an exact copy of 5; 4 and 7 are lone members
    return [
        (1, [1.0, 0.0]),
        (2, [1.0, 0.02]),
        (3, [0.9, -0.5]),
        (4, [0.7, 0.25]),
        (5, [0.0, 1.0]),
        (6, [0.0, 1.0]),
        (7, [-0.4, 0.9]),
    ]


def _model_survivors(rows, threshold):
    """Pure-python twin: round(dot,6) argmax (ties -> highest cid), drop iff
    a lower-id same-cluster member has round(cos,6) >= threshold."""

    def assign(v):
        sims = [
            round(sum(a * b for a, b in zip(v, c)), 6) for c in CENTROIDS
        ]
        return max(range(len(CENTROIDS)), key=lambda i: (sims[i], i))

    def cos(u, v):
        d = sum(a * b for a, b in zip(u, v))
        nu = math.sqrt(sum(a * a for a in u))
        nv = math.sqrt(sum(a * a for a in v))
        return round(d / (nu * nv), 6)

    cid = {i: assign(v) for i, v in rows}
    keep = []
    for i, v in rows:
        dropped = any(
            j < i and cid[j] == cid[i] and cos(u, v) >= threshold
            for j, u in rows
        )
        if not dropped:
            keep.append(i)
    return sorted(keep)


@pytest.mark.parametrize("use_arrow", [True, False])
@pytest.mark.parametrize("threshold", [0.99, 0.9, 0.5])
def test_semantic_dedup_matches_model(spark, threshold, use_arrow):
    df = spark.createDataFrame(_vecs(), ["vec_id", "embedding"])
    got = sorted(
        r.vec_id
        for r in semantic_dedup(
            df, CENTROIDS, threshold=threshold, use_arrow=use_arrow
        ).collect()
    )
    assert got == _model_survivors(_vecs(), threshold)


@pytest.mark.parametrize("use_arrow", [True, False])
def test_pairs_are_within_cluster_only(spark, use_arrow):
    df = spark.createDataFrame(_vecs(), ["vec_id", "embedding"])
    pairs = semantic_dup_pairs(
        df, CENTROIDS, threshold=-1.0, use_arrow=use_arrow
    ).collect()
    # threshold -1 admits every within-cluster pair; cluster 0 = {1,2,3,4}
    # (6 pairs), cluster 1 = {5,6,7} (3 pairs) — never a cross-cluster pair
    assert len(pairs) == 9
    c0 = {1, 2, 3, 4}
    for r in pairs:
        assert r.id_a < r.id_b
        assert (r.id_a in c0) == (r.id_b in c0)


def test_arrow_and_expr_paths_agree_on_fixture(spark, sf_dir):
    """Same pair set, cosines within one rounding ulp, identical
    survivor ids — the matmul path is a drop-in for the oracle-exact
    expression path."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    centroids = [
        [((((j * 29) + (d * 13)) % 9) - 4) / 4.0 for d in range(64)]
        for j in range(16)
    ]
    a = {
        (r.id_a, r.id_b): r.cos_sim
        for r in semantic_dup_pairs(
            e, centroids, threshold=0.3, use_arrow=True
        ).collect()
    }
    b = {
        (r.id_a, r.id_b): r.cos_sim
        for r in semantic_dup_pairs(
            e, centroids, threshold=0.3, use_arrow=False
        ).collect()
    }
    assert set(a) == set(b)
    assert len(a) > 0
    for k in a:
        assert a[k] == pytest.approx(b[k], abs=2e-6)


def test_planted_duplicates_dropped_sources_kept(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    planted = e.filter(F.col("vec_id") % 100 == 0).select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"), "embedding"
    )
    n_planted = planted.count()
    centroids = [
        [((((j * 31) + (d * 17)) % 7) - 3) / 4.0 for d in range(64)]
        for j in range(4)
    ]
    out = semantic_dedup(
        e.unionByName(planted), centroids, threshold=0.95
    ).select("vec_id")
    ids = {r.vec_id for r in out.collect()}
    # every planted copy (higher id) dropped, every source kept
    assert all(i < 1_000_000 for i in ids)
    assert out.count() == e.count()
    assert n_planted > 0


def test_zero_vectors_never_duplicate(spark):
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [0.0, 0.0]), (3, [1.0, 0.0])],
        ["vec_id", "embedding"],
    )
    for use_arrow in (True, False):
        kept = sorted(
            r.vec_id
            for r in semantic_dedup(
                df, CENTROIDS, threshold=0.5, use_arrow=use_arrow
            ).collect()
        )
        assert kept == [1, 2, 3], use_arrow


def test_pairwise_join_is_cluster_keyed(spark):
    """The expression path's candidate join must be an equi-join on
    cluster_id — never a cross join (the quadratic blow-up SemDeDup
    exists to avoid)."""
    df = spark.createDataFrame(_vecs(), ["vec_id", "embedding"])
    plan = semantic_dup_pairs(
        df, CENTROIDS, threshold=0.9, use_arrow=False
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_paths_agree_on_zero_vectors_at_negative_threshold(spark):
    """Parity pin for the expression path's norm>0 guard: pairs touching
    a zero vector never qualify in EITHER path, even when the threshold
    would admit cos=0."""
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [0.9, 0.1])],
        ["vec_id", "embedding"],
    )
    for use_arrow in (True, False):
        pairs = {
            (r.id_a, r.id_b)
            for r in semantic_dup_pairs(
                df, CENTROIDS, threshold=-1.0, use_arrow=use_arrow
            ).collect()
        }
        assert pairs == {(2, 3)}, use_arrow


def test_assign_arrow_parity_on_separated_clusters(spark):
    """The large-k pandas-UDF assignment tier (assign_arrow=True)
    produces the same cluster ids, pair set, and survivors as the
    literal-centroid expression path on well-separated clusters —
    including at a centroid count the expression path could never
    codegen (the same vectors against 200 padded centroids)."""
    import numpy as np

    rng = np.random.default_rng(5)
    dim = 16
    rows = []
    centroids = []
    for c in range(4):
        center = rng.normal(size=dim)
        center /= np.linalg.norm(center)
        centroids.append([float(x) for x in center])
        for i in range(10):
            v = center + rng.normal(scale=0.05, size=dim)
            v /= np.linalg.norm(v)
            rows.append((c * 100 + i, [float(x) for x in v]))
    # a planted paraphrase inside cluster 0
    rows.append((99, [x * 1.0 for x in rows[0][1]]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    expr_pairs = {
        (r.id_a, r.id_b)
        for r in semantic_dup_pairs(df, centroids, 0.95).collect()
    }
    udf_pairs = {
        (r.id_a, r.id_b)
        for r in semantic_dup_pairs(
            df, centroids, 0.95, assign_arrow=True
        ).collect()
    }
    assert expr_pairs == udf_pairs and (0, 99) in udf_pairs

    expr_surv = {
        r.vec_id for r in semantic_dedup(df, centroids, 0.95).collect()
    }
    udf_surv = {
        r.vec_id
        for r in semantic_dedup(
            df, centroids, 0.95, assign_arrow=True
        ).collect()
    }
    assert expr_surv == udf_surv and 99 not in udf_surv

    # large-k smoke: 200 centroids (the 4 real ones + 196 far-away
    # padding) — pure UDF path, one matmul per batch, same survivors
    far = []
    for _ in range(196):
        v = rng.normal(size=dim)
        v /= np.linalg.norm(v)
        far.append([float(-abs(x)) for x in v])  # negative orthant
    big = centroids + far
    big_surv = {
        r.vec_id
        for r in semantic_dedup(df, big, 0.95, assign_arrow=True).collect()
    }
    # padding can only SPLIT clusters, never merge: survivors can only grow
    assert udf_surv <= big_surv


def test_empty_centroids_raise_on_both_assignment_paths(spark):
    """centroids=[] fails with the expression path's ValueError on the
    assign_arrow tier too — not a numpy AxisError from inside the
    batch-time UDF."""
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], ["vec_id", "embedding"]
    )
    for arrow in (False, True):
        with pytest.raises(ValueError, match="centroids must be non-empty"):
            semantic_dup_pairs(df, [], 0.9, assign_arrow=arrow)
        with pytest.raises(ValueError, match="centroids must be non-empty"):
            semantic_dedup(df, [], 0.9, assign_arrow=arrow)


def test_null_vector_survives_on_every_path(spark):
    """A NULL embedding pairs with nothing, so it survives; the other
    rows' survivors do not change. The pandas-UDF assignment gives it a
    NULL cluster, the Arrow pairing skips it."""
    df = spark.createDataFrame(
        _vecs() + [(8, None)], "vec_id long, embedding array<double>"
    )
    want = _model_survivors(_vecs(), 0.95) + [8]
    for use_arrow in (True, False):
        for assign_arrow in (False, True):
            got = sorted(
                r.vec_id
                for r in semantic_dedup(
                    df, CENTROIDS, 0.95, use_arrow=use_arrow, assign_arrow=assign_arrow
                ).collect()
            )
            assert got == want, (use_arrow, assign_arrow)

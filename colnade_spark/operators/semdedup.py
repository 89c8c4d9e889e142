"""SemDeDup: semantic deduplication via cluster-then-prune (Abbas et al.
2023, "SemDeDup: Data-efficient learning at web-scale through semantic
deduplication").

MinHash/SimHash (operators/dedup.py) catch *lexical* near-duplicates;
paraphrases and template rewrites sail through. SemDeDup works in
embedding space instead: cluster the corpus, and within each cluster
drop every document whose cosine similarity to another cluster member
exceeds a threshold — keeping one representative per semantic
duplicate group. The clustering is what makes it tractable: pairwise
similarity is only ever computed within a cluster, never corpus-wide.

Deterministic keep rule (the paper keeps a random/centroid-farthest
member; both are tie-unstable across engines): a row is DROPPED iff
some *lower-id* member of the same cluster has cosine >= ``threshold``
with it. The survivor set is therefore unique and SQL-expressible
(an EXISTS self-join), which is what lets the operator be value-checked
against a DuckDB oracle.

Two execution paths for the within-cluster pairwise pass:
- ``use_arrow=True`` (default): groupBy(cluster_id).applyInPandas — one
  Arrow batch per cluster, one blocked numpy matmul for all of the
  cluster's cosines (the paper's own formulation). Vectors cross to
  Python ONCE PER ROW, never per pair; the m x m similarity matrix is
  computed in row blocks so memory stays bounded for hot clusters.
  Measured ~20x faster than the expression path (HOF folds don't
  participate in whole-stage codegen, and AQE coalesces the small
  shuffle under one task; the matmul vectorizes regardless).
- ``use_arrow=False``: pure Catalyst expressions — a cluster-keyed
  self-join with a staged-norm dot fold. This is the engine-portable
  twin the DuckDB oracle replays bit-for-bit; tests pin both paths to
  the same pair set.

Cosines are rounded (``sim_decimals``) BEFORE thresholding. numpy's
pairwise summation and a sequential fold can disagree in the last ulp,
so rounded values may differ at exact 5e-7 boundaries between the two
paths — the planted-duplicate contract query sits nowhere near a
boundary (cos 1.0 vs a 0.6 background).

Scale shape (100 TB):
- cluster assignment broadcasts k x dim literal centroids — one narrow
  scan, NO shuffle (embeddings.cluster_assign);
- both pairwise paths exchange (id, cluster_id, vector) keyed on
  cluster_id only — quadratic *within* a cluster but never across.
  Cluster granularity is the scale knob: the paper uses k ~ 10^4-10^5
  so members-per-cluster stays bounded; re-train centroids
  (operators/clustering.kmeans) when clusters grow hot;
- the survivors join is an anti-join on ids — document payloads never
  ride the pairwise exchange.

Reference parity: no counterpart in the reference repo — extension
layer (the build brief's dedup family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from colnade_spark.operators.embeddings import cluster_assign
from colnade_spark.operators.similarity import dot, norm

__all__ = ["semantic_dup_pairs", "semantic_dedup"]

# rows per matmul block in the Arrow path: bounds the in-flight slice of
# the m x m similarity matrix at BLOCK x m doubles per task
_BLOCK = 1024


def _no_pairs(ids):
    """The empty pair frame of ``_pairs_arrow``, ids typed like ``ids``."""
    import numpy as np
    import pandas as pd

    empty = np.array([], dtype=ids.dtype)
    return pd.DataFrame(
        {
            "id_a": empty,
            "id_b": empty,
            "cluster_id": np.array([], dtype=np.int64),
            "cos_sim": np.array([], dtype=np.float64),
        }
    )


def _pairs_arrow(
    assigned: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    sim_decimals: int,
) -> DataFrame:
    import pandas as pd  # noqa: F401 — applyInPandas contract

    id_field = assigned.schema[id_col].dataType.simpleString()
    out_schema = (
        f"id_a {id_field}, id_b {id_field}, cluster_id long, cos_sim double"
    )
    thr = float(threshold)
    dec = int(sim_decimals)

    def per_cluster(pdf):
        import numpy as np
        import pandas as pd

        # a NULL vector pairs with nothing (its cosine is NULL on the
        # expression path); with assign_arrow it also has a NULL cluster
        pdf = pdf[pdf[vec_col].notna()]
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        ids = pdf[id_col].to_numpy()
        if not len(ids):
            return _no_pairs(ids)
        V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        n = np.linalg.norm(V, axis=1)
        zero = n == 0.0
        n[zero] = 1.0
        Vn = V / n[:, None]
        cid = int(pdf["cluster_id"].iloc[0])
        m = len(ids)
        scale = 10.0**dec
        out_a, out_b, out_s = [], [], []
        for lo in range(0, m, _BLOCK):
            hi = min(lo + _BLOCK, m)
            R = Vn[lo:hi] @ Vn.T
            # HALF-AWAY-FROM-ZERO like Spark/DuckDB round — np.round is
            # banker's and can flip pair membership at 5e-7 boundaries
            S = np.sign(R) * np.floor(np.abs(R) * scale + 0.5) / scale
            for r in range(lo, hi):
                row = S[r - lo, r + 1 :]
                hit = np.nonzero(row >= thr)[0]
                if hit.size:
                    # zero-vector parity with the expression path: its
                    # norm>0 guard nulls the cosine, so such pairs never
                    # qualify regardless of threshold sign
                    zrow = zero[r + 1 :][hit] | zero[r]
                    hit = hit[~zrow]
                if hit.size:
                    out_a.append(np.full(hit.size, ids[r]))
                    out_b.append(ids[r + 1 + hit])
                    out_s.append(row[hit])
        if not out_a:
            return _no_pairs(ids)
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cluster_id": cid,
                "cos_sim": np.concatenate(out_s),
            }
        )

    return assigned.groupBy("cluster_id").applyInPandas(
        per_cluster, schema=out_schema
    )


def _pairs_expr(
    assigned: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    sim_decimals: int,
) -> DataFrame:
    # the L2 norm is staged ONCE PER ROW before the join; the per-pair
    # work is then a single dot fold instead of three (cosine() inline
    # would recompute both norms for every candidate pair). The tree
    # dot/(na*nb) matches cosine()'s, so rounded values are bit-identical
    # to the oracle's sequential cosine.
    a = assigned.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        norm(F.col(vec_col)).alias("_na"),
        "cluster_id",
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        norm(F.col(vec_col)).alias("_nb"),
        F.col("cluster_id").alias("_cb"),
    )
    # norm>0 guard: a zero vector yields null cosine -> never a dup,
    # matching the Arrow path (numpy path pins its norm to 1 -> cos 0)
    return (
        a.join(b, (a.cluster_id == b._cb) & (F.col("id_a") < F.col("id_b")))
        .withColumn(
            "cos_sim",
            F.when(
                (F.col("_na") > 0) & (F.col("_nb") > 0),
                F.round(
                    dot(F.col("_va"), F.col("_vb"))
                    / (F.col("_na") * F.col("_nb")),
                    sim_decimals,
                ),
            ),
        )
        .filter(F.col("cos_sim") >= F.lit(float(threshold)))
        .select("id_a", "id_b", "cluster_id", "cos_sim")
    )


def semantic_dup_pairs(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_decimals: int = 6,
    use_arrow: bool = True,
    assign_arrow: bool = False,
) -> DataFrame:
    """Within-cluster near-duplicate pairs: (id_a, id_b, cluster_id,
    cos_sim) with id_a < id_b and rounded cos_sim >= threshold — the
    audit surface for ``semantic_dedup`` (see module docstring for the
    two execution paths).

    ``assign_arrow`` swaps the literal-centroid expression assignment
    for the IVF pandas-UDF matmul (similarity._assign_udf): the
    expression path inlines k·dim literals into the plan, which is
    the oracle-exact default at fixture k but detonates codegen at the
    paper's production k ~ 10^4-10^5 (1600 centroids × 64 dims is
    already a ~100k-node expression tree). The UDF path broadcasts the
    centroid matrix once per executor and assigns each Arrow batch
    with one BLAS matmul — the required tier for scaled-k SemDeDup
    (k ~ n/1250 keeps within-cluster pairs linear; measured on the
    scale board). Assignment parity between the two paths is pinned by
    test on separated clusters; exact argmax ties at identical dots
    may differ (both argmaxes are deterministic individually)."""
    if not centroids:
        # the expression path raises this inside cluster_assign; the
        # UDF path would otherwise surface it as a numpy AxisError at
        # batch time — same message, same point of failure
        raise ValueError("centroids must be non-empty")
    if assign_arrow:
        from colnade_spark.operators.similarity import _assign_udf

        assigned = df.select(
            F.col(id_col),
            F.col(vec_col),
            _assign_udf(centroids)(F.col(vec_col))
            .cast("long")
            .alias("cluster_id"),
        )
    else:
        assigned = cluster_assign(df, centroids, vec_col=vec_col).select(
            F.col(id_col), F.col(vec_col), F.col("cluster_id")
        )
    fn = _pairs_arrow if use_arrow else _pairs_expr
    return fn(assigned, threshold, id_col, vec_col, sim_decimals)


def semantic_dedup(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_decimals: int = 6,
    use_arrow: bool = True,
    assign_arrow: bool = False,
) -> DataFrame:
    """Rows of ``df`` that SURVIVE semantic dedup: a row is dropped iff a
    lower-id row in the same cluster has rounded cosine >= threshold.

    Equivalent to keeping the minimum id of every (id_a < id_b)
    duplicate pair's right side out — one anti-join of ids against the
    pair set; full rows come back via the original frame (payloads never
    enter the pairwise exchange). ``assign_arrow``: the large-k
    assignment tier (see ``semantic_dup_pairs``)."""
    dropped = (
        semantic_dup_pairs(
            df,
            centroids,
            threshold,
            id_col,
            vec_col,
            sim_decimals,
            use_arrow,
            assign_arrow,
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return df.join(dropped, id_col, "left_anti")

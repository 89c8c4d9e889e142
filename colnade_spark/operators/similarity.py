"""Similarity search over embedding columns (``array<float>``).

Two paths, as a real 100 TB pipeline needs both:
- ``brute_force_topk``: exact cosine top-k. The query set is broadcast
  (small side), the corpus is scanned once; per-query top-k is taken with a
  window over the query partition. Cost O(|corpus|·|queries|·dim) — the
  correctness baseline and fine for ≤ ~10⁴ queries.
- ``lsh_topk``: random-hyperplane LSH. Each vector gets a b-bit sign
  sketch; candidates are corpus vectors sharing a bucket in any of ``tables``
  independent tables. Turns the cross product into equi-joins on bucket keys
  — the scale path (recall < 1, tunable via bits/tables).

Dot products use ``F.zip_with`` + ``F.aggregate`` in DOUBLE — JVM
built-ins. ``embedding_near_dups`` scores its candidates with
``_cosine_udf`` instead, an Arrow-batched numpy kernel that replays the
same fold order and so returns the same bits as ``cosine``.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL when either vector has zero norm (DuckDB's
    ``x / 0.0``), where a plain divide raises under ANSI mode."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, rank). Self-matches are
    excluded; ties break on neighbor id for determinism."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", cosine(F.col("_qv"), F.col("_cv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _hyperplanes(dim: int, bits: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]


# Fractional-bit cell refinement (round-10 occupancy-stable sizing).
#
# Integer ``bits`` quantizes expected bucket occupancy n/2^bits by 2x:
# under the r7-r9 rule ``bits = ceil(log2 n) - 3`` occupancy oscillates
# in [4, 8) as n crosses powers of two, so per-decade candidate volume
# (∝ n · occupancy) oscillates ABOVE linear on the rising half of the
# sawtooth — SCALEBENCH_r09 measured exactly that (emb_near_dup_multiprobe
# last-decade exponent 1.27 while occupancy rose 6.1 → 7.6). The fix
# keeps sign-LSH semantics but makes the CELL COUNT continuous: generate
# ``lo + 1`` hyperplanes, use the first ``lo`` as the coarse cell, and
# REFINE a deterministic fraction ``p`` of coarse cells by the extra
# plane's sign. Cell count = 2^lo · (1 + p) — any real ≥ 2^lo — so
# ``sized_lsh`` can hold expected occupancy EXACTLY at target for every
# corpus size; per-decade cost is flat by construction.
#
# The refinement decision is a pure function of the coarse cell id
# (splitmix-style multiply, top 53 bits vs floor(p·2^53)), so both
# members of a pair agree on it by construction and the scheme stays a
# partition of sign space into axis-aligned cells. Per-table collision
# probability for a pair with per-plane agreement q interpolates
# GEOMETRICALLY between the integer settings: q^lo · ((1-p) + p·q) —
# strictly better recall than rounding bits UP, strictly fewer
# candidates than rounding DOWN.
_REFINE_MIX = 0x9E3779B97F4A7C15


def refine_key(sig: int, lo: int, refine_frac: float) -> int:
    """Pure-Python twin of the vectorized bucket-key mapping — the
    replayable spec (tests and SQL oracles mirror this): ``sig`` is the
    packed sign sketch over ``lo + 1`` planes; the key is the coarse
    ``lo``-bit cell, or — in the refined fraction of cells — the cell
    split by the extra plane's sign, offset into a disjoint key range."""
    coarse = sig & ((1 << lo) - 1)
    mixed = ((coarse * _REFINE_MIX) % (1 << 64)) >> 11
    if mixed < int(refine_frac * (1 << 53)):
        return (1 << (lo + 1)) + 2 * coarse + ((sig >> lo) & 1)
    return coarse


def _refine_keys_np(lo: int, refine_frac: float):
    """Vectorized ``refine_key`` over an int64 numpy array of packed
    ``lo + 1``-plane sketches (uint64 wrap-around multiply == mod 2^64)."""
    import numpy as np

    mask = np.uint64((1 << lo) - 1)
    mix = np.uint64(_REFINE_MIX)
    thresh = np.uint64(int(refine_frac * (1 << 53)))
    offset = np.uint64(1 << (lo + 1))
    shift = np.uint64(lo)

    def keys(sig):
        u = sig.astype(np.uint64)
        coarse = u & mask
        refined = ((coarse * mix) >> np.uint64(11)) < thresh
        split = offset + (coarse << np.uint64(1)) + ((u >> shift) & np.uint64(1))
        return np.where(refined, split, coarse).astype(np.int64)

    return keys


def sized_lsh(
    n: int, target_occupancy: float = 8.0, min_bits: int = 8
) -> tuple[int, float]:
    """Occupancy-stable LSH sizing: the ``(bits, refine_frac)`` pair for
    ``embedding_near_dups`` that holds expected bucket occupancy at
    EXACTLY ``target_occupancy`` for any corpus size ``n`` (cell count
    ``2^bits · (1 + refine_frac) = n / target_occupancy``) — the
    round-10 replacement for ``bits = ceil(log2 n) - 3``, whose integer
    granularity made per-decade candidate volume oscillate above linear
    (SCALEBENCH_r09: occupancy 6.1 → 7.6 across the last measured
    decade, exponent 1.27). Below ``target_occupancy · 2^min_bits``
    rows the bits floor applies and occupancy sits below target —
    candidate volume is tiny there anyway."""
    if n < 1:
        raise ValueError("sized_lsh: n must be >= 1")
    if target_occupancy <= 0:
        raise ValueError("sized_lsh: target_occupancy must be > 0")
    if min_bits < 1:
        raise ValueError("sized_lsh: min_bits must be >= 1")
    cells = n / target_occupancy
    lo = int(cells).bit_length() - 1 if cells >= 1 else 0
    if lo < min_bits:
        return min_bits, 0.0
    return lo, cells / (1 << lo) - 1.0


def _stack_vectors(s, dim: int):
    """The non-NULL vectors of a pandas UDF batch as a float64
    (rows, dim) matrix, plus their positions in the batch."""
    import numpy as np

    at = np.flatnonzero(s.notna().to_numpy())
    if not len(at):
        return np.empty((0, dim)), at
    return np.vstack(s.to_numpy()[at]).astype(np.float64), at


def _scatter(rows, at, n: int):
    """Per-row results back at their batch positions; NULL elsewhere."""
    import pandas as pd

    out = [None] * n
    for i, row in zip(at, rows):
        out[i] = row
    return pd.Series(out, dtype=object)


def rp_buckets_udf(plane_sets: list[list[list[float]]], refine_frac: float = 0.0):
    """Vectorized multi-table sketching: one Arrow-batched pandas UDF
    computing ALL tables' bucket ids per vector via a single numpy matmul.

    Dense linear algebra is the sanctioned Pandas-UDF case: the interpreted
    higher-order-function fold costs ~60 array traversals per row, while
    (batch × dim) @ (dim × total_bits) is one BLAS call per Arrow batch.
    Returns array<long>, one bucket id per table; NULL for a NULL
    vector, which therefore lands in no bucket.

    With ``refine_frac > 0`` each table's LAST plane is the fractional
    refinement plane (see ``refine_key``): the packed sketch over all
    planes is mapped to the coarse ``len(planes) - 1``-bit cell, split
    by the last plane's sign in the refined fraction of cells.
    ``refine_frac == 0`` is bit-identical to the historical behavior.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if not 0.0 <= refine_frac < 1.0:
        raise ValueError("rp_buckets_udf: refine_frac must be in [0, 1)")
    tables = len(plane_sets)
    bits = len(plane_sets[0])
    stacked = np.asarray(
        [p for planes in plane_sets for p in planes], dtype=np.float64
    ).T  # (dim, tables*bits)
    weights = 1 << np.arange(bits, dtype=np.int64)
    to_keys = _refine_keys_np(bits - 1, refine_frac) if refine_frac else None

    def f(s):
        mat, at = _stack_vectors(s, len(stacked))  # (rows, dim)
        signs = (mat @ stacked) >= 0  # (rows, tables*bits)
        per_table = signs.reshape(len(mat), tables, bits)
        buckets = (per_table * weights).sum(axis=2)  # (rows, tables)
        if to_keys is not None:
            buckets = to_keys(buckets)
        return _scatter(list(buckets), at, len(s))

    # real class annotations: the module-wide `from __future__ import
    # annotations` would stringify inline hints, which pandas_udf can't
    # resolve at decoration time
    f.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(f, "array<long>")


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    bits: int = 12,
    tables: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: int = 0,
) -> DataFrame:
    """Approximate cosine top-k via multi-table random-hyperplane LSH.

    Each of ``tables`` independent sketches maps a vector to a bucket;
    query↔corpus candidates meet via an equi-join on (table, bucket) —
    shuffle is proportional to bucket collisions, not |corpus|×|queries|.

    ``multiprobe`` (the ``ivf_topk`` ``nprobe`` analog for the hash
    tier): each QUERY additionally probes the ``multiprobe``
    lowest-total-margin perturbation buckets — Lv et al. 2007's
    sequence over single AND pair bit flips (``rp_multiprobe_udf``),
    so probes reach neighbors up to two planes away per table — the
    corpus index stays one home bucket per (vector, table), so the
    recall knob costs query-side candidate fanout only, never index
    size. Candidate volume per query scales by ``multiprobe + 1``;
    the result set is a monotone superset of single-probe candidates
    re-ranked by exact cosine."""
    if multiprobe < 0 or multiprobe > _max_multiprobe(bits):
        raise ValueError(
            "lsh_topk: multiprobe must be in [0, bits*(bits+1)/2]"
            " (all perturbation sets of size <= 2)"
        )
    plane_sets = [_hyperplanes(dim, bits, seed + 1000 * t) for t in range(tables)]
    sketch = rp_buckets_udf(plane_sets)

    def bucketed(df: DataFrame, ident: str, vec: str) -> DataFrame:
        return df.select(
            F.col(ident), F.posexplode(sketch(F.col(vec))).alias("tbl", "bkt")
        )

    c = bucketed(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")),
        "neighbor_id",
        "_cv",
    )
    qin = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    if multiprobe:
        mp = rp_multiprobe_udf(plane_sets, multiprobe)
        q = qin.select(
            "query_id", F.posexplode(mp(F.col("_qv"))).alias("tbl", "_bkts")
        ).select("query_id", "tbl", F.explode("_bkts").alias("bkt"))
    else:
        q = bucketed(qin, "query_id", "_qv")
    # Dedupe multi-table collisions on the ID PAIR only (16 bytes through
    # the shuffle), then attach vectors back for scoring — never distinct()
    # on the vector payload itself (at 100 TB that shuffles the embeddings
    # `tables`× over and hashes arrays as group keys).
    pair_ids = (
        c.select("neighbor_id", "tbl", "bkt")
        .join(F.broadcast(q.select("query_id", "tbl", "bkt")), ["tbl", "bkt"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    cand = (
        pair_ids.join(
            corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")),
            "neighbor_id",
        )
        .join(
            F.broadcast(
                queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
            ),
            "query_id",
        )
        .withColumn("sim", cosine(F.col("_qv"), F.col("_cv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _assign_udf(centroids):
    """pandas UDF: nearest-centroid id per vector (one matmul per batch);
    NULL for a NULL vector, which therefore joins no list."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)  # (nlist, dim)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)

    def f(s):
        M, at = _stack_vectors(s, C.shape[1])
        Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        return _scatter((Mn @ Cn.T).argmax(axis=1).tolist(), at, len(s))

    f.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(f, "int")


def _probe_udf(centroids, nprobe: int):
    """pandas UDF: the ``nprobe`` nearest centroid ids per vector
    (array<int>), one matmul per Arrow batch — the distributed twin of
    ``_assign_udf`` for the query side. NULL for a NULL vector, which
    therefore probes no list."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)

    def f(s):
        M, at = _stack_vectors(s, C.shape[1])
        Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        top = np.argsort(-(Mn @ Cn.T), axis=1)[:, :nprobe].astype("int32")
        return _scatter(list(top), at, len(s))

    f.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(f, "array<int>")


def train_ivf_centroids(
    corpus: DataFrame,
    nlist: int = 16,
    dim: int | None = None,
    iters: int = 5,
    sample_n: int = 2048,
    seed: int = 42,
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Tiny spherical k-means on a driver-side sample — the coarse
    quantizer for IVF. At 100 TB you train on a bounded sample regardless
    of corpus size (standard practice), so the driver-side fit is sound;
    assignment (the full-data pass) stays distributed."""
    import numpy as np

    # Bounded sample WITHOUT a global rand() sort: a count (metadata-cheap,
    # column-pruned) picks a Bernoulli fraction, sample() filters at scan
    # speed, limit() bounds the driver transfer. Ordering 100 TB by rand()
    # just to take 2048 rows would pay a full sample-sort; this plan never
    # sorts. Deterministic per (seed, data layout) like the previous form.
    n = corpus.count()
    vecs = corpus.select(vec_col)
    if n > sample_n:
        frac = min(1.0, 2.0 * sample_n / n)  # 2× oversample vs binomial dip
        vecs = vecs.sample(fraction=frac, seed=seed).limit(sample_n)
    rows = vecs.collect()
    X = np.asarray([r[0] for r in rows], dtype=np.float64)
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    C = Xn[rng.choice(len(Xn), size=min(nlist, len(Xn)), replace=False)]
    for _ in range(iters):
        assign = (Xn @ C.T).argmax(axis=1)
        for j in range(len(C)):
            members = Xn[assign == j]
            if len(members):
                m = members.mean(axis=0)
                C[j] = m / max(np.linalg.norm(m), 1e-12)
    return C.tolist()


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors are bucketed by nearest
    centroid (ONE int per vector); each query probes its ``nprobe`` nearest
    lists. Candidate volume is |corpus|·nprobe/nlist per query instead of
    |corpus| — the structured-pruning alternative to hash-based LSH.
    """
    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, nlist=nlist, seed=seed, vec_col=vec_col
        )
    assign = _assign_udf(centroids)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        assign(F.col(vec_col)).alias("_list"),
    )

    # query-side probe lists: nprobe nearest centroids, assigned
    # DISTRIBUTEDLY by the same pandas-UDF matmul pattern as the corpus
    # side (top-nprobe variant) + explode — no driver-side collect, so the
    # query side can itself be a table at scale. query_id keeps its native
    # type (string ids work; nothing is hardcoded to long).
    probe = _probe_udf(centroids, nprobe)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        F.explode(probe(F.col(vec_col))).alias("_list"),
    )
    cand = (
        c.join(F.broadcast(q), "_list")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", cosine(F.col("_qv"), F.col("_cv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def embedding_near_dups(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    bits: int = 12,
    tables: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = None,
    multiprobe: int = 0,
    refine_frac: float = 0.0,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥
    threshold), candidates via the same multi-table RP-LSH bucketing.

    Scoring runs IN the bucket meeting join: vectors ride the bucket
    rows, every meeting is scored by ``_cosine_udf`` on the join output,
    and only the pairs at or above the threshold reach the ``distinct``.
    Scoring after a pair-id ``distinct`` would instead drag a vector per
    PAIR through an id-keyed exchange, the operator's dominant shuffle
    term once cells are sized (2M vectors: ~9 GB/rep total shuffle
    in-join against 16.7 GB/rep). Duplicate meetings of a pair are scored
    redundantly and collapse in the ``distinct``, because the kernel is
    batch-independent and symmetric in its arguments. ``cos_sim`` is
    bit-identical to ``cosine`` on the same pair; a zero-norm vector has
    no cosine, so it meets nothing, and a NULL vector gets no buckets.

    SIZE THE CELLS WITH THE CORPUS: candidate pairs grow as
    ``tables · n² / cells``, so a ``bits`` that worked at 2k vectors
    detonates at 200k — the round-7 scale board measured exactly this
    (fixed bits=8 at 200k vectors ≈ 312M candidate id pairs,
    spill-to-disk-full). Use ``sized_lsh(n)`` for the production
    ``(bits, refine_frac)``: it holds expected bucket occupancy EXACTLY
    at target (default 8) by refining a deterministic fraction of the
    2^bits coarse cells with one extra hyperplane — cell count
    ``2^bits · (1 + refine_frac)``, continuous in n, so per-decade
    candidate volume stays flat instead of oscillating with the integer
    bits step (the r9 board's 1.27 last-decade exponent under
    ``bits = ceil(log2 n) - 3``). Add tables or multiprobe to buy back
    the per-table recall lost to finer cells. Identical vectors collide
    at EVERY cell sizing (recall 1.0 on exact dups).

    ``multiprobe`` buys recall back WITHOUT coarsening the buckets (Lv
    et al. 2007's perturbation sequences, sets of size <= 2): besides
    its home bucket, every vector also PROBES the ``multiprobe``
    buckets whose perturbation sets have the lowest total |margin| —
    single flips AND pair flips of the planes it sits closest to,
    exactly the cells a near-neighbor most likely landed in (pair sets
    reach the neighbors the single-flip variant structurally missed) —
    and a candidate pair is any (probe, home) bucket meeting. Storage
    stays one home bucket per (vector, table); cost stays LINEAR in n
    for sized bits (round-8 board: exponent 0.89 at 5M docs) with a
    constant of roughly (1 + 2·multiprobe)× single-probe join volume:
    flip meetings are asymmetric and must be kept in both directions,
    but home-home meetings keep the single-probe l < r shortcut (a
    probe row knows whether it is the home slot), and probe buckets
    deliberately land in the dense neighboring cells — that IS the
    recall mechanism. Still cheaper than the 2× PER BIT of lowering
    ``bits``. Recall is
    monotone: every single-probe pair is a multiprobe pair by
    construction (home-home meetings survive; pinned by test).

    ``max_bucket`` is the skew guard for real (clustered) data, where a
    dense region can overflow any uniform sizing rule: buckets holding
    more than ``max_bucket`` ids are DROPPED before the self-join —
    an oversized bucket means the hash carries no discriminating
    information there, and its members almost certainly meet through
    their other ``tables - 1`` sketches. Documented recall trade-off:
    a pair whose EVERY shared bucket is oversized is missed (pinned by
    test); None (default) disables the guard. Occupancy is counted on
    HOME buckets (the stored side) and oversized buckets are dropped
    from both sides — probes into a dropped bucket would meet the very
    crowd the guard exists to skip."""
    if not 0.0 <= refine_frac < 1.0:
        raise ValueError(
            "embedding_near_dups: refine_frac must be in [0, 1)"
        )
    # one extra plane per table carries the fractional refinement; the
    # first `bits` planes are IDENTICAL to the refine_frac=0 planes
    # (same rng stream), so the coarse cell structure is shared
    nplanes = bits + 1 if refine_frac else bits
    if multiprobe < 0 or multiprobe > _max_multiprobe(nplanes):
        raise ValueError(
            "embedding_near_dups: multiprobe must be in"
            " [0, p*(p+1)/2] over the p flippable planes"
            " (all perturbation sets of size <= 2)"
        )
    plane_sets = [
        _hyperplanes(dim, nplanes, seed + 1000 * t) for t in range(tables)
    ]
    # the vector rides the bucket rows so the meeting join can score
    # without a later per-pair vector attach (see docstring)
    if multiprobe:
        sketch = rp_multiprobe_udf(plane_sets, multiprobe, refine_frac)
        raw = df.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
            F.posexplode(sketch(F.col(vec_col))).alias("tbl", "_bkts"),
        )
        # stored side: home bucket only (element 1); probe side: home +
        # the flip variants. localCheckpoint is NOT needed — both frames
        # are projections of one exchange-free scan.
        b = raw.select(
            "_id", "_v", "tbl", F.element_at(F.col("_bkts"), 1).alias("bkt")
        )
        probe = raw.select(
            "_id", "_v", "tbl",
            F.posexplode(F.col("_bkts")).alias("_pi", "bkt"),
        ).select(
            "_id", "_v", "tbl", "bkt", (F.col("_pi") == 0).alias("_home")
        )
    else:
        sketch = rp_buckets_udf(plane_sets, refine_frac)
        b = df.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
            F.posexplode(sketch(F.col(vec_col))).alias("tbl", "bkt"),
        )
        probe = b
    if max_bucket is not None:
        if max_bucket < 2:
            raise ValueError("embedding_near_dups: max_bucket must be >= 2")
        # ids-only count per (table, bucket) of HOME occupancy; the
        # anti-join drops the non-discriminative buckets before any
        # pair is formed (from the probe side too — see docstring)
        big = (
            b.groupBy("tbl", "bkt")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_bucket)
            .select("tbl", "bkt")
        )
        b = b.join(F.broadcast(big), ["tbl", "bkt"], "left_anti")
        probe = (
            probe.join(F.broadcast(big), ["tbl", "bkt"], "left_anti")
            if multiprobe
            else b
        )
    if multiprobe:
        # probe×home meetings: a FLIP meeting is asymmetric (a's flip
        # may hit b's home without the reverse), so those canonicalize
        # with least/greatest; a HOME-home meeting is symmetric and
        # would otherwise be produced in BOTH directions, so the probe
        # row's home slot keeps the single-probe l < r shortcut —
        # halving the join output for the dominant meeting kind while
        # changing nothing after the distinct (pinned by test)
        l, r = probe.alias("l"), b.alias("r")
        pair = F.when(
            F.col("l._home"),
            F.col("l._id") < F.col("r._id"),
        ).otherwise(F.col("l._id") != F.col("r._id"))
    else:
        l, r = b.alias("l"), b.alias("r")
        pair = F.col("l._id") < F.col("r._id")
    cond = (
        (F.col("l.tbl") == F.col("r.tbl"))
        & (F.col("l.bkt") == F.col("r.bkt"))
        & pair
    )
    # every meeting is scored on the join output and only threshold
    # survivors reach the distinct; duplicate meetings of a pair emit
    # the identical (id_a, id_b, cos_sim) row because the kernel is
    # batch-independent and bit-symmetric in its arguments
    return (
        l.join(r, cond)
        .select(
            F.least(F.col("l._id"), F.col("r._id")).alias("id_a"),
            F.greatest(F.col("l._id"), F.col("r._id")).alias("id_b"),
            _cosine_udf()(F.col("l._v"), F.col("r._v")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
        .distinct()
    )


def _cosine_udf():
    """Arrow-batched pairwise cosine in ``cosine``'s own fold order: one
    column-at-a-time accumulation per Arrow batch (``acc + a_j * b_j``
    from 0.0, then sqrt, multiply, divide) instead of three interpreted
    HOF folds per pair, which never enter whole-stage codegen. Every
    step is the same IEEE double operation in the same order, so the
    result is bit-identical to ``cosine`` (a BLAS dot sums in a
    different order and differs in the last ulp); NULL where the norm
    product is 0, as ``cosine``."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def fold_dot(a, b):
        acc = np.zeros(len(a))
        for j in range(a.shape[1]):
            acc = acc + a[:, j] * b[:, j]
        return acc

    def f(va, vb):
        a = np.vstack(va.to_numpy()).astype(np.float64)
        b = np.vstack(vb.to_numpy()).astype(np.float64)
        den = np.sqrt(fold_dot(a, a)) * np.sqrt(fold_dot(b, b))
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = fold_dot(a, b) / den
        # NaN becomes NULL on the way back to Arrow
        return pd.Series(np.where(den == 0, np.nan, cos))

    f.__annotations__ = {"va": pd.Series, "vb": pd.Series, "return": pd.Series}
    # nondeterministic marking is a pure OPTIMIZER fence: the threshold
    # filter sits directly on this UDF's output, and a deterministic
    # expression gets duplicated into the pushed-down filter — two
    # ArrowEvalPython nodes scoring every candidate twice (observed in
    # the physical plan). The function is in fact deterministic (per-row,
    # batch-independent), so results are unchanged; the fence just keeps
    # one evaluation feeding both the filter and the output.
    return pandas_udf(f, "double").asNondeterministic()


def _max_multiprobe(bits: int) -> int:
    """Number of distinct perturbation sets of size <= 2 over ``bits``
    planes — the upper bound of the ``multiprobe`` knob."""
    return bits * (bits + 1) // 2


def rp_multiprobe_udf(
    plane_sets: list[list[list[float]]],
    multiprobe: int,
    refine_frac: float = 0.0,
):
    """Vectorized multiprobe sketching via Lv et al. 2007's perturbation
    SEQUENCES, truncated to sets of size <= 2: per (vector, table), the
    home bucket FIRST, then the ``multiprobe`` buckets obtained by
    XOR-ing the perturbation sets with the lowest total |projection|
    margin — single-bit flips AND pair flips, ranked together by
    summed margin, so a probe list of length T is exactly the T most
    likely neighboring cells among all <= 2-bit perturbations. Size-2
    sets are what the single-flip variant structurally cannot reach:
    a true neighbor whose sketch differs in two low-margin planes of
    EVERY table (the measured 0.73 recall ceiling on spread clusters)
    is recovered here, while sets of size >= 3 are both exponentially
    less likely to be needed (each extra flipped plane multiplies the
    cell's collision probability down) and excluded from the top of
    Lv's query-directed sequence until T is far beyond practical probe
    budgets — the standard truncation.

    The sequence is EXACT for its size class: scores are computed for
    every single flip and every pair within the ``T + 1`` lowest-margin
    planes — enough that no top-T set can involve a plane outside the
    pool (a pair whose higher index is ``j`` is dominated by the ``j``
    singles below it and the ``j - 1`` pairs through the minimum-margin
    plane). Ordering ties break deterministically: singles before
    pairs, then lower sorted-margin position (stable argsort over a
    fixed candidate layout).

    For ``multiprobe <= 2`` the output is IDENTICAL to the historical
    single-flip variant: the two cheapest sets are always ``{0}`` and
    ``{1}`` in sorted-margin order, because any pair's score is at
    least the larger member's single score.

    Returns ``array<array<long>>``, one ``multiprobe + 1``-long bucket
    list per table; element 1 is always the home bucket
    ``rp_buckets_udf`` would emit. NULL for a NULL vector. Same BLAS shape as the single-probe
    UDF — one (batch × dim) @ (dim × tables·bits) matmul per Arrow
    batch plus argsorts over the ``O(bits + T²)``-wide candidate pool.

    With ``refine_frac > 0`` the last plane is the fractional
    refinement plane (see ``rp_buckets_udf``): perturbation sets range
    over ALL planes (flipping the refinement plane probes the sibling
    half of a refined cell) and every probe's PERTURBED sketch is
    mapped through ``refine_key``, so a probe lands exactly where the
    perturbed neighbor's home would be. In an unrefined cell a
    refinement-plane flip maps to the same key as its home — a wasted
    probe slot, deduped by the candidate join's ``distinct``.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if not 0.0 <= refine_frac < 1.0:
        raise ValueError("rp_multiprobe_udf: refine_frac must be in [0, 1)")
    tables = len(plane_sets)
    bits = len(plane_sets[0])
    stacked = np.asarray(
        [p for planes in plane_sets for p in planes], dtype=np.float64
    ).T  # (dim, tables*bits)
    weights = 1 << np.arange(bits, dtype=np.int64)
    m = multiprobe
    # pair pool: both members within the (m + 1) lowest-margin sorted
    # positions — sufficient for an exact top-m over size <= 2 sets
    # (see docstring); lexicographic (i, j) layout for stable ties
    P = min(bits, m + 1)
    pair_i = np.asarray(
        [i for i in range(P) for _ in range(i + 1, P)], dtype=np.int64
    )
    pair_j = np.asarray(
        [j for i in range(P) for j in range(i + 1, P)], dtype=np.int64
    )
    to_keys = _refine_keys_np(bits - 1, refine_frac) if refine_frac else None

    def f(s):
        mat, at = _stack_vectors(s, len(stacked))  # (rows, dim)
        proj = mat @ stacked  # (rows, tables*bits)
        per = (proj >= 0).reshape(len(mat), tables, bits)
        home = (per * weights).sum(axis=2)  # (batch, tables)
        margins = np.abs(proj).reshape(len(mat), tables, bits)
        order = np.argsort(margins, axis=2, kind="stable")
        sortedm = np.take_along_axis(margins, order, axis=2)
        masks = weights[order]  # (batch, tables, bits) single-flip masks
        if len(pair_i):
            scores = np.concatenate(
                [sortedm, sortedm[:, :, pair_i] + sortedm[:, :, pair_j]],
                axis=2,
            )
            cmasks = np.concatenate(
                [masks, masks[:, :, pair_i] ^ masks[:, :, pair_j]], axis=2
            )
        else:
            scores, cmasks = sortedm, masks
        top = np.argsort(scores, axis=2, kind="stable")[:, :, :m]
        flips = home[:, :, None] ^ np.take_along_axis(cmasks, top, axis=2)
        out = np.concatenate([home[:, :, None], flips], axis=2)
        if to_keys is not None:
            out = to_keys(out)
        return _scatter([row.tolist() for row in out], at, len(s))

    f.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(f, "array<array<long>>")


def recall_at_k(
    approx: DataFrame,
    exact: DataFrame,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
) -> DataFrame:
    """Per-query recall of an approximate top-k result against the exact
    one: |approx ∩ exact| / |exact| — the standard ANN quality audit
    (run it on a sampled query set whenever index parameters change).

    Inputs are any two (query, neighbor) tables, e.g. lsh/ivf/pq_topk vs
    brute_force_topk. Queries absent from ``approx`` (an index that
    returned nothing) count as recall 0.0, not missing rows.

    Scale shape: both sides are top-k outputs — k rows per query, tiny
    next to the corpus — so the intersection is one query-keyed join of
    id pairs and one aggregation; nothing here touches vectors."""
    # recall is a SET metric: distinct both sides so duplicate (query,
    # neighbor) rows in either input can neither fan out the join nor
    # double-count (the contract is "any two (query, neighbor) tables",
    # not just well-formed top-k outputs)
    ex = exact.select(
        F.col(query_col).alias("_q"), F.col(neighbor_col).alias("_n")
    ).distinct()
    ap = (
        approx.select(
            F.col(query_col).alias("_q"), F.col(neighbor_col).alias("_n")
        )
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    joined = ex.join(ap, ["_q", "_n"], "left")
    return (
        joined.groupBy("_q")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.count("_hit").cast("long").alias("n_hit"),
        )
        .select(
            F.col("_q").alias(query_col),
            "n_exact",
            "n_hit",
            (F.col("n_hit") / F.col("n_exact")).alias("recall"),
        )
    )

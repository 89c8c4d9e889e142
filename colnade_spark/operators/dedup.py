"""Deduplication operators: exact, fingerprint, MinHash+LSH, SimHash,
n-gram Jaccard.

Design for 100 TB (the whole point of these ops):
- Exact / fingerprint dedup: hash-groupBy on a 128-bit digest — one shuffle
  keyed on the digest, never on raw text (shuffle bytes ∝ 16B + id, not
  document size).
- MinHash: signatures are computed SCAN-SIDE with built-in higher-order
  functions (xxhash64 + universal rehash + array_min) — zero Python, zero
  shuffle. LSH banding turns the O(n²) pair problem into a self-join on
  (band_idx, band_hash) — candidate pairs only.
- SimHash: 64-bit sketch via bit-bucket majority, also pure built-ins;
  near-dup blocking via 4×16-bit chunk tables (any chunk equal → candidate,
  guaranteeing recall for hamming distance ≤ 3... at ≤ 4-chunk granularity).
- "Dedup" = drop any doc that has a confirmed smaller-id duplicate — the
  standard single-pass policy (no transitive closure; chains are handled by
  repeated application or a connected-components pass, deliberately out of
  the default path because CC is iterative).
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from colnade_spark.operators.skew import full_shuffle_width
from colnade_spark.operators.text import char_ngrams, fingerprint, normalized_text, tokens

# Mersenne prime 2^61-1: universal-hash modulus, products of 61-bit values
# stay within signed-128 ... we keep arithmetic in long via pmod of xxhash64.
_PRIME = (1 << 61) - 1


def dedup_exact(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup on text content: keep the smallest id per md5 digest.

    Returns the surviving ids (one column, ``id_col``). Group key is the
    16-byte digest, not the document — shuffle volume is O(rows·16B).
    """
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("_digest"))
        .groupBy("_digest")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )


def dedup_fingerprint(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Near-exact dedup on the normalized-text fingerprint (case /
    punctuation / whitespace insensitive)."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("_fp"))
        .groupBy("_fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )


def _minhash_full_udf(num_hashes: int, shingle_k: int, seed: int):
    """Fully-vectorized signature: normalized text in → array<long> out.

    Per Arrow batch: bytes → sliding k-byte windows → polynomial hash →
    murmur-style mix → np.unique (distinct shingles) → (num_hashes × m)
    affine rehash broadcast → column min. The normalized text is ASCII by
    construction (normalized_text strips to [a-z0-9 ]), so byte windows ==
    char shingles exactly.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    rng = random.Random(seed)
    A = np.array(
        [rng.randrange(1, 1 << 62) | 1 for _ in range(num_hashes)], dtype=np.uint64
    ).reshape(-1, 1)
    B = np.array(
        [rng.randrange(1 << 62) for _ in range(num_hashes)], dtype=np.uint64
    ).reshape(-1, 1)
    C = np.uint64(0xFF51AFD7ED558CCD)
    P = np.uint64(1099511628211)  # FNV-ish odd multiplier
    powers = (P ** np.arange(shingle_k - 1, -1, -1, dtype=np.uint64)).reshape(-1, 1)

    def f(s):
        out = []
        win = np.lib.stride_tricks.sliding_window_view
        with np.errstate(over="ignore"):
            for text in s:
                b = np.frombuffer((text or "").encode("utf-8"), dtype=np.uint8)
                if b.size < shingle_k:
                    h = np.zeros(1, dtype=np.uint64)
                else:
                    w = win(b, shingle_k).astype(np.uint64)  # (m, k)
                    h = w @ powers[:, 0]  # polynomial hash, wraps mod 2^64
                    h ^= h >> np.uint64(33)
                    h *= C
                    h ^= h >> np.uint64(29)
                    h = np.unique(h)  # distinct shingle set
                y = A * h[None, :] + B
                y ^= y >> np.uint64(33)
                y *= C
                y ^= y >> np.uint64(29)
                out.append(y.min(axis=1).view(np.int64))
        return pd.Series(out)

    f.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(f, "array<long>")


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_k: int = 5,
    seed: int = 42,
    impl: str = "vectorized",
) -> DataFrame:
    """Append ``_sig``: array<long> MinHash signature of the char-k-shingle
    set.

    Entirely scan-side built-ins: shingles → one xxhash64 per shingle →
    ``num_hashes`` seeded rehashes (xxhash64 of the shingle hash + a per-
    function salt) reduced with array_min. No UDF, no shuffle, and no
    overflow under ANSI mode (a modular universal hash a·h+b mod p would
    overflow signed-64 multiply).
    """
    if impl == "vectorized":
        # normalization (regex) stays JVM-side; everything downstream of the
        # normalized string — shingling, hashing, distinct, rehash, min —
        # runs in one numpy pass per Arrow batch. Transfers the ~1.5 KB
        # string per doc instead of a ~12 KB hash array.
        staged = df.withColumn("_mh_norm", normalized_text(F.col(text_col)))
        # a small input (fewer splits than cores) would run the signature
        # UDF on 1-2 tasks; spread it. At real scale inputs have thousands
        # of splits and this branch never fires — no extra shuffle.
        # few_input_splits: streaming-safe and milliseconds (the .rdd
        # partition probe ran the whole planner on a throwaway plan —
        # ~1 s of driver time per bench rep)
        from colnade_spark.operators.skew import few_input_splits

        if few_input_splits(df):
            staged = staged.repartition(
                df.sparkSession.sparkContext.defaultParallelism
            )
        sig = _minhash_full_udf(num_hashes, shingle_k, seed)(F.col("_mh_norm"))
        return staged.withColumn("_sig", sig).drop("_mh_norm")

    # pure built-ins (zero Python), ~10× slower at num_hashes=64.
    # Staged projections, NOT one inlined expression: an outer-scope
    # expression referenced inside a higher-order-function lambda is
    # re-evaluated PER ARRAY ELEMENT (the normalized-text regexes would run
    # |shingles| × num_hashes times per row — measured 60×+ slowdown).
    # Materializing each stage as a column keeps every stage once-per-row;
    # the rehash lambdas below then only touch the small hash array.
    rng = random.Random(seed)
    salts = [rng.randrange(1 << 31) for _ in range(num_hashes)]
    staged = (
        df.withColumn("_mh_norm", normalized_text(F.col(text_col)))
        .withColumn("_mh_grams", F.array_distinct(char_ngrams(F.col("_mh_norm"), shingle_k)))
        .withColumn("_mh_raw", F.transform(F.col("_mh_grams"), lambda s: F.xxhash64(s)))
        .withColumn(
            "_mh_h",
            F.when(F.size(F.col("_mh_raw")) > 0, F.col("_mh_raw")).otherwise(
                F.array(F.lit(0).cast("long"))
            ),
        )
    )

    def rehash(salt: int):
        # single-arg lambda required: pyspark treats 2-arg lambdas as
        # (element, index) callbacks, which would silently drop the salt
        return lambda h: F.xxhash64(h, F.lit(salt))

    sig = F.array(
        *[F.array_min(F.transform(F.col("_mh_h"), rehash(s))) for s in salts]
    )
    return staged.withColumn("_sig", sig).drop(
        "_mh_norm", "_mh_grams", "_mh_raw", "_mh_h"
    )


def _band_array_sql(bands: int, rows: int) -> str:
    """The LSH band array as ONE SQL expression string:
    ``array(named_struct('band', <i>, 'bhash', xxhash64(cast(slice(_sig,
    off, rows) as string))), ...)``. Parsed in a single py4j call; the
    element-wise ``F.struct``/``F.xxhash64``/``F.slice`` form costs one
    round-trip per sub-expression × bands on EVERY plan build (the
    litutil lesson applied to expression trees — values and plan are
    identical, only driver-side construction time drops)."""
    parts = ",".join(
        f"named_struct('band', {bi}, 'bhash', xxhash64(cast("
        f"slice(_sig, {bi * rows + 1}, {rows}) as string)))"
        for bi in range(bands)
    )
    return f"array({parts})"


def _sig_barrier(sig_df: DataFrame, id_col: str) -> DataFrame:
    """The signature-frame materialization barrier used by the banding
    operators. Two modes:

    - default: ``repartition(id)`` — the signatures compute once at the
      shuffle write and the banding / join-back consumers share the
      exchange via ReuseExchange. Caveat measured in round 10: whenever
      AQE plants a per-consumer BroadcastExchange above it, exchange
      reuse dies and the sketch UDF re-runs per consumer — hidden on an
      idle local box (the recomputes run as concurrent stages), NOT
      hidden on a saturated cluster.
    - ``SPARK_GRAFT_SIG_STORE=parquet``: write the ids+sig frame to a
      per-run scratch parquet (columnar, prunable — unlike
      localCheckpoint's row-format ExistingRDD, which round 10 measured
      at 2-6x the cost of recompute) and read it back; every consumer
      then scans the 2-column file instead of re-running the sketch.
      The scratch path is unique per call (per-run, inside the timed
      query — nothing persists across runs) under the JVM's
      io.tmpdir."""
    import os as _os

    projected = sig_df.select(id_col, "_sig")
    if _os.environ.get("SPARK_GRAFT_SIG_STORE", "") == "parquet":
        import uuid as _uuid
        import tempfile as _tempfile

        path = _os.path.join(
            _tempfile.gettempdir(),
            "colnade_sig_store",
            _uuid.uuid4().hex,
        )
        projected.write.mode("overwrite").parquet(path)
        _sig_store_cleanup_register(path)
        from colnade_spark.io import read_parquet_table

        return read_parquet_table(path, sig_df.sparkSession)
    return projected.repartition(F.col(id_col))


_SIG_STORE_PATHS: list[str] = []


def _sig_store_cleanup_register(path: str) -> None:
    """Best-effort scratch cleanup at interpreter exit (a 5M-doc sig
    frame is ~1 GB per materialization; a long session would otherwise
    accumulate them in tmp). atexit runs after every consumer job has
    finished, so the lazy readers are safe."""
    if not _SIG_STORE_PATHS:
        import atexit
        import shutil

        def _cleanup() -> None:
            for p in _SIG_STORE_PATHS:
                shutil.rmtree(p, ignore_errors=True)

        atexit.register(_cleanup)
    _SIG_STORE_PATHS.append(path)


def minhash_candidate_pairs(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """LSH banding: split each signature into ``bands`` bands of
    ``num_hashes/bands`` rows; docs sharing any band hash become candidate
    pairs (id_a < id_b), each with the signature-estimated Jaccard.

    The self-join shuffles on (band_idx, band_hash) — matching docs
    co-locate; non-matching docs never meet.
    """
    rows = num_hashes // bands
    # Materialization barrier: the signature projection is expensive
    # (num_hashes × shingles hash evaluations per doc). Without an exchange,
    # Catalyst inlines it into every band row (×bands) on BOTH sides of the
    # self-join (×2) — a 2·bands× recompute. The repartition forces the
    # signatures to be computed exactly once at shuffle write; the banding
    # and join-back branches then share it via ReuseExchange. (Opt-in
    # alternative for saturated clusters: _sig_barrier's parquet store.)
    sig_df = _sig_barrier(sig_df, id_col)
    # Candidate generation runs on (id, band, bhash) rows ONLY — 24 bytes
    # through the self-join instead of the ~num_hashes·8B signature
    # duplicated onto every band row of both sides. Common-vocabulary
    # corpora produce hot buckets (hundreds of docs sharing one band hash),
    # so the join output can be ~100× the doc count; keeping payloads out
    # of it is the difference between shuffling MBs and GBs. Pairs matching
    # in multiple bands collapse via distinct() BEFORE any scoring, then
    # the signatures join back once per UNIQUE pair for the estimate
    # (same pattern as lsh_topk / ngram sketch prefilter).
    # one parsed SQL expression for the band array — the element-wise
    # F.struct/F.xxhash64/F.slice form costs a py4j round-trip per
    # sub-expression × bands on every plan build (see overlap_band_keys)
    banded = sig_df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.expr(_band_array_sql(bands, rows))).alias("bb"),
    ).select("_id", F.col("bb.band").alias("band"), F.col("bb.bhash").alias("bhash"))
    left = banded.alias("l")
    right = banded.alias("r")
    pair_ids = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bhash") == F.col("r.bhash"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .distinct()
    )
    # join the signatures back (plain equi-joins on id — at corpus scale
    # these are shuffle joins co-partitioned with the barrier above; AQE
    # broadcasts the sig side when it is small enough)
    sa = sig_df.select(F.col(id_col).alias("id_a"), F.col("_sig").alias("_sa"))
    sb = sig_df.select(F.col(id_col).alias("id_b"), F.col("_sig").alias("_sb"))
    est = (
        F.aggregate(
            F.zip_with(
                F.col("_sa"), F.col("_sb"), lambda a, b: F.when(a == b, 1).otherwise(0)
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        ).cast("double")
        / F.lit(num_hashes)
    )
    return (
        pair_ids.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", est.alias("est_jaccard"))
    )


def minhash_cross_pairs(
    sig_new: DataFrame,
    sig_old: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 96,
    bands: int = 16,
) -> DataFrame:
    """LSH candidate pairs BETWEEN two signature tables (a new batch vs
    an existing corpus): ``(id_new, id_old, est_jaccard)``.

    Same sketch-only shape as the self-join variant: band rows carry
    (id, band, bhash) only, pairs dedupe before the signatures join back
    once per unique pair. At 100 TB the corpus side's banded rows are a
    stable precomputable table — incremental ingest only shuffles the new
    batch's bands against it.

    The old side is consumed TWICE (banding + signature join-back) and is
    deliberately NOT barriered here: the maintainer path feeds a
    parquet-backed store, where re-scanning two narrow columns is cheaper
    than an extra full shuffle. Callers that compute ``sig_old`` inline
    (so each consumption would re-run the sketch) should materialize it
    themselves — ``.repartition(id_col)`` (shared via ReuseExchange) or a
    localCheckpoint."""
    rows = num_hashes // bands

    def _banded(sig_df: DataFrame, out_id: str) -> DataFrame:
        return sig_df.select(
            F.col(id_col).alias(out_id),
            F.explode(F.expr(_band_array_sql(bands, rows))).alias("bb"),
        ).select(out_id, F.col("bb.band").alias("band"), F.col("bb.bhash").alias("bhash"))

    sig_new = sig_new.select(id_col, "_sig").repartition(F.col(id_col))
    sig_old = sig_old.select(id_col, "_sig")
    pair_ids = (
        _banded(sig_new, "id_new")
        .join(_banded(sig_old, "id_old"), ["band", "bhash"])
        .select("id_new", "id_old")
        .distinct()
    )
    sa = sig_new.select(F.col(id_col).alias("id_new"), F.col("_sig").alias("_sa"))
    sb = sig_old.select(F.col(id_col).alias("id_old"), F.col("_sig").alias("_sb"))
    est = (
        F.aggregate(
            F.zip_with(
                F.col("_sa"), F.col("_sb"), lambda a, b: F.when(a == b, 1).otherwise(0)
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        ).cast("double")
        / F.lit(num_hashes)
    )
    return (
        pair_ids.join(sa, "id_new")
        .join(sb, "id_old")
        .select("id_new", "id_old", est.alias("est_jaccard"))
    )


def _minhash_drop_ids(
    sigs: DataFrame,
    corpus_sigs: DataFrame | None,
    id_col: str,
    threshold: float,
    num_hashes: int,
    bands: int,
) -> DataFrame:
    """THE incremental gating policy, defined once: ids of ``sigs`` rows
    with an est-Jaccard ≥ threshold match in ``corpus_sigs`` (any id) or
    a smaller-id match within ``sigs`` itself. Consumed by both the
    batch operator (``dedup_minhash_incremental``) and the streaming
    maintainer (``maintain_minhash_dedup``) so the two can never drift —
    their equivalence is also pinned by test."""
    dup_within = (
        minhash_candidate_pairs(sigs, id_col, num_hashes, bands)
        .filter(F.col("est_jaccard") >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    if corpus_sigs is None:
        return dup_within
    vs_corpus = (
        minhash_cross_pairs(sigs, corpus_sigs, id_col, num_hashes, bands)
        .filter(F.col("est_jaccard") >= threshold)
        .select(F.col("id_new").alias(id_col))
        .distinct()
    )
    return vs_corpus.unionByName(dup_within)


def dedup_minhash_incremental(
    new_df: DataFrame,
    corpus_sigs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 96,
    bands: int = 16,
    shingle_k: int = 5,
    seed: int = 42,
) -> DataFrame:
    """Continuous-ingest near-dedup: from a NEW batch, keep ids that are
    (a) not near-duplicates of the EXISTING corpus (``corpus_sigs`` =
    persisted ``minhash_signatures`` output, same parameters) and
    (b) not near-duplicates of a smaller id within the batch itself.

    Returns ``(id, _sig)`` for the survivors so the caller can append
    them to the signature store — the corpus is never re-sketched.
    Assumes unique ids within the batch (the minhash family contract);
    the streaming maintainer adds the duplicate-id guard at its
    ingestion boundary."""
    sigs = minhash_signatures(new_df, id_col, text_col, num_hashes, shingle_k, seed)
    drop = _minhash_drop_ids(
        sigs, corpus_sigs, id_col, threshold, num_hashes, bands
    )
    return sigs.select(id_col, "_sig").join(drop, id_col, "left_anti")


def novelty_scores(
    new_df: DataFrame,
    corpus_sigs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 96,
    bands: int = 16,
    shingle_k: int = 5,
    seed: int = 42,
) -> DataFrame:
    """Graded per-doc novelty against an existing corpus — the scoring
    twin of ``dedup_minhash_incremental``'s binary gate: for every new
    doc, the MAX signature-estimated Jaccard against any corpus doc the
    LSH banding surfaces, and ``novelty = 1 − max_est_jaccard``. Docs
    with no banded corpus candidate score novelty 1.0 (the banding's
    contract: a pair it misses has est-J below the band's sensitivity
    with high probability, so "no candidate" IS the evidence of novelty).

    Use: novelty-weighted curation/mixing (upweight genuinely new
    material instead of binary-dropping near-dups — pair with
    ``sampling.weighted_sample`` or ``importance.gumbel_topk``), and
    ingest monitoring (a falling corpus-level novelty histogram means the
    feed is recycling its own tail).

    Columns: ``(id, max_est_jaccard, novelty)``. ``max_est_jaccard`` is
    a max over exact ``matches/num_hashes`` divisions, so the output is
    SQL-replayable bit-exactly. Assumes unique ids within the new batch
    (the minhash family contract — see ``dedup_minhash_incremental``).

    Scale: identical movement to the incremental gate — the corpus is
    never re-sketched (``corpus_sigs`` = persisted ``minhash_signatures``
    output, same parameters); candidate banding and the signature
    join-back shuffle ids+sketches only (``minhash_cross_pairs``); the
    final left join keys on the id. Reference analog: none (extension);
    the estimator's fidelity is audited by ``minhash_estimate_audit``."""
    sigs = minhash_signatures(
        new_df, id_col, text_col, num_hashes, shingle_k, seed
    )
    best = (
        minhash_cross_pairs(sigs, corpus_sigs, id_col, num_hashes, bands)
        .groupBy("id_new")
        .agg(F.max("est_jaccard").alias("_best"))
        .withColumnRenamed("id_new", id_col)
    )
    score = F.coalesce(F.col("_best"), F.lit(0.0))
    return (
        new_df.select(id_col)
        .join(best, id_col, "left")
        .select(
            id_col,
            score.alias("max_est_jaccard"),
            (F.lit(1.0) - score).alias("novelty"),
        )
    )


def dedup_minhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 96,
    bands: int = 16,
    shingle_k: int = 5,
    seed: int = 42,
) -> DataFrame:
    """MinHash-LSH near-dedup: returns surviving ids (docs with no
    estimated-Jaccard ≥ threshold duplicate of smaller id).

    Default banding is 16 bands × 6 rows (num_hashes=96): recall at
    J=0.8 is 1-(1-0.8^6)^16 ≈ 0.992, and band selectivity at J≈0.3 is
    ~7e-4 — on common-vocabulary corpora (where a 4-row band would put
    hundreds of docs in one bucket because the band's min-shingles are
    corpus-common words) this keeps the candidate set ~100× smaller for
    the same dedup output. Measured at sf0.1: 303k → 4.7k candidates,
    identical survivors."""
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, shingle_k, seed)
    pairs = minhash_candidate_pairs(sigs, id_col, num_hashes, bands)
    dup_ids = (
        pairs.filter(F.col("est_jaccard") >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return df.select(id_col).join(dup_ids, id_col, "left_anti")


def minhash_estimate_audit(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 96,
    bands: int = 16,
    shingle_k: int = 5,
    seed: int = 42,
    threshold: float = 0.8,
) -> DataFrame:
    """Graded audit of the MinHash estimator against ground truth — the
    dedup analog of ``similarity.recall_at_k``: for every LSH candidate
    pair, emit the signature-estimated Jaccard next to the EXACT Jaccard
    over the same distinct char-``shingle_k``-shingle sets, the absolute
    estimation error, and whether both sides agree at ``threshold`` (the
    decision the dedup actually takes). Columns: ``(id_a, id_b,
    est_jaccard, exact_jaccard, abs_err, agree_at_threshold)``.

    Both quantities are single correctly-rounded IEEE divisions of exact
    integers (matches/num_hashes and |∩|/|∪|), so every engine computes
    them bit-identically — the audit is SQL-replayable with no tolerance
    band.

    Scale: the exact side is computed ONLY for banded candidate pairs
    (bounded by LSH selectivity, not n²); shingle sets stay out of the
    candidate join and join back once per unique pair, the same
    ids+sketches-first discipline as ``minhash_candidate_pairs`` /
    ``ngram_jaccard_pairs``. On an all-pairs basis the estimator's error
    is unobservable anyway — what matters operationally is its error on
    the pairs the banding actually surfaces, which is exactly this set."""
    sigs = minhash_signatures(
        df, id_col, text_col, num_hashes, shingle_k, seed
    )
    pairs = minhash_candidate_pairs(sigs, id_col, num_hashes, bands)
    # the exact side exists ONLY for docs that appear in a candidate
    # pair — semi-join the corpus down to those ids BEFORE building the
    # multi-KB shingle-string arrays, so the array shuffle is sized by
    # the LSH candidate set, not the corpus (measured 6.1 s → ~3.5 s at
    # sf0.1 where a few hundred of 5000 docs are in candidate pairs)
    # need is ids ONLY (8 B each, ≤ 2·|pairs| before distinct) — broadcast
    # it so the corpus side stays a scan-side semi filter instead of a
    # full-text shuffle (the plan gate pins text out of every Exchange).
    # The broadcast is a DELIBERATE hard hint: it fails loudly if
    # candidate membership outgrows the broadcast limit, at which point
    # the audit's per-pair exact intersections are petascale anyway —
    # audit a sampled slice instead (the minhash_prt_summary pattern);
    # a silent fallback to shuffling full text would just hide that.
    need = F.broadcast(
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # stage the normalized text as a PHYSICAL column (exchange), THEN
    # shingle: a withColumn alone is collapsed into the per-position
    # lambdas by CollapseProject and the regex chain re-runs ~2·|shingles|
    # times per doc (the HOF outer-ref gotcha, one projection deeper than
    # usual — measured in charshingle_jaccard_pairs). The exchange also
    # serves as the usual materialization barrier for the two join-back
    # consumers below.
    staged = (
        df.join(need, id_col, "left_semi")
        .select(
            F.col(id_col).alias("_id"),
            normalized_text(F.col(text_col)).alias("_ma_norm"),
        )
        .repartition(full_shuffle_width(df), F.col("_id"))
        .select(
            "_id",
            F.array_distinct(
                char_ngrams(F.col("_ma_norm"), shingle_k)
            ).alias("_gs"),
        )
        # no checkpoint here: it would split the job and recompute the
        # candidate pipeline once per segment (measured 2×); the two
        # join-back consumers re-hash the staged norm instead — hashing
        # only, the regexes stay below the exchange
    )
    ga = staged.select(F.col("_id").alias("id_a"), F.col("_gs").alias("_ga"))
    gb = staged.select(F.col("_id").alias("id_b"), F.col("_gs").alias("_gb"))
    inter = F.size(F.array_intersect(F.col("_ga"), F.col("_gb")))
    # |A∪B| from sizes, not a second per-pair hash set (arrays distinct)
    union = F.size(F.col("_ga")) + F.size(F.col("_gb")) - inter
    exact = inter.cast("double") / F.greatest(union, F.lit(1)).cast("double")
    return (
        pairs.join(ga, "id_a")
        .join(gb, "id_b")
        .select(
            "id_a",
            "id_b",
            "est_jaccard",
            exact.alias("exact_jaccard"),
            F.abs(F.col("est_jaccard") - exact).alias("abs_err"),
            (
                (F.col("est_jaccard") >= F.lit(threshold))
                == (exact >= F.lit(threshold))
            ).alias("agree_at_threshold"),
        )
    )


def charshingle_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """EXHAUSTIVE exact char-shingle Jaccard pairs — the LSH-independent
    ground truth the banding audits against: every unordered doc pair
    whose distinct char-``shingle_k``-shingle Jaccard reaches
    ``threshold``, with no sketch, no banding, and no heuristic
    prefilter. Exhaustiveness without n² comes from a LOSSLESS block:
    J ≥ t forces min(|A|,|B|) ≥ t·max(|A|,|B|), so for t ≥ 0.5 the two
    distinct-shingle counts are within 2× and their binary-magnitude
    buckets differ by at most 1 — same/adjacent-bucket equi-joins with
    the exact size-ratio guard meet every qualifying pair exactly once
    (the mathematically-lossless version of ``ngram_jaccard_pairs``'
    engineering block). ``threshold < 0.5`` is rejected: the adjacency
    argument breaks and silently missing pairs would poison any audit
    built on this.

    Buckets use integer bit-length (length of the base-2 string), NOT
    float log2 — libm log2 can land an ulp off at powers of two and
    disagree across engines (the corpus_card float-ceil lesson).
    Shingles compare as xxhash64 longs (exact up to ~n²/2⁶⁴ collisions);
    the DuckDB oracle compares the strings themselves — identical up to
    the same collision bound.

    Scale: pair generation shuffles (id, bucket, size, shingle-hash
    array); within-bucket joins are quadratic PER BUCKET — this is the
    honest cost of exactness and why it is the audit/ground-truth tier,
    not the dedup path (the banded sketch path is the production tier)."""
    if threshold < 0.5:
        raise ValueError(
            "charshingle_jaccard_pairs: bucket-adjacency blocking is"
            f" lossless only for threshold >= 0.5, got {threshold}"
        )
    # integer size guard, floor-relaxed: a FLOAT guard (sz_l·0.8d ≤ sz_r)
    # silently EXCLUDES a genuine J=0.8 pair at the exact boundary
    # (5·0.8d > 4 because the double 0.8 sits above 4/5, while 4/5's
    # division rounds to that same double and passes the J filter) — the
    # one place a stray ulp would turn "lossless" into a lie. Floor
    # scaling only loosens the guard; the exact J filter decides.
    import math as _math

    t_micro = int(_math.floor(threshold * 1_000_000))
    # TWO staging barriers, both load-bearing (each measured):
    # (1) the regex normalization must be a PHYSICAL column (behind an
    # exchange) before char_ngrams consumes it — CollapseProject
    # otherwise inlines the regexp chain into the per-position lambdas
    # and re-runs it ~2·|shingles| times per doc (19 s → <1 s on a
    # 100-doc slice); (2) the hash arrays must be MATERIALIZED (local
    # checkpoint) before the candidate joins — otherwise the size guards
    # collapse into the join conditions as size(<full hash pipeline>)
    # and the pipeline re-runs per PROBED PAIR (same blowup, one stage
    # later). The checkpoint is safe here because nothing expensive sits
    # upstream of it — unlike minhash_estimate_audit's staged frame,
    # where a checkpoint would split the candidate pipeline into two
    # jobs and recompute it.
    staged = (
        df.select(
            F.col(id_col).alias("_id"),
            normalized_text(F.col(text_col)).alias("_cj_norm"),
        )
        .repartition(full_shuffle_width(df), F.col("_id"))
        .select(
            "_id",
            F.array_distinct(
                F.transform(
                    char_ngrams(F.col("_cj_norm"), shingle_k),
                    lambda s: F.xxhash64(s),
                )
            ).alias("_gs"),
        )
        .localCheckpoint(eager=False)
        .withColumn("_sz", F.size(F.col("_gs")))
        .filter(F.col("_sz") > 0)
        # integer bit-length bucket: length(base-2 string) - 1
        .withColumn(
            "_b",
            F.length(F.conv(F.col("_sz").cast("string"), 10, 2)) - F.lit(1),
        )
    )
    # longs on BOTH sides: _sz is int32 and sz·800000 overflows it for
    # docs beyond ~2.7k distinct shingles (any ~3KB document)
    size_guard = [
        F.col("l._sz").cast("long") * F.lit(t_micro)
        <= F.col("r._sz").cast("long") * F.lit(1_000_000),
        F.col("r._sz").cast("long") * F.lit(t_micro)
        <= F.col("l._sz").cast("long") * F.lit(1_000_000),
    ]
    # candidate generation on (id, bucket, size) ONLY — the usual
    # ids+sketches-first discipline, but here it is also a CORRECTNESS-
    # of-cost matter: with the shingle arrays in the join, Catalyst
    # pushes the final jaccard filter INTO the join condition, where it
    # runs array_intersect (twice, conditions get no subexpression
    # elimination) for EVERY bucket-colliding probe BEFORE the cheap
    # guards — measured 67 s for 134 docs. Pair ids first, arrays join
    # back once per unique pair: 3 s.
    sk = staged.select("_id", "_b", "_sz")
    l, r = sk.alias("l"), sk.alias("r")
    same = l.join(
        r,
        reduce_and(
            [F.col("l._b") == F.col("r._b"), F.col("l._id") < F.col("r._id")]
            + size_guard
        ),
    ).select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
    adjacent = l.join(
        r,
        reduce_and([F.col("l._b") + 1 == F.col("r._b")] + size_guard),
    ).select(
        F.least(F.col("l._id"), F.col("r._id")).alias("id_a"),
        F.greatest(F.col("l._id"), F.col("r._id")).alias("id_b"),
    )
    ga = staged.select(
        F.col("_id").alias("id_a"), F.col("_gs").alias("_ga"),
        F.col("_sz").alias("_sza"),
    )
    gb = staged.select(
        F.col("_id").alias("id_b"), F.col("_gs").alias("_gb"),
        F.col("_sz").alias("_szb"),
    )
    inter = F.size(F.array_intersect(F.col("_ga"), F.col("_gb")))
    # |A∪B| = |A|+|B|−|A∩B| exactly (arrays are distinct) — no second
    # per-pair hash set
    union = F.col("_sza") + F.col("_szb") - inter
    jac = inter.cast("double") / F.greatest(union, F.lit(1)).cast("double")
    return (
        same.unionByName(adjacent)
        .join(ga, "id_a")
        .join(gb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= F.lit(threshold))
    )


def minhash_prt_audit(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 96,
    bands: int = 16,
    shingle_k: int = 5,
    seed: int = 42,
    threshold: float = 0.8,
) -> DataFrame:
    """ONE-row precision/recall audit of the whole MinHash-LSH pipeline
    against exhaustive ground truth — the number a practitioner tunes
    ``bands``/``num_hashes`` by: of the TRUE ≥-threshold pairs
    (``charshingle_jaccard_pairs``, lossless-blocked, banding-free), how
    many did the banding surface at all (candidate recall), and how does
    the est-Jaccard ≥ threshold DECISION score (precision / recall)?
    Columns: ``n_true_pairs, n_candidate_pairs, n_est_positive,
    n_true_in_candidates, n_true_positive, candidate_recall,
    decision_precision, decision_recall`` — counts are exact longs, the
    fractions single IEEE divisions, so the whole row SQL-replays
    bit-exactly.

    Scale: ground truth is quadratic per size bucket (see
    charshingle_jaccard_pairs) — run the audit on a sampled slice at
    corpus scale; the sketch side is the production banded path."""
    sigs = minhash_signatures(
        df, id_col, text_col, num_hashes, shingle_k, seed
    )
    cand = minhash_candidate_pairs(sigs, id_col, num_hashes, bands)
    true_pairs = charshingle_jaccard_pairs(
        df, id_col, text_col, shingle_k, threshold
    ).select("id_a", "id_b", F.lit(True).alias("_t"))
    scored = cand.select(
        "id_a", "id_b", (F.col("est_jaccard") >= threshold).alias("_p")
    )
    j = true_pairs.join(scored, ["id_a", "id_b"], "full_outer")
    is_true = F.col("_t").isNotNull()
    is_cand = F.col("_p").isNotNull()
    is_pos = F.coalesce(F.col("_p"), F.lit(False))
    # coalesce every sum: over an EMPTY join (no true pairs and no
    # candidates anywhere) F.sum yields NULL, not 0 — the row must keep
    # its exact-longs contract (and match the oracle's count(*) FILTER
    # zeros) even on a pair-free corpus
    def _n(cond):
        return F.coalesce(F.sum(cond.cast("long")), F.lit(0).cast("long"))

    n_true = _n(is_true)
    n_cand = _n(is_cand)
    n_pos = _n(is_pos)
    n_true_cand = _n(is_true & is_cand)
    n_tp = _n(is_true & is_pos)
    return j.agg(
        n_true.alias("n_true_pairs"),
        n_cand.alias("n_candidate_pairs"),
        n_pos.alias("n_est_positive"),
        n_true_cand.alias("n_true_in_candidates"),
        n_tp.alias("n_true_positive"),
        (
            n_true_cand.cast("double") / F.greatest(n_true, F.lit(1))
        ).alias("candidate_recall"),
        (n_tp.cast("double") / F.greatest(n_pos, F.lit(1))).alias(
            "decision_precision"
        ),
        (n_tp.cast("double") / F.greatest(n_true, F.lit(1))).alias(
            "decision_recall"
        ),
    )


def maintain_minhash_dedup(
    stream: DataFrame,
    sigs_path: str,
    survivors_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 96,
    bands: int = 16,
    shingle_k: int = 5,
    seed: int = 42,
    available_now: bool = True,
):
    """STREAMING bounded-growth NEAR-dedup: per micro-batch, run
    ``dedup_minhash_incremental`` against a MAINTAINED signature store —
    the near-duplicate sibling of the exact-dedup Bloom maintainer
    (``decontaminate.maintain_fingerprint_bloom``) and the churn
    maintainer (``report.maintain_corpus_churn``). A continuously-
    ingesting corpus gets MinHash-LSH dedup without ever re-sketching
    history: the store holds one ``(id, _sig)`` row per SURVIVOR, so it
    grows with the deduped corpus, not the ingest volume.

    Per micro-batch (foreachBatch — the banded self+cross joins are not
    expressible as a pure streaming plan):
    1. sketch the batch once (``minhash_signatures``);
    2. read the store's ``batch_id=<n>`` partitions STRICTLY BELOW this
       batch id (a redelivered batch replays against exactly the state it
       originally saw — its own earlier write is filtered out);
    3. drop batch docs with an est-Jaccard ≥ ``threshold`` match in the
       store (``minhash_cross_pairs``) or a smaller-id match within the
       batch (``minhash_candidate_pairs``) — identical policy to
       ``dedup_minhash_incremental``;
    4. append the survivors' ``(id, _sig)`` to
       ``sigs_path/batch_id=<n>`` and the survivors' FULL rows to
       ``survivors_path/batch_id=<n>`` (both overwrite their own
       partition, so redelivery is idempotent end-to-end).
    An id appearing more than once WITHIN a batch collapses when the
    repeats sketch identically and RAISES when they conflict (which row
    is "the document" would be nondeterministic — same keyed-ingestion
    discipline as ``maintain_corpus_churn``); the store always holds at
    most one row per (batch, id). The SURVIVORS artifact keeps per-row
    independence — identical upstream duplicates surface downstream,
    same policy as the churn artifact. A params manifest beside the
    store errors a resumed run whose SKETCH configuration drifted
    (signatures from different num_hashes/shingle_k/seed are
    incomparable — a silent mis-probe, exactly the Bloom/CMS hazard);
    ``threshold`` and ``bands`` are deliberately NOT in the manifest:
    they are gate-policy knobs, tunable across restarts without
    invalidating stored signatures.

    Scale (100 TB): the store is ids+signatures only (~num_hashes·8 B per
    surviving doc); per batch, the cross-banding shuffles (id, band,
    bhash) rows — the store side's banded projection is recomputed per
    batch from the compact store (precompute/cache it externally if the
    corpus side dominates; the banded table is itself a deterministic
    projection of the store). Payloads never cross a join: survivors are
    resolved as ids first, then the batch rows join back by id."""
    from colnade_spark.streaming.stream import (
        read_batched_history,
        write_table_manifest,
    )

    clash = sorted({"_sig", "batch_id"} & set(stream.columns))
    if clash:
        raise ValueError(
            f"columns {clash} collide with maintain_minhash_dedup's"
            " signature/partition names; rename them upstream"
        )
    write_table_manifest(
        stream.sparkSession,
        sigs_path,
        {
            # sketch-identity params ONLY: these make stored signatures
            # incomparable when changed. threshold/bands are gate policy
            # and stay tunable across restarts.
            "kind": "minhash_sigs",
            "id_col": id_col,
            "text_col": text_col,
            "num_hashes": num_hashes,
            "shingle_k": shingle_k,
            "seed": seed,
        },
    )

    def _gate(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        sigs = minhash_signatures(
            batch_df, id_col, text_col, num_hashes, shingle_k, seed
        ).select(id_col, "_sig")
        # ingestion-boundary duplicate-id guard: collapse identical
        # repeats, raise on conflicting signatures for one id (the
        # raise_error is folded into the signature value, so the
        # optimizer cannot prune it). Also the materialization barrier:
        # the aggregated sketch feeds three consumers (cross pairs,
        # within pairs, survivor store write); the localCheckpoint
        # computes it once per batch instead of per consumer.
        sigs = (
            sigs.groupBy(F.col(id_col))
            .agg(
                F.count_distinct(F.col("_sig")).alias("_n"),
                F.max("_sig").alias("_s"),
            )
            .select(
                F.col(id_col),
                F.when(
                    F.col("_n") > 1,
                    F.raise_error(
                        F.concat(
                            F.lit(
                                "maintain_minhash_dedup: conflicting"
                                f" signatures for one {id_col} within a"
                                " batch: "
                            ),
                            F.col(id_col).cast("string"),
                        )
                    ),
                )
                .otherwise(F.col("_s"))
                .alias("_sig"),
            )
            .localCheckpoint(eager=False)
        )
        # explicit first-batch probe: only a store with NO batch_id
        # partitions reads as empty history; a real read failure raises
        # (gating against an accidentally-empty corpus admits near-dups)
        hist = read_batched_history(spark, sigs_path)
        if hist is not None:
            hist = hist.filter(F.col("batch_id") < F.lit(batch_id))
        drop = _minhash_drop_ids(
            sigs, hist, id_col, threshold, num_hashes, bands
        )
        surv_sigs = sigs.join(drop, id_col, "left_anti")
        surv_sigs.write.mode("overwrite").parquet(
            f"{sigs_path}/batch_id={batch_id}"
        )
        # survivors' full payload — read the ids back from the partition
        # just written so the two sinks cannot disagree under a partial
        # redelivery (the sig store is the source of truth)
        surv_ids = spark.read.parquet(f"{sigs_path}/batch_id={batch_id}").select(
            id_col
        )
        batch_df.join(surv_ids, id_col, "left_semi").write.mode(
            "overwrite"
        ).parquet(f"{survivors_path}/batch_id={batch_id}")

    w = stream.writeStream.foreachBatch(_gate).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def compact_minhash_sigs(spark, table_path: str, dest_path: str) -> dict:
    """Compact a ``maintain_minhash_dedup`` signature store: fold every
    batch partition EXCEPT the trailing one into a single epoch partition
    (verbatim rows — the store is append-only survivors, nothing to
    resolve), carry the trailing partition over, and write both plus the
    params manifest to a FRESH ``dest_path``. The swap is the caller's
    move while the maintainer is quiesced. Shares
    ``streaming.compact_batched_table``'s skeleton — see it for why the
    trailing partition is never folded (it may belong to an uncommitted
    batch the restarted stream will redeliver).

    Why at all: the maintainer appends one partition per micro-batch;
    after N batches every gate's banded corpus projection scans N
    partitions. Compaction collapses them to one — the gating result is
    unchanged because the gate consumes the UNION of strictly-earlier
    rows and folding preserves the union."""
    from colnade_spark.streaming.stream import compact_batched_table

    return compact_batched_table(
        spark, table_path, dest_path, "minhash_sigs", None
    )


def _simhash_pack_udf():
    """Vectorized per-bit majority vote + pack: array<long> token hashes in,
    one packed int64 sketch out. (batch × tokens × 64) bit matrix via numpy
    shifts — replaces 64 interpreted aggregate folds per row."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    shifts = np.arange(64, dtype=np.uint64)
    weights = (np.uint64(1) << shifts).view(np.int64)  # bit 63 → INT64_MIN

    def f(s):
        out = []
        with np.errstate(over="ignore"):
            for arr in s:
                h = np.asarray(arr, dtype=np.int64).view(np.uint64)
                if h.size == 0:
                    out.append(0)
                    continue
                bits = (h[:, None] >> shifts) & np.uint64(1)  # (n, 64)
                votes = bits.astype(np.int64).sum(axis=0) * 2 - len(h)
                packed = np.where(votes > 0, weights, np.int64(0)).sum(
                    dtype=np.int64
                )
                out.append(int(packed))
        return pd.Series(out, dtype="int64")

    f.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(f, "long")


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "simhash",
    impl: str = "vectorized",
    token_hash=None,
) -> DataFrame:
    """64-bit SimHash over whitespace tokens: token → xxhash64 (JVM-side);
    per-bit majority vote packed into a long (vectorized UDF by default,
    pure-builtin unrolled fold as the zero-Python option).

    ``token_hash``: Column→Column hash per distinct token (default
    xxhash64; pass ``text.md5_hash60`` for the DuckDB-oracle-checkable
    variant — same voting/packing, portable hash)."""
    th = token_hash if token_hash is not None else F.xxhash64
    tok_hashes = F.transform(
        F.array_distinct(tokens(normalized_text(F.col(text_col)))),
        lambda t: th(t),
    )
    if impl == "vectorized":
        return (
            df.withColumn("_tok_hashes", tok_hashes)
            .withColumn(out_col, _simhash_pack_udf()(F.col("_tok_hashes")))
            .drop("_tok_hashes")
        )

    # Unrolled per-bit majority vote (shift amounts must be Python ints for
    # the builtin shift functions). 64 aggregates over the token-hash array,
    # all inside one projection — still scan-side, no shuffle.
    hashes = F.col("_tok_hashes")

    def vote(b: int):
        return F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )

    def bitval(b: int) -> int:
        return (1 << b) if b < 63 else -(1 << 63)

    packed = F.lit(0).cast("long")
    for b in range(64):
        packed = packed.bitwiseOR(
            F.when(vote(b) > 0, F.lit(bitval(b)).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return (
        df.withColumn("_tok_hashes", tok_hashes)
        .withColumn(out_col, packed)
        .drop("_tok_hashes")
    )


def hamming64(a, b):
    """Hamming distance between two 64-bit sketches (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_pairs(
    sim_df: DataFrame,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
    max_hamming: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs via 4×16-bit chunk blocking (Charikar):
    any pair within hamming ≤ 3 shares at least one exact 16-bit chunk, so
    recall is guaranteed; each block is an equi-self-join, not O(n²)."""
    chunks = F.array(
        *[
            F.struct(
                F.lit(i).alias("chunk"),
                F.shiftright(F.col(sim_col), i * 16)
                .bitwiseAND(F.lit(0xFFFF))
                .alias("ckey"),
            )
            for i in range(4)
        ]
    )
    blocked = sim_df.select(
        F.col(id_col).alias("_id"), F.col(sim_col).alias("_sh"), F.explode(chunks).alias("c")
    ).select("_id", "_sh", F.col("c.chunk").alias("chunk"), F.col("c.ckey").alias("ckey"))
    l, r = blocked.alias("l"), blocked.alias("r")
    return (
        l.join(
            r,
            (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.ckey") == F.col("r.ckey"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            hamming64(F.col("l._sh"), F.col("r._sh")).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    block_col: str | None = "lang",
    prefilter_k: int | None = 16,
) -> DataFrame:
    """n-gram (token) Jaccard similarity on candidate pairs.

    Pairs are blocked by ``block_col`` (plus a coarse length bucket) to keep
    the self-join from going quadratic; within a block, Jaccard is computed
    with array_intersect/array_union on DISTINCT token n-gram sets.

    ``prefilter_k``: bottom-k sketch prefilter — a k-element intersect of
    the k smallest gram hashes culls pairs whose estimated Jaccard is far
    below ``threshold`` before the full O(|A|+|B|) intersection runs
    (measured: drops ~95% of candidate-pair cost at sf0.1). The cutoff is
    set 3 binomial σ below threshold·k, so true matches survive with
    probability ≈ 1 but the result is no longer mathematically exhaustive;
    pass ``prefilter_k=None`` for exact-over-blocks semantics.
    """
    # stage tokens as a column first — referencing the tokenizer expression
    # inside the n-gram lambda would re-run it per gram position (see
    # minhash_signatures note on HOF outer references)
    toks = F.col("_ng_toks")
    # intersect 8-byte gram hashes, not gram strings: Jaccard over the
    # hashed sets is exact up to xxhash64 collisions (~n²/2⁶⁴), and the
    # pairwise set ops drop from string-compare to long-compare cost
    # Guard sub-n-token docs: F.sequence(0, -1) yields the DESCENDING
    # sequence [0, -1] (not empty), and slice(toks, 0, n) then throws under
    # ANSI. Docs with fewer than n tokens have no n-grams — empty array.
    # Guarded with F.filter over the positions, NOT F.when: conditional
    # branches are excluded from Spark's common-subexpression elimination,
    # so a when-wrapped gram pipeline gets re-evaluated at every downstream
    # reference (sketch, size, both join-backs) — measured 8× slower at
    # sf0.1. The filter drops the descending-sequence artifacts ([0, -1] →
    # []) with no conditional in the expression tree.
    positions = F.filter(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(-1))),
        lambda i: (i >= 0) & (i <= F.size(toks) - n),
    )
    grams = F.array_distinct(
        F.transform(
            positions,
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i + 1, n))),
        )
    )
    # coarse length bucket: pairs straddling adjacent power-of-two buckets
    # must still meet (63- vs 65-char docs), but docs >2x apart in length
    # can't clear a meaningful Jaccard threshold anyway
    lb = F.floor(F.log2(F.greatest(F.length(F.col(text_col)), F.lit(1))))
    blocks = [lb.alias("_lb")]
    if block_col is not None:
        blocks.append(F.col(block_col).alias("_blk"))
    # The gram pipeline evaluates at the barrier's shuffle WRITE, i.e. on
    # the INPUT partitioning: a single-split source (one parquet file)
    # runs normalize→tokenize→hash→distinct on ONE task, and the branch
    # exchanges below don't canonicalize equal (per-branch pruning), so
    # that 1-task stage ran up to 3× sequentially (profiled ~1.3 s each
    # at sf0.1). Spread tiny inputs first so the map side is wide; at
    # real scale the reader's own splits make this branch dead — the
    # minhash_signatures guard, same helper.
    from colnade_spark.operators.skew import few_input_splits

    if few_input_splits(df):
        df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    staged = df.withColumn("_ng_toks", tokens(normalized_text(F.col(text_col)))).select(
        F.col(id_col).alias("_id"), grams.alias("_g"), *blocks
    )
    # Materialization barrier (same reason as minhash_candidate_pairs):
    # without an exchange, CollapseProject inlines the gram pipeline
    # (normalize → tokenize → hash → distinct) into every downstream
    # consumer — the size column, the sorted bottom-k sketch, and both
    # payload join-back branches — a ~15× recompute measured at sf0.1.
    # The repartition computes _g exactly once at shuffle write; all
    # branches then share it via ReuseExchange.
    staged = staged.repartition(full_shuffle_width(df), F.col("_id"))
    # Pair generation runs on a SKETCH-ONLY projection: the full gram
    # arrays (~KB/doc) never flow through the candidate join — only
    # (id, bucket, size, bottom-k sketch). Survivors (tiny) join the gram
    # arrays back for the exact Jaccard. Same pattern as LSH candidates:
    # shuffle ids and sketches, not payloads.
    if prefilter_k:
        import math

        sk = F.slice(F.array_sort(F.col("_g")), 1, prefilter_k)
        cutoff = max(
            1,
            math.ceil(
                (threshold - 3 * math.sqrt(threshold * (1 - threshold) / prefilter_k))
                * prefilter_k
            ),
        )
    else:
        # exact mode: the "sketch" is the full gram set (payload cost
        # returns, semantics become exhaustive-over-blocks)
        sk = F.col("_g")
        cutoff = None
    g = staged.select("_id", F.size(F.col("_g")).alias("_sz"), sk.alias("_sk"), *[
        F.col(c) for c in (["_lb"] + (["_blk"] if block_col is not None else []))
    ])
    # size-ratio guard: jaccard ≥ t needs t·|B| ≤ |A| (and vice versa)
    size_guard = [
        F.col("l._sz") * F.lit(threshold) <= F.col("r._sz"),
        F.col("r._sz") * F.lit(threshold) <= F.col("l._sz"),
    ]
    if cutoff is not None:
        size_guard.append(
            F.size(F.array_intersect(F.col("l._sk"), F.col("r._sk"))) >= cutoff
        )
    blk_guard = (
        [F.col("l._blk") == F.col("r._blk")] if block_col is not None else []
    )
    l, r = g.alias("l"), g.alias("r")
    # Each unordered pair with |bucket diff| ≤ 1 meets EXACTLY ONCE — no
    # dual-bucket explode, no distinct() re-shuffle, and no pair scored
    # twice: same-bucket pairs are ordered by id, adjacent-bucket pairs by
    # bucket. Both joins are plain equi-joins on the bucket key.
    same = l.join(
        r,
        reduce_and(
            [F.col("l._lb") == F.col("r._lb"), F.col("l._id") < F.col("r._id")]
            + blk_guard
            + size_guard
        ),
    )
    adjacent = l.join(
        r,
        reduce_and(
            [F.col("l._lb") + 1 == F.col("r._lb")] + blk_guard + size_guard
        ),
    )
    pair_ids = same.select(
        F.least(F.col("l._id"), F.col("r._id")).alias("id_a"),
        F.greatest(F.col("l._id"), F.col("r._id")).alias("id_b"),
    ).unionByName(
        adjacent.select(
            F.least(F.col("l._id"), F.col("r._id")).alias("id_a"),
            F.greatest(F.col("l._id"), F.col("r._id")).alias("id_b"),
        )
    )
    ga = staged.select(F.col("_id").alias("id_a"), F.col("_g").alias("_ga"))
    gb = staged.select(F.col("_id").alias("id_b"), F.col("_g").alias("_gb"))
    inter = F.size(F.array_intersect(F.col("_ga"), F.col("_gb")))
    union = F.size(F.array_union(F.col("_ga"), F.col("_gb")))
    return (
        pair_ids.join(ga, "id_a")
        .join(gb, "id_b")
        .select(
            "id_a",
            "id_b",
            (inter.cast("double") / F.greatest(union, F.lit(1))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def reduce_and(conds):
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def edit_distance_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dist: int = 16,
    block_cols: tuple[str, ...] = ("lang",),
    bucket_width: int | None = None,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, dist) by bounded Levenshtein
    distance within ``block_cols`` groups.

    Candidate generation: length-band blocking. ED <= k implies
    |len(a)-len(b)| <= k, so each doc emits bucket keys floor(len/B) and
    floor(len/B)+1 with B = max(bucket_width or 16, max_dist); any pair
    within k length units then shares a key (complete), and the double
    emit is removed with a pair-level dropDuplicates. Candidates carry
    (id, length) ONLY — text joins back per id after pair dedup, never
    rides the candidate shuffle.

    Verification: 3-arg ``levenshtein(a, b, max_dist)`` — O(k*len)
    banded DP with early exit, not O(len^2); -1 (over threshold) rows are
    filtered.

    At 100 TB the length-band candidate volume is sum over
    (block, bucket) of n^2 — fine for corpora where blocks stay bounded,
    but hot blocks should feed LSH candidates instead: pass
    ``candidates=`` (id_a, id_b pairs, e.g. from minhash_candidate_pairs
    or simhash_near_pairs) to use this operator as the exact verifier of
    an approximate pipeline.

    Null text never matches (length(null) is null -> no bucket key;
    levenshtein(null, ..) is null), matching SQL semantics.
    """
    if candidates is None:
        bw = max(bucket_width or 16, max_dist)
        base = docs.select(
            F.col(id_col).alias("_id"),
            *[F.col(c) for c in block_cols],
            F.length(text_col).alias("_len"),
        )
        keyed = base.withColumn(
            "_bkt",
            F.explode(
                F.array(
                    F.floor(F.col("_len") / bw), F.floor(F.col("_len") / bw) + 1
                )
            ),
        )
        # fully distinct column names per side: a self-join on a shared
        # name ("_bkt" == "_bkt") resolves to a trivially-true predicate,
        # which would silently turn the banded join into a per-block cross
        # join (plan gate pins the SortMergeJoin keys)
        a = keyed.select(
            F.col("_id").alias("id_a"),
            F.col("_len").alias("_la"),
            *[F.col(c).alias(f"_ba_{c}") for c in block_cols],
            F.col("_bkt").alias("_bkt_a"),
        )
        b = keyed.select(
            F.col("_id").alias("id_b"),
            F.col("_len").alias("_lb"),
            *[F.col(c).alias(f"_bb_{c}") for c in block_cols],
            F.col("_bkt").alias("_bkt_b"),
        )
        cond = reduce_and(
            [a["_bkt_a"] == b["_bkt_b"]]
            + [a[f"_ba_{c}"] == b[f"_bb_{c}"] for c in block_cols]
        )
        # the pair-dedup exchange is pinned at full shuffle width: the
        # banded-DP levenshtein verify downstream is pure CPU per pair,
        # and AQE's byte-based coalescing would otherwise shrink this
        # thin (16 B/row) shuffle to one task holding all of it
        # (measured 2.9 s single-task at sf0.1). The explicit
        # repartition doubles as the dedup's required distribution, so
        # no extra exchange is added.
        candidates = (
            a.join(b, cond)
            .filter(
                (F.col("id_a") < F.col("id_b"))
                & (F.abs(F.col("_la") - F.col("_lb")) <= max_dist)
            )
            .select("id_a", "id_b")
            .repartition(full_shuffle_width(docs), "id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
        )
    ta = docs.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("_ta"))
    tb = docs.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("_tb"))
    return (
        candidates.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn("dist", F.levenshtein(F.col("_ta"), F.col("_tb"), max_dist))
        .filter(F.col("dist") >= 0)
        .select("id_a", "id_b", F.col("dist").cast("long").alias("dist"))
    )


def winnow_overlap_pairs(
    df: DataFrame,
    min_shared: int = 8,
    window: int = 8,
    keep: int = 16,
    max_df: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id_a, id_b, n_shared): document pairs sharing at least
    ``min_shared`` winnowing fingerprints — the MOSS-style span-overlap
    audit (shared fingerprints witness shared character runs, so this
    surfaces partial/plagiaristic overlap that whole-document sketches
    dilute). Deterministic: the md5-derived rolling hash makes each
    doc's bottom-``keep`` sketch and hence every pair engine-portable.

    Scale shape: the bounded per-doc sketch (``keep`` longs) explodes to
    (id, fingerprint) and pairs form by EQUI-join on the fingerprint
    value — a banded join like MinHash LSH, never all-pairs. Boilerplate
    fingerprints shared by more than ``max_df`` docs are dropped first
    (the power-law head would otherwise contribute df² pair blowup and
    no dedup signal — the same head-exclusion as span dedup)."""
    from colnade_spark.operators.text import md5_hash60, winnowing_fingerprint

    staged = df.withColumn("_wn_norm", normalized_text(F.col(text_col)))
    sk = winnowing_fingerprint(
        F.col("_wn_norm"), window, keep, normalized=True, hash_fn=md5_hash60
    )
    # one lazy checkpoint BEFORE the explode, for two reasons: (a) the
    # (id, sketch) table is consumed three ways below (df counts + both
    # join sides) and would otherwise recompute the rolling-hash sketch
    # per branch; (b) MEASURED: exploding an expensive inlined
    # expression re-evaluates it per OUTPUT ELEMENT (Catalyst collapses
    # the staged projection into the Generate) — 1.6s -> 102s at sf0.1
    # for this sketch. The barrier makes the explode consume a
    # materialized array column instead.
    staged_sk = (
        staged.withColumn("_wn_sk", sk)
        .select(F.col(id_col), "_wn_sk")
        .localCheckpoint(eager=False)
    )
    fps = staged_sk.select(F.col(id_col), F.explode("_wn_sk").alias("_fp"))
    dfreq = fps.groupBy("_fp").agg(F.count("*").alias("_df"))
    rare = fps.join(dfreq.filter(F.col("_df") <= max_df), "_fp").select(
        id_col, "_fp"
    )
    a = rare.select(F.col(id_col).alias("id_a"), "_fp")
    b = rare.select(F.col(id_col).alias("id_b"), "_fp")
    return (
        a.join(b, "_fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )

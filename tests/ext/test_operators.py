"""Extension operators: dedup / similarity / text / multimodal, run on the
driver testdata documents + embeddings tables."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from colnade_spark.operators import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


# ----------------------------------------------------------------- text ----
def test_token_count_matches_python(docs):
    row = docs.select("text", text.token_count(F.col("text")).alias("n")).first()
    assert row["n"] == len(row["text"].split())


def test_quality_features(docs):
    out = text.quality_features(docs).select(
        "doc_id", "q_chars", "q_words", "q_avg_word_len", "q_punct_ratio"
    )
    r = out.first()
    assert r.q_chars > 0 and r.q_words > 0
    assert 0 <= r.q_punct_ratio <= 1


def test_language_id_prefers_english_on_english_text(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog went to the park and it was good for all"),
            (2, "der hund und die katze sind nicht auf der wiese mit dem ball"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.lang_pred for r in text.language_id(df).collect()}
    assert out[1] == "en"
    assert out[2] == "de"


def test_language_id_tie_break(spark):
    """Ties break to the lexicographically GREATEST language code (struct
    array_max semantics), identically in Spark and the DuckDB oracle."""
    import duckdb

    cases = [
        (1, "der le"),  # de=1, fr=1 → 'fr'
        (2, "la"),  # fr=1, es=1 (shared stopword) → 'fr'
        (3, "xyzzy"),  # all zero → greatest lang code 'fr'
    ]
    df = spark.createDataFrame(cases, ["doc_id", "text"])
    got = {r.doc_id: r.lang_pred for r in text.language_id(df).collect()}
    assert got == {1: "fr", 2: "fr", 3: "fr"}

    con = duckdb.connect()
    structs = ", ".join(
        "{'score': len(list_distinct(list_intersect("
        "regexp_split_to_array(trim(lower(t)), '\\s+'), [%s]))), 'lang': '%s'}"
        % (", ".join(f"'{w}'" for w in ws), lang)
        for lang, ws in sorted(text.STOPWORDS.items())
    )
    for doc_id, t in cases:
        (oracle_lang,) = con.execute(
            f"SELECT list_max([{structs}]).lang FROM (SELECT ? AS t)", [t]
        ).fetchone()
        assert oracle_lang == got[doc_id], (doc_id, oracle_lang, got[doc_id])


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello,   World!"), (2, "hello world"), (3, "different text")],
        ["doc_id", "text"],
    )
    out = df.select("doc_id", text.fingerprint(F.col("text")).alias("fp")).collect()
    fps = {r.doc_id: r.fp for r in out}
    assert fps[1] == fps[2]
    assert fps[1] != fps[3]


def test_char_ngrams(spark):
    df = spark.createDataFrame([("abcd",)], ["t"])
    row = df.select(text.char_ngrams(F.col("t"), 3).alias("g")).first()
    assert row.g == ["abc", "bcd"]


def test_char_ngrams_short_text_is_empty(spark):
    # regression: F.sequence(1, 0) is the DESCENDING [1, 0], which used to
    # produce a bogus [text, text] pair for sub-n-length inputs
    df = spark.createDataFrame([("ab",), ("",), ("abc",)], ["t"])
    rows = df.select("t", text.char_ngrams(F.col("t"), 3).alias("g")).collect()
    got = {r.t: r.g for r in rows}
    assert got["ab"] == []
    assert got[""] == []
    assert got["abc"] == ["abc"]


def test_winnowing_fingerprint_bounded(docs):
    out = docs.limit(20).select(
        text.winnowing_fingerprint(F.col("text")).alias("w")
    )
    assert all(len(r.w) <= 16 for r in out.collect())


# ---------------------------------------------------------------- dedup ----
def test_dedup_exact_removes_copies(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other text")],
        ["doc_id", "text"],
    )
    kept = {r.doc_id for r in dedup.dedup_exact(df).collect()}
    assert kept == {1, 3}


def test_dedup_exact_on_real_docs(docs):
    kept = dedup.dedup_exact(docs).count()
    assert 0 < kept <= docs.count()


def test_minhash_detects_near_duplicates(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and keeps running through "
        "the quiet green field toward the distant river bank every single morning"
    )
    near = base.replace("quiet", "silent")
    far = "completely unrelated content about spark execution engines and shuffles etc"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], ["doc_id", "text"]
    )
    sigs = dedup.minhash_signatures(df, num_hashes=64)
    pairs = dedup.minhash_candidate_pairs(sigs, num_hashes=64).collect()
    match = {(r.id_a, r.id_b): r.est_jaccard for r in pairs}
    assert (1, 2) in match and match[(1, 2)] > 0.5
    assert all(v < 0.5 for k, v in match.items() if k != (1, 2))
    kept = {r.doc_id for r in dedup.dedup_minhash(df, threshold=0.5).collect()}
    assert kept == {1, 3}


def test_simhash_and_near_pairs(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    near = base.replace("kappa", "lambda")
    df = spark.createDataFrame([(1, base), (2, near), (3, "tiny doc")], ["doc_id", "text"])
    sh = dedup.simhash(df)
    vals = {r.doc_id: r.simhash for r in sh.collect()}
    assert all(isinstance(v, int) for v in vals.values())
    pairs = dedup.simhash_near_pairs(sh, max_hamming=16).collect()
    pair_ids = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in pair_ids


def test_ngram_jaccard_pairs(spark):
    a = "one two three four five six seven eight nine ten eleven twelve"
    b = "one two three four five six seven eight nine ten eleven thirteen"
    df = spark.createDataFrame(
        [(1, a, "en"), (2, b, "en"), (3, "zz yy xx ww vv uu tt ss rr qq pp oo", "en")],
        ["doc_id", "text", "lang"],
    )
    pairs = dedup.ngram_jaccard_pairs(df, threshold=0.3).collect()
    ids = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in ids and len(ids) == 1


def test_ngram_jaccard_tolerates_short_docs(spark):
    # regression: docs with < n tokens used to hit F.sequence(0, -1) →
    # slice(toks, 0, n) → SparkRuntimeException under ANSI. Real corpora
    # always contain short/empty docs; they must simply produce no pairs.
    a = "one two three four five six seven eight nine ten eleven twelve"
    b = "one two three four five six seven eight nine ten eleven thirteen"
    df = spark.createDataFrame(
        [
            (1, a, "en"),
            (2, b, "en"),
            (3, "", "en"),
            (4, "single", "en"),
            (5, "two words", "en"),
            (6, "   ", "en"),
        ],
        ["doc_id", "text", "lang"],
    )
    pairs = dedup.ngram_jaccard_pairs(df, threshold=0.3).collect()
    ids = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in ids
    assert all({p[0], p[1]} <= {1, 2} for p in ids)
    # exact mode (no prefilter) must tolerate them too
    exact = dedup.ngram_jaccard_pairs(df, threshold=0.3, prefilter_k=None).collect()
    assert {(r.id_a, r.id_b) for r in exact} >= {(1, 2)}


def test_minhash_short_docs_both_impls(spark):
    # sub-shingle-length docs get the sentinel h=[0] signature base in BOTH
    # impls; signatures must come back non-null and dedup must not crash
    df = spark.createDataFrame(
        [(1, "ab"), (2, ""), (3, "a much longer document body here")],
        ["doc_id", "text"],
    )
    for impl in ("vectorized", "builtin"):
        sigs = dedup.minhash_signatures(df, num_hashes=8, impl=impl).collect()
        by_id = {r.doc_id: r._sig for r in sigs}
        assert all(len(v) == 8 for v in by_id.values())
        # the two short docs normalize to "ab" and "" → both sub-k → the
        # sentinel base, so their signatures are identical within an impl
        assert by_id[1] == by_id[2]


def test_minhash_estimate_audit_matches_python_model(spark):
    import re

    base = (
        "the quick brown fox jumps over the lazy dog and keeps running through "
        "the quiet green field toward the distant river bank every single morning"
    )
    near = base.replace("quiet", "silent")
    also = base.replace("morning", "evening")
    far = "completely unrelated content about spark execution engines and shuffles"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far), (4, also)], ["doc_id", "text"]
    )
    out = dedup.minhash_estimate_audit(
        df, num_hashes=64, bands=16, threshold=0.5
    ).collect()
    pairs = {(r.id_a, r.id_b): r for r in out}
    assert (1, 2) in pairs and len(pairs) == len(out)

    sigs = {
        r.doc_id: r._sig
        for r in dedup.minhash_signatures(df, num_hashes=64).collect()
    }

    def norm(t):
        return re.sub(" +", " ", re.sub("[^a-z0-9 ]", " ", t.lower())).strip()

    def shingles(t):
        n = norm(t)
        return {n[i : i + 5] for i in range(len(n) - 4)}

    texts = {1: base, 2: near, 3: far, 4: also}
    for (a, b), r in pairs.items():
        est = sum(x == y for x, y in zip(sigs[a], sigs[b])) / 64
        sa, sb = shingles(texts[a]), shingles(texts[b])
        exact = len(sa & sb) / max(len(sa | sb), 1)
        # every column is a single IEEE division/comparison of exact ints —
        # equality, not approx (the audit's whole point)
        assert r.est_jaccard == est
        assert r.exact_jaccard == exact
        assert r.abs_err == abs(est - exact)
        assert r.agree_at_threshold == ((est >= 0.5) == (exact >= 0.5))
    assert pairs[(1, 2)].exact_jaccard > 0.5


def test_charshingle_pairs_exhaustive_vs_brute_force(spark):
    import itertools
    import re

    import pytest

    texts = {
        1: "the quick brown fox jumps over the lazy dog every day",
        2: "the quick brown fox jumps over the lazy dog every night",
        3: "completely unrelated text about query planners and shuffles",
        4: "the quick brown fox jumps over the lazy dog every day",  # exact
        # boundary pair: shingles("abcdefgh") ⊂ shingles("abcdefghi"),
        # sizes 4 and 5 → J = 4/5 = 0.8 EXACTLY. A float size guard
        # (5·0.8d > 4) silently drops this pair — the integer guard keeps
        # it; this is the regression pin for the lossless claim.
        5: "abcdefgh",
        6: "abcdefghi",
        7: "xy",  # sub-shingle-length: no shingles, no pairs
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], ["doc_id", "text"]
    )

    def norm(t):
        return re.sub(" +", " ", re.sub("[^a-z0-9 ]", " ", t.lower())).strip()

    def sh(t):
        n = norm(t)
        return {n[i : i + 5] for i in range(len(n) - 4)}

    for threshold in (0.5, 0.8, 1.0):
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in dedup.charshingle_jaccard_pairs(
                df, threshold=threshold
            ).collect()
        }
        want = {}
        for a, b in itertools.combinations(sorted(texts), 2):
            sa, sb = sh(texts[a]), sh(texts[b])
            if not sa or not sb:
                continue
            j = len(sa & sb) / len(sa | sb)
            if j >= threshold:
                want[(a, b)] = j
        assert set(got) == set(want), (threshold, got, want)
        for k, v in want.items():
            assert got[k] == v  # single IEEE division — exact equality
    assert (5, 6) in {
        (r.id_a, r.id_b)
        for r in dedup.charshingle_jaccard_pairs(df, threshold=0.8).collect()
    }
    with pytest.raises(ValueError, match="lossless only"):
        dedup.charshingle_jaccard_pairs(df, threshold=0.4)


def test_minhash_prt_audit_planted(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and keeps running "
        "through the quiet green field toward the distant river bank "
        "every single morning"
    )
    rows = [
        (1, base),
        (2, base + " tail"),  # planted near-dup of 1
        (3, "entirely different content about adaptive query execution "
            "plans shuffles and partition statistics in detail"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    r = dedup.minhash_prt_audit(
        df, num_hashes=64, bands=16, threshold=0.8
    ).collect()[0]
    assert r.n_true_pairs >= 1
    assert r.n_true_positive <= r.n_true_pairs
    assert r.n_true_in_candidates <= min(r.n_true_pairs, r.n_candidate_pairs)
    assert r.candidate_recall == r.n_true_in_candidates / max(r.n_true_pairs, 1)
    assert r.decision_precision == r.n_true_positive / max(r.n_est_positive, 1)
    assert r.decision_recall == r.n_true_positive / max(r.n_true_pairs, 1)
    # the planted pair is trivially bandable: full recall expected here
    assert r.candidate_recall == 1.0 and r.decision_recall == 1.0


def test_minhash_prt_audit_pair_free_corpus_is_zeros(spark):
    # F.sum over the EMPTY full-outer join returns NULL — the audit must
    # coalesce to the contract's exact-longs zeros (and the oracle's
    # count FILTER zeros), not emit a row of Nones
    df = spark.createDataFrame(
        [
            (1, "one corpus document about tokenizers and vocabularies"),
            (2, "second text on shuffle partitions and adaptive plans"),
        ],
        ["doc_id", "text"],
    )
    r = dedup.minhash_prt_audit(
        df, num_hashes=32, bands=8, threshold=0.8
    ).collect()[0]
    assert r.asDict() == {
        "n_true_pairs": 0,
        "n_candidate_pairs": 0,
        "n_est_positive": 0,
        "n_true_in_candidates": 0,
        "n_true_positive": 0,
        "candidate_recall": 0.0,
        "decision_precision": 0.0,
        "decision_recall": 0.0,
    }


# ----------------------------------------------------------- similarity ----
def test_brute_force_topk_self_consistency(embs):
    queries = embs.orderBy("vec_id").limit(3)
    out = similarity.brute_force_topk(embs, queries, k=5)
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert len(by_q) == 3
    for q, rs in by_q.items():
        assert [r.rank for r in sorted(rs, key=lambda r: r.rank)] == [1, 2, 3, 4, 5]
        assert all(r.neighbor_id != q for r in rs)


def test_lsh_topk_recall_on_clustered_data(spark):
    # LSH recall is only meaningful when true near neighbors exist; uniform
    # random vectors are near-orthogonal and any LSH correctly prunes them.
    import numpy as np

    rng = np.random.default_rng(7)
    dim = 32
    rows = []
    for c in range(3):
        center = rng.normal(size=dim)
        center /= np.linalg.norm(center)
        for i in range(20):
            v = center + rng.normal(scale=0.05, size=dim)
            rows.append((c * 100 + i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = df.filter(F.col("vec_id") % 100 == 0)  # one per cluster
    exact = similarity.brute_force_topk(df, queries, k=5).collect()
    approx = similarity.lsh_topk(df, queries, dim=dim, k=5, bits=8, tables=6).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.8
    # neighbors should come from the query's own cluster
    assert all(r.neighbor_id // 100 == r.query_id // 100 for r in approx)


def test_embedding_near_dups_finds_planted_duplicate(spark, embs):
    dim = len(embs.select("embedding").first().embedding)
    base = embs.limit(50)
    clone = base.filter(F.col("vec_id") == base.first().vec_id).withColumn(
        "vec_id", F.col("vec_id") + 1_000_000
    )
    # one NULL embedding: no buckets, so no pairs — not a sketch-UDF crash
    null_row = spark.createDataFrame([(2_000_000, None, 0)], base.schema)
    df = base.unionByName(clone).unionByName(null_row)
    for kw in ({}, dict(multiprobe=2)):
        pairs = similarity.embedding_near_dups(
            df, dim=dim, threshold=0.99, **kw
        ).collect()
        assert any(r.id_b == r.id_a + 1_000_000 for r in pairs)
        assert all(2_000_000 not in (r.id_a, r.id_b) for r in pairs)


def test_embedding_near_dups_cos_sim_equals_cosine(spark, embs):
    """The in-join scoring kernel replays ``similarity.cosine``'s fold
    order, so every returned cos_sim is bit-identical (==) to the fold
    recomputed on that pair, on both the single-probe and the
    multiprobe + refine_frac candidate paths; and because duplicate
    meetings of a pair are scored redundantly before the distinct, no
    duplicate (id_a, id_b) may survive (the kernel must be
    bit-symmetric and batch-independent for the distinct to collapse
    them)."""
    dim = len(embs.select("embedding").first().embedding)
    base = embs.limit(200).select("vec_id", "embedding")
    # plant near-copies (tiny first-component nudge → non-trivial
    # cosines, so the value comparison below is not all-1.0s)
    clones = base.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("embedding", 1) + F.lit(0.05)),
            F.slice("embedding", 2, dim - 1),
        ).cast("array<float>").alias("embedding"),
    )
    df = base.unionByName(clones)
    va = df.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("_va"))
    vb = df.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("_vb"))
    for kw in (
        dict(dim=dim, threshold=0.9, bits=6, tables=3, max_bucket=64),
        dict(
            dim=dim, threshold=0.9, bits=6, tables=3, multiprobe=2,
            refine_frac=0.3,
        ),
    ):
        rows = (
            similarity.embedding_near_dups(df, **kw)
            .join(va, "id_a")
            .join(vb, "id_b")
            .select(
                "id_a", "id_b", "cos_sim",
                similarity.cosine(F.col("_va"), F.col("_vb")).alias("fold"),
            )
            .collect()
        )
        assert rows, "fixture must surface at least one candidate pair"
        assert len({(r.id_a, r.id_b) for r in rows}) == len(rows)
        assert all(r.id_a < r.id_b for r in rows)
        assert all(r.cos_sim == r.fold for r in rows)
        # the clones' cosines sit below 1.0: the check compares real bits
        assert any(r.cos_sim < 1.0 for r in rows)


def test_zero_vectors_have_no_cosine(spark):
    """A zero-norm vector has no cosine (NULL, DuckDB's ``x / 0.0``):
    brute-force top-k and near-dup scoring must neither raise (a plain
    divide by zero does under ANSI mode) nor return a NULL score."""
    zero = [0.0] * 4
    df = spark.createDataFrame(
        [
            (1, zero),
            (2, zero),
            (3, [1.0, 0.0, 0.0, 0.0]),
            (4, [1.0, 0.0, 0.0, 0.0]),
            (5, [0.0, 1.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    top = similarity.brute_force_topk(df, df, k=2).collect()
    assert {r.query_id for r in top} == {1, 2, 3, 4, 5}
    a, b = df.alias("a"), df.alias("b")
    scored = a.crossJoin(b).select(
        similarity.cosine(F.col("a.embedding"), F.col("b.embedding")).alias("c"),
        ((F.col("a.vec_id") <= 2) | (F.col("b.vec_id") <= 2)).alias("zero"),
    )
    assert all((r.c is None) == r.zero for r in scored.collect())
    for kw in ({}, dict(multiprobe=2)):
        pairs = similarity.embedding_near_dups(
            df, dim=4, threshold=0.5, bits=4, tables=2, **kw
        ).collect()
        assert [(r.id_a, r.id_b, r.cos_sim) for r in pairs] == [(3, 4, 1.0)]


def test_embedding_near_dups_max_bucket_skew_guard(spark):
    """The oversized-bucket guard (round-7 scale fix): 40 copies of one
    vector land in ONE oversized bucket in EVERY table (identical
    sketches), so with max_bucket=10 all their pairs are dropped — the
    documented recall trade-off for non-discriminative buckets — while
    a planted near-dup pair living in small buckets is still found.
    Without the guard the copy block contributes 40·39/2 pairs."""
    import numpy as np

    rng = np.random.default_rng(7)
    dim = 16
    v_common = rng.normal(size=dim)
    v_pair = rng.normal(size=dim)
    rows = [(i, [float(x) for x in v_common]) for i in range(40)]
    rows += [(100, [float(x) for x in v_pair]),
             (101, [float(x) for x in v_pair * 1.001])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    guarded = similarity.embedding_near_dups(
        df, dim=dim, threshold=0.99, bits=6, tables=3, max_bucket=10
    ).collect()
    got = {(r.id_a, r.id_b) for r in guarded}
    assert got == {(100, 101)}  # copy-block pairs gone, real pair kept
    unguarded = similarity.embedding_near_dups(
        df, dim=dim, threshold=0.99, bits=6, tables=3
    ).count()
    assert unguarded == 40 * 39 // 2 + 1
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_bucket"):
        similarity.embedding_near_dups(df, dim=dim, max_bucket=1)


# ------------------------------------------------------------ multimodal ---
def test_image_features_with_fake_decoder(spark):
    media = multimodal.make_fake_media(spark, n=12)
    feats = multimodal.image_features(media, decoder=multimodal.fake_decode_image)
    rows = feats.collect()
    assert len(rows) == 12
    assert all(r.width == 16 and r.height == 16 for r in rows)
    # deterministic: same payload -> same features
    again = {r.media_id: r.phash for r in feats.collect()}
    assert {r.media_id: r.phash for r in rows} == again


def test_real_decoder_is_stubbed(spark):
    media = multimodal.make_fake_media(spark, n=2)
    with pytest.raises(Exception, match="NotImplementedError|PIL|opencv"):
        multimodal.image_features(media).collect()


def test_resize_images_shapes(spark):
    media = multimodal.make_fake_media(spark, n=4)
    out = multimodal.resize_images(
        media, target=8, decoder=multimodal.fake_decode_image
    ).collect()
    assert all(len(r.payload) == 8 * 8 * 3 for r in out)


def test_video_frame_sampling(spark):
    media = multimodal.make_fake_media(spark, n=9)
    frames = multimodal.sample_video_frames(media, every_ms=1000)
    vids = media.filter("meta.media_type = 'video'")
    per = frames.groupBy("media_id").count()
    joined = vids.select("media_id").join(per, "media_id").collect()
    assert all(r["count"] == 6 for r in joined)  # 0..5000 step 1000


def test_audio_features_stub(spark):
    from colnade_spark.operators import multimodal

    media = multimodal.make_fake_media(spark, n=32)
    out = multimodal.audio_features(
        media, decoder=multimodal.fake_decode_audio
    ).collect()
    assert len(out) == 32
    assert all(r.n_samples == 1024 for r in out)
    assert all(0.0 < r.rms <= 1.0 for r in out)
    assert all(r.peak <= 1.0 for r in out)
    # deterministic across runs
    again = multimodal.audio_features(
        media, decoder=multimodal.fake_decode_audio
    ).collect()
    assert sorted((r.media_id, r.rms) for r in out) == sorted(
        (r.media_id, r.rms) for r in again
    )


def test_decode_stubs_raise(spark):
    import pytest as _pytest

    from colnade_spark.operators import multimodal

    with _pytest.raises(NotImplementedError):
        multimodal.decode_image(b"x")
    with _pytest.raises(NotImplementedError):
        multimodal.decode_audio(b"x")


def test_ivf_topk_recall_vs_bruteforce(spark, sf_dir):
    from pyspark.sql import functions as F

    from colnade_spark.operators import similarity
    from colnade_spark.tpch import table_path

    e = spark.read.parquet(table_path(sf_dir, "embeddings")).cache()
    q = e.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(e, q, k=5).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_topk(e, q, k=5, nlist=8, nprobe=4).collect()
    }
    assert len(ivf) == len(exact)
    # probing half the lists on random data should still recover most of
    # the true neighbors; exactness is not the contract, recall is
    recall = len(ivf & exact) / len(exact)
    assert recall >= 0.5, recall


def test_ivf_topk_string_ids_and_no_driver_collect(spark, sf_dir):
    """Regression: probe assignment used to collect() the query table and
    hardcode query_id as long — string ids crashed and the query side
    couldn't be a table at scale. Now it's a pandas-UDF + explode."""
    from pyspark.sql import functions as F

    from colnade_spark.operators import similarity
    from colnade_spark.tpch import table_path

    e = spark.read.parquet(table_path(sf_dir, "embeddings"))
    s = e.withColumn("vec_id", F.concat(F.lit("doc-"), F.col("vec_id")))
    q = s.filter(F.col("vec_id").isin("doc-0", "doc-1"))
    out = similarity.ivf_topk(s, q, k=3, nlist=4, nprobe=4).collect()
    assert {r.query_id for r in out} == {"doc-0", "doc-1"}
    assert all(isinstance(r.neighbor_id, str) for r in out)
    assert all(r.rank <= 3 for r in out)


def test_ivf_full_probe_equals_bruteforce(spark, sf_dir):
    from pyspark.sql import functions as F

    from colnade_spark.operators import similarity
    from colnade_spark.tpch import table_path

    e = spark.read.parquet(table_path(sf_dir, "embeddings")).cache()
    q = e.filter(F.col("vec_id") < 3)
    exact = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in similarity.brute_force_topk(e, q, k=3).collect()
    )
    full = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in similarity.ivf_topk(e, q, k=3, nlist=4, nprobe=4).collect()
    )
    assert full == exact  # nprobe == nlist probes everything → exact


def test_grouped_quantiles_approx_tracks_exact(spark, sf_dir):
    """The 100 TB path (approx_percentile, mergeable sketches) must track
    the exact per-group percentile within the sketch accuracy."""
    from colnade_spark import read_parquet
    from colnade_spark.tpch import Orders, table_path

    o = read_parquet(table_path(sf_dir, "orders"), Orders).native
    exact = {
        r.o_orderpriority: r.m
        for r in o.groupBy("o_orderpriority")
        .agg(F.percentile("o_totalprice", 0.5).alias("m"))
        .collect()
    }
    approx = {
        r.o_orderpriority: r.m
        for r in o.groupBy("o_orderpriority")
        .agg(F.percentile_approx("o_totalprice", 0.5, 10000).alias("m"))
        .collect()
    }
    for k, v in exact.items():
        assert abs(approx[k] - v) / max(abs(v), 1) < 0.02


def test_dedup_minhash_incremental(spark):
    """New-batch docs that near-duplicate the existing corpus are dropped;
    within-batch near-dups keep only the smallest id; novel docs survive
    with appendable signatures."""
    base = (
        "the quick brown fox jumps over the lazy dog while the rain "
        "falls gently on the quiet green meadow near the old stone bridge"
    )
    corpus = spark.createDataFrame(
        [(1, base), (2, "completely different text about spark query engines "
                        "processing massive distributed datasets every day")],
        ["doc_id", "text"],
    )
    corpus_sigs = dedup.minhash_signatures(corpus, num_hashes=96)
    new = spark.createDataFrame(
        [
            (10, base + " extra"),             # near-dup of corpus doc 1
            (11, "a genuinely novel document describing mountain hiking "
                 "trails and alpine weather patterns in great detail"),
            (12, "a genuinely novel document describing mountain hiking "
                 "trails and alpine weather patterns in great detaill"),  # dup of 11
        ],
        ["doc_id", "text"],
    )
    out = dedup.dedup_minhash_incremental(new, corpus_sigs, threshold=0.7)
    survivors = {r.doc_id for r in out.collect()}
    assert survivors == {11}
    # signature column is appendable to the store
    assert out.columns == ["doc_id", "_sig"]


def test_novelty_scores(spark):
    """The graded twin of the incremental gate: a near-copy of a corpus
    doc scores high max_est_jaccard / low novelty; a genuinely new doc
    with no banded candidate scores exactly (0.0, 1.0); the exact copy
    scores exactly (1.0, 0.0)."""
    base = (
        "the quick brown fox jumps over the lazy dog while the rain "
        "falls gently on the quiet green meadow near the old stone bridge"
    )
    corpus = spark.createDataFrame(
        [(1, base), (2, "completely different text about spark query engines "
                        "processing massive distributed datasets every day")],
        ["doc_id", "text"],
    )
    corpus_sigs = dedup.minhash_signatures(corpus, num_hashes=96)
    new = spark.createDataFrame(
        [
            (10, base),                        # exact copy of corpus doc 1
            (11, base + " extra"),             # near-dup of corpus doc 1
            (12, "a genuinely novel document describing mountain hiking "
                 "trails and alpine weather patterns in great detail"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: (r.max_est_jaccard, r.novelty)
        for r in dedup.novelty_scores(new, corpus_sigs).collect()
    }
    assert set(out) == {10, 11, 12}
    assert out[10] == (1.0, 0.0)
    assert out[12] == (0.0, 1.0)
    assert 0.5 < out[11][0] < 1.0
    assert out[11][1] == 1.0 - out[11][0]


def test_image_near_dups_and_dedup(spark):
    """Planted byte-identical images share a phash (hamming 0); dedup
    keeps the smallest id; distinct images with far hashes survive."""
    from pyspark.sql import Row

    media = multimodal.make_fake_media(spark, n=12)
    # plant: id 100 duplicates id 1's payload exactly
    dup = media.filter("media_id = 1").select(
        F.lit(100).alias("media_id"), "payload", "meta"
    )
    planted = media.unionByName(dup)
    pairs = multimodal.image_near_dups(
        planted, decoder=multimodal.fake_decode_image, max_hamming=0
    ).collect()
    assert any(r.id_a == 1 and r.id_b == 100 and r.hamming == 0 for r in pairs)
    kept = {
        r.media_id
        for r in multimodal.dedup_images(
            planted, decoder=multimodal.fake_decode_image, max_hamming=0
        ).collect()
    }
    assert 1 in kept and 100 not in kept
    assert len(kept) >= 12 - 2  # only near-dups removed


# -- edit-distance near-dup --------------------------------------------------


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_edit_distance_pairs_complete_vs_bruteforce(spark):
    from colnade_spark.operators.dedup import edit_distance_pairs

    # lengths straddle bucket boundaries (B=16): 15/17, 31/33
    rows = [
        (1, "a" * 15, "en"),
        (2, "a" * 17, "en"),          # dist 2, crosses bucket 0/1 boundary
        (3, "b" * 31, "en"),
        (4, "b" * 29 + "cc", "en"),   # dist 2, same bucket
        (5, "a" * 15, "de"),          # same text as 1 but other block
        (6, "z" * 200, "en"),         # far from everything
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    got = {
        (r.id_a, r.id_b, r.dist)
        for r in edit_distance_pairs(df, max_dist=4).collect()
    }
    want = set()
    for i, (ia, ta, la) in enumerate(rows):
        for ib, tb, lb in rows[i + 1:]:
            if la == lb and _lev(ta, tb) <= 4:
                want.add((min(ia, ib), max(ia, ib), _lev(ta, tb)))
    assert got == want and len(want) == 2


def test_edit_distance_pairs_verifier_mode(spark):
    """candidates= turns the operator into the exact verifier of an
    approximate candidate generator: only given pairs are checked."""
    from colnade_spark.operators.dedup import edit_distance_pairs

    df = spark.createDataFrame(
        [(1, "hello world", "en"), (2, "hello w0rld", "en"), (3, "hello world", "en")],
        ["doc_id", "text", "lang"],
    )
    cand = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])  # omit (1,3)
    got = [(r.id_a, r.id_b, r.dist)
           for r in edit_distance_pairs(df, max_dist=4, candidates=cand).collect()]
    assert got == [(1, 2, 1)]


def test_edit_distance_pairs_null_text_never_matches(spark):
    from colnade_spark.operators.dedup import edit_distance_pairs

    df = spark.createDataFrame(
        [(1, None, "en"), (2, None, "en"), (3, "abc", "en"), (4, "abd", "en")],
        ["doc_id", "text", "lang"],
    )
    got = {(r.id_a, r.id_b) for r in edit_distance_pairs(df, max_dist=4).collect()}
    assert got == {(3, 4)}


def test_quality_prune_per_domain(spark):
    """Exactly ceil(frac*n) rows survive per domain, chosen by score
    with ties to lowest id; global mode when domain_col is None; every
    non-empty domain keeps at least one row; frac validated."""
    import pytest
    from pyspark.sql import functions as F

    from colnade_spark.operators.quality import quality_prune

    rows = [(i, "a" if i < 10 else "b", i % 7) for i in range(13)]
    df = spark.createDataFrame(rows, ["doc_id", "dom", "score"])
    out = quality_prune(df, 0.3, "score", domain_col="dom")
    got = {(r.dom, r.doc_id) for r in out.collect()}
    # dom a: 10 rows -> ceil(3.0)=3 survivors: scores 6(id 6), 5(id 5), 4(id 4)
    # dom b: 3 rows (ids 10,11,12; scores 3,4,5) -> ceil(0.9)=1: id 12
    assert got == {("a", 6), ("a", 5), ("a", 4), ("b", 12)}
    # tie-break: equal scores keep the LOWEST ids
    ties = spark.createDataFrame(
        [(1, 5), (2, 5), (3, 5), (4, 5)], ["doc_id", "score"]
    )
    kept = sorted(r.doc_id for r in quality_prune(ties, 0.5, "score").collect())
    assert kept == [1, 2]
    # tiny domain never empties
    tiny = spark.createDataFrame([(1, "x", 9)], ["doc_id", "dom", "score"])
    assert quality_prune(tiny, 0.01, "score", domain_col="dom").count() == 1
    with pytest.raises(ValueError):
        quality_prune(df, 0.0, "score")


def test_token_budget_prune(spark):
    """Budget realized exactly: greedy-by-score until the cumulative
    token count reaches the budget, boundary-crossing row excluded;
    hash order when unscored; empty domain when the best row alone
    exceeds the budget."""
    import pytest
    from pyspark.sql import functions as F

    from colnade_spark.operators.quality import token_budget_prune

    rows = [
        (1, "a", 50, 9),
        (2, "a", 40, 8),
        (3, "a", 30, 7),   # cum 120 > 100 -> excluded, and so is 4
        (4, "a", 5, 6),
        (5, "b", 200, 9),  # alone exceeds budget -> domain empty
        (6, "c", 100, 9),  # exactly the budget -> kept
    ]
    df = spark.createDataFrame(rows, ["doc_id", "dom", "toks", "score"])
    out = token_budget_prune(
        df, 100, "toks", domain_col="dom", score_col="score"
    )
    assert {r.doc_id for r in out.collect()} == {1, 2, 6}
    # unscored: hash order, still within budget and deterministic
    u1 = token_budget_prune(df, 100, "toks", domain_col="dom")
    u2 = token_budget_prune(df, 100, "toks", domain_col="dom")
    got1 = sorted(r.doc_id for r in u1.collect())
    assert got1 == sorted(r.doc_id for r in u2.collect())
    per_dom = (
        u1.groupBy("dom").agg(F.sum("toks").alias("t")).collect()
    )
    assert all(r.t <= 100 for r in per_dom)
    with pytest.raises(ValueError):
        token_budget_prune(df, -1, "toks")


def test_quality_prune_threshold_approximates_exact(spark):
    """The scan-side threshold variant keeps ~frac per domain and always
    a SUPERSET-or-equal of the exact top-frac scores' threshold rule;
    plan has no window/sort over the corpus (one agg + broadcast join)."""
    from pyspark.sql import functions as F

    from colnade_spark.operators.quality import (
        quality_prune,
        quality_prune_threshold,
    )

    rows = [(i, "d%d" % (i % 3), float((i * 37) % 1000)) for i in range(3000)]
    df = spark.createDataFrame(rows, ["doc_id", "dom", "score"])
    out = quality_prune_threshold(df, 0.25, "score", domain_col="dom")
    per = {r.dom: r.n for r in out.groupBy("dom").agg(F.count("*").alias("n")).collect()}
    for dom, n in per.items():
        assert 0.2 * 1000 <= n <= 0.3 * 1000, (dom, n)
    # kept rows are exactly those >= the per-domain threshold: the min
    # kept score per domain is >= the max dropped score's neighborhood
    exact = quality_prune(df, 0.25, "score", domain_col="dom")
    ex_min = {
        r.dom: r.m
        for r in exact.groupBy("dom").agg(F.min("score").alias("m")).collect()
    }
    ap_min = {
        r.dom: r.m
        for r in out.groupBy("dom").agg(F.min("score").alias("m")).collect()
    }
    for dom in ex_min:
        assert abs(ap_min[dom] - ex_min[dom]) <= 40.0  # sketch rank error margin
    # scan shape: no Sort over the corpus in the physical plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    import pytest

    with pytest.raises(ValueError):
        quality_prune_threshold(df, 1.0, "score")


def test_winnow_overlap_pairs_planted(spark):
    """Planted overlap: a doc sharing a long character run with another
    shares winnow fingerprints; unrelated docs share none; boilerplate
    fingerprints above max_df are excluded."""
    from colnade_spark.operators.dedup import winnow_overlap_pairs

    shared = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, shared + " alpha ending one"),
        (2, shared + " totally different tail text"),
        (3, "completely unrelated content about cooking pasta tonight ok"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {(r.id_a, r.id_b): r.n_shared for r in winnow_overlap_pairs(
        df, min_shared=3, max_df=10
    ).collect()}
    assert set(out) == {(1, 2)}
    assert out[(1, 2)] >= 3
    # determinism across partitionings
    again = {(r.id_a, r.id_b): r.n_shared for r in winnow_overlap_pairs(
        df.repartition(5), min_shared=3, max_df=10
    ).collect()}
    assert again == out
    # a max_df of 1 excludes every shared fingerprint -> no pairs
    assert winnow_overlap_pairs(df, min_shared=1, max_df=1).count() == 0


def test_media_format_sniffing_and_byte_stats(spark):
    """REAL magic-byte sniffing (no decoders): true signatures detect,
    mislabeled rows surface, unknown bytes sniff NULL; byte entropy is 0
    for constant payloads and ~8 for uniform bytes."""
    from pyspark.sql import functions as F

    from colnade_spark.operators.multimodal import (
        byte_stats,
        media_format_mismatches,
        sniff_media_format,
    )

    payloads = [
        (1, "png", b"\x89PNG\r\n\x1a\n" + b"\x00" * 16),
        (2, "jpeg", b"\xff\xd8\xff\xe0" + b"\x00" * 16),
        (3, "wav", b"RIFF\x24\x00\x00\x00WAVEfmt " + b"\x00" * 8),
        (4, "webp", b"RIFF\x10\x00\x00\x00WEBPVP8 " + b"\x00" * 8),
        (5, "mp4", b"\x00\x00\x00\x18ftypisom" + b"\x00" * 8),
        (6, "mp3", b"ID3\x03\x00" + b"\x00" * 16),
        (7, "png", b"\xff\xd8\xff\xe1" + b"\x00" * 16),   # MISLABELED (jpeg bytes)
        (8, "gif", b"GIF89a" + b"\x00" * 16),
        (9, "flac", b"not a real signature here"),        # unknown bytes
    ]
    rows = [
        (i, bytearray(b), {"media_type": "image", "format": f,
                           "width": None, "height": None,
                           "duration_ms": None, "sample_rate": None})
        for i, f, b in payloads
    ]
    import pyspark.sql.types as T

    from colnade_spark.operators.multimodal import MEDIA_META_TYPE

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField("meta", MEDIA_META_TYPE),
        ]
    )
    media = spark.createDataFrame(rows, schema)
    sniffed = {
        r.media_id: r.s
        for r in media.select(
            "media_id", sniff_media_format(F.col("payload")).alias("s")
        ).collect()
    }
    assert sniffed == {
        1: "png", 2: "jpeg", 3: "wav", 4: "webp", 5: "mp4",
        6: "mp3", 7: "jpeg", 8: "gif", 9: None,
    }
    bad = {r.media_id: (r.declared, r.sniffed)
           for r in media_format_mismatches(media).collect()}
    assert bad == {7: ("png", "jpeg"), 9: ("flac", None)}

    # byte stats: constant payload entropy 0; all-256-bytes payload = 8.0
    bs_rows = [
        (1, bytearray(b"\x00" * 100)),
        (2, bytearray(bytes(range(256)) * 4)),
        (3, bytearray(b"")),
    ]
    bdf = spark.createDataFrame(bs_rows, ["media_id", "payload"])
    stats = {r.media_id: (r.n_bytes, r.n_distinct_bytes, r.entropy_bits)
             for r in byte_stats(bdf).collect()}
    assert stats[1] == (100, 1, 0.0)
    assert stats[2] == (1024, 256, 8.0)
    assert stats[3] == (0, 0, 0.0)


def test_fertility_stats_matches_python(spark):
    import re

    rows = [
        (1, "hello world, this is English text!", "en"),
        (2, "naturverständnis und wörterbuch", "de"),
        (3, "这是中文文本没有空格", "zh"),
        (4, None, "zh"),
        (5, "", "fr"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    got = {
        r.lang: (
            r.n_docs, r.n_null_docs, r.sum_words, r.sum_bpe, r.sum_bytes,
            r.fertility, r.bytes_per_token,
        )
        for r in text.fertility_stats(df).collect()
    }

    bpe_re = re.compile(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]")
    want = {}
    for lang in {r[2] for r in rows}:
        texts = [t for _, t, lg in rows if lg == lang]
        present = [t for t in texts if t is not None]
        words = sum(len(re.split(r"\s+", t.strip())) for t in present)
        bpe = sum(len(bpe_re.findall(t)) for t in present)
        byts = sum(len(t.encode("utf-8")) for t in present)
        want[lang] = (
            len(texts), len(texts) - len(present), words, bpe, byts,
            (bpe / words) if words else None,
            (byts / bpe) if bpe else None,
        )
    assert got == want  # exact ints + single IEEE divisions

    # semantics: the unsegmented script has far higher fertility than en
    assert got["zh"][5] > got["en"][5]
    # empty-string text: one whitespace token (split semantics), zero BPE
    # tokens -> fertility 0.0 and a NULL bytes_per_token, not an error
    assert got["fr"][2] == 1 and got["fr"][3] == 0
    assert got["fr"][5] == 0.0 and got["fr"][6] is None


def test_embedding_near_dups_multiprobe_recovers_recall(spark):
    """Multiprobe buys per-table recall back at HIGH bits without
    coarsening the buckets: on clustered data at bits far above the
    sizing rule (sparse buckets, single-probe misses cross-bucket
    near-pairs), flipping the lowest-margin bits finds strictly more
    true pairs; every single-probe pair survives (monotone by
    construction — home-home meetings are a subset of probe-home
    meetings); scores for shared pairs are identical (same scoring
    tail); and the home buckets of the multiprobe sketch equal the
    single-probe sketch exactly."""
    import numpy as np

    rng = np.random.default_rng(11)
    dim = 32
    rows = []
    for c in range(10):
        center = rng.normal(size=dim)
        center /= np.linalg.norm(center)
        for i in range(12):
            v = center + rng.normal(scale=0.02, size=dim)
            rows.append((c * 100 + i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    kw = dict(dim=dim, threshold=0.99, bits=14, tables=2, seed=3)
    single = similarity.embedding_near_dups(df, **kw).collect()
    multi = similarity.embedding_near_dups(df, multiprobe=3, **kw).collect()
    s_pairs = {(r.id_a, r.id_b) for r in single}
    m_pairs = {(r.id_a, r.id_b) for r in multi}
    assert s_pairs <= m_pairs, s_pairs - m_pairs
    assert len(m_pairs) > len(s_pairs)
    # only true (same-cluster) pairs either way — probing neighbors
    # widens the candidate set, the cosine gate still decides
    assert all(a // 100 == b // 100 for a, b in m_pairs)
    s_score = {(r.id_a, r.id_b): r.cos_sim for r in single}
    m_score = {(r.id_a, r.id_b): r.cos_sim for r in multi}
    assert all(m_score[p] == s_score[p] for p in s_pairs)

    # home buckets are unchanged by the multiprobe sketch
    from colnade_spark.operators.similarity import (
        _hyperplanes,
        rp_buckets_udf,
        rp_multiprobe_udf,
    )

    planes = [_hyperplanes(dim, 14, 3 + 1000 * t) for t in range(2)]
    one = df.select(
        "vec_id", rp_buckets_udf(planes)(F.col("embedding")).alias("h")
    )
    many = df.select(
        "vec_id",
        F.transform(
            rp_multiprobe_udf(planes, 3)(F.col("embedding")),
            lambda a: F.get(a, 0),
        ).alias("h"),
    )
    assert {r.vec_id: tuple(r.h) for r in one.collect()} == {
        r.vec_id: tuple(r.h) for r in many.collect()
    }

    import pytest as _pytest

    with _pytest.raises(ValueError, match="multiprobe"):
        similarity.embedding_near_dups(df, dim=dim, bits=6, multiprobe=22)


def test_embedding_near_dups_multiprobe_respects_skew_guard(spark):
    """max_bucket under multiprobe: occupancy is counted on HOME
    buckets and oversized buckets are dropped from the probe side too —
    a probe into the copy-block's bucket would meet the very crowd the
    guard exists to skip. The planted pair in small buckets survives."""
    import numpy as np

    rng = np.random.default_rng(7)
    dim = 16
    v_common = rng.normal(size=dim)
    v_pair = rng.normal(size=dim)
    rows = [(i, [float(x) for x in v_common]) for i in range(40)]
    rows += [(100, [float(x) for x in v_pair]),
             (101, [float(x) for x in v_pair * 1.001])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_near_dups(
            df, dim=dim, threshold=0.99, bits=6, tables=3,
            max_bucket=10, multiprobe=2,
        ).collect()
    }
    assert (100, 101) in got
    assert all(a >= 100 for a, _ in got)  # no copy-block pairs


def test_sized_lsh_holds_occupancy_exactly(spark):
    """Occupancy-stable sizing (round 10): for every n above the
    min_bits floor, cell count 2^bits·(1+refine_frac) equals
    n/target_occupancy EXACTLY — no power-of-two sawtooth — so
    per-decade candidate volume is flat by construction (the r9 board's
    1.27 last-decade exponent was the ceil rule's occupancy rising
    6.1 → 7.6 across a decade)."""
    import pytest as _pytest

    from colnade_spark.operators.similarity import sized_lsh

    for n in (2048 * 8, 20_000, 50_000, 200_000, 333_333, 2_000_000,
              2**20 * 8, 2**20 * 8 + 1, 20_000_000):
        bits, frac = sized_lsh(n, target_occupancy=8.0)
        assert 0.0 <= frac < 1.0
        cells = (1 << bits) * (1.0 + frac)
        assert abs(n / cells - 8.0) < 1e-9, (n, bits, frac)
    # below the floor: bits pinned at min_bits, no refinement
    assert sized_lsh(100) == (8, 0.0)
    assert sized_lsh(2048 * 8 - 1, min_bits=8)[0] >= 8
    with _pytest.raises(ValueError, match="n must be"):
        sized_lsh(0)
    with _pytest.raises(ValueError, match="target_occupancy"):
        sized_lsh(1000, target_occupancy=0)
    with _pytest.raises(ValueError, match="min_bits"):
        sized_lsh(1000, min_bits=0)


def test_refine_key_python_numpy_twin():
    """The pure-Python refine_key spec and the vectorized UDF-side
    mapping agree bit-for-bit, the key ranges are disjoint (coarse in
    [0, 2^lo), split in [2^(lo+1), 2^(lo+2))), and the refined fraction
    of coarse cells tracks refine_frac."""
    import numpy as np

    from colnade_spark.operators.similarity import (
        _refine_keys_np,
        refine_key,
    )

    rng = np.random.default_rng(5)
    lo = 10
    sigs = rng.integers(0, 1 << (lo + 1), size=5000, dtype=np.int64)
    for frac in (0.25, 0.5273, 0.95):
        got = _refine_keys_np(lo, frac)(sigs)
        want = np.asarray(
            [refine_key(int(s), lo, frac) for s in sigs], dtype=np.int64
        )
        assert (got == want).all()
        split = got >= (1 << (lo + 1))
        assert ((got[~split] < (1 << lo))).all()
        assert (got[split] < (1 << (lo + 2))).all()
        # refined share of DISTINCT coarse cells ~ frac
        cells = np.unique(sigs & ((1 << lo) - 1))
        refined_cells = np.unique((got[split] - (1 << (lo + 1))) >> 1)
        share = len(refined_cells) / len(cells)
        assert abs(share - frac) < 0.08, (frac, share)


def test_embedding_near_dups_refine_frac_nests_between_integer_bits(spark):
    """Fractional refinement interpolates the INTEGER bits settings
    structurally: per table, a hi-bit collision implies a fractional
    collision implies a lo-bit collision (refined cells key on all
    lo+1 signs, unrefined on the lo coarse signs — same rng stream, so
    the plane sets are shared prefixes). Hence the found pair sets are
    NESTED: pairs(bits=lo+1) ⊆ pairs(lo, frac) ⊆ pairs(lo, frac=0),
    with identical scores on shared pairs (same scoring tail) — and
    refine_frac=0 is bit-identical to the historical path."""
    import numpy as np

    rng = np.random.default_rng(11)
    dim = 32
    rows = []
    for c in range(10):
        center = rng.normal(size=dim)
        center /= np.linalg.norm(center)
        for i in range(12):
            v = center + rng.normal(scale=0.02, size=dim)
            rows.append((c * 100 + i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    kw = dict(dim=dim, threshold=0.99, tables=2, seed=7)
    lo_pairs = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_near_dups(df, bits=12, **kw).collect()
    }
    hi_pairs = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_near_dups(df, bits=13, **kw).collect()
    }
    frac = similarity.embedding_near_dups(
        df, bits=12, refine_frac=0.5, **kw
    ).collect()
    f_pairs = {(r.id_a, r.id_b) for r in frac}
    assert hi_pairs <= f_pairs <= lo_pairs
    # the fixture separates the three settings (not a vacuous nesting)
    assert hi_pairs != f_pairs and f_pairs != lo_pairs
    # true pairs only (cosine gate decides; cells only propose)
    assert all(a // 100 == b // 100 for a, b in f_pairs)


def test_embedding_near_dups_refine_frac_multiprobe_compose(spark):
    """Multiprobe over refined cells: planted EXACT duplicates are
    found at any (refine_frac, multiprobe) — identical sketches map to
    identical keys — single-probe pairs survive under multiprobe
    (monotone), and probes land where a perturbed neighbor's HOME would
    be (probe keys are valid keys: each either coarse or split-range)."""
    import numpy as np

    from pyspark.sql import functions as SF

    from colnade_spark.operators.similarity import (
        _hyperplanes,
        rp_multiprobe_udf,
    )

    rng = np.random.default_rng(23)
    dim = 16
    rows = [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(60)]
    rows += [(1_000_000 + i, rows[i][1]) for i in range(0, 60, 10)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    kw = dict(dim=dim, threshold=0.999, bits=8, refine_frac=0.4, tables=3)
    single = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_near_dups(df, **kw).collect()
    }
    multi = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_near_dups(
            df, multiprobe=4, **kw
        ).collect()
    }
    planted = {(i, 1_000_000 + i) for i in range(0, 60, 10)}
    assert planted <= single <= multi

    planes = [_hyperplanes(dim, 9, 42 + 1000 * t) for t in range(3)]
    probed = df.select(
        SF.explode(
            SF.flatten(rp_multiprobe_udf(planes, 4, 0.4)(SF.col("embedding")))
        ).alias("k")
    ).collect()
    lo = 8
    for r in probed:
        assert 0 <= r.k < (1 << lo) or (1 << (lo + 1)) <= r.k < (1 << (lo + 2))

    import pytest as _pytest

    with _pytest.raises(ValueError, match="refine_frac"):
        similarity.embedding_near_dups(df, dim=dim, refine_frac=1.0)
    with _pytest.raises(ValueError, match="refine_frac"):
        similarity.embedding_near_dups(df, dim=dim, refine_frac=-0.1)


def test_lsh_topk_multiprobe_improves_recall(spark):
    """Query-side multiprobe for lsh_topk (the nprobe analog of the
    hash tier): at bits high enough that single-probe recall visibly
    drops on clustered data, probing the lowest-margin bit flips
    recovers it — candidates are a monotone superset, the exact-cosine
    re-rank keeps result quality, and the corpus index is untouched."""
    import numpy as np

    rng = np.random.default_rng(7)
    dim = 32
    rows = []
    for c in range(3):
        center = rng.normal(size=dim)
        center /= np.linalg.norm(center)
        for i in range(20):
            v = center + rng.normal(scale=0.05, size=dim)
            rows.append((c * 100 + i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = df.filter(F.col("vec_id") % 100 == 0)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(df, queries, k=5).collect()
    }

    def recall(mp):
        got = {
            (r.query_id, r.neighbor_id)
            for r in similarity.lsh_topk(
                df, queries, dim=dim, k=5, bits=14, tables=2, multiprobe=mp
            ).collect()
        }
        return len(exact & got) / len(exact)

    # measured: 0.333 single-probe -> 0.733 with 2 probes (this fixture).
    # Two probes are always the two lowest single-bit flips, which
    # cannot reach neighbors >= 2 bits apart per table — 0.733 was the
    # measured ceiling of the historical single-flip-only variant at
    # ANY budget here. The multi-bit perturbation sets (Lv et al.'s
    # pairs) break through it: measured 1.0 at 16 probes.
    r0, r2, r16 = recall(0), recall(2), recall(16)
    assert r2 >= r0 + 0.3, (r0, r2)
    assert r2 >= 0.7
    assert r16 >= 0.9, r16

    import pytest as _pytest

    with _pytest.raises(ValueError, match="multiprobe"):
        similarity.lsh_topk(df, queries, dim=dim, bits=4, multiprobe=11)


def test_multiprobe_perturbation_sequence_properties(spark):
    """The Lv et al. perturbation sequence (size <= 2 sets):
    (1) probes 1-2 are ALWAYS the two lowest-margin single flips —
    bit-identical to the historical single-flip variant at T <= 2 (the
    shipped multiprobe=2 registry entries must not move);
    (2) the probe list is the exact top-T by total margin over all
    singles + pairs — checked against a brute-force numpy enumeration;
    (3) a planted neighbor EXACTLY two low-margin bits apart in every
    table — which no budget of single-bit flips can ever reach — is
    recovered once T covers its pair set."""
    import numpy as np

    from colnade_spark.operators.similarity import (
        _hyperplanes,
        rp_multiprobe_udf,
    )

    rng = np.random.default_rng(5)
    dim, bits, tables = 16, 10, 2
    planes = [_hyperplanes(dim, bits, 5 + 1000 * t) for t in range(tables)]
    vecs = [[float(x) for x in rng.normal(size=dim)] for _ in range(40)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], ["vec_id", "embedding"]
    )
    T = 7
    got = {
        r.vec_id: [tuple(t) for t in r.p]
        for r in df.select(
            "vec_id",
            rp_multiprobe_udf(planes, T)(F.col("embedding")).alias("p"),
        ).collect()
    }
    P = np.asarray(
        [p for ps in planes for p in ps], dtype=np.float64
    ).reshape(tables, bits, dim)
    w = 1 << np.arange(bits, dtype=np.int64)
    for i, v in enumerate(vecs):
        for t in range(tables):
            proj = P[t] @ np.asarray(v)
            home = int(((proj >= 0) * w).sum())
            margins = np.abs(proj)
            # brute-force enumeration of every size<=2 set, ordered by
            # (score, singles-first, sorted-margin position) — the
            # documented deterministic tie-break
            order = np.argsort(margins, kind="stable")
            cands = [(margins[order[a]], 0, a, int(w[order[a]]))
                     for a in range(bits)]
            cands += [
                (margins[order[a]] + margins[order[b]], 1, (a, b),
                 int(w[order[a]] ^ w[order[b]]))
                for a in range(bits) for b in range(a + 1, bits)
            ]
            cands.sort(key=lambda c: (c[0], c[1], c[2] if c[1] == 0 else c[2][0] * bits + c[2][1]))
            want = [home] + [home ^ m for _, _, _, m in cands[:T]]
            assert got[i][t] == tuple(want), (i, t)
            # property (1): probes 1-2 are the two lowest single flips
            assert got[i][t][1] == home ^ int(w[order[0]])
            assert got[i][t][2] == home ^ int(w[order[1]])

    # property (3): plant a pair whose sketches differ in EXACTLY the
    # two lowest-margin planes of every table, then check recovery
    base = rng.normal(size=dim)
    nbr = base.copy()
    # flip the two lowest-margin planes of table 0 for `base` by
    # reflecting across each plane: x' = x - 2 (x.p / p.p) p
    for t in range(1):
        proj = P[0] @ base
        for j in np.argsort(np.abs(proj))[:2]:
            p = P[0][j]
            nbr = nbr - 2 * (nbr @ p) / (p @ p) * p
    h_base = ((P[0] @ base) >= 0) * w
    h_nbr = ((P[0] @ nbr) >= 0) * w
    assert bin(int(h_base.sum()) ^ int(h_nbr.sum())).count("1") == 2
    pair_df = spark.createDataFrame(
        [(0, [float(x) for x in base]), (1, [float(x) for x in nbr])],
        ["vec_id", "embedding"],
    )
    one_planes = [planes[0]]
    # cosine of a double reflection across two near-orthogonal planes
    # through near-zero margins ~ 1: the pair is a true near-dup
    cos = float(
        base @ nbr / (np.linalg.norm(base) * np.linalg.norm(nbr))
    )
    assert cos > 0.95
    found = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_near_dups(
            pair_df, dim=dim, threshold=0.9, bits=bits, tables=1,
            seed=5, multiprobe=bits + 1,  # T > bits: must include pairs
        ).collect()
    }
    assert (0, 1) in found


def test_sig_store_parquet_mode_matches_default(spark, monkeypatch):
    """SPARK_GRAFT_SIG_STORE=parquet (the saturated-cluster sig barrier:
    per-run scratch parquet instead of the reusable exchange) must yield
    the identical candidate-pair set and estimates."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    near = base.replace("kappa", "lambda")
    far = "completely unrelated content about spark execution engines and shuffles etc"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], ["doc_id", "text"]
    )
    sigs = dedup.minhash_signatures(df, num_hashes=64)
    want = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in dedup.minhash_candidate_pairs(sigs, num_hashes=64).collect()
    }
    monkeypatch.setenv("SPARK_GRAFT_SIG_STORE", "parquet")
    got = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in dedup.minhash_candidate_pairs(sigs, num_hashes=64).collect()
    }
    assert got == want

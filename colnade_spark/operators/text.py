"""Text-analysis operators for LLM training-data pipelines.

All hot-path expressions are built-in ``pyspark.sql.functions`` (JVM-side,
whole-stage-codegen'd) — no Python UDFs — so they run at full scan speed over
100 TB of documents. Each returns a Column (composable) or a DataFrame.

These are EXTENSIONS beyond the reference's operator surface (reference scope
boundary: SURVEY.md §2.6); they target the driver's ``documents`` table
(doc_id, text, lang, source, n_chars).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Small embedded stopword profiles for the language-ID heuristic. Real
# pipelines would ship larger profiles; the mechanism (per-language stopword
# hit scoring, argmax) is what matters.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "sich"],
    "fr": ["le", "la", "les", "et", "est", "pas", "une", "dans", "que", "pour"],
    "es": ["el", "la", "los", "y", "es", "no", "una", "en", "que", "por"],
}

_WORD_SPLIT = r"\s+"
# BPE-ish token regex: runs of letters, runs of digits, or single
# non-space-non-alnum symbols — a cheap proxy for subword token counts.
_BPE_TOKEN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(text: Column) -> Column:
    """Whitespace tokens of trimmed text."""
    return F.split(F.trim(text), _WORD_SPLIT)


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def bpe_token_count(text: Column) -> Column:
    """Approximate subword token count via a BPE-ish regex (letters runs /
    digit runs / individual symbols)."""
    return F.size(F.regexp_extract_all(text, F.lit(_BPE_TOKEN), 0))


def char_ngrams(text: Column, n: int) -> Column:
    """Array of character n-grams (shingles). Built-ins only: a positions
    sequence + per-position substring — no UDF, fully codegen'd.

    Sub-n-length text yields an EMPTY array (guarded: F.sequence(1, 0) is
    the descending [1, 0], not empty, and substr tolerates pos 0 — without
    the guard short docs got a bogus [text, text] shingle pair). The guard
    is an F.filter over positions, not F.when: conditional branches are
    excluded from Spark's common-subexpression elimination, so a
    when-wrapped pipeline recomputes at every downstream reference (see
    dedup.ngram_jaccard_pairs)."""
    return F.transform(
        F.filter(
            F.sequence(F.lit(1), F.greatest(F.length(text) - (n - 1), F.lit(0))),
            lambda i: (i >= 1) & (i <= F.length(text) - (n - 1)),
        ),
        lambda i: text.substr(i, F.lit(n)),
    )


def punct_count(text: Column, chars: str = "!.,;?") -> Column:
    """Occurrences of the given punctuation characters."""
    cls = "[" + "".join("\\" + c for c in chars) + "]"
    return F.length(text) - F.length(F.regexp_replace(text, cls, ""))


def upper_ratio(text: Column) -> Column:
    upper = F.length(text) - F.length(F.regexp_replace(text, "[A-Z]", ""))
    return upper / F.greatest(F.length(text), F.lit(1))


def stopword_hits(text: Column, lang: str = "en") -> Column:
    """Number of DISTINCT stopwords of ``lang`` present in the text."""
    words = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.array_intersect(tokens(F.lower(text)), words))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append standard quality-signal columns: characters, words, average
    word length, punctuation count/ratio, uppercase ratio, stopword ratio.
    One projection — no shuffle, no UDF."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_words = token_count(t)
    return df.withColumns(
        {
            "q_chars": n_chars,
            "q_words": n_words,
            "q_avg_word_len": n_chars.cast("double") / F.greatest(n_words, F.lit(1)),
            "q_punct": punct_count(t),
            "q_punct_ratio": punct_count(t).cast("double")
            / F.greatest(n_chars, F.lit(1)),
            "q_upper_ratio": upper_ratio(t),
            "q_stopword_ratio": stopword_hits(t).cast("double")
            / F.lit(len(STOPWORDS["en"])),
        }
    )


def fertility_sums(
    df: DataFrame, lang_col: str = "lang", text_col: str = "text"
) -> DataFrame:
    """The MERGEABLE half of the fertility datasheet: per-language doc
    counts and exact word/BPE-ish/byte totals, no ratios. All five
    columns are associative integer sums, so per-slice tables (one per
    micro-batch, shard, or source) merge by re-summing — the model the
    streaming maintainer persists (``maintain_fertility_table``).
    One scan-side projection into one map-side-combined aggregation;
    the shuffle carries |languages| rows of longs."""
    t = F.col(text_col)
    return df.groupBy(lang_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(t.isNull(), 1).otherwise(0)).cast("long").alias("n_null_docs"),
        F.coalesce(F.sum(token_count(t)), F.lit(0)).cast("long").alias("sum_words"),
        F.coalesce(F.sum(bpe_token_count(t)), F.lit(0))
        .cast("long")
        .alias("sum_bpe"),
        F.coalesce(F.sum(F.octet_length(t)), F.lit(0))
        .cast("long")
        .alias("sum_bytes"),
    )


def _fertility_ratios(agg: DataFrame, lang_col: str = "lang") -> DataFrame:
    """Derive the two datasheet ratios from a sums table — applied ONLY
    after all merging is done (ratios of sums, never sums of ratios)."""
    return agg.select(
        lang_col,
        "n_docs",
        "n_null_docs",
        "sum_words",
        "sum_bpe",
        "sum_bytes",
        F.when(
            F.col("sum_words") > 0,
            F.col("sum_bpe").cast("double") / F.col("sum_words").cast("double"),
        ).alias("fertility"),
        F.when(
            F.col("sum_bpe") > 0,
            F.col("sum_bytes").cast("double") / F.col("sum_bpe").cast("double"),
        ).alias("bytes_per_token"),
    )


def fertility_stats(
    df: DataFrame, lang_col: str = "lang", text_col: str = "text"
) -> DataFrame:
    """Per-language tokenizer-fertility datasheet: document counts plus
    EXACT whitespace-word / BPE-ish-token / UTF-8-byte totals, and the
    two derived ratios every multilingual pipeline reports —
    ``fertility`` (subword tokens per whitespace word: high for
    morphologically rich or unsegmented scripts) and ``bytes_per_token``
    (UTF-8 bytes per subword token: compression efficiency per
    language). NULL texts are counted in ``n_null_docs`` and contribute
    nothing to the sums; a language whose token total is zero emits NULL
    ratios rather than a division error.

    Every total is an exact integer sum and each ratio is ONE
    correctly-rounded IEEE division of those totals, so the output is
    bit-reproducible in any engine. Plan shape: one scan-side projection
    (token counts are regex built-ins) into one map-side-combined
    aggregation keyed on language — the shuffle carries |languages| rows
    of longs, nothing else, at any corpus size. Composed as
    ``fertility_sums`` (the mergeable totals) -> ``_fertility_ratios``;
    for a continuously-ingesting corpus, maintain the sums with
    ``maintain_fertility_table`` and read with ``merge_fertility_table``.
    """
    return _fertility_ratios(fertility_sums(df, lang_col, text_col), lang_col)


def merge_fertility_table(table: DataFrame, lang_col: str = "lang") -> DataFrame:
    """Collapse a persisted per-batch fertility-sums table into the
    datasheet: re-sum every total per language (integer sums are
    associative — the merged result equals ONE ``fertility_stats`` pass
    over everything ever streamed, pinned by test), then derive the
    ratios. The input is the maintainer's whole history
    (``spark.read.parquet(table_path)``); |languages| x |batches| rows
    in, |languages| rows out."""
    merged = table.groupBy(lang_col).agg(
        *[
            F.sum(c).cast("long").alias(c)
            for c in ("n_docs", "n_null_docs", "sum_words", "sum_bpe", "sum_bytes")
        ]
    )
    return _fertility_ratios(merged, lang_col)


def merge_fertility_store(spark, table_path: str) -> DataFrame:
    """Manifest-validating reader for a ``maintain_fertility_table``
    store — the ``report.merge_funnel_counts`` shape: validate the
    manifest ``kind`` (a path that was never written by the maintainer
    fails loudly, not with a missing-column error), recover ``lang_col``
    from the manifest instead of trusting a caller default, and a
    registered-but-no-batch store (manifest only) yields a valid EMPTY
    datasheet rather than a raw read error. Prefer this over
    ``merge_fertility_table(spark.read.parquet(path))`` whenever the
    input is the maintainer's store path."""
    from colnade_spark.streaming.stream import (
        read_batched_history,
        read_table_manifest,
    )

    mf = read_table_manifest(spark, table_path)
    if mf is None or mf.get("kind") != "fertility_sums":
        raise ValueError(
            f"no fertility_sums manifest at {table_path}; was this table"
            " written by maintain_fertility_table?"
        )
    lang_col = mf["lang_col"]
    hist = read_batched_history(spark, table_path)
    if hist is None:
        # the language column's dtype is not pinned in the manifest;
        # string is the maintainer's overwhelmingly common case and the
        # frame is empty either way
        hist = spark.createDataFrame(
            [],
            f"{lang_col} string, n_docs long, n_null_docs long,"
            " sum_words long, sum_bpe long, sum_bytes long",
        )
    return merge_fertility_table(hist, lang_col)


def maintain_fertility_table(
    stream: DataFrame,
    table_path: str,
    checkpoint: str,
    lang_col: str = "lang",
    text_col: str = "text",
    available_now: bool = True,
):
    """STREAMING maintenance of the per-language fertility datasheet:
    each micro-batch aggregates its own ``fertility_sums`` (|languages|
    rows of longs) and OVERWRITES its ``batch_id=<n>`` partition — the
    mergeable-model maintainer pattern (HLL/CMS/Bloom tier): idempotent
    under redelivery, and since the totals are associative sums the
    merged table equals a single batch pass over everything ever
    streamed. Read with ``merge_fertility_table``; compact the history
    with ``compact_fertility_table`` when the partition count grows.
    The raw stream is never re-scanned and per-batch state is KBs,
    whatever the ingest volume.

    A params manifest pins (lang_col, text_col): totals computed over a
    different text column are not comparable — fail fast on a resumed
    run whose columns drifted rather than silently mixing them."""
    from colnade_spark.streaming.stream import (
        maintain_partitioned_table,
        write_table_manifest,
    )

    write_table_manifest(
        stream.sparkSession,
        table_path,
        {"kind": "fertility_sums", "lang_col": lang_col, "text_col": text_col},
    )
    return maintain_partitioned_table(
        stream,
        lambda b: fertility_sums(b, lang_col, text_col),
        table_path,
        checkpoint,
        available_now,
    )


def compact_fertility_table(spark, table_path: str, dest_path: str) -> dict:
    """Compact a ``maintain_fertility_table`` history: fold every batch
    partition EXCEPT the trailing one into a single epoch partition —
    RE-SUMMED to |languages| rows (sums merge losslessly, so the fold
    changes nothing the reader can observe) — carry the trailing
    partition verbatim, and write both plus the manifest to a FRESH
    ``dest_path``. Shares ``streaming.compact_batched_table``'s skeleton;
    see it for why the trailing partition is never folded."""
    from colnade_spark.streaming.stream import compact_batched_table

    def _resolve(body, mf):
        lang = mf.get("lang_col", "lang")
        return body.drop("batch_id").groupBy(lang).agg(
            *[
                F.sum(c).cast("long").alias(c)
                for c in (
                    "n_docs",
                    "n_null_docs",
                    "sum_words",
                    "sum_bpe",
                    "sum_bytes",
                )
            ]
        )

    return compact_batched_table(
        spark, table_path, dest_path, "fertility_sums", _resolve
    )


def language_id(df: DataFrame, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    """Heuristic n-gram/stopword language ID: score each language profile by
    distinct stopword hits, argmax wins (ties broken by language code order
    for determinism). Pure built-ins; scales linearly with the scan."""
    toks = tokens(F.lower(F.col(text_col)))
    scored = F.array(
        *[
            F.struct(
                F.size(
                    F.array_intersect(toks, F.array(*[F.lit(w) for w in ws]))
                ).alias("score"),
                F.lit(lang).alias("lang"),
            )
            for lang, ws in sorted(STOPWORDS.items())
        ]
    )
    # array_max on struct uses field-order comparison (score, lang): the
    # winner is the highest score, ties broken by the lexicographically
    # GREATEST language code ("der le" → de=1, fr=1 → 'fr'). Deterministic
    # by construction; the DuckDB oracle replicates the same struct-max
    # (list_max over {'score','lang'} structs), and the tie semantics are
    # pinned cross-engine by test_language_id_tie_break.
    best = F.array_max(scored)
    return df.withColumn(out_col, best.getField("lang"))


def normalized_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, strip non-alphanumerics
    (keep spaces), collapse whitespace runs, trim."""
    t = F.lower(text)
    t = F.regexp_replace(t, "[^a-z0-9 ]", " ")
    t = F.regexp_replace(t, " +", " ")
    return F.trim(t)


def fingerprint(text: Column) -> Column:
    """Deterministic 128-bit document fingerprint (md5 of normalized text) —
    the standard near-exact dedup key."""
    return F.md5(normalized_text(text))


def md5_hash60(col: Column) -> Column:
    """Portable 60-bit hash: the top 15 hex digits of md5, as a long.

    Slower than xxhash64 but computable IDENTICALLY in DuckDB
    (``('0x' || substr(md5(x), 1, 15))::BIGINT``), so sketches built on it
    (simhash, winnowing) can be value-checked against a SQL oracle."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def rolling_hashes(
    text: Column, window: int = 8, *, normalized: bool = False, hash_fn=None
) -> Column:
    """Array of rolling window hashes over the normalized text — the basis
    for winnowing-style fingerprints. Built-ins only. Sub-window-length
    text yields an EMPTY array (F.sequence(1, 0) descends — see
    char_ngrams).

    ``hash_fn``: Column→Column hash of each window (default xxhash64; pass
    ``md5_hash60`` for the oracle-checkable variant).

    PERF: ``text`` is referenced inside the per-position lambda, so any
    expression passed here is re-evaluated per position. Stage the
    normalized text as a real column first (``withColumn``) and pass
    ``normalized=True`` — see dedup.minhash_signatures for why.
    """
    norm = text if normalized else normalized_text(text)
    h = hash_fn if hash_fn is not None else F.xxhash64
    # filter-guard, not F.when — see char_ngrams (CSE exclusion)
    return F.transform(
        F.filter(
            F.sequence(F.lit(1), F.greatest(F.length(norm) - (window - 1), F.lit(0))),
            lambda i: (i >= 1) & (i <= F.length(norm) - (window - 1)),
        ),
        lambda i: h(norm.substr(i, F.lit(window))),
    )


def winnowing_fingerprint(
    text: Column,
    window: int = 8,
    keep: int = 16,
    *,
    normalized: bool = False,
    hash_fn=None,
) -> Column:
    """Bounded-size document sketch: the ``keep`` smallest rolling hashes
    (a winnowing/bottom-k sketch). Set-overlap of sketches estimates
    document similarity at a fixed per-doc cost. See ``rolling_hashes`` for
    the ``normalized`` staging contract and ``hash_fn``."""
    return F.slice(
        F.array_sort(
            F.array_distinct(
                rolling_hashes(text, window, normalized=normalized, hash_fn=hash_fn)
            )
        ),
        1,
        keep,
    )

"""Typed facades over the pipeline operators: run quality filters,
dedup, sampling, chunking and packing WITHOUT leaving the typed frame
surface (`DataFrame[S]` in → `DataFrame[S]`/`DataFrame[Chunks]` out,
boundary-validated like every other typed op).

Schema-preserving operators (filters, samplers) are generic in ``S``
and revalidate through ``with_raw`` — the typed layer's sanctioned
escape hatch (reference: dataframe.py:653-673). Schema-changing
operators (chunking, packing) pin their OUTPUT schemas here
(``Chunks`` / ``PackedChunks``) so downstream code gets typed column
refs and typed rows for the pipeline's intermediate tables too.
"""

from __future__ import annotations

from typing import TypeVar

from colnade_spark.dataframe import DataFrame, _boundary_validate
from colnade_spark.dtypes import Bool, Float64, Int32, Int64, Utf8
from colnade_spark.operators import chunking as _chunking
from colnade_spark.operators import dedup as _dedup
from colnade_spark.operators import packing as _packing
from colnade_spark.operators import quality as _quality
from colnade_spark.operators import sampling as _sampling
from colnade_spark.schema import Column, Schema

S = TypeVar("S", bound=Schema)

__all__ = [
    "Chunks",
    "PackedChunks",
    "DupPairs",
    "Clusters",
    "ClusterAssignments",
    "gopher_filter",
    "hash_sample",
    "stratified_sample",
    "dedup_exact",
    "dedup_minhash",
    "chunk_by_tokens",
    "pack_chunks",
    "edit_distance_pairs",
    "duplicate_clusters",
    "kmeans",
    "SpanRows",
    "PmiRows",
    "duplicate_spans",
    "remove_duplicate_spans",
    "classifier_gate",
    "upsample_epochs",
    "bigram_pmi",
    "SemDupPairs",
    "NearDupPairs",
    "DsirWeights",
    "CanonicalMap",
    "semantic_dup_pairs",
    "semantic_dedup",
    "embedding_near_dups",
    "dsir_weights",
    "dsir_sample",
    "canonical_map",
    "domain_blocklist_gate",
    "RecallRows",
    "recall_at_k",
    "pq_screen_gate",
    "PqContaminationRows",
    "pq_contamination_report",
    "CorpusDiffRows",
    "CorpusCardRows",
    "PiiCountRows",
    "corpus_diff",
    "corpus_card",
    "corpus_card_approx",
    "pii_counts",
    "perplexity_bucket_select",
    "changed_rows_gate",
    "pq_residual_screen_gate",
    "MinhashAuditRows",
    "minhash_estimate_audit",
    "prototypicality",
    "prototype_prune_select",
    "commonness_weights",
    "duplication_weights",
    "fertility_stats",
    "PrototypeScores",
    "SoftDedupWeights",
    "DupWeights",
    "FertilityRows",
    "source_overlap_matrix",
    "source_overlap_near",
    "length_drift_psi",
    "SourceOverlapRows",
    "DriftPsiRows",
    "stratified_split_select",
    "code_quality_signals",
    "CodeQualityRows",
    "blend_quality_scores",
    "BlendedQualityRows",
    "remove_contaminated_spans",
    "curation_funnel",
    "FunnelRows",
    "JaccardPairs",
    "charshingle_jaccard_pairs",
    "commonness_score_frozen",
    "blend_quality_frozen",
    "curation_attribution",
    "AttributionRows",
    "merge_fertility_table",
    "merge_funnel_counts",
    "PrtAuditRow",
    "minhash_prt_audit",
    "group_split_select",
    "temperature_mixture",
    "quality_prune",
    "token_budget_prune",
]


class Chunks(Schema):
    doc_id: Column[Int64]
    chunk_id: Column[Int64]
    chunk_start: Column[Int64]
    chunk_tokens: Column[Int64]
    chunk_text: Column[Utf8]


class PackedChunks(Schema):
    doc_id: Column[Int64]
    chunk_id: Column[Int64]
    chunk_tokens: Column[Int64]
    shard: Column[Int64]
    pack_offset: Column[Int64]
    pack_id: Column[Int64]


def _typed(data, schema: type[S]) -> DataFrame[S]:
    out = DataFrame(data, schema)
    _boundary_validate(out)
    return out


def gopher_filter(frame: DataFrame[S], **kwargs) -> DataFrame[S]:
    """Schema-preserving Gopher quality gate (operators.quality)."""
    return frame.with_raw(lambda d: _quality.gopher_filter(d, **kwargs))


def hash_sample(
    frame: DataFrame[S], frac: float, key_col: str = "doc_id", salt: str = ""
) -> DataFrame[S]:
    """Schema-preserving deterministic sample (operators.sampling)."""
    return frame.with_raw(lambda d: _sampling.hash_sample(d, frac, key_col, salt))


def stratified_sample(
    frame: DataFrame[S],
    group_col: str,
    k: int,
    key_col: str = "doc_id",
    salt: str = "",
) -> DataFrame[S]:
    """Schema-preserving exact-k-per-group sample (operators.sampling)."""
    return frame.with_raw(
        lambda d: _sampling.stratified_sample(d, group_col, k, key_col, salt)
    )


def dedup_exact(
    frame: DataFrame[S], id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame[S]:
    """Exact dedup keeping full surviving rows (payload joins back to the
    surviving-id set — ids ride the shuffle, not documents)."""

    def _apply(d):
        keep = _dedup.dedup_exact(d, id_col=id_col, text_col=text_col)
        return d.join(keep, id_col)

    return frame.with_raw(_apply)


def dedup_minhash(
    frame: DataFrame[S],
    id_col: str = "doc_id",
    text_col: str = "text",
    **kwargs,
) -> DataFrame[S]:
    """MinHash-LSH near-dedup keeping full surviving rows."""

    def _apply(d):
        keep = _dedup.dedup_minhash(d, id_col=id_col, text_col=text_col, **kwargs)
        return d.join(keep, id_col)

    return frame.with_raw(_apply)


def chunk_by_tokens(
    frame: DataFrame[S], chunk_size: int = 128, overlap: int = 0
) -> DataFrame[Chunks]:
    """Chunk a Documents-shaped frame into typed chunk rows."""
    out = _chunking.chunk_by_tokens(
        frame.native, chunk_size=chunk_size, overlap=overlap
    )
    return _typed(out, Chunks)


def pack_chunks(
    frame: DataFrame[Chunks],
    budget: int,
    n_shards: int = 8,
) -> DataFrame[PackedChunks]:
    """Pack typed chunks into token-offset bins (typed output drops the
    chunk text payload: packed manifests carry ids + offsets; the text
    joins back by (doc_id, chunk_id) at write time)."""
    out = _packing.pack_chunks(frame.native, budget=budget, n_shards=n_shards)
    return _typed(
        out.select(
            "doc_id", "chunk_id", "chunk_tokens", "shard", "pack_offset", "pack_id"
        ),
        PackedChunks,
    )


class DupPairs(Schema):
    id_a: Column[Int64]
    id_b: Column[Int64]
    dist: Column[Int64]


class Clusters(Schema):
    node: Column[Int64]
    component: Column[Int64]


class ClusterAssignments(Schema):
    vec_id: Column[Int64]
    cluster: Column[Int64]


def edit_distance_pairs(
    frame: DataFrame[S],
    id_col: str = "doc_id",
    text_col: str = "text",
    **kwargs,
) -> DataFrame[DupPairs]:
    """Typed bounded-Levenshtein near-dup pairs (operators.dedup)."""
    out = _dedup.edit_distance_pairs(
        frame.native, id_col=id_col, text_col=text_col, **kwargs
    )
    return _typed(out, DupPairs)


def duplicate_clusters(
    pairs: DataFrame[DupPairs], nodes: DataFrame[S] | None = None
) -> DataFrame[Clusters]:
    """Typed connected-components resolution of near-dup pairs
    (operators.graph): every node labeled with its component minimum."""
    from colnade_spark.operators import graph as _graph

    out = _graph.connected_components(
        pairs.native,
        src="id_a",
        dst="id_b",
        nodes=None if nodes is None else nodes.native,
    )
    return _typed(out, Clusters)


def kmeans(
    frame: DataFrame[S],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    iters: int = 2,
) -> DataFrame[ClusterAssignments]:
    """Typed reproducible k-means (operators.clustering)."""
    from colnade_spark.operators import clustering as _clustering

    out = _clustering.kmeans(frame.native, id_col, vec_col, k=k, iters=iters)
    return _typed(
        out.selectExpr(f"{id_col} AS vec_id", "cluster"), ClusterAssignments
    )


class SpanRows(Schema):
    doc_id: Column[Int64]
    span_start: Column[Int64]
    span_end: Column[Int64]


class PmiRows(Schema):
    tok_a: Column[Utf8]
    tok_b: Column[Utf8]
    n_ab: Column[Int64]
    pmi: Column[Float64]


def duplicate_spans(
    frame: DataFrame[S],
    id_col: str = "doc_id",
    text_col: str = "text",
    **kwargs,
) -> DataFrame[SpanRows]:
    """Typed duplicated-span detection (operators.spans)."""
    from pyspark.sql import functions as F

    from colnade_spark.operators import spans as _spans

    out = _spans.duplicate_spans(
        frame.native, id_col=id_col, text_col=text_col, **kwargs
    )
    return _typed(
        out.select(
            F.col(id_col).alias("doc_id"),
            F.col("span_start").cast("long").alias("span_start"),
            F.col("span_end").cast("long").alias("span_end"),
        ),
        SpanRows,
    )


def remove_duplicate_spans(
    frame: DataFrame[S],
    id_col: str = "doc_id",
    text_col: str = "text",
    **kwargs,
) -> DataFrame[S]:
    """Schema-preserving span removal: the cleaned text REPLACES the text
    column (note: span removal normalizes the text — see
    operators/spans.py for the contract)."""

    def _apply(d):
        out = _spans_mod().remove_duplicate_spans(
            d, id_col=id_col, text_col=text_col, out_col="_clean", **kwargs
        )
        return out.withColumn(text_col, out["_clean"]).drop("_clean")

    return frame.with_raw(_apply)


def _spans_mod():
    from colnade_spark.operators import spans as _spans

    return _spans


def classifier_gate(
    frame: DataFrame[S],
    threshold: float = 0.5,
    text_col: str = "text",
    dim: int = 1 << 16,
    seed: int = 7,
) -> DataFrame[S]:
    """Schema-preserving quality gate on the hashed linear classifier's
    logistic probability (operators.classifier)."""
    from pyspark.sql import functions as F

    from colnade_spark.operators import classifier as _classifier

    def _apply(d):
        scored = _classifier.hashed_linear_score(
            d, text_col=text_col, dim=dim, seed=seed, prefix="_cg"
        )
        return scored.filter(F.col("_cg_prob") >= threshold).drop(
            "_cg_int", "_cg_score", "_cg_prob"
        )

    return frame.with_raw(_apply)


def upsample_epochs(
    frame: DataFrame[S],
    epochs: dict[str, float],
    domain_col: str = "source",
    key_col: str = "doc_id",
    salt: str = "",
) -> DataFrame[S]:
    """Schema-preserving epoch upsampling: rows replicate per domain; the
    epoch counter column stays internal so the schema is unchanged."""

    def _apply(d):
        out = _sampling.upsample_epochs(
            d, epochs, domain_col, key_col, salt, copy_col="_epoch"
        )
        return out.drop("_epoch")

    return frame.with_raw(_apply)


def bigram_pmi(
    frame: DataFrame[S], text_col: str = "text", min_count: int = 5
) -> DataFrame[PmiRows]:
    """Typed PMI collocation table (operators.cooccur)."""
    from colnade_spark.operators import cooccur as _cooccur

    out = _cooccur.bigram_pmi(frame.native, text_col=text_col, min_count=min_count)
    return _typed(out, PmiRows)


class SemDupPairs(Schema):
    id_a: Column[Int64]
    id_b: Column[Int64]
    cluster_id: Column[Int64]
    cos_sim: Column[Float64]


class NearDupPairs(Schema):
    id_a: Column[Int64]
    id_b: Column[Int64]
    cos_sim: Column[Float64]


class DsirWeights(Schema):
    doc_id: Column[Int64]
    n_feats: Column[Int64]
    weight: Column[Float64]


class CanonicalMap(Schema):
    doc_id: Column[Int64]
    canonical_id: Column[Int64]


def semantic_dup_pairs(
    frame: DataFrame[S],
    centroids: list[list[float]],
    threshold: float,
    **kwargs,
) -> DataFrame[SemDupPairs]:
    """Typed SemDeDup audit pairs (operators.semdedup)."""
    from colnade_spark.operators import semdedup as _semdedup

    out = _semdedup.semantic_dup_pairs(frame.native, centroids, threshold, **kwargs)
    return _typed(out, SemDupPairs)


def semantic_dedup(
    frame: DataFrame[S],
    centroids: list[list[float]],
    threshold: float,
    **kwargs,
) -> DataFrame[S]:
    """Schema-preserving SemDeDup: rows whose cluster has no
    lower-id near-duplicate survive (operators.semdedup)."""
    from colnade_spark.operators import semdedup as _semdedup

    return frame.with_raw(
        lambda d: _semdedup.semantic_dedup(d, centroids, threshold, **kwargs)
    )


def embedding_near_dups(
    frame: DataFrame[S],
    dim: int,
    threshold: float = 0.95,
    tables: int = 4,
    multiprobe: int = 2,
    max_bucket: int = 32,
    target_occupancy: float = 8.0,
    **kwargs,
) -> DataFrame[NearDupPairs]:
    """Embedding-cosine near-duplicate pairs at the PRODUCTION defaults
    (round 10): occupancy-stable cells from ``sized_lsh`` — one count of
    the corpus fixes ``(bits, refine_frac)`` so expected bucket
    occupancy sits EXACTLY at ``target_occupancy`` at any scale, keeping
    candidate volume linear per decade — ``multiprobe=2`` probes per
    table (the pinned recall budget: the two lowest-margin perturbations
    recover the cross-cell near pairs sized cells lose, at ~(1+2·T)×
    home-candidate join volume — the measured T-vs-tables trade at the
    5M board scale is tabled in SCALE.md round 10; prefer raising T over
    adding tables: a table multiplies SKETCH STORAGE and candidates
    alike, a probe multiplies candidates only), and the ``max_bucket=32``
    skew guard for clustered corpora. Candidates are scored inside the
    bucket meeting join by a kernel bit-identical to
    ``similarity.cosine``, so only threshold survivors reach the
    distinct. Pass an explicit ``bits=`` to skip the sizing count
    (fixture/debug tier); other kwargs forward to
    ``operators.similarity.embedding_near_dups``."""
    from colnade_spark.operators import similarity as _similarity

    native = frame.native
    if "bits" not in kwargs and "refine_frac" not in kwargs:
        bits, frac = _similarity.sized_lsh(
            native.count(), target_occupancy=target_occupancy
        )
        kwargs["bits"] = bits
        kwargs["refine_frac"] = frac
    if "bits" not in kwargs and "refine_frac" in kwargs:
        # refine_frac without bits would mix a caller fraction into a
        # sized cell count — occupancy would be off target silently
        raise ValueError(
            "embedding_near_dups: refine_frac without bits — pass both"
            " (fixture tier) or neither (sized_lsh production tier)"
        )
    out = _similarity.embedding_near_dups(
        native,
        dim=dim,
        threshold=threshold,
        tables=tables,
        multiprobe=multiprobe,
        max_bucket=max_bucket,
        **kwargs,
    )
    return _typed(out, NearDupPairs)


def dsir_weights(
    frame: DataFrame[S], target: DataFrame, **kwargs
) -> DataFrame[DsirWeights]:
    """Typed DSIR importance weights vs a target frame
    (operators.importance)."""
    from colnade_spark.operators import importance as _importance

    out = _importance.dsir_weights(
        frame.native, target.native if isinstance(target, DataFrame) else target,
        **kwargs,
    )
    return _typed(out, DsirWeights)


def dsir_sample(
    frame: DataFrame[S],
    target: DataFrame,
    k: int,
    id_col: str = "doc_id",
    **kwargs,
) -> DataFrame[S]:
    """Schema-preserving DSIR resample: the Gumbel-top-k selected rows,
    full payloads joined back by id (operators.importance)."""
    from colnade_spark.operators import importance as _importance

    tgt = target.native if isinstance(target, DataFrame) else target

    def _apply(d):
        w = _importance.dsir_weights(d, tgt, id_col=id_col, **kwargs)
        picked = _importance.gumbel_topk(w, k, id_col=id_col).select(id_col)
        return d.join(picked, id_col)

    return frame.with_raw(_apply)


def domain_blocklist_gate(
    frame: DataFrame[S],
    blocked: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    subdomains: bool = True,
) -> DataFrame[S]:
    """Schema-preserving URL/domain blocklist gate (operators.redact)."""
    from colnade_spark.operators import redact as _redact

    return frame.with_raw(
        lambda d: _redact.domain_blocklist_gate(
            d, blocked, id_col, text_col, subdomains
        )
    )


def canonical_map(
    frame: DataFrame[S],
    pairs: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
    **kwargs,
) -> DataFrame[CanonicalMap]:
    """Typed duplicate-cluster resolution: every paired doc mapped to its
    kept representative (operators.canonical). ``frame`` supplies the
    quality scores (``id_col`` + ``score_col``)."""
    from pyspark.sql import functions as F

    from colnade_spark.operators import canonical as _canonical

    p = pairs.native if isinstance(pairs, DataFrame) else pairs
    out = _canonical.canonical_map(
        p, frame.native, id_col=id_col, score_col=score_col, **kwargs
    )
    return _typed(
        out.select(F.col(id_col).alias("doc_id"), "canonical_id"), CanonicalMap
    )


class RecallRows(Schema):
    query_id: Column[Int64]
    n_exact: Column[Int64]
    n_hit: Column[Int64]
    recall: Column[Float64]


def recall_at_k(
    approx: DataFrame, exact: DataFrame, **kwargs
) -> DataFrame[RecallRows]:
    """Typed ANN recall audit: per-query |approx ∩ exact| / |exact| over
    two top-k tables (operators.similarity.recall_at_k — duplicate-safe
    set semantics)."""
    from colnade_spark.operators import similarity as _similarity

    a = approx.native if isinstance(approx, DataFrame) else approx
    e = exact.native if isinstance(exact, DataFrame) else exact
    return _typed(_similarity.recall_at_k(a, e, **kwargs), RecallRows)


def pq_screen_gate(
    frame: DataFrame[S],
    query_vecs: list[list[float]],
    codebooks: list[list[list[float]]],
    threshold: float,
    **kwargs,
) -> DataFrame[S]:
    """Schema-preserving semantic screen over PQ codes: drops rows whose
    max reconstructed dot against the frozen query set reaches
    ``threshold`` (operators.pq.pq_screen_gate — stateless, streams)."""
    from colnade_spark.operators import pq as _pq

    return frame.with_raw(
        lambda d: _pq.pq_screen_gate(
            d, query_vecs, codebooks, threshold, **kwargs
        )
    )


def group_split_select(
    frame: DataFrame[S],
    groups,
    weights: dict[str, float],
    keep: str,
    **kwargs,
) -> DataFrame[S]:
    """Schema-preserving leakage-safe split selection: label rows by the
    hash of their GROUP (near-dup cluster / domain / author — members
    never straddle splits, operators.sampling.group_split), keep the
    ``keep`` split, drop the internal label. ``keep`` must be one of
    ``weights``' labels."""
    if keep not in weights:
        raise ValueError(f"keep={keep!r} is not a split label in {sorted(weights)}")
    from pyspark.sql import functions as F

    g = groups.native if isinstance(groups, DataFrame) else groups

    def _apply(d):
        out = _sampling.group_split(d, g, weights, out_col="_split", **kwargs)
        return out.filter(F.col("_split") == keep).drop("_split")

    return frame.with_raw(_apply)


def temperature_mixture(
    frame: DataFrame[S], alpha: float = 0.5, **kwargs
) -> DataFrame[S]:
    """Schema-preserving temperature-flattened mixture (multilingual
    alpha-sampling — operators.sampling.temperature_mixture): output
    mixture ∝ n_s**alpha, downsampling only."""
    return frame.with_raw(
        lambda d: _sampling.temperature_mixture(d, alpha, **kwargs)
    )


def quality_prune(
    frame: DataFrame[S],
    frac: float,
    score_col: str,
    domain_col: str | None = None,
    **kwargs,
) -> DataFrame[S]:
    """Schema-preserving per-domain quality pruning: keep the top
    ``frac`` by score within each domain (operators.quality)."""
    return frame.with_raw(
        lambda d: _quality.quality_prune(d, frac, score_col, domain_col, **kwargs)
    )


def token_budget_prune(
    frame: DataFrame[S],
    budget: int,
    token_col: str,
    domain_col: str | None = None,
    score_col: str | None = None,
    **kwargs,
) -> DataFrame[S]:
    """Schema-preserving token-budget pruning: greedy-by-score (or hash
    order) until each domain's cumulative token count reaches the
    budget (operators.quality.token_budget_prune)."""
    return frame.with_raw(
        lambda d: _quality.token_budget_prune(
            d, budget, token_col, domain_col, score_col, **kwargs
        )
    )


class PqContaminationRows(Schema):
    query_id: Column[Int64]
    n_rows: Column[Int64]
    n_hits: Column[Int64]
    frac_hits: Column[Float64]
    max_adc: Column[Float64]


def pq_contamination_report(
    codes,
    query_vecs: list[list[float]],
    codebooks: list[list[list[float]]],
    threshold: float,
    **kwargs,
) -> DataFrame[PqContaminationRows]:
    """Typed graded semantic contamination over PQ codes: per frozen
    benchmark vector, the hit count/fraction and max reconstructed-dot
    ADC over the code corpus (operators.pq.pq_contamination_report;
    query_id widened to Int64 at the typed boundary)."""
    from pyspark.sql import functions as F

    from colnade_spark.operators import pq as _pq

    c = codes.native if isinstance(codes, DataFrame) else codes
    out = _pq.pq_contamination_report(
        c, query_vecs, codebooks, threshold, **kwargs
    ).withColumn("query_id", F.col("query_id").cast("long"))
    return _typed(out, PqContaminationRows)


class CorpusDiffRows(Schema):
    doc_id: Column[Int64]
    status: Column[Utf8]


def corpus_diff(old, *, new, **kwargs) -> DataFrame[CorpusDiffRows]:
    """Typed corpus snapshot diff: (doc_id, added/removed/changed) by
    content fingerprint (operators.report.corpus_diff; ``new`` is
    keyword-only so the snapshots can't be silently transposed)."""
    from colnade_spark.operators import report as _report

    o = old.native if isinstance(old, DataFrame) else old
    n = new.native if isinstance(new, DataFrame) else new
    return _typed(_report.corpus_diff(o, new=n, **kwargs), CorpusDiffRows)


class CorpusCardRows(Schema):
    lang: Column[Utf8]
    n_docs: Column[Int64]
    total_size: Column[Int64]
    q_50: Column[Int64]
    q_90: Column[Int64]


def corpus_card(frame, **kwargs) -> DataFrame[CorpusCardRows]:
    """Typed per-language dataset datasheet at the default (50, 90)
    quantiles (operators.report.corpus_card; custom group/quantile
    configurations use the raw operator — their output shape varies)."""
    if kwargs.get("quantiles") not in (None, (50, 90)):
        raise ValueError(
            "the typed corpus_card facade pins quantiles=(50, 90);"
            " use operators.report.corpus_card for other shapes"
        )
    if kwargs.get("group_col") not in (None, "lang"):
        raise ValueError(
            "the typed corpus_card facade pins group_col='lang';"
            " use operators.report.corpus_card for other groups"
        )
    from colnade_spark.operators import report as _report

    d = frame.native if isinstance(frame, DataFrame) else frame
    return _typed(_report.corpus_card(d, **kwargs), CorpusCardRows)


def corpus_card_approx(frame, **kwargs) -> DataFrame[CorpusCardRows]:
    """Typed scan-side datasheet (operators.report.corpus_card_approx):
    same (50, 90) output shape as the exact card, quantiles from
    percentile_approx in one hash aggregate — for groups too large to
    sort. Same facade pins as corpus_card."""
    if kwargs.get("quantiles") not in (None, (50, 90)):
        raise ValueError(
            "the typed corpus_card_approx facade pins quantiles=(50, 90);"
            " use operators.report.corpus_card_approx for other shapes"
        )
    if kwargs.get("group_col") not in (None, "lang"):
        raise ValueError(
            "the typed corpus_card_approx facade pins group_col='lang';"
            " use operators.report.corpus_card_approx for other groups"
        )
    from colnade_spark.operators import report as _report

    d = frame.native if isinstance(frame, DataFrame) else frame
    return _typed(_report.corpus_card_approx(d, **kwargs), CorpusCardRows)


class PiiCountRows(Schema):
    doc_id: Column[Int64]
    n_urls: Column[Int64]
    n_emails: Column[Int64]
    n_ips: Column[Int64]
    n_phones: Column[Int64]


def pii_counts(frame, **kwargs) -> DataFrame[PiiCountRows]:
    """Typed per-document PII audit counts
    (operators.redact.pii_counts)."""
    from colnade_spark.operators import redact as _redact

    d = frame.native if isinstance(frame, DataFrame) else frame
    return _typed(_redact.pii_counts(d, **kwargs), PiiCountRows)


def perplexity_bucket_select(
    frame: DataFrame[S],
    score_col: str,
    keep: str,
    domain_col: str | None = None,
    **kwargs,
) -> DataFrame[S]:
    """Schema-preserving CCNet bucket selection: bucket rows
    head/middle/tail by per-domain LM-score rank
    (operators.quality.perplexity_buckets), keep one bucket, drop the
    label — the usual 'train on the middle' pick as a typed gate."""
    if keep not in ("head", "middle", "tail"):
        raise ValueError(f"keep={keep!r} is not a perplexity bucket")
    from pyspark.sql import functions as F

    def _apply(d):
        out = _quality.perplexity_buckets(
            d, score_col, domain_col, bucket_col="_ppl_b", **kwargs
        )
        return out.filter(F.col("_ppl_b") == keep).drop("_ppl_b")

    return frame.with_raw(_apply)


def changed_rows_gate(
    frame: DataFrame[S], *, old, **kwargs
) -> DataFrame[S]:
    """Schema-preserving incremental-ingest gate: keep only the rows of
    ``frame`` that are added or changed vs the known ``old`` snapshot,
    dropping the internal status label
    (operators.report.changed_rows_gate; stream-static append-legal;
    ``old`` is keyword-only so the snapshots can't be transposed)."""
    o = old.native if isinstance(old, DataFrame) else old

    def _apply(d):
        from pyspark.sql import functions as F

        from colnade_spark.operators import report as _report

        out = _report.changed_rows_gate(
            d, old=o, status_col="_crg_s", **kwargs
        )
        return out.drop("_crg_s")

    return frame.with_raw(_apply)


def pq_residual_screen_gate(
    frame: DataFrame[S],
    query_vecs: list[list[float]],
    codebooks: list[list[list[float]]],
    centroids: list[list[float]],
    threshold: float,
    **kwargs,
) -> DataFrame[S]:
    """Schema-preserving semantic screen over residual IVF-PQ scoring:
    drops rows whose max q·centroid[list] + LUT[residual codes]
    reaches ``threshold`` (operators.pq.pq_residual_screen_gate —
    stateless, streams)."""
    from colnade_spark.operators import pq as _pq

    return frame.with_raw(
        lambda d: _pq.pq_residual_screen_gate(
            d, query_vecs, codebooks, centroids, threshold, **kwargs
        )
    )


class JaccardPairs(Schema):
    id_a: Column[Int64]
    id_b: Column[Int64]
    jaccard: Column[Float64]


def charshingle_jaccard_pairs(frame, **kwargs) -> DataFrame[JaccardPairs]:
    """Typed exhaustive exact-pair ground truth: every ≥-threshold char-
    shingle Jaccard pair via the lossless bucket block
    (operators.dedup.charshingle_jaccard_pairs — the audit/ground-truth
    tier, quadratic per bucket by nature)."""
    f = frame.native if isinstance(frame, DataFrame) else frame
    return _typed(_dedup.charshingle_jaccard_pairs(f, **kwargs), JaccardPairs)


class PrtAuditRow(Schema):
    n_true_pairs: Column[Int64]
    n_candidate_pairs: Column[Int64]
    n_est_positive: Column[Int64]
    n_true_in_candidates: Column[Int64]
    n_true_positive: Column[Int64]
    candidate_recall: Column[Float64]
    decision_precision: Column[Float64]
    decision_recall: Column[Float64]


def minhash_prt_audit(frame, **kwargs) -> DataFrame[PrtAuditRow]:
    """Typed one-row LSH precision/recall audit vs exhaustive ground
    truth (operators.dedup.minhash_prt_audit — the bands/num_hashes
    tuning artifact; audit a bounded slice at corpus scale)."""
    f = frame.native if isinstance(frame, DataFrame) else frame
    return _typed(_dedup.minhash_prt_audit(f, **kwargs), PrtAuditRow)


class MinhashAuditRows(Schema):
    id_a: Column[Int64]
    id_b: Column[Int64]
    est_jaccard: Column[Float64]
    exact_jaccard: Column[Float64]
    abs_err: Column[Float64]
    agree_at_threshold: Column[Bool]


def minhash_estimate_audit(frame, **kwargs) -> DataFrame[MinhashAuditRows]:
    """Typed MinHash estimator audit: per LSH candidate pair, estimated
    vs exact shingle-set Jaccard with error and threshold-decision
    agreement (operators.dedup.minhash_estimate_audit — the dedup analog
    of recall_at_k)."""
    f = frame.native if isinstance(frame, DataFrame) else frame
    return _typed(_dedup.minhash_estimate_audit(f, **kwargs), MinhashAuditRows)


class PrototypeScores(Schema):
    vec_id: Column[Int64]
    cluster: Column[Int64]
    proto_dist: Column[Float64]


def prototypicality(frame, centroids, **kwargs) -> DataFrame[PrototypeScores]:
    """Typed prototypicality scores (operators.clustering.prototypicality):
    each row's nearest frozen centroid + squared distance, projected to
    the score triple. The raw operator preserves the input payload; the
    typed surface pins the id/cluster/distance contract."""
    from colnade_spark.operators import clustering as _clustering

    f = frame.native if isinstance(frame, DataFrame) else frame
    out = _clustering.prototypicality(f, centroids, **kwargs)
    id_col = kwargs.get("id_col", "vec_id")
    cluster_col = kwargs.get("cluster_col", "cluster")
    dist_col = kwargs.get("dist_col", "proto_dist")
    out = out.select(
        out[id_col].alias("vec_id"),
        out[cluster_col].alias("cluster"),
        out[dist_col].alias("proto_dist"),
    )
    return _typed(out, PrototypeScores)


def prototype_prune_select(frame: DataFrame[S], centroids, frac, **kwargs) -> DataFrame[S]:
    """Schema-preserving prototype pruning (operators.clustering.
    prototype_prune): keep ceil(frac*n) per cluster by distance rank,
    drop the scoring columns, revalidate through with_raw."""
    from pyspark.sql import functions as F

    from colnade_spark.operators import clustering as _clustering

    cluster_col = kwargs.pop("cluster_col", "_pp_cluster")
    dist_col = kwargs.pop("dist_col", "_pp_dist")

    def _apply(d):
        out = _clustering.prototype_prune(
            d, centroids, frac, cluster_col=cluster_col, dist_col=dist_col,
            **kwargs,
        )
        return out.drop(cluster_col, dist_col)

    return frame.with_raw(_apply)


class SoftDedupWeights(Schema):
    doc_id: Column[Int64]
    n_grams: Column[Int64]
    sum_df: Column[Int64]
    weight: Column[Float64]


def commonness_weights(frame, **kwargs) -> DataFrame[SoftDedupWeights]:
    """Typed SoftDeDup commonness weights (operators.importance.
    commonness_weights): inverse mean corpus n-gram occurrence count."""
    from colnade_spark.operators import importance as _importance

    f = frame.native if isinstance(frame, DataFrame) else frame
    return _typed(_importance.commonness_weights(f, **kwargs), SoftDedupWeights)


class DupWeights(Schema):
    doc_id: Column[Int64]
    cluster_size: Column[Int64]
    dup_weight: Column[Float64]


def duplication_weights(frame, **kwargs) -> DataFrame[DupWeights]:
    """Typed cluster-size soft-dedup weights (operators.importance.
    duplication_weights)."""
    from colnade_spark.operators import importance as _importance

    f = frame.native if isinstance(frame, DataFrame) else frame
    return _typed(_importance.duplication_weights(f, **kwargs), DupWeights)


class FertilityRows(Schema):
    lang: Column[Utf8]
    n_docs: Column[Int64]
    n_null_docs: Column[Int64]
    sum_words: Column[Int64]
    sum_bpe: Column[Int64]
    sum_bytes: Column[Int64]
    fertility: Column[Float64]
    bytes_per_token: Column[Float64]


def fertility_stats(frame, **kwargs) -> DataFrame[FertilityRows]:
    """Typed per-language tokenizer-fertility datasheet
    (operators.text.fertility_stats)."""
    from colnade_spark.operators import text as _text

    f = frame.native if isinstance(frame, DataFrame) else frame
    return _typed(_text.fertility_stats(f, **kwargs), FertilityRows)


class SourceOverlapRows(Schema):
    source_a: Column[Utf8]
    source_b: Column[Utf8]
    n_fps_a: Column[Int64]
    n_fps_b: Column[Int64]
    n_shared: Column[Int64]
    jaccard: Column[Float64]


def source_overlap_matrix(frame, **kwargs) -> DataFrame[SourceOverlapRows]:
    """Typed cross-source duplication matrix
    (operators.report.source_overlap_matrix)."""
    from colnade_spark.operators import report as _report

    f = frame.native if isinstance(frame, DataFrame) else frame
    return _typed(_report.source_overlap_matrix(f, **kwargs), SourceOverlapRows)


def source_overlap_near(frame, **kwargs) -> DataFrame[SourceOverlapRows]:
    """Typed NEAR-dup cross-source overlap matrix over MinHash band
    keys (operators.report.source_overlap_near) — same row shape as the
    exact matrix: the tails are one code path."""
    from colnade_spark.operators import report as _report

    f = frame.native if isinstance(frame, DataFrame) else frame
    return _typed(_report.source_overlap_near(f, **kwargs), SourceOverlapRows)


class DriftPsiRows(Schema):
    bin: Column[Int64]
    n_old: Column[Int64]
    n_new: Column[Int64]
    p_old: Column[Float64]
    p_new: Column[Float64]
    psi_term: Column[Float64]


def length_drift_psi(frame, *, new, **kwargs) -> DataFrame[DriftPsiRows]:
    """Typed PSI drift report (operators.report.length_drift_psi) —
    UNGROUPED form (group_col pins extra key columns the fixed schema
    can't carry; use the raw operator for grouped reports)."""
    from pyspark.sql import functions as F

    from colnade_spark.operators import report as _report

    if kwargs.get("group_col"):
        raise ValueError("typed length_drift_psi is ungrouped; use the raw op")
    old_n = frame.native if isinstance(frame, DataFrame) else frame
    new_n = new.native if isinstance(new, DataFrame) else new
    out = _report.length_drift_psi(old_n, new=new_n, **kwargs)
    return _typed(out.withColumn("bin", F.col("bin").cast("long")), DriftPsiRows)


def stratified_split_select(
    frame: DataFrame[S], weights, strata_col: str, keep: str, **kwargs
) -> DataFrame[S]:
    """Schema-preserving exact stratified split (operators.sampling.
    stratified_exact_split): assign per-stratum exact-proportion labels,
    keep one split, drop the label — the typed counterpart of
    group_split_select for proportion-exact eval sets."""
    if keep not in weights:
        raise ValueError(f"keep={keep!r} is not a split label")
    from pyspark.sql import functions as F

    from colnade_spark.operators import sampling as _sampling

    def _apply(d):
        out = _sampling.stratified_exact_split(
            d, weights, strata_col, out_col="_ses_split", **kwargs
        )
        return out.filter(F.col("_ses_split") == keep).drop("_ses_split")

    return frame.with_raw(_apply)


class CodeQualityRows(Schema):
    doc_id: Column[Int64]
    n_lines: Column[Int64]
    max_line_len: Column[Int64]
    avg_line_len: Column[Float64]
    alnum_frac: Column[Float64]
    flag_autogen: Column[Bool]
    flag_long_lines: Column[Bool]
    flag_low_alnum: Column[Bool]
    keep: Column[Bool]


def code_quality_signals(frame, **kwargs) -> DataFrame[CodeQualityRows]:
    """Typed Stack/StarCoder code-file signals
    (operators.quality.code_quality_signals)."""
    f = frame.native if isinstance(frame, DataFrame) else frame
    return _typed(_quality.code_quality_signals(f, **kwargs), CodeQualityRows)


class BlendedQualityRows(Schema):
    doc_id: Column[Int64]
    blended_score: Column[Float64]


def blend_quality_scores(frame, score_weights, **kwargs) -> DataFrame[BlendedQualityRows]:
    """Typed ensemble quality blend (operators.quality.
    blend_quality_scores), projected to the id/score pair."""
    f = frame.native if isinstance(frame, DataFrame) else frame
    out = _quality.blend_quality_scores(f, score_weights, **kwargs)
    id_col = kwargs.get("id_col", "doc_id")
    out_col = kwargs.get("out_col", "blended_score")
    out = out.select(
        out[id_col].alias("doc_id"), out[out_col].alias("blended_score")
    )
    return _typed(out, BlendedQualityRows)


def remove_contaminated_spans(
    frame: DataFrame[S], bench, **kwargs
) -> DataFrame[S]:
    """Schema-preserving surgical decontamination (operators.
    decontaminate.remove_contaminated_spans): REPLACE the text column
    with its span-cleaned normalized form in place, keeping the schema
    (the typed counterpart of the drop-doc `decontaminate` gate)."""
    from pyspark.sql import functions as F

    from colnade_spark.operators import decontaminate as _dc

    text_col = kwargs.pop("text_col", "text")
    bench_n = bench.native if isinstance(bench, DataFrame) else bench

    def _apply(d):
        out = _dc.remove_contaminated_spans(
            d, bench_n, text_col=text_col, out_col="_rcs_clean", **kwargs
        )
        return out.withColumn(text_col, F.col("_rcs_clean")).drop("_rcs_clean")

    return frame.with_raw(_apply)


class FunnelRows(Schema):
    stage_idx: Column[Int64]
    stage: Column[Utf8]
    n_in: Column[Int64]
    n_dropped: Column[Int64]
    n_out: Column[Int64]
    drop_frac: Column[Float64]


def curation_funnel(frame, stages, **kwargs) -> DataFrame[FunnelRows]:
    """Typed curation funnel (operators.report.curation_funnel); gate
    frames may be typed or native."""
    from colnade_spark.operators import report as _report

    f = frame.native if isinstance(frame, DataFrame) else frame
    gates = {
        k: (v.native if isinstance(v, DataFrame) else v)
        for k, v in stages.items()
    }
    return _typed(_report.curation_funnel(f, gates, **kwargs), FunnelRows)


def commonness_score_frozen(
    frame, counts, **kwargs
) -> DataFrame[SoftDedupWeights]:
    """Typed stream-legal SoftDeDup scoring against a frozen bucketed
    gram-count table (operators.importance.commonness_score_frozen) —
    same output shape as the exact commonness_weights."""
    from colnade_spark.operators import importance as _importance

    f = frame.native if isinstance(frame, DataFrame) else frame
    return _typed(
        _importance.commonness_score_frozen(f, counts, **kwargs),
        SoftDedupWeights,
    )


def blend_quality_frozen(
    frame, score_weights, quantiles, **kwargs
) -> DataFrame[BlendedQualityRows]:
    """Typed stream-legal frozen-quantile blend (operators.quality.
    blend_quality_frozen), projected to the id/score pair like the
    exact facade."""
    f = frame.native if isinstance(frame, DataFrame) else frame
    out = _quality.blend_quality_frozen(f, score_weights, quantiles, **kwargs)
    id_col = kwargs.get("id_col", "doc_id")
    out_col = kwargs.get("out_col", "blended_score")
    out = out.select(
        out[id_col].alias("doc_id"), out[out_col].alias("blended_score")
    )
    return _typed(out, BlendedQualityRows)


class AttributionRows(Schema):
    doc_id: Column[Int64]
    stage_idx: Column[Int32]


def curation_attribution(frame, stages, **kwargs) -> DataFrame[AttributionRows]:
    """Typed first-fired funnel attribution (operators.report.
    curation_attribution) — the stateless per-document half of the
    funnel; gate frames may be typed or native."""
    from colnade_spark.operators import report as _report

    f = frame.native if isinstance(frame, DataFrame) else frame
    gates = {
        k: (v.native if isinstance(v, DataFrame) else v)
        for k, v in stages.items()
    }
    return _typed(
        _report.curation_attribution(f, gates, **kwargs), AttributionRows
    )


def merge_fertility_table(spark, table_path: str) -> DataFrame[FertilityRows]:
    """Typed reader for a maintain_fertility_table store
    (operators.text.merge_fertility_store): the manifest validates the
    store kind and recovers lang_col — a store built with a non-default
    language column reads correctly, renamed to the schema's ``lang``,
    and a manifest-only store yields an empty datasheet (the
    merge_funnel_counts behavior) instead of a raw read error."""
    from colnade_spark.operators import text as _text
    from colnade_spark.streaming.stream import read_table_manifest

    out = _text.merge_fertility_store(spark, table_path)
    lang_col = read_table_manifest(spark, table_path)["lang_col"]
    if lang_col != "lang":
        out = out.withColumnRenamed(lang_col, "lang")
    return _typed(out, FertilityRows)


def merge_funnel_counts(spark, table_path: str) -> DataFrame[FunnelRows]:
    """Typed reader for a maintain_funnel_counts store
    (operators.report.merge_funnel_counts)."""
    from colnade_spark.operators import report as _report

    return _typed(_report.merge_funnel_counts(spark, table_path), FunnelRows)


def merge_overlap_store(spark, table_path: str) -> DataFrame[SourceOverlapRows]:
    """Typed reader for a maintain_source_overlap store
    (operators.report.merge_overlap_store): the manifest validates the
    store kind, and a manifest-only store yields an EMPTY matrix (the
    merge_funnel_counts behavior) instead of a raw read error."""
    from colnade_spark.operators import report as _report

    return _typed(
        _report.merge_overlap_store(spark, table_path), SourceOverlapRows
    )


def blend_drift_frozen(
    frame, score_weights, quantiles, baseline, **kwargs
) -> DataFrame[DriftPsiRows]:
    """Typed stream-legal blend-drift PSI report (operators.quality.
    blend_drift_frozen) — UNGROUPED form, the length_drift_psi facade
    rule (group_col pins extra key columns the fixed schema can't
    carry; use the raw operator for grouped reports)."""
    from pyspark.sql import functions as F

    if kwargs.get("group_col"):
        raise ValueError("typed blend_drift_frozen is ungrouped; use the raw op")
    f = frame.native if isinstance(frame, DataFrame) else frame
    out = _quality.blend_drift_frozen(
        f, score_weights, quantiles, baseline, **kwargs
    )
    return _typed(out.withColumn("bin", F.col("bin").cast("long")), DriftPsiRows)


class CorpusCardBinnedRows(Schema):
    lang: Column[Utf8]
    n_docs: Column[Int64]
    total_size: Column[Int64]
    q_50_le: Column[Int64 | None]
    q_90_le: Column[Int64 | None]


def merge_corpus_card(spark, table_path: str) -> DataFrame[CorpusCardBinnedRows]:
    """Typed reader for a maintain_corpus_card store
    (operators.report.merge_corpus_card) at the default (50, 90)
    quantiles — the stream-maintainable datasheet tier: exact counts
    and mass, bin-resolution quantile upper bounds (NULL when the
    quantile falls in the unbounded top bin, hence the nullable
    columns). The store's group column is pinned 'lang' here (the
    corpus_card facade rule); custom groups use the raw reader."""
    from colnade_spark.operators import report as _report
    from colnade_spark.streaming.stream import read_table_manifest

    mf = read_table_manifest(spark, table_path)
    if mf is not None and mf.get("group_col") not in (None, "lang"):
        raise ValueError(
            "the typed merge_corpus_card facade pins group_col='lang';"
            " use operators.report.merge_corpus_card for other groups"
        )
    return _typed(
        _report.merge_corpus_card(spark, table_path), CorpusCardBinnedRows
    )

"""Product quantization (PQ) for embedding columns: compact codes +
asymmetric-distance (ADC) top-k search (Jegou et al. 2011, "Product
Quantization for Nearest Neighbor Search"; the memory half of IVF-PQ /
FAISS).

Brute-force and IVF search (operators/similarity.py) keep full vectors:
256 bytes/vector at dim=64 float32. PQ splits each vector into ``m``
subvectors and replaces each with the id of its nearest codeword from a
per-subspace codebook — 8 small ints per vector (32x memory cut), and
query scoring becomes table lookups instead of vector arithmetic.

Determinism (what makes encode/search oracle-checkable bit-exactly):
- encode works in INTEGER space: vectors and codewords are scaled to
  longs once (round(x * 2^20), half-away-from-zero in every engine),
  so squared distances are exact integer sums — argmin has no float
  summation-order ambiguity, and ties break to the LOWEST code id;
- ADC lookup tables are built with the same sequential dot fold the
  DuckDB oracle uses (list_inner_product), so scores agree bitwise
  before the final rounding.

Scale shape (100 TB):
- training fits per-subspace codebooks on a bounded driver-side sample
  (same contract as similarity.train_ivf_centroids);
- encoding is one Arrow-batched numpy pass — codes shuffle instead of
  vectors from then on (the point of PQ);
- search broadcasts each query's m x ksub lookup table (KB-scale) and
  scores the code table at scan speed: per row, m integer array gets
  and m-1 adds — no join, no per-row Python. Top-k per query is a
  rank window over candidates; compose with similarity.ivf_topk's
  bucketing to prune candidates first (IVF-PQ) when |corpus| x
  |queries| is too big to scan.

Reference parity: no counterpart in the reference repo — extension
layer (the build brief's similarity-search family).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "train_pq_codebooks",
    "pq_encode",
    "pq_topk",
    "ivfpq_topk",
    "train_residual_codebooks",
    "ivfpq_residual_topk",
    "pq_reconstruct_dot",
    "pq_screen_flags",
    "pq_screen_gate",
    "pq_contamination_report",
    "write_codebooks",
    "read_codebooks",
    "pq_residual_encode",
    "pq_residual_screen_flags",
    "pq_residual_screen_gate",
    "pq_residual_contamination_report",
]

SCALE = 1 << 20


def _scale_int(x):
    """Half-away-from-zero integer scaling — matches Spark/DuckDB round
    semantics (numpy's np.round is banker's rounding; don't use it)."""
    import numpy as np

    v = x * SCALE
    return (np.sign(v) * np.floor(np.abs(v) + 0.5)).astype(np.int64)


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
    iters: int = 10,
    sample_n: int = 2048,
    seed: int = 42,
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Per-subspace k-means codebooks fit on a bounded driver sample
    (scan-speed Bernoulli sample, no global sort — see
    train_ivf_centroids). Returns m codebooks of ksub codewords each."""
    import numpy as np

    n = corpus.count()
    vecs = corpus.select(vec_col)
    if n > sample_n:
        frac = min(1.0, 2.0 * sample_n / n)
        vecs = vecs.sample(fraction=frac, seed=seed).limit(sample_n)
    X = np.asarray([r[0] for r in vecs.collect()], dtype=np.float64)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    ds = dim // m
    rng = np.random.default_rng(seed)
    books = []
    for j in range(m):
        S = X[:, j * ds : (j + 1) * ds]
        C = S[rng.choice(len(S), size=min(ksub, len(S)), replace=False)]
        for _ in range(iters):
            d = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = d.argmin(axis=1)
            for c in range(len(C)):
                mem = S[a == c]
                if len(mem):
                    C[c] = mem.mean(axis=0)
        books.append(C.tolist())
    return books


def _encode_udf(codebooks):
    """pandas UDF: integer-space nearest-codeword ids per subspace,
    one vectorized pass per Arrow batch; ties to the lowest code. NULL
    for a NULL vector."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from colnade_spark.operators.similarity import _scatter, _stack_vectors

    CB = [_scale_int(np.asarray(b, dtype=np.float64)) for b in codebooks]
    ds = CB[0].shape[1]

    def f(s):
        X, at = _stack_vectors(s, ds * len(CB))
        Xi = _scale_int(X)
        codes = np.empty((len(Xi), len(CB)), dtype=np.int32)
        for j, C in enumerate(CB):
            S = Xi[:, j * ds : (j + 1) * ds]
            # exact int64 squared distances; argmin returns the FIRST
            # (lowest) code on ties
            d = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            codes[:, j] = d.argmin(axis=1)
        return _scatter(list(codes), at, len(s))

    f.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(f, "array<int>")


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_codes",
) -> DataFrame:
    """(id, pq_codes array<int>): each vector replaced by its m nearest
    per-subspace codeword ids. This is the table you persist — codes
    shuffle and store at m bytes-ish per vector instead of dim*4."""
    enc = _encode_udf(codebooks)
    return df.select(F.col(id_col), enc(F.col(vec_col)).alias(code_col))


def _lut_col(qv: Column, codebooks: list[list[list[float]]]) -> Column:
    """m x ksub ADC lookup table for one query vector: dot(q_subvector,
    codeword) via the sequential fold (identical op order to DuckDB's
    list_inner_product — bit-reproducible).

    Kept as the reference JVM-expression implementation; the hot paths
    use ``_lut_udf`` instead — building this tree costs m·ksub
    aggregate-HOF nodes (~4 s of py4j + analyzer time per plan at
    m=8, ksub=16), which dwarfs the work of scoring a handful of query
    rows."""
    m = len(codebooks)
    ds = len(codebooks[0][0])
    luts = []
    for j, book in enumerate(codebooks):
        sub = F.slice(qv, j * ds + 1, ds)
        entries = []
        for cw in book:
            carr = F.lit([float(x) for x in cw])
            entries.append(
                F.aggregate(
                    F.zip_with(
                        sub, carr, lambda x, y: x.cast("double") * y
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
            )
        luts.append(F.array(*entries))
    return F.array(*luts)


def _lut_udf(codebooks):
    """pandas UDF twin of ``_lut_col``: the per-query m x ksub ADC table
    computed by ``_adc_lut_py`` — the SAME sequential float64 fold
    (acc = acc + x*y in index order) the JVM expression and DuckDB's
    list_inner_product evaluate, so scores stay bit-identical.

    Query sets are small (10^0-10^3 rows), so the win is not executor
    time — it is removing the m·ksub aggregate-HOF expression tree whose
    py4j construction + analysis + codegen cost seconds of driver time
    per plan (and recompiles whenever the fitted codebooks change)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def f(s):
        return pd.Series(
            [
                None
                if v is None
                else _adc_lut_py([float(x) for x in v], codebooks)
                for v in s
            ]
        )

    f.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(f, "array<array<double>>")


def pq_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_codes",
    adc_decimals: int = 6,
) -> DataFrame:
    """ADC top-k: (query_id, neighbor_id, rank, adc). Scores every code
    row per query as sum_j lut[j][code_j] — the dot product of the query
    with the RECONSTRUCTED neighbor — at scan speed over the code table.
    Self-matches are excluded; ties break on neighbor id.

    ADC approximates the raw DOT product; for cosine ordering, unit-
    normalize vectors (embeddings.normalize_embeddings) before training
    and encoding, as FAISS does for inner-product indexes."""
    m = len(codebooks)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _lut_udf(codebooks)(F.col(vec_col)).alias("_lut"),
    )
    c = codes.select(
        F.col(id_col).alias("neighbor_id"), F.col(code_col).alias("_codes")
    )
    terms = [
        F.get(F.get(F.col("_lut"), j), F.get(F.col("_codes"), j))
        for j in range(m)
    ]
    adc = F.round(reduce(lambda a, b: a + b, terms), adc_decimals)
    cand = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("adc", adc)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc")
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    adc_decimals: int = 6,
) -> DataFrame:
    """IVF-PQ: the standard billion-scale index — IVF's coarse quantizer
    prunes candidates to ``nprobe``/nlist of the corpus, PQ codes make
    each candidate check a table lookup. Corpus rows carry (id, list,
    codes) — 3 small values — so the probe join moves no vectors at all;
    with ``nprobe == len(centroids)`` (probe everything) the result is
    exactly ``pq_topk``, which is what the oracle checks (the ann_ivf
    full-probe precedent); production uses nprobe << nlist.

    Vanilla composition (codes quantize raw vectors, not IVF residuals);
    residual encoding would couple the codebooks to the coarse quantizer
    — out of scope here, noted for parity with FAISS IVFPQ."""
    from colnade_spark.operators.similarity import _assign_udf, _probe_udf

    assign = _assign_udf(centroids)
    enc = _encode_udf(codebooks)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        assign(F.col(vec_col)).alias("_list"),
        enc(F.col(vec_col)).alias("_codes"),
    )
    probe = _probe_udf(centroids, nprobe)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _lut_udf(codebooks)(F.col(vec_col)).alias("_lut"),
        F.explode(probe(F.col(vec_col))).alias("_list"),
    )
    m = len(codebooks)
    terms = [
        F.get(F.get(F.col("_lut"), j), F.get(F.col("_codes"), j))
        for j in range(m)
    ]
    adc = F.round(reduce(lambda a, b: a + b, terms), adc_decimals)
    cand = (
        c.join(F.broadcast(q), "_list")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("adc", adc)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc")
    )


def train_residual_codebooks(
    corpus: DataFrame,
    centroids: list[list[float]],
    m: int = 8,
    ksub: int = 16,
    iters: int = 10,
    sample_n: int = 2048,
    seed: int = 42,
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Codebooks for ``ivfpq_residual_topk``: fit on v - centroid[list]
    over a bounded driver sample, using the SAME deterministic coarse
    assignment the encoder applies (rounded-dot argmax, ties->highest).
    Residual-trained codewords capture the residual's variance — the
    reason FAISS IVFPQ beats flat PQ at equal code budget."""
    import numpy as np

    n = corpus.count()
    vecs = corpus.select(vec_col)
    if n > sample_n:
        frac = min(1.0, 2.0 * sample_n / n)
        vecs = vecs.sample(fraction=frac, seed=seed).limit(sample_n)
    X = np.asarray([r[0] for r in vecs.collect()], dtype=np.float64)
    C = np.asarray(centroids, dtype=np.float64)
    dots = X @ C.T
    dots = np.sign(dots) * np.floor(np.abs(dots) * 1e6 + 0.5) / 1e6
    lists = (C.shape[0] - 1) - np.argmax(dots[:, ::-1], axis=1)
    R = X - C[lists]
    dim = R.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    ds = dim // m
    rng = np.random.default_rng(seed)
    books = []
    for j in range(m):
        S = R[:, j * ds : (j + 1) * ds]
        B = S[rng.choice(len(S), size=min(ksub, len(S)), replace=False)]
        for _ in range(iters):
            d = ((S[:, None, :] - B[None, :, :]) ** 2).sum(axis=2)
            a = d.argmin(axis=1)
            for c in range(len(B)):
                mem = S[a == c]
                if len(mem):
                    B[c] = mem.mean(axis=0)
        books.append(B.tolist())
    return books


def _residual_encode_udf(codebooks, centroids):
    """pandas UDF: (coarse list, residual codes) per vector as an
    array<int> [list, code_0..code_{m-1}] — FAISS IVFPQ semantics, where
    codes quantize v - centroid[list]. Coarse assignment uses the SAME
    deterministic rule as embeddings.cluster_assign (dot rounded to 6,
    ties to the HIGHEST centroid id) so the oracle can replay it. NULL
    for a NULL vector."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from colnade_spark.operators.similarity import _scatter, _stack_vectors

    C = np.asarray(centroids, dtype=np.float64)
    CB = [_scale_int(np.asarray(b, dtype=np.float64)) for b in codebooks]
    ds = CB[0].shape[1]

    def f(s):
        X, at = _stack_vectors(s, C.shape[1])
        scale = 1e6
        dots = X @ C.T
        dots = np.sign(dots) * np.floor(np.abs(dots) * scale + 0.5) / scale
        # argmax with ties to the HIGHEST id: flip, argmax on reversed
        lists = (C.shape[0] - 1) - np.argmax(dots[:, ::-1], axis=1)
        R = X - C[lists]
        Ri = _scale_int(R)
        out = np.empty((len(X), 1 + len(CB)), dtype=np.int32)
        out[:, 0] = lists
        for j, B in enumerate(CB):
            S = Ri[:, j * ds : (j + 1) * ds]
            d = ((S[:, None, :] - B[None, :, :]) ** 2).sum(axis=2)
            out[:, 1 + j] = d.argmin(axis=1)
        return _scatter(list(out), at, len(s))

    f.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(f, "array<int>")


def _residual_probe_udf(centroids, nprobe: int):
    """pandas UDF: the nprobe (cid, q·c) probes of one query vector,
    ranked by the rounded dot — the Python twin of the former
    array_sort(array(struct(round(dot,6), cid, dot))) expression.

    Exact-replay contract: each q·c is the SEQUENTIAL float64 fold
    (acc = acc + x*y in index order — same op order as similarity.dot
    and DuckDB list_inner_product); the rank key rounds half away from
    zero at 1e-6 (the module's established F.round(_, 6) replay); the
    descending sort breaks rank ties toward the HIGHEST centroid id,
    exactly as reverse(array_sort(...)) does on (sim, cid) structs."""
    import math

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cents = [[float(x) for x in cw] for cw in centroids]

    def probes(v):
        if v is None:
            return None
        cands = []
        for i, cw in enumerate(cents):
            acc = 0.0
            for x, y in zip(v, cw):
                acc = acc + float(x) * y
            sim = math.copysign(
                math.floor(abs(acc) * 1e6 + 0.5), acc
            ) / 1e6
            cands.append((sim, i, acc))
        cands.sort(reverse=True)
        return [{"cid": i, "qc": qc} for (_, i, qc) in cands[:nprobe]]

    def f(s):
        return pd.Series([probes(v) for v in s])

    f.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(f, "array<struct<cid:int,qc:double>>")


def ivfpq_residual_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    adc_decimals: int = 6,
) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding (FAISS IVFPQ proper): codes
    quantize v - centroid[list], so the per-subspace variance the codes
    must capture is the residual's, not the corpus's — better recall at
    the same code budget when the coarse clusters are tight (on
    near-uniform data, residual ≈ raw and the gain vanishes — measured
    on the synthetic fixture). The ADC identity
    q·(c + r̂) = q·c + q·r̂ means the query-side lookup table is UNCHANGED
    from plain PQ; each candidate adds one per-(query, list) scalar q·c
    that rides the broadcast probe rows.

    Residual codebooks should be trained on residuals (pass a corpus of
    v - centroid[assign(v)] to train_pq_codebooks); the coarse
    assignment here is the deterministic rounded-dot argmax
    (ties -> highest id), replayable in SQL."""
    c = pq_residual_encode(
        corpus, codebooks, centroids,
        id_col=id_col, vec_col=vec_col,
        list_col="_list", code_col="_codes",
    ).withColumnRenamed(id_col, "neighbor_id")
    # query side: probe EVERY list deterministically ranked by the same
    # rounded dot (ties -> highest id), keep nprobe; q·c per probed list
    # rides the row. Computed in one pandas UDF (the _lut_udf rationale:
    # a JVM expression here is 2·nlist sequential-fold dots of literal
    # arrays whose construction + analysis costs seconds of driver time
    # per plan); the UDF replays the exact same math — sequential float64
    # fold per centroid, half-away-from-zero 1e-6 rounding for the rank
    # key, ties -> highest centroid id — so probe sets and qc values are
    # bit-identical to the expression form the oracle replays.
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _lut_udf(codebooks)(F.col(vec_col)).alias("_lut"),
        F.explode(
            _residual_probe_udf(centroids, nprobe)(F.col(vec_col))
        ).alias("_p"),
    ).select(
        "query_id",
        "_lut",
        F.col("_p.cid").alias("_list"),
        F.col("_p.qc").alias("_qc"),
    )
    m = len(codebooks)
    terms = [
        F.get(F.get(F.col("_lut"), j), F.get(F.col("_codes"), j))
        for j in range(m)
    ]
    adc = F.round(
        F.col("_qc") + reduce(lambda a, b: a + b, terms), adc_decimals
    )
    cand = (
        c.join(F.broadcast(q), "_list")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("adc", adc)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc")
    )


def _adc_lut_py(
    query_vec: list[float], codebooks: list[list[list[float]]]
) -> list[list[float]]:
    """Driver-side m x ksub ADC lookup table for one FROZEN query vector
    (sequential dot fold — the same op order as _lut_col / DuckDB's
    list_inner_product, so scores replay bitwise in any engine)."""
    ds = len(codebooks[0][0])
    lut = []
    for j, book in enumerate(codebooks):
        sub = query_vec[j * ds : (j + 1) * ds]
        row = []
        for cw in book:
            acc = 0.0
            for x, y in zip(sub, cw):
                acc = acc + float(x) * float(y)
            row.append(acc)
        lut.append(row)
    return lut


def _adc_expr(
    lut: list[list[float]], code_col: str
) -> Column:
    """Rounded ADC score of one frozen LUT against a code column: m
    integer array gets + m-1 adds — scan-speed, codegen-friendly."""
    from colnade_spark.operators.litutil import lit_double_array

    terms = [
        F.get(lit_double_array(lut[j]), F.get(F.col(code_col), j))
        for j in range(len(lut))
    ]
    return F.round(reduce(lambda a, b: a + b, terms), 6)


def pq_reconstruct_dot(
    codes: DataFrame,
    query_vec: list[float],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    code_col: str = "pq_codes",
) -> DataFrame:
    """(id, adc): the ADC score of ONE literal query against every code
    row — the building block for filter-style screening (e.g. semantic
    decontamination over PQ codes instead of raw vectors)."""
    return codes.select(
        F.col(id_col),
        _adc_expr(_adc_lut_py(query_vec, codebooks), code_col).alias("adc"),
    )


def pq_screen_flags(
    codes: DataFrame,
    query_vecs: list[list[float]],
    codebooks: list[list[list[float]]],
    threshold: float,
    code_col: str = "pq_codes",
    score_col: str = "max_adc",
    flag_col: str = "flagged",
) -> DataFrame:
    """Adds (``score_col``, ``flag_col``): the max ADC dot product of
    each code row against a FROZEN set of query vectors, and whether it
    reaches ``threshold`` — the semantic-decontamination test evaluated
    over compact codes instead of raw vectors.

    STATELESS by construction: every query vector folds into a literal
    m x ksub lookup table at plan-build time, so a row's verdict is m
    array gets + adds per query — no join, no shuffle, no state. The
    projection therefore drops unchanged into a Structured Streaming
    pipeline (the same frozen-model gate shape as
    importance.dsir_score_frozen; pinned by the streaming test).

    Scale shape: the screen embeds |queries| x m lookups per row as
    expanded expressions — right for the frozen benchmark sets semantic
    decontamination uses (10^1-10^3 vectors; chunk a larger set into
    several screen passes to stay inside codegen method limits, or
    IVF-prune candidates first and verify with raw vectors). ADC error
    is bounded by quantization: pick ``threshold`` below the target
    cosine margin (PQ under/over-estimates by at most the per-subspace
    reconstruction error)."""
    if not query_vecs:
        raise ValueError("pq_screen_flags requires at least one query vector")
    scores = [
        _adc_expr(_adc_lut_py(qv, codebooks), code_col) for qv in query_vecs
    ]
    mx = F.greatest(*scores) if len(scores) > 1 else scores[0]
    staged = codes.withColumn(score_col, mx)
    return staged.withColumn(
        flag_col, F.col(score_col) >= F.lit(float(threshold))
    )


def pq_contamination_report(
    codes: DataFrame,
    query_vecs: list[list[float]],
    codebooks: list[list[list[float]]],
    threshold: float,
    code_col: str = "pq_codes",
) -> DataFrame:
    """(query_id, n_rows, n_hits, frac_hits, max_adc) per frozen query
    vector: how MUCH of the code corpus screens against each benchmark
    item — the graded-report companion to ``pq_screen_flags``'s boolean
    verdict, completing the {exact-gram, semantic} x {gate, report}
    matrix (``contamination_report`` is the exact-gram report twin,
    ``decontaminate.py``). A benchmark item with a high hit fraction is
    systematically leaked into the corpus; ``max_adc`` grades how close
    the nearest miss came.

    Shape: per row, every query's ADC folds from a literal LUT
    (m gets + adds each — the pq_screen scan-side compute) directly
    into ONE wide aggregate (a hit-sum and a max per query plus one
    count); the single result row then explodes into |queries| output
    rows. No per-row fan-out at all: posexploding the ADC array before
    aggregating — the obvious shape — re-evaluates the whole array
    once per OUTPUT element (Generate inlines the once-referenced
    projection), measured 10.6s vs 0.3s for this shape at 64 queries
    on sf0.1. Works as a streaming aggregation unchanged
    (update/complete mode; pinned by the streaming test) — the agg is
    Spark's standard incremental state, one group with 2|queries|+1
    buffer slots.

    Scale: |queries| x m lookups per row, like pq_screen_flags — chunk
    very large benchmark sets into several passes (the wide agg holds
    2|queries|+1 buffer columns; codegen degrades past ~10^3)."""
    if not query_vecs:
        raise ValueError(
            "pq_contamination_report requires at least one query vector"
        )
    scores = [
        _adc_expr(_adc_lut_py(qv, codebooks), code_col) for qv in query_vecs
    ]
    return _contamination_wide_agg(codes, scores, threshold)


def _contamination_wide_agg(
    codes: DataFrame, scores: list[Column], threshold: float
) -> DataFrame:
    """The shared report skeleton: ONE wide aggregate (hit-sum + max
    per query score expression, plus a count), whose single result row
    explodes into per-query output rows — see pq_contamination_report's
    docstring for why this beats posexplode-then-groupBy."""
    t = float(threshold)
    aggs = [F.count(F.lit(1)).cast("long").alias("_pcr_n")]
    for i, adc in enumerate(scores):
        aggs.append(F.sum((adc >= t).cast("long")).alias(f"_pcr_h{i}"))
        aggs.append(F.max(adc).alias(f"_pcr_m{i}"))
    one = codes.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(i).alias("query_id"),
                F.col("_pcr_n").alias("n_rows"),
                F.coalesce(F.col(f"_pcr_h{i}"), F.lit(0)).cast("long").alias(
                    "n_hits"
                ),
                F.when(
                    F.col("_pcr_n") > 0,
                    F.coalesce(F.col(f"_pcr_h{i}"), F.lit(0))
                    / F.col("_pcr_n"),
                ).alias("frac_hits"),
                F.col(f"_pcr_m{i}").alias("max_adc"),
            )
            for i in range(len(scores))
        ]
    )
    return one.select(F.explode(rows).alias("_pcr_r")).select("_pcr_r.*")


def _residual_score_exprs(
    query_vecs: list[list[float]],
    codebooks: list[list[list[float]]],
    centroids: list[list[float]],
    list_col: str,
    code_col: str,
) -> list[Column]:
    """Per-query residual ADC column expressions: round(q·centroid[list]
    + LUT[codes], 6) — one literal |nlist| array + one literal m x ksub
    LUT per query (the pq_residual_screen scan-side compute)."""
    out = []
    for qv in query_vecs:
        qcs = [_dot_py(qv, c) for c in centroids]
        lut = _adc_lut_py(qv, codebooks)
        terms = [
            F.get(F.lit(lut[j]), F.get(F.col(code_col), j))
            for j in range(len(lut))
        ]
        out.append(
            F.round(
                F.element_at(F.lit(qcs), F.col(list_col) + 1)
                + reduce(lambda a, b: a + b, terms),
                6,
            )
        )
    return out


def pq_residual_contamination_report(
    codes: DataFrame,
    query_vecs: list[list[float]],
    codebooks: list[list[list[float]]],
    centroids: list[list[float]],
    threshold: float,
    list_col: str = "ivf_list",
    code_col: str = "pq_codes",
) -> DataFrame:
    """(query_id, n_rows, n_hits, frac_hits, max_adc) per frozen query
    over a RESIDUAL code table — pq_contamination_report for the
    persisted IVF-PQ index, completing the {raw codes, residual index}
    x {boolean gate, graded report} matrix. Same wide-agg shape and
    streaming behavior as the raw-code report; scoring is the residual
    screen's q·centroid[list] + LUT[codes]."""
    if not query_vecs:
        raise ValueError(
            "pq_residual_contamination_report requires at least one"
            " query vector"
        )
    scores = _residual_score_exprs(
        query_vecs, codebooks, centroids, list_col, code_col
    )
    return _contamination_wide_agg(codes, scores, threshold)


def pq_screen_gate(
    df: DataFrame,
    query_vecs: list[list[float]],
    codebooks: list[list[list[float]]],
    threshold: float,
    vec_col: str = "embedding",
    code_col: str | None = None,
) -> DataFrame:
    """The rows of ``df`` that do NOT screen against the frozen query
    set — end-to-end stateless semantic decontamination over PQ codes:
    encode (one Arrow-batched pandas pass over ``vec_col``; skipped when
    ``code_col`` names an existing code column) then drop every row
    whose max ADC reaches ``threshold``. Full rows pass through
    unchanged; works identically on batch and streaming frames (no
    shuffle anywhere — pinned by the streaming test)."""
    clash = sorted(
        {"_pq_screen_codes", "_pq_screen_adc", "_pq_screen_flag"}
        & set(df.columns)
    )
    if clash:
        raise ValueError(
            f"columns {clash} collide with pq_screen_gate's internal"
            " staging names; rename them upstream"
        )
    if code_col is not None:
        # an explicit code column must exist — silently re-encoding on a
        # typo would hide that the compact-code path was never used
        if code_col not in df.columns:
            raise ValueError(
                f"code_col {code_col!r} not in {df.columns}; omit it to"
                f" encode in-line from {vec_col!r}"
            )
        staged = df
    else:
        code_col = "_pq_screen_codes"
        staged = df.withColumn(code_col, _encode_udf(codebooks)(F.col(vec_col)))
    flagged = pq_screen_flags(
        staged, query_vecs, codebooks, threshold, code_col,
        score_col="_pq_screen_adc", flag_col="_pq_screen_flag",
    )
    return flagged.filter(~F.col("_pq_screen_flag")).select(*df.columns)


def write_codebooks(spark, table_path: str, codebooks) -> None:
    """Persist PQ codebooks next to their code table (JSON manifest via
    the same Hadoop-FS machinery as the Bloom/CMS/HLL params manifests,
    streaming/stream.py): codes are meaningless without the EXACT
    codebooks that produced them — probing a stored code table with
    retrained books silently mis-scores every ADC. Floats round-trip
    exactly (json repr); re-writing verifies against the existing
    manifest and ERRORS on mismatch rather than letting a maintainer
    mix encodings in one table."""
    from colnade_spark.streaming.stream import write_table_manifest

    if not codebooks or not codebooks[0] or not codebooks[0][0]:
        raise ValueError("write_codebooks requires non-empty codebooks")
    m = len(codebooks)
    ksub, ds = len(codebooks[0]), len(codebooks[0][0])
    # a ragged structure would persist a self-consistent-LOOKING
    # manifest that mis-scores every later ADC — exactly the failure
    # mode this manifest exists to close
    if any(
        len(b) != ksub or any(len(cw) != ds for cw in b) for b in codebooks
    ):
        raise ValueError(
            "write_codebooks: ragged codebooks (every subspace needs"
            f" {ksub} codewords of {ds} dims)"
        )
    params = {
        "kind": "pq_codebooks",
        "m": m,
        "ksub": ksub,
        "ds": ds,
        "codebooks": [[list(map(float, cw)) for cw in b] for b in codebooks],
    }
    write_table_manifest(spark, table_path, params, name="_pq_codebooks.json")


def read_codebooks(spark, table_path: str):
    """The codebooks persisted beside a code table, exactly as written
    (bit-identical floats — encode/ADC over them replays the original).
    Raises if the table has no codebook manifest: screening a code
    table with guessed books is the silent-mis-probe failure mode the
    manifest family exists to close."""
    from colnade_spark.streaming.stream import read_table_manifest

    mf = read_table_manifest(spark, table_path, name="_pq_codebooks.json")
    if mf is None or mf.get("kind") != "pq_codebooks":
        raise ValueError(
            f"no PQ codebook manifest at {table_path}; write_codebooks"
            " must accompany the code table"
        )
    return mf["codebooks"]


def pq_residual_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    list_col: str = "ivf_list",
    code_col: str = "pq_codes",
) -> DataFrame:
    """(id, ivf_list, pq_codes): each vector's deterministic coarse
    assignment (rounded-dot argmax, ties -> highest cid) plus the
    residual-space PQ codes — the table an IVF-PQ index persists (one
    int + m small ints per vector). Arrow-batched numpy pass, same
    encode as ivfpq_residual_topk's corpus side."""
    enc = _residual_encode_udf(codebooks, centroids)
    staged = df.select(F.col(id_col), enc(F.col(vec_col)).alias("_lc"))
    return _unpack_residual_lc(
        staged, "_lc", list_col, code_col, len(codebooks)
    ).select(id_col, list_col, code_col)


def _unpack_residual_lc(
    df: DataFrame, lc_col: str, list_col: str, code_col: str, m: int
) -> DataFrame:
    """Split the encode UDF's packed [list, code_0..code_m-1] array into
    (list_col, code_col) — the ONE place the packed layout is known."""
    return df.withColumn(
        list_col, F.get(F.col(lc_col), 0)
    ).withColumn(code_col, F.slice(F.col(lc_col), 2, m)).drop(lc_col)


def _dot_py(a: list[float], b: list[float]) -> float:
    """Sequential dot fold — the op order of DuckDB list_inner_product
    and the Spark fold, so scores replay bitwise."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + float(x) * float(y)
    return acc


def pq_residual_screen_flags(
    codes: DataFrame,
    query_vecs: list[list[float]],
    codebooks: list[list[list[float]]],
    centroids: list[list[float]],
    threshold: float,
    list_col: str = "ivf_list",
    code_col: str = "pq_codes",
    score_col: str = "max_adc",
    flag_col: str = "flagged",
) -> DataFrame:
    """Adds (``score_col``, ``flag_col``) over a RESIDUAL code table:
    per row and frozen query, ADC = q·centroid[list] + LUT_q[codes]
    (the q·(c + r̂) identity), max'd over the query set and compared to
    ``threshold`` — pq_screen_flags for the residual-encoded index, so
    a persisted IVF-PQ table screens without ever reconstructing
    vectors. Stateless by construction: the per-query q·centroid
    values fold into one literal |nlist| array (element_at by list id)
    and the residual LUT into the usual m x ksub literal — per row,
    |queries| x (m+1) array gets; no join, no shuffle, streams
    unchanged."""
    if not query_vecs:
        raise ValueError(
            "pq_residual_screen_flags requires at least one query vector"
        )
    scores = _residual_score_exprs(
        query_vecs, codebooks, centroids, list_col, code_col
    )
    mx = F.greatest(*scores) if len(scores) > 1 else scores[0]
    staged = codes.withColumn(score_col, mx)
    return staged.withColumn(
        flag_col, F.col(score_col) >= F.lit(float(threshold))
    )


def pq_residual_screen_gate(
    df: DataFrame,
    query_vecs: list[list[float]],
    codebooks: list[list[list[float]]],
    centroids: list[list[float]],
    threshold: float,
    vec_col: str = "embedding",
    list_col: str | None = None,
    code_col: str | None = None,
) -> DataFrame:
    """The rows of ``df`` that do NOT screen against the frozen query
    set under residual IVF-PQ scoring — pq_screen_gate over the
    compacter index representation. Pass ``list_col`` + ``code_col``
    to screen an already-encoded table; omit both to encode in-line
    from ``vec_col``. Full rows pass through; shuffle-free (pinned)."""
    if (list_col is None) != (code_col is None):
        raise ValueError(
            "pass both list_col and code_col for pre-encoded input, or"
            " neither to encode in-line"
        )
    # the staging names are fixed; an input that already carries one
    # would be silently clobbered and then re-selected into the output
    clash = sorted(
        {"_prs_lc", "_prs_list", "_prs_codes", "_prs_adc", "_prs_flag"}
        & set(df.columns)
    )
    if clash:
        raise ValueError(
            f"columns {clash} collide with pq_residual_screen_gate's"
            " internal staging names; rename them upstream"
        )
    if code_col is not None:
        missing = [c for c in (list_col, code_col) if c not in df.columns]
        if missing:
            raise ValueError(
                f"columns {missing} not in {df.columns}; omit list_col/"
                f"code_col to encode in-line from {vec_col!r}"
            )
        staged = df
    else:
        list_col, code_col = "_prs_list", "_prs_codes"
        enc = _residual_encode_udf(codebooks, centroids)
        staged = df.withColumn("_prs_lc", enc(F.col(vec_col)))
        staged = _unpack_residual_lc(staged, "_prs_lc", list_col, code_col, len(codebooks))
    flagged = pq_residual_screen_flags(
        staged, query_vecs, codebooks, centroids, threshold,
        list_col, code_col,
        score_col="_prs_adc", flag_col="_prs_flag",
    )
    return flagged.filter(~F.col("_prs_flag")).select(*df.columns)

"""Product quantization: encode determinism and tie rule, ADC equals the
reconstructed dot product, trained-codebook recall on planted
duplicates, and the scan-speed (join-free) search shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from colnade_spark.operators.pq import (
    SCALE,
    pq_encode,
    pq_reconstruct_dot,
    pq_topk,
    train_pq_codebooks,
)

# 2 subspaces of 2 dims, 2 codewords each — hand-checkable
BOOKS = [
    [[0.0, 0.0], [1.0, 1.0]],
    [[1.0, 0.0], [0.0, 1.0]],
]


def test_encode_hand_checked(spark):
    df = spark.createDataFrame(
        [
            (1, [0.1, 0.1, 0.9, 0.1]),   # sub0 -> cw0, sub1 -> cw0
            (2, [0.9, 0.8, 0.2, 0.9]),   # sub0 -> cw1, sub1 -> cw1
        ],
        ["vec_id", "embedding"],
    )
    got = {r.vec_id: r.pq_codes for r in pq_encode(df, BOOKS).collect()}
    assert got[1] == [0, 0]
    assert got[2] == [1, 1]


def test_encode_tie_breaks_to_lowest_code(spark):
    # equidistant from both codewords in both subspaces
    df = spark.createDataFrame(
        [(1, [0.5, 0.5, 0.5, 0.5])], ["vec_id", "embedding"]
    )
    got = pq_encode(df, BOOKS).first().pq_codes
    assert got == [0, 0]


def test_adc_is_reconstructed_dot(spark):
    """ADC of (q, x) must equal dot(q, decode(encode(x))) exactly."""
    rows = [(1, [0.1, 0.1, 0.9, 0.1]), (2, [0.9, 0.8, 0.2, 0.9])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = [0.5, 0.25, -0.5, 1.0]
    codes = pq_encode(df, BOOKS)
    got = {
        r.vec_id: r.adc
        for r in pq_reconstruct_dot(codes, q, BOOKS).collect()
    }

    def recon(codes_):
        return BOOKS[0][codes_[0]] + BOOKS[1][codes_[1]]

    code_map = {r.vec_id: r.pq_codes for r in codes.collect()}
    for vid, _ in rows:
        expect = round(
            sum(a * b for a, b in zip(q, recon(code_map[vid]))), 6
        )
        assert got[vid] == pytest.approx(expect, abs=1e-9)


def test_trained_codebooks_recall_planted_duplicate(spark, sf_dir):
    """An exact copy encodes to identical codes, so its ADC equals the
    query's self-reconstruction dot — the planted source must be the
    rank-1 neighbor of its copy under trained codebooks."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    books = train_pq_codebooks(e, m=8, ksub=16, sample_n=512, seed=7)
    planted = e.filter(F.col("vec_id") % 100 == 0).select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"), "embedding"
    )
    allv = e.unionByName(planted)
    codes = pq_encode(allv, books)
    out = pq_topk(codes, planted, books, k=1)
    top1 = {r.query_id: r.neighbor_id for r in out.collect()}
    n_ok = sum(1 for qid, nid in top1.items() if nid == qid - 1_000_000)
    # identical codes guarantee a tied-or-better ADC; ties break on the
    # lower (source) id unless another vector reconstructs strictly
    # closer to the query than the query itself — allow a small slip
    assert n_ok >= len(top1) - 1
    assert len(top1) == planted.count()


def test_search_is_scan_speed_no_shuffle_join(spark):
    """ADC search must be a broadcast over the code table — no sort-merge
    join, no shuffle of codes."""
    df = spark.createDataFrame(
        [(i, [float(i % 3), 0.5, float(i % 2), 1.0]) for i in range(20)],
        ["vec_id", "embedding"],
    )
    codes = pq_encode(df, BOOKS)
    q = df.filter(F.col("vec_id") < 2)
    plan = (
        pq_topk(codes, q, BOOKS, k=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_scale_constant_halfaway():
    import numpy as np

    from colnade_spark.operators.pq import _scale_int

    x = np.array([0.5 / SCALE, -0.5 / SCALE, 1.49 / SCALE])
    assert list(_scale_int(x)) == [1, -1, 1]


def test_ivfpq_full_probe_equals_pq_topk(spark, sf_dir):
    from colnade_spark.operators.pq import ivfpq_topk

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    books = train_pq_codebooks(e, m=8, ksub=8, sample_n=256, seed=5)
    cents = [
        [((((j * 31) + (d * 17)) % 7) - 3) / 4.0 for d in range(64)]
        for j in range(4)
    ]
    q = e.filter(F.col("vec_id") < 4)
    full = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ivfpq_topk(e, q, books, cents, k=5, nprobe=4).collect()
    }
    ref = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in pq_topk(pq_encode(e, books), q, books, k=5).collect()
    }
    assert full == ref


def test_ivfpq_pruned_probe_is_subset_of_candidates(spark, sf_dir):
    """With nprobe < nlist every returned neighbor must come from a
    probed list — checked by recomputing each neighbor's list."""
    from colnade_spark.operators.pq import ivfpq_topk
    from colnade_spark.operators.similarity import _assign_udf, _probe_udf

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    books = train_pq_codebooks(e, m=8, ksub=8, sample_n=256, seed=5)
    cents = [
        [((((j * 31) + (d * 17)) % 7) - 3) / 4.0 for d in range(64)]
        for j in range(4)
    ]
    q = e.filter(F.col("vec_id") < 4)
    out = ivfpq_topk(e, q, books, cents, k=5, nprobe=1)
    lists = {
        r.vec_id: r.l
        for r in e.select(
            "vec_id", _assign_udf(cents)(F.col("embedding")).alias("l")
        ).collect()
    }
    probes = {
        r.vec_id: r.p
        for r in q.select(
            "vec_id", _probe_udf(cents, 1)(F.col("embedding")).alias("p")
        ).collect()
    }
    rows = out.collect()
    assert rows
    for r in rows:
        assert lists[r.neighbor_id] in probes[r.query_id]


def test_ivfpq_residual_planted_recall_and_determinism(spark, sf_dir):
    from colnade_spark.operators.pq import (
        ivfpq_residual_topk,
        train_residual_codebooks,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cents = [
        [((((j * 31) + (d * 17)) % 7) - 3) / 4.0 for d in range(64)]
        for j in range(4)
    ]
    books = train_residual_codebooks(e, cents, m=8, ksub=16, sample_n=512, seed=11)
    planted = e.filter(F.col("vec_id") % 100 == 0).select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"), "embedding"
    )
    allv = e.unionByName(planted)
    out = ivfpq_residual_topk(allv, planted, books, cents, k=1, nprobe=4)
    top1 = {r.query_id: r.neighbor_id for r in out.collect()}
    n_ok = sum(1 for qid, nid in top1.items() if nid == qid - 1_000_000)
    assert n_ok >= len(top1) - 1 and len(top1) == planted.count()
    # deterministic across runs
    again = {
        r.query_id: r.neighbor_id
        for r in ivfpq_residual_topk(
            allv, planted, books, cents, k=1, nprobe=4
        ).collect()
    }
    assert again == top1


def test_ivfpq_residual_pruned_probe_containment(spark, sf_dir):
    """nprobe=1 results must come from the query's own best coarse list
    (same rounded-argmax rule on both sides)."""
    from colnade_spark.operators.embeddings import cluster_assign
    from colnade_spark.operators.pq import ivfpq_residual_topk

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    books = train_pq_codebooks(e, m=8, ksub=8, sample_n=256, seed=11)
    cents = [
        [((((j * 31) + (d * 17)) % 7) - 3) / 4.0 for d in range(64)]
        for j in range(4)
    ]
    q = e.filter(F.col("vec_id") < 4)
    out = ivfpq_residual_topk(e, q, books, cents, k=5, nprobe=1).collect()
    lists = {
        r.vec_id: r.cluster_id
        for r in cluster_assign(e, cents).select(
            "vec_id", "cluster_id"
        ).collect()
    }
    assert out
    for r in out:
        assert lists[r.neighbor_id] == lists[r.query_id]


def test_screen_flags_match_reconstruct_dot(spark):
    """pq_screen_flags.max_adc is exactly the max over per-query
    pq_reconstruct_dot scores, and the flag is the threshold compare."""
    from colnade_spark.operators.pq import pq_screen_flags

    df = spark.createDataFrame(
        [
            (1, [0.1, 0.1, 0.9, 0.1]),
            (2, [0.9, 0.8, 0.2, 0.9]),
            (3, [0.5, 0.5, 0.5, 0.5]),
        ],
        ["vec_id", "embedding"],
    )
    codes = pq_encode(df, BOOKS)
    qs = [[1.0, 1.0, 0.0, 1.0], [0.0, 0.0, 1.0, 0.0]]
    per_q = [
        {r.vec_id: r.adc for r in pq_reconstruct_dot(codes, q, BOOKS).collect()}
        for q in qs
    ]
    want = {v: max(per_q[0][v], per_q[1][v]) for v in per_q[0]}
    # threshold strictly between the min and max row score: both flag
    # outcomes must occur
    thr = (min(want.values()) + max(want.values())) / 2
    got = {
        r.vec_id: (r.max_adc, r.flagged)
        for r in pq_screen_flags(codes, qs, BOOKS, threshold=thr).collect()
    }
    for v, (adc, flag) in got.items():
        assert adc == want[v]
        assert flag == (adc >= thr)
    assert any(f for _, f in got.values()) and not all(f for _, f in got.values())


def test_screen_gate_is_stateless_scan_shape(spark, sf_dir):
    """pq_screen_gate end-to-end: encodes in-line, drops every row whose
    reconstructed dot with a frozen benchmark vector reaches the
    threshold (the benchmark members themselves — unit-norm fixture,
    max non-identical cosine ~0.6), keeps everything else, and the whole
    plan is shuffle-free (no Exchange) — the stateless streaming-gate
    contract."""
    from colnade_spark.operators.pq import pq_screen_gate, train_pq_codebooks

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    # m=16/ksub=32: reconstruction good enough that self-matches
    # (~0.70-0.85) separate cleanly from the fixture's max non-identical
    # cosine (<~0.41 after quantization) — threshold sits in the gap
    books = train_pq_codebooks(e, m=16, ksub=32)
    bench = [
        r.embedding
        for r in e.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    ]
    out = pq_screen_gate(e, bench, books, threshold=0.55)
    assert out.columns == ["vec_id", "embedding"]
    kept = {r.vec_id for r in out.collect()}
    total = {r.vec_id for r in e.collect()}
    assert {0, 1, 2, 3}.isdisjoint(kept)          # benchmark rows screened out
    assert kept == total - {0, 1, 2, 3}           # nothing else near the bench set
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    # a typo'd code_col errors with BOTH column names rendered (the
    # second literal was once missing its f-string prefix)
    with pytest.raises(ValueError, match=r"'nope'.*'embedding'"):
        pq_screen_gate(e, bench, books, threshold=0.55, code_col="nope")
    with pytest.raises(ValueError, match="staging names"):
        pq_screen_gate(
            e.withColumn("_pq_screen_flag", F.lit(True)),
            bench, books, threshold=0.55,
        )


def test_contamination_report_matches_reconstruct_dot(spark):
    """pq_contamination_report aggregates exactly what the per-row
    reconstruct-dot scores say: n_hits counts rows at/over threshold,
    frac is n_hits/n_rows, max_adc is the per-query max; empty query
    list raises."""
    from colnade_spark.operators.pq import pq_contamination_report

    df = spark.createDataFrame(
        [
            (1, [0.1, 0.1, 0.9, 0.1]),
            (2, [0.9, 0.8, 0.2, 0.9]),
            (3, [0.5, 0.5, 0.5, 0.5]),
        ],
        ["vec_id", "embedding"],
    )
    codes = pq_encode(df, BOOKS)
    qs = [[1.0, 1.0, 0.0, 1.0], [0.0, 0.0, 1.0, 0.0]]
    per_q = [
        {r.vec_id: r.adc for r in pq_reconstruct_dot(codes, q, BOOKS).collect()}
        for q in qs
    ]
    all_scores = [s for d in per_q for s in d.values()]
    thr = sorted(all_scores)[len(all_scores) // 2]  # both outcomes occur
    got = {
        r.query_id: r
        for r in pq_contamination_report(codes, qs, BOOKS, thr).collect()
    }
    assert set(got) == {0, 1}
    for i, scores in enumerate(per_q):
        r = got[i]
        n_hits = sum(1 for s in scores.values() if s >= thr)
        assert r.n_rows == 3
        assert r.n_hits == n_hits
        assert r.frac_hits == n_hits / 3
        assert r.max_adc == max(scores.values())
    with pytest.raises(ValueError, match="at least one query"):
        pq_contamination_report(codes, [], BOOKS, 0.5)


def test_codebook_manifest_roundtrip(spark, tmp_path):
    """Codebooks persist bit-identically beside their code table
    (encode over the round-tripped books replays the original codes);
    a mismatched re-write refuses; a missing manifest errors."""
    from colnade_spark.operators.pq import read_codebooks, write_codebooks

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    books = train_pq_codebooks(e, m=8, ksub=8, sample_n=128, seed=3)
    dest = str(tmp_path / "codes")
    pq_encode(e, books).write.parquet(dest)
    write_codebooks(spark, dest, books)
    back = read_codebooks(spark, dest)
    assert back == [[list(map(float, cw)) for cw in b] for b in books]
    # exact float round-trip -> identical encodes
    a = {r.vec_id: r.pq_codes for r in pq_encode(e, books).collect()}
    b = {r.vec_id: r.pq_codes for r in pq_encode(e, back).collect()}
    assert a == b
    # idempotent re-write OK; different books refused
    write_codebooks(spark, dest, books)
    other = train_pq_codebooks(e, m=8, ksub=8, sample_n=128, seed=4)
    with pytest.raises(ValueError, match="refusing"):
        write_codebooks(spark, dest, other)
    with pytest.raises(ValueError, match="no PQ codebook manifest"):
        read_codebooks(spark, str(tmp_path / "other"))


def test_write_codebooks_validates_shape(spark, tmp_path):
    """Empty or ragged codebooks are refused before anything persists —
    a self-inconsistent manifest would mis-score every later ADC."""
    from colnade_spark.operators.pq import write_codebooks

    with pytest.raises(ValueError, match="non-empty"):
        write_codebooks(spark, str(tmp_path / "a"), [])
    ragged = [
        [[0.0, 0.0], [1.0, 1.0]],
        [[1.0, 0.0]],  # missing a codeword
    ]
    with pytest.raises(ValueError, match="ragged"):
        write_codebooks(spark, str(tmp_path / "b"), ragged)


def test_residual_screen_trained_separation_and_shapes(spark, sf_dir):
    """With TRAINED residual codebooks the screen separates benchmark
    self-matches from the corpus (the semantic property the synthetic
    registry fixture can't show); pre-encoded and inline paths agree;
    the plan is shuffle-free; argument validation fires."""
    from colnade_spark.operators.pq import (
        pq_residual_encode,
        pq_residual_screen_flags,
        pq_residual_screen_gate,
        train_residual_codebooks,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cents = [
        [((((j * 31) + (d * 17)) % 7) - 3) / 4.0 for d in range(64)]
        for j in range(4)
    ]
    books = train_residual_codebooks(e, cents, m=16, ksub=32, sample_n=512, seed=11)
    bench = [
        r.embedding
        for r in e.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    ]
    codes = pq_residual_encode(e, books, cents)
    scores = {
        r.vec_id: r.max_adc
        for r in pq_residual_screen_flags(
            codes, bench, books, cents, threshold=0.0
        ).collect()
    }
    self_min = min(scores[v] for v in range(4))
    other_max = max(s for v, s in scores.items() if v >= 4)
    assert self_min > other_max, (self_min, other_max)
    thr = (self_min + other_max) / 2
    out = pq_residual_screen_gate(e, bench, books, cents, threshold=thr)
    kept = {r.vec_id for r in out.collect()}
    assert kept == {r.vec_id for r in e.collect()} - {0, 1, 2, 3}
    assert out.columns == ["vec_id", "embedding"]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    # pre-encoded path gates the same ids (ids only — no payload here)
    pre = pq_residual_screen_gate(
        codes, bench, books, cents, threshold=thr,
        list_col="ivf_list", code_col="pq_codes",
    )
    assert {r.vec_id for r in pre.collect()} == kept
    with pytest.raises(ValueError, match="both list_col and code_col"):
        pq_residual_screen_gate(codes, bench, books, cents, 0.5, list_col="ivf_list")
    with pytest.raises(ValueError, match="not in"):
        pq_residual_screen_gate(
            codes, bench, books, cents, 0.5, list_col="nope", code_col="pq_codes"
        )
    with pytest.raises(ValueError, match="at least one query"):
        pq_residual_screen_flags(codes, [], books, cents, 0.5)
    # a payload column named like an internal staging column would be
    # clobbered then re-selected into the output — rejected instead
    with pytest.raises(ValueError, match="staging names"):
        pq_residual_screen_gate(
            e.withColumn("_prs_adc", F.lit(1.0)),
            bench, books, cents, threshold=thr,
        )


def test_residual_contamination_report_matches_flags(spark, sf_dir):
    """The residual graded report aggregates exactly what the residual
    screen's per-row scores say (per-query hit counts, fraction, max);
    empty query set raises."""
    from colnade_spark.operators.pq import (
        pq_residual_contamination_report,
        pq_residual_encode,
        pq_residual_screen_flags,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    ).limit(50)
    cents = [
        [((((j * 31) + (d * 17)) % 7) - 3) / 4.0 for d in range(64)]
        for j in range(4)
    ]
    books = train_pq_codebooks(e, m=8, ksub=8, sample_n=64, seed=9)
    bench = [r.embedding for r in e.orderBy("vec_id").limit(2).collect()]
    codes = pq_residual_encode(e, books, cents)
    per_q = []
    for qv in bench:
        scores = {
            r.vec_id: r.max_adc
            for r in pq_residual_screen_flags(
                codes, [qv], books, cents, threshold=0.0
            ).collect()
        }
        per_q.append(scores)
    all_scores = sorted(s for d in per_q for s in d.values())
    thr = all_scores[len(all_scores) // 2]
    got = {
        r.query_id: r
        for r in pq_residual_contamination_report(
            codes, bench, books, cents, thr
        ).collect()
    }
    assert set(got) == {0, 1}
    n = codes.count()
    for i, scores in enumerate(per_q):
        r = got[i]
        hits = sum(1 for s in scores.values() if s >= thr)
        assert (r.n_rows, r.n_hits) == (n, hits)
        assert r.frac_hits == hits / n and r.max_adc == max(scores.values())
    with pytest.raises(ValueError, match="at least one query"):
        pq_residual_contamination_report(codes, [], books, cents, 0.5)


def test_ivf_null_vector_gets_no_list(spark, sf_dir):
    """A NULL vector gets a NULL list, probe list and codes: as a corpus
    row it is never a neighbor, as a query it has no results, and every
    other row's results stay the same."""
    from colnade_spark.operators.pq import (
        ivfpq_residual_topk,
        ivfpq_topk,
        train_residual_codebooks,
    )
    from colnade_spark.operators.similarity import _assign_udf, _probe_udf

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    null = spark.createDataFrame([(10**6, None)], e.schema)
    cents = [
        [((((j * 31) + (d * 17)) % 7) - 3) / 4.0 for d in range(64)]
        for j in range(4)
    ]
    q = e.filter(F.col("vec_id") < 4)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    books = train_pq_codebooks(e, m=8, ksub=8, sample_n=256, seed=5)
    rbooks = train_residual_codebooks(e, cents, m=8, ksub=16, sample_n=512, seed=11)
    for topk, bk in ((ivfpq_topk, books), (ivfpq_residual_topk, rbooks)):
        with_null = topk(e.unionByName(null), q.unionByName(null), bk, cents, k=5, nprobe=2)
        assert rows(with_null) == rows(topk(e, q, bk, cents, k=5, nprobe=2))
    got = null.select(
        _assign_udf(cents)(F.col("embedding")), _probe_udf(cents, 2)(F.col("embedding"))
    ).first()
    assert tuple(got) == (None, None)

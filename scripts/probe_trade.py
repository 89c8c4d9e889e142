#!/usr/bin/env python3
"""The multiprobe-vs-tables trade, measured at board scale (round 10,
VERDICT r9 #6): for `embedding_near_dups` at the production sizing
(sized_lsh occupancy-stable cells, max_bucket=32), sweep a grid of
(multiprobe T, tables) and record wall seconds (noop-sink, compute
only) plus RELATIVE RECALL — found pairs over the union of pairs found
by any config in the grid (exact ground truth is a brute-force n²/2
cosine pass, infeasible at 2M vectors; the union denominator is the
standard relative-recall protocol, and every config's found set is a
SUBSET of the true set by construction since the cosine gate decides
membership — configs only differ in which true pairs their candidates
reach).

Why the trade matters at 100 TB: a TABLE multiplies sketch storage AND
candidate volume (and the whole bucket build); a PROBE multiplies
candidate volume only (~(1+2T)x single-probe join volume, storage
unchanged). If T probes buy the recall of an extra table at less cost,
the production default should spend the budget on T — that is what the
typed facade's multiprobe=2 default encodes; this script is its
measured justification (table in SCALE.md round 10).

Usage:
    python scripts/probe_trade.py .scaledata/gen_sf100 \
        [--grid 0@2,2@2,4@2,0@4,2@4,4@4] [--out PROBE_TRADE.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("dir", help="generated scale dir (embeddings.parquet)")
    ap.add_argument("--grid", default="0@2,2@2,4@2,0@4,2@4,4@4")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    grid = []
    for item in args.grid.split(","):
        t, tb = item.split("@")
        grid.append((int(t), int(tb)))

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "64g")
    from pyspark.sql import functions as F

    from __spark_entry__ import queries  # noqa: F401  (session conf parity)
    from colnade_spark.operators.similarity import (
        embedding_near_dups,
        sized_lsh,
    )
    from colnade_spark.session import get_spark

    spark = get_spark("colnade-spark-probetrade")
    e = spark.read.parquet(f"{args.dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    n = e.count()
    bits, frac = sized_lsh(n, target_occupancy=8.0)
    print(f"{n} vectors, sized bits={bits} refine_frac={frac:.4f}", flush=True)

    # JIT/codegen warm pass on the tiny real fixture
    warm = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    embedding_near_dups(
        warm, dim=64, threshold=0.95, bits=8, tables=2, multiprobe=2,
    ).write.format("noop").mode("overwrite").save()

    results = {}
    found: dict[tuple[int, int], set] = {}
    for t, tables in grid:
        kw = dict(
            dim=64, threshold=0.95, bits=bits, refine_frac=frac,
            tables=tables, max_bucket=32, multiprobe=t,
        )
        # one timed pass: collect the id pairs (a few 10^4 rows — the
        # driver transfer is noise next to the candidate join)
        t0 = time.time()
        try:
            pairs = {
                (r.id_a, r.id_b)
                for r in embedding_near_dups(e, **kw)
                .select("id_a", "id_b")
                .collect()
            }
        except Exception as exc:  # noqa: BLE001
            # a grid corner that outgrows the host (T·tables multiplies
            # candidate volume; the single local disk is the bound a
            # per-executor-disk cluster does not have) is recorded as
            # infeasible-here, not a crash of the whole grid
            results[f"T{t}@tables{tables}"] = {
                "failed": type(exc).__name__
            }
            print(f"  T={t} tables={tables}: FAILED", flush=True)
            continue
        wall = round(time.time() - t0, 2)
        found[(t, tables)] = pairs
        results[f"T{t}@tables{tables}"] = {
            "wall_s": wall,
            "pairs": len(pairs),
        }
        print(f"  T={t} tables={tables}: {wall}s, {len(pairs)} pairs", flush=True)

    union = set().union(*found.values())
    for (t, tables), pairs in found.items():
        results[f"T{t}@tables{tables}"]["relative_recall"] = round(
            len(pairs) / max(len(union), 1), 4
        )
    report = {
        "metric": "probe_trade",
        "dir": args.dir,
        "n_vectors": n,
        "bits": bits,
        "refine_frac": round(frac, 6),
        "union_pairs": len(union),
        "grid": results,
    }
    line = json.dumps(report)
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()

"""Scaling-slope report: compare two bench_detail.json files.

The repeatable form of BASELINE.md's round-5 measured-slope protocol:

    python bench.py                                   # writes bench_detail.json
    cp bench_detail.json /tmp/d_small.json
    python tools/make_sf.py 10 .bench_sf/sf1
    SPARK_GRAFT_SF_DIR=.bench_sf/sf1 python bench.py
    python tools/slope.py /tmp/d_small.json bench_detail.json --factor 10

Prints per-query ratios sorted worst-first, the median, and flags any
query whose ratio exceeds the data-growth factor by `--tolerance` (default
1.5x) — the definition of superlinear used in BASELINE.md. Exit code 1 if
any flagged query is not in the known-output-bound allowlist, so the check
can gate CI.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys

# Queries whose OUTPUT cardinality is super-linear on replicated data by
# construction (see BASELINE.md round 5): wall-clock tracks output size,
# which no plan shape can change. Keep this list justified, short, loud.
OUTPUT_BOUND = {
    "x34_tfidf_doc_pairs",  # pair enumeration; true pair set is quadratic here
    # x66: benchmark side is production-CONSTANT (a suite doesn't grow with
    # the corpus); the replica generator clones the 40 benchmark docs into
    # every replica, so gram-hit mass grew 89x (239 -> 21,344 measured)
    # while wall grew only 20.7x — sublinear per hit. Real-corpus growth
    # with a fixed benchmark is linear.
    "x66_contamination_matrix",
    # x33/x64: candidate joins are linear in CANDIDATES; at the FIXED
    # 4-plane/2-band oracle parameters 10x rows in a 16-bucket space give
    # ~100x bucket pairs (measured 256,949 -> 25,834,562) while wall grew
    # only 18.6x/9.6x — per-candidate throughput improved >5x. Production
    # scaling holds bucket occupancy with planes = log2(n / target rows).
    "x33_blocked_embedding_dedup",
    "x64_embedding_dedup_keep",
    # x81 evaluates x02 candidates against the COMPLETE shingle-sharing
    # truth universe, which is quadratic on replicated data (every doc
    # shares template shingles with its 9 replica twins): measured
    # 1,130,536 -> 113,386,168 truth pairs (100.3x) for 10x docs while
    # wall grew only 23.6x — per-pair throughput improved >4x. On a real
    # corpus the truth universe tracks true-duplicate density (linear);
    # an eval query's cost is inherently the truth set's size.
    "x81_lsh_dedup_eval",
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("small", help="bench_detail.json at the small scale")
    ap.add_argument("large", help="bench_detail.json at the large scale")
    ap.add_argument("--factor", type=float, default=10.0,
                    help="data growth factor between the two runs")
    ap.add_argument("--tolerance", type=float, default=1.5,
                    help="flag ratios above factor * tolerance")
    args = ap.parse_args()

    with open(args.small) as fh:
        q_small = json.load(fh)["queries"]
    with open(args.large) as fh:
        q_large = json.load(fh)["queries"]

    common = sorted(set(q_small) & set(q_large))
    if not common:
        print("no common queries between the two files", file=sys.stderr)
        return 2
    rows = [(n, q_small[n], q_large[n], q_large[n] / max(q_small[n], 1e-9))
            for n in common]
    rows.sort(key=lambda r: -r[3])

    bound = args.factor * args.tolerance
    flagged = []
    print(f"{'query':44s} {'small':>8s} {'large':>8s} {'ratio':>7s}")
    for n, a, b, r in rows:
        mark = ""
        if r > bound:
            mark = "  <-- OUTPUT-BOUND (known)" if n in OUTPUT_BOUND else "  <-- SUPERLINEAR"
            if n not in OUTPUT_BOUND:
                flagged.append(n)
        print(f"{n:44s} {a:8.2f} {b:8.2f} {r:6.1f}x{mark}")
    print(f"\nmedian ratio: {statistics.median(r[3] for r in rows):.2f}x "
          f"over {len(rows)} queries; superlinear bound: {bound:.1f}x")
    if flagged:
        print(f"FLAGGED (superlinear, not allowlisted): {flagged}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())

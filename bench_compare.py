"""Bench regression guard: diff two bench.py JSON outputs per query.

Usage:
    python bench.py > /tmp/bench_new.json
    python bench_compare.py BENCH_r01.json /tmp/bench_new.json [--ratio 1.5]

Exits non-zero if any query common to both runs regressed by more than
``--ratio`` (default 1.5×) AND by more than ``--slack`` absolute seconds
(default 0.5s — sub-second queries jitter far more than 1.5× run to
run), or if the total regressed by more than ``--ratio``. New or removed
queries are reported but never fail the guard.
"""

from __future__ import annotations

import argparse
import json
import sys


def load(path: str) -> dict:
    with open(path) as fh:
        doc = json.load(fh)
    # the round driver wraps bench.py's JSON line in an envelope
    if "queries" not in doc and isinstance(doc.get("parsed"), dict):
        doc = doc["parsed"]
    if "queries" not in doc or not isinstance(doc["queries"], dict):
        raise SystemExit(
            f"{path}: not a bench.py output (no per-query 'queries' map)"
        )
    return doc


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="bench_compare")
    p.add_argument("baseline", help="older bench JSON (e.g. BENCH_r01.json)")
    p.add_argument("candidate", help="newer bench JSON")
    p.add_argument("--ratio", type=float, default=1.5, help="fail ratio (per query and total)")
    p.add_argument("--slack", type=float, default=0.5, help="absolute seconds a query must regress by before the ratio gate applies")
    args = p.parse_args(argv)

    base, cand = load(args.baseline), load(args.candidate)
    bq, cq = base["queries"], cand["queries"]

    regressions: list[str] = []
    improvements: list[str] = []
    for name in sorted(set(bq) & set(cq)):
        b, c = float(bq[name]), float(cq[name])
        if c > b * args.ratio and c - b > args.slack:
            regressions.append(f"  {name}: {b:.3f}s -> {c:.3f}s ({c / b:.2f}x)")
        elif b > c * args.ratio and b - c > args.slack:
            improvements.append(f"  {name}: {b:.3f}s -> {c:.3f}s ({c / b:.2f}x)")

    added = sorted(set(cq) - set(bq))
    removed = sorted(set(bq) - set(cq))
    bt, ct = float(base["value"]), float(cand["value"])

    print(f"baseline: {args.baseline}; candidate: {args.candidate}")
    print(f"total: {bt:.3f}s -> {ct:.3f}s ({ct / bt:.2f}x) over "
          f"{len(set(bq) & set(cq))} shared queries")
    if improvements:
        print(f"improved ({len(improvements)}):")
        print("\n".join(improvements))
    if added:
        print(f"added (not compared): {', '.join(added)}")
    if removed:
        print(f"removed (not compared): {', '.join(removed)}")

    failed = False
    if regressions:
        failed = True
        print(f"REGRESSED ({len(regressions)}):")
        print("\n".join(regressions))
    if ct > bt * args.ratio:
        failed = True
        print(f"REGRESSED total: {bt:.3f}s -> {ct:.3f}s exceeds {args.ratio}x")
    if not failed:
        print("OK: no query regressed beyond the gate")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())

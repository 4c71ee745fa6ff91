#!/usr/bin/env python3
"""Compare two Bench metric lines (driver BENCH_r*.json or raw Bench
stdout) per query — used to evaluate the round-10 leak fix against the
round-8 per-query times (VERDICT r9 item 1: no shared query >2x its r8
value).

Usage: bench_compare.py <old.json> <new.json> [ratio_threshold=2.0]

Accepts either the driver's wrapper ({"tail": "..."} with the metric line
inside) or a raw metric line / file containing one; handles both the
legacy full-name dict and the positional qn/queries centisecond encoding
(decoded by bench_guard.decode_queries, the one parser of both).
"""
import json
import re
import sys

from bench_guard import decode_queries


def load_queries(path):
    text = open(path).read()
    # driver wrapper: the metric line is the (possibly truncated) tail —
    # fall back to regex extraction of the LAST {"metric":...} object
    m = None
    for cand in re.finditer(r'\{"metric":.*?\}(?=\s|$)', text, re.S):
        m = cand
    if m is None:
        raise SystemExit(f"no metric line in {path}")
    bench = json.loads(m.group(0))
    return decode_queries(bench), bench["value"]


def main():
    old, told = load_queries(sys.argv[1])
    new, tnew = load_queries(sys.argv[2])
    thr = float(sys.argv[3]) if len(sys.argv) > 3 else 2.0
    shared = sorted(set(old) & set(new))
    so = sum(old[q] for q in shared)
    sn = sum(new[q] for q in shared)
    rows = []
    for q in shared:
        if old[q] <= 0:
            continue
        r = new[q] / old[q]
        # additive floor: a 0.2s->0.5s flip is scheduler jitter, not a
        # regression worth chasing
        if r > thr and new[q] - old[q] > 0.5:
            rows.append((r, q, old[q], new[q]))
    for r, q, o, n in sorted(rows, reverse=True):
        print(f"SLOW {q}: {o:.2f}s -> {n:.2f}s ({r:.1f}x)")
    print(f"== shared {len(shared)} queries: {so:.1f}s -> {sn:.1f}s "
          f"({sn / so:.2f}x); totals {told:.1f}s -> {tnew:.1f}s; "
          f"{len(rows)} over {thr}x")


if __name__ == "__main__":
    main()

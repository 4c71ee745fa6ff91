#!/usr/bin/env python3
"""Bench regression guard (VERDICT r1 item 10).

Compares a fresh `graft.Bench` metric line against the committed per-query
baseline so builder-recorded and driver-observed perf can't silently
diverge again (round 1 shipped a 70x q54 regression that local notes
missed). Fail = any query slower than max(3x baseline, baseline + 1 s) —
the additive floor absorbs scheduler jitter on sub-second queries.

Usage (Bench's stdout AND stderr, so the guard sees failed queries):
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 SPARK_GRAFT_CPUS=32 \
      sbt -batch "runMain graft.Bench" 2>&1 | python3 tools/bench_guard.py
    python3 tools/bench_guard.py bench_output.txt   # or from a file

The first metric line read is then Bench's full-name dict (stderr); the
compact positional stdout line parses too. Bench logs `[bench] <name>
failed: ...` for a query that threw and still records its elapsed time,
so a crash would read as a fast query: any such line fails the guard
and names the query (the derive_baseline.py rule).

Baseline: tools/bench_baseline_sf0.01.json. Re-derive whenever a
deliberate perf change lands, via the MEDIAN-OF-3 protocol in
tools/derive_baseline.py (3 full Bench runs, per-query median) — NOT a
session min: mins from quiet sessions sit 1.1-1.6x under the next box
phase and turn the 2x judging band into baseline-tightness noise. The
box-speed factor below (median run/baseline ratio, clamped to [1, 2])
then absorbs whole-session weather on top of the honest baseline.

STRICT set (VERDICT r3 item 9): iterative / driver-loop queries regress in
sneaky sub-3x increments (q92 drifted 1.8x between rounds 2 and 3 — extra
blocking actions per round, invisible to the 3x limit). Queries listed in
STRICT fail at max(1.5x baseline, baseline + 0.5 s) instead.
"""
import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BASELINE = os.path.join(HERE, "bench_baseline_sf0.01.json")

# iterative queries: per-round driver actions make small fixed regressions
# compound; hold them to 1.5x instead of 3x
STRICT = {"q92_dedup_groups", "q253_chain_depth"}

FAILED = re.compile(r"\[bench\] (\S+) failed:")


def short(name):
    """qNN prefix — the key format Bench emits on stdout (the driver's
    2000-byte tail forces a compact metric line; baseline keeps full
    names for readability)."""
    return name.split("_")[0]


def decode_queries(bench):
    """{qNN: seconds} from one parsed Bench metric line, either encoding.

    Positional (round 8): "qn" = comma-joined qNN ids with the 'q'
    stripped, "queries" = centisecond ints in the same order; since
    round 11 a token may be an inclusive range over the name-sorted
    emission order ("1-9,100-109,10,..."). Ids re-pad as qNN with a
    2-digit minimum (q01..q99, q100+ as-is). Legacy: "queries" is a
    {full name: seconds} dict, keyed here by its qNN prefix."""
    if not isinstance(bench["queries"], list):
        return {short(k): v for k, v in bench["queries"].items()}
    ids = []
    for tok in bench["qn"].split(","):
        if "-" in tok:
            a, b = tok.split("-")
            ids.extend(range(int(a), int(b) + 1))
        else:
            ids.append(int(tok))
    assert len(ids) == len(bench["queries"]), "qn/queries misaligned"
    return {f"q{n:02d}": cs / 100.0 for n, cs in zip(ids, bench["queries"])}


def main() -> int:
    src = open(sys.argv[1]) if len(sys.argv) > 1 else sys.stdin
    lines = list(src)
    crashed = [m.group(1) for m in map(FAILED.search, lines) if m]
    for q in crashed:
        print(f"FAIL {q}: Bench reports it failed; its time is not a "
              f"measurement")
    # tolerate sbt's "[info] " prefix and surrounding log lines
    line = next((l for l in lines if '"metric"' in l), None)
    if line is None:
        print("== bench guard FAIL: no metric line found in input")
        return 1
    bench = json.loads(line[line.index("{"):])
    bench_q = decode_queries(bench)
    # pick the baseline matching the run's SF when one is committed
    # (round-13: an sf0.1 line fed to the guard silently compared
    # against the sf0.01 baseline); fall back to the sf0.01 dev gate
    baseline_path = BASELINE
    sf = bench.get("sf", "")
    sf_name = os.path.basename(str(sf).rstrip("/"))
    cand = os.path.join(HERE, f"bench_baseline_{sf_name}.json")
    if os.path.isfile(cand):
        baseline_path = cand
    elif sf_name != "sf0.01":
        # round-14 (ADVICE): the silent sf0.01 fallback is exactly the
        # silent-mismatch pathology the SF-based selection fixed for
        # sf0.1 — name the baseline actually used for any other SF
        # (e.g. a 100x replica dir) so a cross-SF comparison can't pass
        # quietly.
        print(f"warning: no committed baseline for sf '{sf_name}' "
              f"({cand} missing); comparing against "
              f"{os.path.basename(BASELINE)}", file=sys.stderr)
    base = json.load(open(baseline_path))

    # Box-speed normalization (round-8): baselines are tightest historical
    # mins from quiet-box sessions, and the box oscillates 1.2-2x between
    # sessions — the CLAUDE.md rule is "compare against queries whose code
    # did not change before believing a regression". Codified: scale every
    # limit by the run's MEDIAN ratio vs baseline (clamped to >= 1). A
    # genuine single-query regression leaves the median ~1 and its limit
    # unscaled; a slow-box day lifts every limit together instead of
    # failing whichever tight sub-second min the weather hits.
    ratios = sorted(t / base["queries"][q]
                    for q in base["queries"]
                    if (t := bench_q.get(short(q))) is not None
                    and base["queries"][q] > 0)
    boxf = max(1.0, ratios[len(ratios) // 2]) if ratios else 1.0
    # Cap the factor: the box has never measured slower than ~2x a quiet
    # session, so a median ratio beyond that is a SUITE-WIDE CODE
    # regression lifting its own limits — exactly what the guard exists
    # to catch — not weather. (round-9 advice item)
    boxf = min(boxf, 2.0)

    failures, missing = [], []
    for q, b in sorted(base["queries"].items()):
        t = bench_q.get(short(q))
        if t is None:
            missing.append(q)
            continue
        if q in STRICT:
            limit = max(1.5 * b, b + 0.5) * boxf
        else:
            limit = max(3.0 * b, b + 1.0) * boxf
        if t > limit:
            failures.append((q, b, t, limit))

    for q, b, t, limit in failures:
        print(f"FAIL {q}: {t:.2f}s vs baseline {b:.2f}s (limit {limit:.2f}s)")
    for q in missing:
        print(f"MISSING {q}: in baseline but not in bench output")
    new = sorted(set(bench_q) - {short(q) for q in base["queries"]})
    if new:
        print(f"note: {len(new)} queries lack a baseline: {', '.join(new)}")
    ok = not failures and not missing and not crashed
    bad = ({q for q, *_ in failures} | set(missing)
           | (set(crashed) & set(base["queries"])))
    print(f"note: box-speed factor {boxf:.2f}x (median ratio vs baseline)")
    print(f"== bench guard {'PASS' if ok else 'FAIL'}: "
          f"{len(base['queries']) - len(bad)}"
          f"/{len(base['queries'])} within limits, total {bench['value']:.1f}s"
          f" (baseline {base['total']:.1f}s)")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

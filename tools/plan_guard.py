#!/usr/bin/env python3
"""Plan-shape regression gate (VERDICT r13 item 1).

bench_guard compares wall-clock — hostage to box weather (1.2-1.5x
session phases, hypervisor steal). This gate compares PHYSICAL PLAN
SHAPE, a deterministic function of code + data layout: per query, the
count of each plan-node kind ({parquet scans, exchanges, sorts, joins
by strategy, aggregates by implementation, generates, windows, ...}) as
emitted by `runMain graft.PlanStats <sfDir> <out.json>`.

A query FAILS when any gated kind exceeds its committed budget — an
extra shuffle, a broadcast join degrading to SMJ (shows as smj+sort
exceedance), a HashAggregate falling back to SortAggregate.
Informational kinds (wscg spans, reused_exchange) never fail. The counts
come from the AQE-initial plan, before execution; AQE decides exchange
reuse at runtime, so that plan lists both sides of a self-join and a
LOST REUSE IS NOT GATED here (PlanBudgetSpec asserts it on q59's final
plan). Counts BELOW budget are printed as improvement notes —
re-derive the budget after a deliberate plan change:

    sbt -batch "runMain graft.PlanStats /root/testdata/sf0.001 /tmp/ps.json"
    python3 tools/plan_guard.py /tmp/ps.json            # gate
    cp /tmp/ps.json tools/plan_budget.json              # re-derive (deliberate)

Budgets are derived at sf0.001 (plans are stats-driven: broadcast
decisions can differ by SF, so the gate SF is pinned; sf0.001 keeps the
derivation under a couple of minutes).
"""
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
INFORMATIONAL = {"wscg", "reused_exchange"}


def main() -> int:
    fresh_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/plan_shapes.json"
    budget_path = os.path.join(HERE, "plan_budget.json")
    for i, a in enumerate(sys.argv):
        if a == "--budget":
            budget_path = sys.argv[i + 1]
    fresh = json.load(open(fresh_path))
    budget = json.load(open(budget_path))

    failures, improved, errors = [], [], []
    missing = sorted(set(budget) - set(fresh))
    new = sorted(set(fresh) - set(budget))
    for q in sorted(set(fresh) & set(budget)):
        got, b = fresh[q], budget[q]
        if "ERROR" in got:
            errors.append(q)
            continue
        kinds = (set(got) | set(b)) - INFORMATIONAL - {"ERROR"}
        for k in sorted(kinds):
            g, lim = got.get(k, 0), b.get(k, 0)
            if g > lim:
                failures.append((q, k, g, lim))
            elif g < lim:
                improved.append((q, k, g, lim))

    for q, k, g, lim in failures:
        print(f"FAIL {q}: {k} {g} > budget {lim}")
    for q in errors:
        print(f"FAIL {q}: query errored during plan construction")
    for q in missing:
        print(f"MISSING {q}: in budget but not in fresh shapes")
    if new:
        print(f"note: {len(new)} queries lack a budget: {', '.join(new)}")
    if improved:
        qs = sorted({q for q, *_ in improved})
        print(f"note: {len(improved)} counts below budget across "
              f"{len(qs)} queries (re-derive after deliberate changes): "
              + ", ".join(f"{q}:{k} {g}<{lim}" for q, k, g, lim
                          in improved[:12])
              + (" ..." if len(improved) > 12 else ""))
    ok = not failures and not missing and not errors
    ngate = len(set(fresh) & set(budget))
    print(f"== plan guard {'PASS' if ok else 'FAIL'}: "
          f"{ngate - len({f[0] for f in failures}) - len(errors)}/{ngate} "
          f"within budget")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

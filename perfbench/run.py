#!/usr/bin/env python3
"""graft benchmark: one workload, one JVM, one run.

    python3 perfbench/run.py --workload many_small --seed 1 --seconds 30 --trace 0

Builds the engine from source (first run only), generates the input
tables (fixed seed) and the stream feed split (`--seed`), runs the workload's timed passes in one `local[nproc]` JVM,
checks every output, and prints one JSON line as the last line of stdout:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end metrics; with `--trace 1` the run times two
traced and two untraced passes and reports the per-layer metrics instead.

Everything a run leaves behind goes under `perfbench/.build` (jar and
class-data archive) and `perfbench/.work` (inputs, outputs, one JSON
record per run).
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
from workloads import TABLE_SEED, WORKLOADS  # noqa: E402

WORK = os.path.join(HERE, ".work")
RUN_LIMIT_S = 170
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
# a fixed heap and young generation: G1's adaptive young sizing otherwise
# decides how much of the heap a run touches, and peak RSS with it
HEAP = ["-Xms3g", "-Xmx3g", "-Xmn512m"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def prepare_data(w):
    """The workload's input tables: generated once per `sf`, always with
    the fixed TABLE_SEED, so every run of a workload reads the same
    tables (and the oracle digests cached beside them stay valid)."""
    d = os.path.join(WORK, "data", f"sf{w['sf']}-seed{TABLE_SEED}")
    if not os.path.exists(os.path.join(d, "_done")):
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(d, TABLE_SEED, w["sf"])
        open(os.path.join(d, "_done"), "w").close()
    return d


def prepare_feed(data, seed, files):
    """Time-ordered parquet feed files for the stream operators; the seed
    picks where each file's slice of the (ordered) input ends. Feeds are
    kept per seed beside the tables, the few most recent only."""
    import numpy as np
    root = os.path.join(data, "feeds")
    feed = os.path.join(root, f"seed{seed}-files{files}")
    if not os.path.exists(os.path.join(feed, "_done")):
        shutil.rmtree(feed, ignore_errors=True)
        rng = np.random.default_rng(seed + 7919)
        for name, table, cols in (
                ("docs", "documents", ["doc_id", "text"]),
                ("events", "events", ["event_id", "ts", "user_id",
                                      "event_type", "props", "value"])):
            t = pq.read_table(os.path.join(data, f"{table}.parquet"),
                              columns=cols)
            n = t.num_rows
            # cut points: even split jittered by up to a third of a file
            step = n / files
            cuts = [0] + sorted(int(i * step + rng.uniform(-step / 3, step / 3))
                                for i in range(1, files)) + [n]
            os.makedirs(os.path.join(feed, name))
            for i in range(files):
                pq.write_table(t.slice(cuts[i], cuts[i + 1] - cuts[i]),
                               os.path.join(feed, name, f"part-{i:04d}.parquet"))
        open(os.path.join(feed, "_done"), "w").close()
    olds = sorted((os.path.getmtime(os.path.join(root, k)), k)
                  for k in os.listdir(root) if k != os.path.basename(feed))
    for _, k in olds[:-4]:
        shutil.rmtree(os.path.join(root, k), ignore_errors=True)
    os.utime(feed)
    return feed


def jvm_command(classpath, opts, run_dir):
    """The benchmark JVM: Spark's JDK 17 module opens, scratch directories
    inside the run directory, and the harness main class."""
    return ["java", *JVM_OPENS, *opts, *HEAP,
            "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dspark.local.dir={run_dir}/local",
            f"-Dspark.hadoop.hadoop.tmp.dir={run_dir}/tmp",
            f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
            f"-Dderby.system.home={run_dir}",
            "-Dspark.ui.enabled=false",
            "-cp", classpath, "org.apache.spark.perfbench.GraftBench"]


def run_jvm(build_out, w, args, data, run_dir, deadline):
    out = os.path.join(run_dir, "run.json")
    cmd = jvm_command(*build_out, run_dir) + [
        "--data", data, "--work", run_dir,
        "--out", out, "--cores", str(os.cpu_count() or 1),
        "--passes", str(args.passes), "--trace", str(args.trace),
        "--seed", str(args.seed), "--check-dir", f"{run_dir}/outputs",
        "--spans", f"{run_dir}/spans.json"]
    if "queries" in w:
        cmd += ["--queries", ",".join(w["queries"])]
    if "feed_files" in w:
        cmd += ["--feed", prepare_feed(data, args.seed, w["feed_files"])]
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    jlog = open(os.path.join(run_dir, "jvm.log"), "w")
    launched = time.time()
    p = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT, env=env,
                         cwd=run_dir)
    try:
        rc = p.wait(timeout=max(5, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        log("JVM timed out; killed")
        rc = None
    finally:
        jlog.close()
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        log(f"JVM exited with {rc}:\n{tail}")
        return None, launched, rc
    with open(out) as f:
        return json.load(f), launched, rc


def tail_of(samples):
    """The highest percentile with at least ten samples beyond it."""
    s = sorted(samples)
    n = len(s)
    if n < 11:
        return None, None
    j = n - 11
    return s[j], 100.0 * (j + 1) / n


def timing(items):
    """`wall_s` and the latency samples of a run's timed items. `wall_s`
    is the time of one pass: the sum over items of each item's median
    over the passes in which it succeeded, so a pause that hits one
    execution does not move it. An item that failed adds nothing. The
    samples are the successful queries' times and the stream operators'
    micro-batch times."""
    by_name, samples = {}, []
    for i in items:
        if i["ok"]:
            by_name.setdefault(i["name"], []).append(i["s"])
            samples += i["batches"] if i["batches"] else [i["s"]]
    return sum(statistics.median(v) for v in by_name.values()), samples


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    w = WORKLOADS[args.workload]
    args.passes = max(2, round(w["passes"] * args.seconds / 30))
    if args.trace:
        # per-layer figures are per pass: two traced and two untraced
        # passes (A-B-B-A) suffice and keep the traced run short
        args.passes = 2

    built = build.ensure_built()
    # the time limit covers the run, not the build before it
    deadline = time.monotonic() + RUN_LIMIT_S
    t0 = time.monotonic()
    data = prepare_data(w)
    t_data = time.monotonic() - t0
    run_dir = os.path.join(WORK, "runs",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    res, launched, rc = run_jvm(built, w, args, data, run_dir, deadline)
    if res is None:
        # selection errors abort the run; anything else is a failed run
        if rc == 3:
            raise SystemExit("perfbench: query selection rejected")
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1,
                          "metrics": {}}))
        return

    t_jvm = time.monotonic() - t0 - t_data
    items = res["items"]
    failures = [f"{i['name']}: {i['error']}" for i in items if not i["ok"]]
    n_checks = 0
    if "queries" in w:
        checks = oracle.check(data, run_dir + "/outputs", res["queries"])
        failures += [f"{q}: {why}" for q, why in checks.items() if why]
        n_checks += len(checks)
    if "feed_files" in w:
        failures += res["stream_failures"]
        n_checks += 3
    for f in failures:
        log(f"FAILED {f}")

    wall, ok = timing(items)
    tail, tail_pct = tail_of(ok)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "passes": args.passes, "samples": len(ok),
        "tail_percentile": tail_pct,
        "host.steal_core_s": res["steal_core_s"], "jvm.gc_s": res["gc_s"],
        "leak.persistent_rdds": res.get("leak_persistent_rdds", 0),
        "op.shuffle_records_by_query": res.get("shuffle_records", {}),
        "failures": failures, "items": items,
        "phase_s": {"inputs": t_data, "jvm": t_jvm, "check": res["check_s"],
                    "oracle": time.monotonic() - t0 - t_data - t_jvm},
    }
    if args.trace == 0:
        metrics = {
            "setup_s": (res["ready_epoch_ms"] / 1000.0 - launched, "s"),
            "wall_s": (wall, "s"),
            "item_p50_s": (statistics.median(ok) if ok else 0.0, "s"),
            "item_tail_s": (tail if tail is not None else 0.0, "s"),
            "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        }
        if tail is None:
            failures.append(f"only {len(ok)} item samples: no tail")
    else:
        layers = res["layers"]
        layers["leak.persistent_rdds"] = record["leak.persistent_rdds"]
        if layers["kernel.mismatches"]:
            failures.append(f"{layers['kernel.mismatches']:.0f} kernel rows "
                            "differ from their twins")
        metrics = {k: (v, unit_of(k)) for k, v in layers.items()}
        record["layers"] = layers
    record["metrics"] = {k: v for k, (v, _) in metrics.items()}
    with open(os.path.join(run_dir, "record.json"), "w") as f:
        json.dump(record, f, indent=1)
    log(f"{args.workload} seed={args.seed} passes={args.passes} "
        f"samples={len(ok)} tail=p{tail_pct and round(tail_pct, 1)} "
        f"steal={res['steal_core_s']:.2f}core-s gc={res['gc_s']:.2f}s "
        f"record={os.path.relpath(run_dir)}/record.json")
    attempted = len(items) + n_checks
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))


def unit_of(name):
    if name.endswith("ns_row"):
        return "ns/row"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_frac", "task_skew")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()

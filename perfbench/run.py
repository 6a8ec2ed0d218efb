"""Benchmark entry point.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

Builds the engine and the harness (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs the harness JVM,
checks every output, and prints one JSON line as the last line of stdout:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 the
per-layer metrics (perfbench/layers.py). Lines before it, starting with
"#", give the workload's own figures by name. Exits nonzero when a check
fails or the harness cannot run.

All run files, java.io.tmpdir and Spark's local dirs sit under one
per-run root in .bench_run/ that is deleted at exit.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import build  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ["ingest", "query_fullwork"]
# fewest timed cycles, whatever --seconds says
MIN_CYCLES = {"ingest": 2, "query_fullwork": 1, "cdc_pipeline": 1}
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def harness(cp, root, data, workload, seconds, trace, cpus, seed=None):
    """Run the harness JVM once under `root` on the inputs in `data`,
    generating them from `seed` while the JVM starts. For query_fullwork
    the DuckDB oracle answers are computed while the JVM sets up. Returns
    (result, spans, oracle answers)."""
    out, tmp = os.path.join(root, "out"), os.path.join(root, "tmp")
    os.makedirs(out)
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", *opens,
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={os.path.join(root, 'spark-local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(root, 'spark-warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "graftbench.Main", "--workload", workload,
           "--data", data,
           "--work", os.path.join(root, "work"), "--out", out,
           "--seconds", str(seconds), "--trace", str(trace),
           "--min-cycles", str(MIN_CYCLES[workload])]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), TMPDIR=tmp)
    log_path = os.path.join(root, "harness.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=root, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            if seed is not None:
                gen.generate(data, seed, workload)
                open(os.path.join(data, "READY"), "w").close()
            answers = oracle_answers(p, out, data) if workload == "query_fullwork" else {}
            p.wait()
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    res_file = os.path.join(out, "result.json")
    if p.returncode != 0 or not os.path.exists(res_file):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
    if not os.path.exists(res_file):
        raise SystemExit(f"harness exited {p.returncode} without a result")
    with open(res_file) as f:
        res = json.load(f)
    spans = []
    if trace:
        with open(os.path.join(out, "spans.jsonl")) as f:
            spans = [json.loads(line) for line in f if line.strip()]
    return res, spans, answers


def oracle_answers(p, out, data):
    """The oracle answers, once the JVM has written the queries' oracle
    SQL (it does so first); {} if it exits before that."""
    import oracle  # DuckDB and pandas load only where the oracle runs
    sql = os.path.join(out, "oracle_sql.json")
    while not os.path.exists(sql):
        if p.poll() is not None:
            return {}
        time.sleep(0.05)
    return oracle.answers(os.path.join(data, "tpch"), sql)


def tail(xs):
    """The highest percentile with at least ten samples beyond it, as
    (percent, value); None with fewer than eleven samples."""
    n = len(xs)
    if n < 11:
        return None
    pct = math.floor(100 * (n - 10) / n)
    return pct, sorted(xs)[max(0, math.ceil(pct / 100 * n) - 1)]


def figures(workload, res):
    """The workload's own figures, by the names the benchmark doc uses:
    (name, value or None, unit, sample count)."""
    s, v = res["samples"], res["values"]

    def p50(name, key):
        xs = s.get(key, [])
        return (f"{name}_p50_s", statistics.median(xs) if xs else None, "s", len(xs))

    def tl(name, key):
        xs = s.get(key, [])
        t = tail(xs)
        return (f"{name}_p{t[0]}_s", t[1], "s", len(xs)) if t else \
            (f"{name}_tail_s", None, "s", len(xs))

    if workload == "query_fullwork":
        return [p50("query_total", "cycle_s")]
    return [("backfill_events_per_s", v.get("cdc.backfill_events_per_s"), "events/s", 1),
            p50("sync", "sync_s"), tl("sync", "sync_s"),
            p50("apply", "apply_s"), tl("apply", "apply_s"),
            p50("scan", "scan_s"), p50("lookup", "lookup_s"),
            ("write_amp", v.get("mor.write_amp"), "bytes/byte", len(s.get("apply_s", [])))]


def leaked_dirs(tmp):
    return sum(1 for e in os.scandir(tmp) if e.is_dir()) if os.path.isdir(tmp) else 0


def run_workload(cp, runs, workload, seed, seconds, trace):
    """One run of one workload; returns (attempted, failures, metrics)."""
    root = tempfile.mkdtemp(prefix=f"{workload}-", dir=runs)
    t0 = time.time()
    data = os.path.join(root, "data")
    res, spans, answers = harness(cp, root, data, workload, seconds, trace, 4, seed)
    setup_s = res["values"]["setup_end_ms"] / 1e3 - t0
    attempted, failures = res["attempted"], list(res["failures"])
    if workload == "query_fullwork":
        import oracle
        for name, why in oracle.check(answers, os.path.join(root, "work", "qout")):
            attempted += 1
            if why:
                failures.append(f"{name}: {why}")
    for name, value, unit, n in figures(workload, res):
        shown = "n/a: a tail needs 11 samples" if value is None else f"{value:.6g}"
        print(f"# {workload} {name} {shown} {unit} (n={n})")
    extra = {"tmp.leaked_dirs": leaked_dirs(os.path.join(root, "tmp"))}
    if trace and workload == "ingest":
        # the single-threaded baseline: the same inputs on local[1]
        base = os.path.join(root, "local1")
        os.makedirs(base)
        r1, _, _ = harness(cp, base, data, "cdc_pipeline", 0, 0, 1)
        extra["baseline.local1_cycle_s"] = statistics.median(r1["samples"]["cycle_s"])
        extra["baseline.local1_backfill_events_per_s"] = r1["values"]["cdc.backfill_events_per_s"]
        attempted += r1["attempted"]
        failures += r1["failures"]
    if trace:
        values = layers.compute(res, spans, extra)
        metrics = {k: (values[k], u) for k, u, _ in layers.METRICS}
    else:
        metrics = {"setup_s": (setup_s, "s"),
                   "cycle_p50_s": (statistics.median(res["samples"]["cycle_s"]), "s"),
                   "cycle_cpu_s": (statistics.median(res["samples"]["cycle_cpu_s"]), "s")}
    for f in failures:
        print(f"# FAILED {workload}: {f}", file=sys.stderr)
    return attempted, failures, metrics


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a SIGTERM unwinds like an exception, so the JVM is stopped and the
    # run root deleted on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cp = build.build()
    runs = os.path.join(ROOT, ".bench_run")
    os.makedirs(runs, exist_ok=True)
    attempted, failures, metrics = 0, [], {}
    try:
        for w in WORKLOADS if a.workload == "all" else [a.workload]:
            n, f, m = run_workload(cp, runs, w, a.seed, a.seconds, a.trace)
            attempted += n
            failures += f
            metrics.update({(f"{w}.{k}" if a.workload == "all" else k): v
                            for k, v in m.items()})
    finally:
        shutil.rmtree(runs, ignore_errors=True)
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures),
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()

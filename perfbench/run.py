#!/usr/bin/env python3
"""graft benchmark harness.

One run:
    python3 perfbench/run.py --workload relational --seed 1 --seconds 60 --trace 0

builds the driver (once per source state), generates the input tables
(always from DATA_SEED), runs one fresh JVM with one `local[4]` Spark
session that makes a fixed number of closed-loop passes over the
workload's rows in an order drawn from `--seed`, checks every
execution's row count against DuckDB's count for the row's oracle SQL on
the same tables, and prints each metric by name and unit.
The pass count, not the clock, sets the measured window (a run takes
about 45-60 s on 4 cores), so a slower program is measured over the same passes;
`--seconds` is accepted for the harness's command line and not used.
The last line of stdout is one JSON object: `correct`, `attempted`,
`failed`, `metrics`. `--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics of a traced run (and keeps its spans file).

Everything at once (every workload, two seeds, untraced and traced, the
tracing overhead and which counters repeat exactly across runs):
    python3 perfbench/run.py --all

Run from the root of a checkout. Build outputs and results go under
`.bench_build/perfbench/`.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(HERE, "driver"))
import build as driver_build  # noqa: E402
import datagen  # noqa: E402
import layers  # noqa: E402

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ["relational", "pipelines"]
# JVM flags graft's own build passes to forked runs (Spark on JDK 17)
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]
JVM_FLAGS = [f for p in OPENS for f in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
    "-Xmx4g", "-XX:ReservedCodeCacheSize=1g"]
RUN_LIMIT_S = 170  # the whole run, build excluded, must end within this
# Every run reads the same tables; --seed only sets the query order, so
# differences between runs come from the program, not from its inputs.
DATA_SEED = 1


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# -- build -------------------------------------------------------------------

def build():
    """Compile graft and the driver (driver/build.py); return the runtime
    classpath. Reuses the last build while no source file has changed."""
    try:
        return driver_build.build(ROOT, OUT)
    except driver_build.BuildError as e:
        fail(f"build failed: {e}")


# -- one run -------------------------------------------------------------------

def oracle_counts(data, oracle):
    """DuckDB's row count for each row's oracle SQL on the run's tables."""
    import duckdb
    con = duckdb.connect()
    for t in datagen.SIZES.keys() | {"region", "nation"}:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return {row: (con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]
                  if sql else None) for row, sql in oracle.items()}


def cpu_ticks():
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def run_jvm(cp, args, run_dir, deadline):
    """Run the driver JVM; return the share of CPU time the hypervisor took
    from this host meanwhile (steal), a sign of a disturbed run."""
    # Spark binds to the loopback address by name, whatever the host's
    # name resolves to
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1",
               SPARK_LOCAL_HOSTNAME="localhost",
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
               SPARK_GRAFT_MODEL_DIR=os.path.join(run_dir, "model"))
    cmd = (["java"] + JVM_FLAGS +
           [f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}", "-cp", cp,
            "perfbench.Main"] + args)
    steal0, total0 = cpu_ticks()
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            tail = fh.read()[-3000:]
        fail(f"driver JVM failed ({code}):\n{tail}")
    steal1, total1 = cpu_ticks()
    return (steal1 - steal0) / max(1, total1 - total0)


def run_once(workload, seed, trace):
    """One benchmark run. Returns (result, spans or None, failures): the
    executions that threw or whose row count differs from DuckDB's."""
    cp = build()
    deadline = time.time() + RUN_LIMIT_S
    run_dir = os.path.join(OUT, "runs", f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("data", "tmp", "local", "model"):
        os.makedirs(os.path.join(run_dir, d))
    data = os.path.join(run_dir, "data")
    try:
        datagen.write(data, DATA_SEED)
        steal = run_jvm(cp, ["--workload", workload, "--seed", str(seed),
                             "--trace", str(trace), "--data", data,
                             "--run", run_dir], run_dir, deadline)
        with open(os.path.join(run_dir, "result.json")) as fh:
            result = json.load(fh)
        result["host_steal"] = steal
        spans = None
        if trace:
            with open(os.path.join(run_dir, "spans.json")) as fh:
                spans = json.load(fh)
        expected = oracle_counts(data, result["oracle"])
        os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
        base = os.path.join(OUT, "results", f"{workload}-seed{seed}-trace{trace}")
        shutil.copy(os.path.join(run_dir, "result.json"), base + ".json")
        if trace:
            shutil.copy(os.path.join(run_dir, "spans.json"), base + ".spans.json")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    failures = [(q["pass"], q["row"], q.get("rows"), expected[q["row"]], q.get("error"))
                for q in result["queries"]
                if "error" in q or expected[q["row"]] is None
                or q["rows"] != expected[q["row"]]]
    return result, spans, failures


def measure(workload, seed, trace):
    """One run's metrics as {name: (value, unit)}: the end-to-end ones, or
    with `trace` the per-layer ones; plus the notes printed beside them."""
    result, spans, failures = run_once(workload, seed, trace)
    e2e = layers.end_to_end(result)
    attempted = len(result["queries"])
    notes = {"failed_ratio": (len(failures) / attempted, "ratio"),
             "query_tail.percentile": (e2e.pop("_tail_pct"), "%"),
             "query_tail.samples": (e2e.pop("_tail_n"), "count"),
             "host.steal_share": (result["host_steal"], "ratio")}
    values = e2e
    if trace:
        values = layers.per_layer(result, spans)
        values["traced.warm_pass_s"] = e2e["warm_pass_s"]
    metrics = {k: (v, layers.UNITS[k]) for k, v in values.items()}
    return result, spans, attempted, failures, metrics, notes


def show(metrics, indent="  "):
    for k, (v, u) in metrics.items():
        print(f"{indent}{k:36s} {v:14.6g} {u}")


def single(args):
    result, _, attempted, failures, metrics, notes = measure(
        args.workload, args.seed, args.trace)
    for p, row, got, want, err in failures:
        print(f"FAILED pass {p} {row}: rows {got}, oracle {want}"
              + (f", {err}" if err else ""), file=sys.stderr)
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{len(result['rows'])} rows, {len(result['passes'])} passes")
    show(metrics)
    show(notes)
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


def run_all(args):
    """Every workload on seeds 1 and 2 (two query-order permutations),
    untraced and traced; the tracing overhead; counter repeatability."""
    report, failed = {}, 0
    for w in WORKLOADS:
        print(f"== {w}")
        report[w] = {}
        traced = []
        for seed in (1, 2):
            warm = {}
            for trace in (0, 1):
                result, spans, _, failures, metrics, notes = measure(
                    w, seed, trace)
                failed += len(failures)
                key = f"seed{seed}.{'traced' if trace else 'untraced'}"
                print(f"  -- {key}")
                show(metrics, "     ")
                show(notes, "     ")
                report[w][key] = {k: {"value": v, "unit": u} for k, (v, u) in
                                  {**metrics, **notes}.items()}
                warm[trace] = metrics["traced.warm_pass_s" if trace else "warm_pass_s"][0]
                if trace:
                    traced.append((result, spans))
            overhead = (warm[1] - warm[0]) / warm[0]
            report[w][f"seed{seed}.tracing_overhead"] = {"value": overhead, "unit": "ratio"}
            print(f"  seed{seed}.tracing_overhead {overhead:+.3f} "
                  "(traced / untraced warm_pass_s - 1)")
        c = layers.repeatability(*zip(*traced))
        report[w]["counters"] = c
        print(f"  -- counters across {c['runs']} traced runs (warm passes)")
        print(f"     jobs per pass {c['jobs_per_pass']} exact {c['jobs_exact']}; "
              f"tasks per pass {c['tasks_per_pass']} exact {c['tasks_exact']}")
        for row, r in c["rows"].items():
            tag = "exact" if r["jobs_exact"] and r["tasks_exact"] else "varies"
            print(f"     {row:30s} jobs {r['jobs']:>7s} tasks {r['tasks']:>7s} {tag}")
    path = os.path.join(OUT, "report.json")
    with open(path, "w") as fh:
        json.dump(report, fh, indent=1)
    print(f"report: {os.path.relpath(path, ROOT)}; spans: "
          f"{os.path.relpath(os.path.join(OUT, 'results'), ROOT)}/*.spans.json")
    print(json.dumps({"correct": failed == 0, "failed": failed}))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=60,
                    help="accepted and not used: the pass count sets the window")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true",
                    help="every workload on seeds 1 and 2, untraced and traced")
    args = ap.parse_args()
    if args.all:
        run_all(args)
    elif args.workload:
        single(args)
    else:
        ap.error("give --workload or --all")


if __name__ == "__main__":
    main()

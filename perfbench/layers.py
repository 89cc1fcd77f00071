"""Metrics from one run's result file and, for a traced run, its spans.

The driver writes `result.json` (pass and per-query timings, catalyst
phase times, set-up times) and, traced, `spans.json`: the spans
run > pass > query > {build, plan, exec, release}, the probe spans
(tables.load, piglatin.parse, piglatin.compile), Spark jobs under the
phase they started in, and streaming runs and micro-batches under the
build phase that started them. Per-layer metrics are per warm pass,
reported as the median over the run's warm passes.
"""
import statistics

UNITS = {
    "cold_pass_s": "s", "warm_pass_s": "s", "query_p50_s": "s",
    "query_tail_s": "s", "setup_s": "s",
    "tables.load_ms": "ms", "tables.load_jobs": "count",
    "piglatin.parse_ms": "ms", "piglatin.compile_ms": "ms",
    "build.ms": "ms", "build.self_ms": "ms", "build.jobs": "count",
    "build.tasks": "count", "build.share": "ratio",
    "intermediates.tracked": "count", "intermediates.release_ms": "ms",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.ms": "ms", "exec.self_ms": "ms", "exec.jobs": "count",
    "exec.tasks": "count",
    "spark.stages": "count", "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms", "spark.deserialize_ms": "ms",
    "spark.gc_ms": "ms", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes", "spark.output_bytes": "bytes",
    "spark.task_failures": "count", "spark.empty_task_ratio": "ratio",
    "streaming.batches": "count", "streaming.input_rows": "count",
    "streaming.trigger_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.state_commit_ms": "ms", "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.rows_dropped_by_watermark": "count",
    "streaming.overhead_ms": "ms",
    "driver.session_start_ms": "ms", "driver.heap_peak_mb": "MB",
    "jobs.per_pass": "count", "tasks.per_pass": "count",
    "counters.jobs_exact_share": "ratio", "counters.tasks_exact_share": "ratio",
    "traced.warm_pass_s": "s",
}

SPARK = {"spark.executor_run_ms": "executor_run_ms",
         "spark.executor_cpu_ms": "executor_cpu_ms",
         "spark.deserialize_ms": "deserialize_ms", "spark.gc_ms": "gc_ms",
         "spark.shuffle_read_bytes": "shuffle_read_bytes",
         "spark.shuffle_write_bytes": "shuffle_write_bytes",
         "spark.spill_bytes": "spill_bytes", "spark.input_bytes": "input_bytes",
         "spark.output_bytes": "output_bytes",
         "spark.task_failures": "task_failures", "spark.stages": "stages"}
BATCH = {"streaming.input_rows": "input_rows",
         "streaming.trigger_ms": "trigger_ms",
         "streaming.add_batch_ms": "add_batch_ms",
         "streaming.query_planning_ms": "query_planning_ms",
         "streaming.wal_commit_ms": "wal_commit_ms",
         "streaming.state_commit_ms": "state_commit_ms",
         "streaming.rows_dropped_by_watermark": "rows_dropped_by_watermark"}


def warm_passes(result):
    return [p["pass"] for p in result["passes"][1 + result["warmup"]:]]


def query_wall_ms(q):
    return q.get("build_ms", 0) + q.get("plan_ms", 0) + q.get("exec_ms", 0)


def end_to_end(result):
    """The five end-to-end metrics, plus the tail's percentile and sample
    count (keys starting with `_`)."""
    warm = set(warm_passes(result))
    walls = sorted(query_wall_ms(q) / 1000 for q in result["queries"]
                   if q["pass"] in warm)
    n = len(walls)
    # highest percentile that still has 10 samples beyond it
    k = max(0, n - 11)
    return {
        "cold_pass_s": result["passes"][0]["wall_s"],
        "warm_pass_s": statistics.median(
            p["wall_s"] for p in result["passes"] if p["pass"] in warm),
        "query_p50_s": statistics.median(walls),
        "query_tail_s": walls[k],
        "setup_s": result["setup_s"],
        "_tail_pct": 100.0 * (k + 1) / n,
        "_tail_n": n,
    }


class Tree:
    def __init__(self, spans):
        self.spans = {s["id"]: s for s in spans}
        self.children = {}
        for s in spans:
            self.children.setdefault(s["parent"], []).append(s)

    def descendants(self, span, kind):
        out, todo = [], list(self.children.get(span["id"], []))
        while todo:
            s = todo.pop()
            if s["kind"] == kind:
                out.append(s)
            todo.extend(self.children.get(s["id"], []))
        return out

    def kids(self, span, kind):
        return [s for s in self.children.get(span["id"], []) if s["kind"] == kind]


def dur_ms(s):
    return (s["end"] - s["start"]) / 1000.0 if s["end"] >= 0 else 0.0


def self_ms(span, covered):
    """Span duration minus the part of it the `covered` spans overlap."""
    iv = sorted((max(c["start"], span["start"]), min(c["end"], span["end"]))
                for c in covered if c["end"] >= 0)
    busy, cur_s, cur_e = 0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return dur_ms(span) - busy / 1000.0


def attr(spans, key):
    return sum(s["attrs"].get(key, 0.0) for s in spans)


def pass_layers(tree, result, pass_span, probe_span):
    n = int(pass_span["name"])
    qs = [q for q in result["queries"] if q["pass"] == n]
    m = {}
    queries = tree.kids(pass_span, "query")
    phase = {k: [p for q in queries for p in tree.kids(q, k)]
             for k in ("build", "plan", "exec", "release")}
    jobs = {k: [j for p in v for j in tree.descendants(p, "job")]
            for k, v in phase.items()}
    all_jobs = [j for v in jobs.values() for j in v]
    for k in ("build", "exec"):
        m[f"{k}.ms"] = sum(dur_ms(p) for p in phase[k])
        m[f"{k}.self_ms"] = sum(
            self_ms(p, tree.descendants(p, "job") + tree.descendants(p, "stream"))
            for p in phase[k])
        m[f"{k}.jobs"] = len(jobs[k])
        m[f"{k}.tasks"] = attr(jobs[k], "tasks")
    wall = sum(query_wall_ms(q) for q in qs)
    m["build.share"] = m["build.ms"] / wall if wall else 0.0
    m["intermediates.tracked"] = sum(q.get("tracked", 0) for q in qs)
    m["intermediates.release_ms"] = sum(q.get("release_ms", 0) for q in qs)
    for k in ("analysis", "optimization", "planning"):
        m[f"catalyst.{k}_ms"] = sum(q.get(f"{k}_ms", 0) for q in qs)
    for name, key in SPARK.items():
        m[name] = attr(all_jobs, key)
    tasks = attr(all_jobs, "tasks")
    m["spark.empty_task_ratio"] = attr(all_jobs, "empty_tasks") / tasks if tasks else 0.0
    streams = [s for p in phase["build"] for s in tree.descendants(p, "stream")]
    batches = [b for s in streams for b in tree.kids(s, "batch")]
    m["streaming.batches"] = len(batches)
    for name, key in BATCH.items():
        m[name] = attr(batches, key)
    # state size is a level, not a flow: the largest batch value per run
    for name, key in (("streaming.state_rows", "state_rows"),
                      ("streaming.state_memory_bytes", "state_memory_bytes")):
        m[name] = sum(max([b["attrs"].get(key, 0.0) for b in tree.kids(s, "batch")]
                          or [0.0]) for s in streams)
    m["streaming.overhead_ms"] = sum(
        dur_ms(s) - attr(tree.kids(s, "batch"), "trigger_ms") for s in streams)
    loads = tree.kids(probe_span, "tables.load") if probe_span else []
    m["tables.load_ms"] = sum(dur_ms(s) for s in loads)
    m["tables.load_jobs"] = sum(len(tree.descendants(s, "job")) for s in loads)
    parse = tree.kids(probe_span, "piglatin.parse") if probe_span else []
    comp = tree.kids(probe_span, "piglatin.compile") if probe_span else []
    m["piglatin.parse_ms"] = sum(dur_ms(s) for s in parse)
    # PigScript.query parses again before compiling; count that once
    m["piglatin.compile_ms"] = sum(dur_ms(s) for s in comp) - m["piglatin.parse_ms"]
    m["jobs.per_pass"] = len(all_jobs)
    m["tasks.per_pass"] = tasks
    return m


def per_query_counts(tree, pass_span):
    """{row: (jobs, tasks)} for one pass."""
    out = {}
    for q in tree.kids(pass_span, "query"):
        js = tree.descendants(q, "job")
        out[q["name"]] = (len(js), int(attr(js, "tasks")))
    return out


def warm_pass_spans(tree, result):
    run = next(s for s in tree.spans.values() if s["kind"] == "run")
    passes = sorted(tree.kids(run, "pass"), key=lambda s: s["start"])
    probes = sorted(tree.kids(run, "probes"), key=lambda s: s["start"])
    warm = set(warm_passes(result))
    return [(p, probes[i] if i < len(probes) else None)
            for i, p in enumerate(passes) if int(p["name"]) in warm]


def per_layer(result, spans):
    tree = Tree(spans)
    warm = warm_pass_spans(tree, result)
    rows = [pass_layers(tree, result, p, probe) for p, probe in warm]
    out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    counts = [per_query_counts(tree, p) for p, _ in warm]
    names = counts[0].keys()
    out["counters.jobs_exact_share"] = sum(
        len({c[r][0] for c in counts}) == 1 for r in names) / len(names)
    out["counters.tasks_exact_share"] = sum(
        len({c[r][1] for c in counts}) == 1 for r in names) / len(names)
    out["driver.session_start_ms"] = result["session_start_ms"]
    out["driver.heap_peak_mb"] = result["heap_peak_mb"]
    return out


def repeatability(results, spans_list):
    """Which job and task counts repeat exactly across the warm passes of
    several traced runs: per row, and per pass in total."""
    rows, totals = {}, {"jobs": [], "tasks": []}
    for result, spans in zip(results, spans_list):
        tree = Tree(spans)
        for p, _ in warm_pass_spans(tree, result):
            counts = per_query_counts(tree, p)
            totals["jobs"].append(sum(j for j, _ in counts.values()))
            totals["tasks"].append(sum(t for _, t in counts.values()))
            for row, (j, t) in counts.items():
                r = rows.setdefault(row, {"jobs": set(), "tasks": set()})
                r["jobs"].add(j)
                r["tasks"].add(t)

    def span(vals):
        lo, hi = min(vals), max(vals)
        return str(lo) if lo == hi else f"{lo}-{hi}"
    return {
        "runs": len(results),
        "jobs_per_pass": span(totals["jobs"]),
        "jobs_exact": len(set(totals["jobs"])) == 1,
        "tasks_per_pass": span(totals["tasks"]),
        "tasks_exact": len(set(totals["tasks"])) == 1,
        "rows": {row: {"jobs": span(r["jobs"]), "tasks": span(r["tasks"]),
                       "jobs_exact": len(r["jobs"]) == 1,
                       "tasks_exact": len(r["tasks"]) == 1}
                 for row, r in sorted(rows.items())},
    }

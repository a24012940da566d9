"""Metric arithmetic over the harness's raw record: percentiles, interval
unions, self time, failure counting, and the end-to-end and per-layer
metric sets. Pure functions; perfbench/test_metrics.py pins them.
"""
import re
import statistics

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


def tail_value(values):
    """Latency at the highest percentile with at least ten samples beyond
    it, q = 1 - 10/n, interpolated between neighbouring samples. Below 20
    samples q falls under the median, no percentile qualifies, and the
    maximum stands in; at exactly 20 the rule lands on the median.
    """
    v = sorted(values)
    n = len(v)
    if n < 20:
        return v[-1]
    x = (n - 1) * (1 - 10 / n)
    i = int(x)
    return v[i] + (v[min(i + 1, n - 1)] - v[i]) * (x - i)


def union_length(intervals, lo=None, hi=None):
    """Total length covered by (start, end) intervals, clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        a = a if lo is None else max(a, lo)
        b = b if hi is None else min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(clipped):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    start, end = span
    return (end - start) - union_length(children, start, end)


def count_failures(ops, bad_names=(), bad_ops=()):
    """Failed ops: those that threw, plus those whose output check failed,
    matched by op name (a query whose checked result is wrong fails every
    op of it) or by op index. Returns (failed, {name: count})."""
    by_name = {}
    for o in ops:
        if o.get("error") or o["name"] in bad_names or o["op"] in bad_ops:
            by_name[o["name"]] = by_name.get(o["name"], 0) + 1
    return sum(by_name.values()), by_name


def query_tables(sql):
    """Engine tables a query reads, from the FROM/JOIN clauses of its oracle SQL."""
    return sorted({t.lower() for t in re.findall(r"\b(?:FROM|JOIN)\s+(\w+)", sql or "", re.I)
                   if t.lower() in TABLES})


def end_to_end(raw, rows, failed):
    """The end-to-end metric values of one untraced loop. `rows(op)` gives an
    op's input records."""
    ops = raw["ops"]
    walls = [(o["end"] - o["start"]) / 1e3 for o in ops]
    n_rows = sum(rows(o) for o in ops)
    return {
        "setup_s": raw["setup_s"],
        "throughput_rows_s": n_rows / sum(walls),
        "op_p50_s": statistics.median(walls),
        "op_tail_s": tail_value(walls),
        "ok_op_ratio": 1 - failed / len(ops),
        # the program's own threads: process CPU less the JVM's internal
        # threads (JIT, GC, VM service), which the per-layer metrics report
        "cpu_per_row_us": sum(o["cpu_ms"] - o["jit_cpu_ms"] - o["vm_cpu_ms"]
                              for o in ops) * 1e3 / n_rows,
        "live_heap_peak_mb": max(o["live_heap_bytes"] for o in ops) / 2**20,
    }


def per_layer(trace, cores, rows, untraced_throughput):
    """Per-op means of the per-layer metrics over the traced loop."""
    ops = trace["ops"]
    spans = {}
    for s in trace["spans"]:
        spans.setdefault(s["op"], {})[s["name"]] = s
    jobs = {}
    for j in trace["jobs"]:
        jobs.setdefault(j["op"], []).append(j)
    plans = {}
    for p in trace["plans"]:
        if p["at"] >= plans.get(p["op"], {"at": -1})["at"]:
            plans[p["op"]] = p  # the op's last execution: its final write
    acc = {}

    def add(k, v):
        acc[k] = acc.get(k, 0.0) + v

    walls = []
    for o in ops:
        sp = spans.get(o["op"], {})
        build, exe = sp["build"], sp["exec"]
        js = [j for j in jobs.get(o["op"], []) if j["end"] is not None]
        bj = [j for j in js if j["span"] == build["id"]]
        ej = [j for j in js if j["span"] == exe["id"]]
        iv = lambda jl: [(j["start"], j["end"]) for j in jl]
        self_s = lambda sp, jl: self_time((sp["start"], sp["end"]), iv(jl)) / 1e3
        wall = (o["end"] - o["start"]) / 1e3
        walls.append(wall)
        build_s = (build["end"] - build["start"]) / 1e3
        eager_job_s = union_length(iv(bj), build["start"], build["end"]) / 1e3
        exec_job_s = union_length(iv(ej), exe["start"], exe["end"]) / 1e3
        job_s = union_length(iv(js), o["start"], o["end"]) / 1e3
        p = plans.get(o["op"], {})
        c = o.get("counters", {})
        add("queries.build_s", build_s)
        add("queries.build_jobs", len(bj))
        add("operators.eager_jobs", sum(1 for j in bj if j["site"].startswith("graft.operators.")))
        add("operators.eager_job_s", eager_job_s)
        add("operators.driver_s", self_s(build, bj))
        add("operators.checkpoint_bytes", trace["checkpoint_bytes"].get(str(o["op"]), 0))
        add("plans.analysis_s", p.get("analysis_ms", 0.0) / 1e3)
        add("plans.optimization_s", p.get("optimization_ms", 0.0) / 1e3)
        add("plans.planning_s", p.get("planning_ms", 0.0) / 1e3)
        add("exec.jobs", len(js))
        add("exec.stages", sum(j["stages"] for j in js))
        add("exec.tasks", sum(j["tasks"] for j in js))
        add("exec.job_s", job_s)
        add("exec.task_run_s", sum(j["run_ms"] for j in js) / 1e3)
        add("exec.task_cpu_s", sum(j["cpu_ns"] for j in js) / 1e9)
        add("exec.task_gc_s", sum(j["gc_ms"] for j in js) / 1e3)
        add("exec.shuffle_write_bytes", sum(j["shuffle_write"] for j in js))
        add("exec.shuffle_read_bytes", sum(j["shuffle_read"] for j in js))
        add("exec.shuffle_fetch_wait_s", sum(j["fetch_wait_ms"] for j in js) / 1e3)
        add("exec.spill_bytes", sum(j["spill"] for j in js))
        add("exec.task_failures", sum(j["task_failures"] for j in js))
        add("driver.gap_s", wall - job_s)
        add("jvm.jit_cpu_s", o["jit_cpu_ms"] / 1e3)
        add("jvm.vm_cpu_s", o["vm_cpu_ms"] / 1e3)
        add("sources.fetch.requests", c.get("get_requests", 0))
        add("sources.fetch.bytes", c.get("get_bytes", 0))
        add("sources.scan.records", sum(j["records"] for j in js))
        add("sources.scan.bytes", sum(j["bytes_in"] for j in js))
        add("sources.sink.posts", c.get("posts", 0))
        add("sources.sink.bytes", c.get("post_bytes", 0))
        add("sources.sink.commit_s",
            (exe["end"] - max([j["end"] for j in ej], default=exe["start"])) / 1e3)
        add("_served", c.get("served_features", 0))
        # self times: build jobs + build driver + exec jobs + exec driver
        # (final-write planning and commit); what they miss of the op's
        # wall is harness time between the spans
        add("_accounted", eager_job_s + self_s(build, bj) + exec_job_s
            + self_s(exe, ej))
    n = len(ops)
    out = {k: v / n for k, v in acc.items() if not k.startswith("_")}
    out["exec.cpu_util"] = out["exec.task_cpu_s"] / (out["exec.job_s"] * cores) \
        if out["exec.job_s"] else 0.0
    out["sources.since.kept_ratio"] = \
        out["sources.scan.records"] / (acc["_served"] / n) if acc["_served"] else 0.0
    out["trace.accounted_ratio"] = acc["_accounted"] / sum(walls)
    traced = sum(rows(o) for o in ops) / sum(walls)
    out["trace.overhead_ratio"] = traced / untraced_throughput
    return out

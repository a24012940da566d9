#!/usr/bin/env python3
"""The repository benchmark: one command per workload.

    python3 perfbench/run.py --workload etl_sync --seed 1 --seconds 24 --trace 0

Builds the engine and the harness from source (first run, or after a source
change), generates the workload's inputs from --seed, runs the harness JVM,
checks every output against a DuckDB expectation, and prints the metrics.
The last line of standard output is one JSON object: with --trace 0 the
end-to-end metrics, with --trace 1 the per-layer metrics of a separate
traced loop. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

# Timed ops per run at --seconds 24 (on a 4-core host the two declared
# workloads' timed loops average about that); other --seconds scale them, in
# whole rounds of the query list. The op count, not the clock, ends the
# loop, so every run of a workload times the same ops.
OPS_AT_24S = {"etl_sync": 30, "llm_prep": 20, "sql_analytics": 22}
ROUND = {"etl_sync": 1, "llm_prep": 10, "sql_analytics": 11}
WARM_SYNCS = 30  # EtlSync.WarmSyncs
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def op_count(workload, seconds):
    r = ROUND[workload]
    return max(r, round(OPS_AT_24S[workload] * seconds / 24 / r) * r)


def sources_digest():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(top)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                h.update(open(p, "rb").read())
    for p in ("build.sbt", "project/build.properties"):
        for base in (ROOT, HERE):
            if os.path.exists(os.path.join(base, p)):
                h.update(open(os.path.join(base, p), "rb").read())
    return h.hexdigest()


def build():
    """Compile the engine and the harness with sbt; cache the classpath."""
    stamp = os.path.join(HERE, "target", "perfbench-classpath.json")
    digest = sources_digest()
    if os.path.exists(stamp):
        cached = json.load(open(stamp))
        if cached.get("digest") == digest:
            return cached["classpath"]
    log("building the engine and the harness (sbt)")
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=840)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    json.dump({"digest": digest, "classpath": lines[-1]}, open(stamp, "w"))
    return lines[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(ROUND))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=24)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: the engine's sources are not beside perfbench/")
    classpath = build()

    work = os.path.join(HERE, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # traced, every op runs twice (untraced and traced), so half as many
    ops = op_count(a.workload, a.seconds / (2 if a.trace else 1))
    if a.workload == "etl_sync":
        # the warm-up syncs (EtlSync.WarmSyncs), the untraced loop and the
        # traced loop
        inputs = gen.caltopo(work, a.seed, WARM_SYNCS + (2 if a.trace else 1) * ops)
    else:
        os.makedirs(os.path.join(work, "tables"))
        inputs = gen.tables(os.path.join(work, "tables"), a.seed, a.workload)
    log(f"{a.workload} seed={a.seed} ops={ops} inputs={inputs}")

    cores = min(4, os.cpu_count() or 1)
    # A fixed heap: G1 would otherwise shrink it at the full collection
    # after each op and regrow it through many young collections and
    # marking cycles, at a pace that differs from run to run. A fixed set of
    # JIT compiler threads, so that none exits (taking its CPU time with it)
    # between the readings around an op.
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UseDynamicNumberOfCompilerThreads",
            f"-Djava.io.tmpdir={work}/tmp",
            "--add-exports", "java.management/sun.management=ALL-UNNAMED"]
           + [x for o in JDK_OPENS for x in ("--add-opens", f"java.base/{o}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Harness", "--workload", a.workload,
              "--data", work, "--ops", str(ops), "--cores", str(cores),
              "--trace", str(a.trace)])
    with open(os.path.join(work, "harness.log"), "w") as out:
        rc = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT, timeout=160).returncode
    if rc != 0:
        sys.stderr.write(open(os.path.join(work, "harness.log")).read()[-4000:])
        raise SystemExit(f"perfbench: harness exited with {rc}")
    raw = json.load(open(os.path.join(work, "raw.json")))

    # output checks: outside the timed region, every mismatch counted
    problems = [f"warm-up {w['op']}: {w['error']}" for w in raw["warm_errors"]]
    all_ops = raw["ops"] + (raw["trace"]["ops"] if a.trace else [])
    bad_names, bad_ops = {}, set()
    if a.workload == "etl_sync":
        ran = list(range(WARM_SYNCS)) + [o["sync"] for o in all_ops]
        bad_syncs, delivered = oracle.check_etl(work, ran)
        bad_ops = {o["op"] for o in all_ops if o["sync"] in bad_syncs}
        problems += [f"sync {s}: delivered features differ from the expectation"
                     for s in sorted(bad_syncs)]
        rows = lambda o: o["features"]
        log(f"checked {len(ran)} syncs, {delivered} delivered features")
    else:
        bad_names = oracle.check_queries(work)
        problems += [f"{q}: {why}" for q, why in bad_names.items()]
        sizes = inputs
        sqls = json.load(open(os.path.join(work, "oracle_sql.json")))
        rows = lambda o: sum(sizes[t] for t in metrics.query_tables(sqls[o["name"]]))
        log(f"checked {len(sqls)} queries against their oracles")
    failed, by_name = metrics.count_failures(raw["ops"], bad_names, bad_ops)
    for o in all_ops:
        if o.get("error"):
            problems.append(f"op {o['op']} {o['name']}: {o['error']}")
    for p in problems:
        log(f"FAIL {p}")

    e2e = metrics.end_to_end(raw, rows, failed)
    log(f"failed_op_ratio={failed / len(raw['ops']):.4f} ({failed}/{len(raw['ops'])})"
        + "".join(f" {k}:{v}" for k, v in sorted(by_name.items())))
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if a.trace:
        values = metrics.per_layer(raw["trace"], cores, rows, e2e["throughput_rows_s"])
        spec = spec["per_layer"]
        attempted = len(all_ops)
        failed = metrics.count_failures(all_ops, bad_names, bad_ops)[0]
        dump = os.path.join(work, "trace.json")
        json.dump(raw["trace"], open(dump, "w"))
        log(f"spans, jobs and planning records: {dump}")
    else:
        values, spec, attempted = e2e, spec["end_to_end"], len(raw["ops"])
    out = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}
    for k, v in out.items():
        log(f"{k:32s} {v['value']:14.6g} {v['unit']}")
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()

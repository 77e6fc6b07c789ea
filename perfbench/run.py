"""The repository's benchmark: the program run as a black box.

    python3 perfbench/run.py --workload suite_iterative --seed 3 --seconds 30 --trace 0

Each run builds the program from source if its sources changed (sbt, once
per checkout). A suite_iterative run then starts one fresh JVM on
``local[2]`` that sets up once, including one untimed run of each query,
and runs a fixed sample of iterative SparkEntry queries in timed passes,
in a closed loop with one client; each query counts at its median over
the passes. A car_pipeline run (car.py) starts one fresh JVM that runs the
reference's three-stage lifecycle through ``graft.Run``; it ignores
``--seconds``.
With ``--trace 1`` a run does its work untraced and then traced, in two
JVMs.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.
See perfbench/README.md for workloads, metrics and the loop model.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import car

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
# local[2] on the 4-core reference machine: at local[4] the JIT and GC
# threads compete with the task threads, and one seed's wall_s varied by
# 22 % between runs (6 % at local[2], at the same median)
CPUS = 2
# every JVM of a run must end this many seconds after the build
RUN_DEADLINE_S = 170
DEADLINE = float("inf")  # set in main() once the build is done
BUILD_TIMEOUT_S = 850
# TESTDATA's sf0.1 tables (TESTDATA.md)
SF_DIR = os.environ.get("PERFBENCH_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_tail_s": "s",
    "cpu_s": "s", "retained_heap_mb": "MB",
}
# per-layer metric -> unit; names match BENCHMARK.json's per_layer list
PER_LAYER = {
    "queries.build_s": "s", "queries.action_s": "s",
    "fixtures.build_s": "s", "session.start_s": "s",
    "plan.executions": "count", "plan.analysis_s": "s",
    "plan.optimization_s": "s", "plan.planning_s": "s",
    "codegen.compiles": "count", "codegen.compile_s": "s",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.task_wait_s": "s", "sched.failed_tasks": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.cpu_util": "ratio",
    "exec.deser_s": "s",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.records": "count",
    "shuffle.fetch_wait_s": "s",
    "spill.mem_mb": "MB", "spill.disk_mb": "MB",
    "storage.block_mb": "MB", "broadcast.mb": "MB",
    "io.read_mb": "MB", "io.written_mb": "MB", "io.records_written": "count",
    "jvm.gc_s": "s", "jvm.gc_count": "count",
    "run.preprocess_s": "s", "run.first_s": "s", "run.second_s": "s",
    "site.queries.job_s": "s", "site.operators.job_s": "s", "site.car.job_s": "s",
    "site.Run.job_s": "s", "site.perfbench.job_s": "s", "site.other.job_s": "s",
    "trace.overhead_s": "s",
}
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


# ---------------------------------------------------------------- pure helpers

def tail_rank(n):
    """The op_tail_s rule: the highest whole percentile with at least 10
    operations beyond it, as (percentile, 0-based index into the sorted
    latencies). Fewer than 11 operations leave nothing beyond; the max is used."""
    if n < 11:
        return 100, n - 1
    p = (100 * (n - 10)) // n
    return p, max(0, -(-p * n // 100) - 1)  # nearest rank: ceil(p n / 100) - 1


def op_tail(latencies):
    """(latency, percentile, sample count) per the op_tail_s rule."""
    xs = sorted(latencies)
    p, i = tail_rank(len(xs))
    return xs[i], p, len(xs)


def sample_ops(pool, seconds):
    """The operations of one run: a fixed stratified sample, in name order.

    The pool is sorted by reference latency and cut into n equal strata,
    n = seconds / mean reference latency (at least 2, at most the pool);
    the middle query of each stratum is taken. The set and the order
    depend only on --seconds, not on --seed: with a seeded order, runs of
    the same set spread wall_s by about 15 % (IQR / median), and with
    seeded samples op_p50_s spread by 10-30 %, because reference
    latencies from a long warm pass predict a fresh JVM's poorly."""
    names = sorted(pool, key=lambda q: (pool[q]["ref_s"], q))
    mean = sum(pool[q]["ref_s"] for q in names) / len(names)
    n = max(min(2, len(names)), min(len(names), round(seconds / mean)))
    return sorted(names[(2 * i + 1) * len(names) // (2 * n)] for i in range(n))


def passes(pool, ops, seconds):
    """How many timed passes over `ops` fill `seconds` at the pool's
    reference latencies (at least one)."""
    return max(1, round(seconds / sum(pool[q]["ref_s"] for q in ops)))


def per_query(ops, key="lat_s"):
    """Each query's median `key` over its timed runs, in first-run order.
    One run of a query is as slow as the host was during it; the median
    over passes damps that."""
    by = {}
    for o in ops:
        by.setdefault(o["name"], []).append(o[key])
    return [statistics.median(v) for v in by.values()]


def check_ops(ops, pool):
    """Failure reason per operation (None if its output matches)."""
    reasons = []
    for o in ops:
        exp = pool.get(o["name"])
        if o["error"] is not None:
            reasons.append("threw " + o["error"])
        elif exp is None:
            reasons.append("no expectation")
        elif o["rows"] != exp["rows"]:
            reasons.append(f"rows {o['rows']} != expected {exp['rows']}")
        elif o["schema"] != exp["schema"]:
            reasons.append(f"schema {o['schema']} != expected {exp['schema']}")
        else:
            reasons.append(None)
    return reasons


def end_to_end(rec):
    """The end-to-end metrics over the queries (car_pipeline: the stages),
    each at its median over the timed passes."""
    lat = per_query(rec["ops"])
    tail, _, _ = op_tail(lat)
    return {
        "setup_s": rec["setup"]["setup_s"],
        "wall_s": sum(lat),
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail,
        "cpu_s": sum(per_query(rec["ops"], "cpu_s")),
        "retained_heap_mb": rec["retained_heap_mb"],
    }


def span_self_times(spans):
    """Total self time per span name: a span's duration minus the time its
    child spans (same operation, parent = its name) cover."""
    out = {}
    for s in spans:
        kids = [c for c in spans if c["op"] == s["op"] and c["parent"] == s["name"]]
        self_ns = (s["end_ns"] - s["start_ns"]) - sum(c["end_ns"] - c["start_ns"] for c in kids)
        out[s["name"]] = out.get(s["name"], 0.0) + self_ns / 1e9
    return out


def site_rollup(layers, wanted):
    """site.<package>.job_s for each such name in `wanted`: the job time of
    every call-site module under that package (site.operators.GraphAlgs.job_s
    counts towards site.operators.job_s)."""
    out = {}
    for name in wanted:
        if name.startswith("site.") and name.endswith(".job_s"):
            pkg = name[len("site."):-len(".job_s")]
            out[name] = sum(v for k, v in layers.items() if k.startswith("site.") and k.endswith(".job_s")
                            and (k == name or k.startswith(f"site.{pkg}.")))
    return out


def per_layer(rec, untraced_wall_s):
    ops = rec["ops"]
    layers = dict(rec["layers"])
    m = {k: layers.get(k, 0.0) for k in PER_LAYER}
    m["queries.build_s"] = sum(o.get("build_s", 0.0) for o in ops)
    m["queries.action_s"] = sum(o.get("action_s", 0.0) for o in ops)
    for k in ("fixtures.build_s", "session.start_s"):
        m[k] = rec["setup"].get(k, 0.0)
    for o in ops:
        if f"run.{o['name']}_s" in m:
            m[f"run.{o['name']}_s"] += o["lat_s"]
    m["codegen.compiles"] = sum(o["codegen_compiles"] for o in ops)
    m["codegen.compile_s"] = sum(o["codegen_s"] for o in ops)
    m["jvm.gc_s"] = sum(o["gc_s"] for o in ops)
    m["jvm.gc_count"] = sum(o["gc_count"] for o in ops)
    job_wall = layers.get("job_wall_s", 0.0)
    m["exec.cpu_util"] = m["exec.task_cpu_s"] / (job_wall * CPUS) if job_wall else 0.0
    m.update(site_rollup(layers, PER_LAYER))
    m["trace.overhead_s"] = sum(per_query(ops)) - untraced_wall_s
    return m


def result_line(correct, attempted, failed, metrics, units):
    return json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    })


def parse_result(line):
    """Parse and validate a result line; raises ValueError if malformed."""
    r = json.loads(line)
    if set(r) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"keys {sorted(r)}")
    if not isinstance(r["correct"], bool):
        raise ValueError("correct must be a bool")
    for k in ("attempted", "failed"):
        if not isinstance(r[k], int) or isinstance(r[k], bool) or r[k] < 0:
            raise ValueError(f"{k} must be a whole number")
    if r["attempted"] < 1:
        raise ValueError("attempted must be at least 1")
    for name, m in r["metrics"].items():
        if set(m) != {"value", "unit"} or not isinstance(m["value"], (int, float)):
            raise ValueError(f"metric {name}: {m}")
    return r


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep) for f in files)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark; returns the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main")):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"perfbench: no program sources ({need} missing under {ROOT})")
    stamp_file, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh, open(cp_file) as fc:
            if fh.read() == stamp:
                cp = fc.read()
                if all(os.path.exists(p) for p in cp.split(os.pathsep)):
                    return cp
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    # the offline settings of the repository's tier-1 test command
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.repository.config="
                   + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as fh:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S).returncode
    with open(log) as fh:
        lines = [ln.strip() for ln in fh if ln.strip()]
    cps = [ln for ln in lines if not ln.startswith("[") and ".jar" in ln]
    if rc != 0 or not cps:
        sys.exit(f"perfbench: build failed (exit {rc}), see {log}")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cps[-1]


# ---------------------------------------------------------------- one JVM

def java_cmd(cp, main):
    """The JVM flags the program's own build forks with, at a 3 GB heap."""
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java"] + opens + ["-Xmx3g", "-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-cp", cp, main])


def run_jvm(cmd, log, cwd, deadline):
    """Run one JVM to completion (killed at monotonic time `deadline`);
    returns its exit code."""
    env = dict(os.environ, LC_ALL="C.UTF-8", LANG="C.UTF-8")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=fh, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return -9


def run_main(cp, main, args, work):
    """One benchmark JVM, `main` with `args`, in its own `work` directory;
    returns the record it writes. Its log stays at `work`/jvm.log."""
    os.makedirs(work, exist_ok=True)
    out, log = os.path.join(work, "record.json"), os.path.join(work, "jvm.log")
    cmd = java_cmd(cp, main) + args + ["--out", out, "--work", work]
    rc = run_jvm(cmd, log, work, DEADLINE)
    if rc != 0 or not os.path.exists(out):
        with open(log, errors="replace") as fh:
            sys.stderr.write(fh.read()[-3000:])
        sys.exit(f"perfbench: {main} JVM failed (exit {rc})")
    with open(out) as fh:
        return json.load(fh)


def suite_run(cp, ops, fixtures, work, trace):
    """One SuiteMain JVM over `ops`, after building `fixtures` and one
    untimed run of each query in `ops`; returns its record."""
    os.makedirs(work, exist_ok=True)
    ops_file = os.path.join(work, "ops.txt")
    with open(ops_file, "w") as fh:
        fh.write("\n".join(ops) + "\n")
    return run_main(cp, "perfbench.SuiteMain", [
        "--data", SF_DIR, "--ops", ops_file, "--cpus", str(CPUS), "--fixtures", ",".join(fixtures),
        "--trace", str(trace), "--launch-ns", str(time.time_ns())], work)


def expect_path(workload):
    return os.path.join(HERE, "expect", f"{workload}.json")


def load_expect(workload):
    with open(expect_path(workload)) as fh:
        return json.load(fh)


def suite_main(a, cp, work):
    """A suite workload; returns (failure reasons, metrics, units)."""
    if not os.path.isdir(SF_DIR):
        sys.exit(f"perfbench: no query data at {SF_DIR} (set PERFBENCH_SF_DIR)")
    expect = load_expect(a.workload)
    pool, fixtures = expect["pool"], expect["fixture_owners"]
    ops = sample_ops(pool, a.seconds)
    ops = ops * passes(pool, ops, a.seconds)
    rec = suite_run(cp, ops, fixtures, os.path.join(work, "plain"), 0)
    reasons = check_ops(rec["ops"], pool) + rec["warmup_errors"]
    e2e = end_to_end(rec)
    tail, pct, count = op_tail(per_query(rec["ops"]))
    if not a.trace:
        print(json.dumps({"op_tail": {"value": tail, "percentile": pct, "ops": count},
                          "failures": [r for r in reasons if r],
                          "missing_fixture_owners": rec["missing_fixture_owners"],
                          "ops": [[o["name"], round(o["lat_s"], 4)] for o in rec["ops"]]}))
        return reasons, e2e, END_TO_END
    traced = suite_run(cp, ops, fixtures, os.path.join(work, "traced"), 1)
    traced_reasons = check_ops(traced["ops"], pool) + traced["warmup_errors"]
    write_trace(a, {
        "wall_s_untraced": e2e["wall_s"], "op_tail_untraced": {"value": tail, "percentile": pct, "ops": count},
        "setup": traced["setup"], "layers_all": traced["layers"],
        "ops": [dict(o, failure=r, layers=traced["op_layers"].get(o["op"], {}))
                for o, r in zip(traced["ops"], traced_reasons)],
        "span_self_s": span_self_times(traced["spans"]), "spans": traced["spans"]})
    return reasons + traced_reasons, per_layer(traced, e2e["wall_s"]), PER_LAYER


def car_run(cp, inputs, work, trace, recorded_loss):
    """One CarMain JVM over the lifecycle; returns (record, failure reason
    per stage, artifact rows, epochLoss). `recorded_loss` is the epochLoss
    trace preprocess must give, or None."""
    os.makedirs(work, exist_ok=True)
    stages, out = os.path.join(work, "stages.txt"), os.path.join(work, "result")
    car.write_stages(stages, inputs, out, CPUS)
    rec = run_main(cp, "perfbench.CarMain", ["--stages", stages, "--trace", str(trace)], work)
    by_stage, rows, loss = car.check(out, inputs, os.path.join(work, "jvm.log"), recorded_loss)
    reasons = [("threw " + o["error"]) if o["error"] is not None else by_stage[o["name"]] for o in rec["ops"]]
    return rec, reasons, rows, loss


def car_main(a, cp, work):
    """The car_pipeline workload; returns (failure reasons, metrics, units)."""
    inputs, gens = car.generate(work, a.seed, range(car.BEFORE))
    recorded = car.recorded_loss(a.seed)
    rec, reasons, rows, loss = car_run(cp, inputs, os.path.join(work, "plain"), 0, recorded)
    gens += car.generate(work, a.seed, range(car.BEFORE, car.BEFORE + car.AFTER))[1]
    rec["setup"]["setup_s"] = car.setup_seconds(gens)
    e2e = end_to_end(rec)
    print(json.dumps({"failures": [r for r in reasons if r], "rows": rows, "epoch_loss": loss,
                      "ops": [[o["name"], round(o["lat_s"], 4)] for o in rec["ops"]]}))
    if not a.trace:
        return reasons, e2e, END_TO_END
    # the traced lifecycle must repeat the untraced one's epochLoss exactly
    traced, traced_reasons, _, _ = car_run(cp, inputs, os.path.join(work, "traced"), 1, recorded or loss)
    write_trace(a, {
        "wall_s_untraced": e2e["wall_s"], "layers_all": traced["layers"],
        "ops": [dict(o, failure=r, layers=traced["op_layers"].get(o["op"], {}))
                for o, r in zip(traced["ops"], traced_reasons)],
        "spans": traced["spans"]})
    return reasons + traced_reasons, per_layer(traced, e2e["wall_s"]), PER_LAYER


def write_trace(a, detail):
    """Write the traced run's full record and print its location."""
    os.makedirs(WORK, exist_ok=True)
    path = os.path.join(WORK, f"trace-{a.workload}-{a.seed}.json")
    with open(path, "w") as fh:
        json.dump({"workload": a.workload, "seed": a.seed, **detail}, fh, indent=1)
    print(json.dumps({"trace_file": os.path.relpath(path, ROOT)}))


WORKLOADS = {"suite_iterative": suite_main, "car_pipeline": car_main}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    global DEADLINE
    DEADLINE = time.monotonic() + RUN_DEADLINE_S
    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    try:
        reasons, metrics, units = WORKLOADS[a.workload](a, cp, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    failed = sum(r is not None for r in reasons)
    print(result_line(failed == 0, len(reasons), failed, metrics, units))


if __name__ == "__main__":
    main()

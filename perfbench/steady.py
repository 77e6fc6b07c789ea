"""Steadiness of the benchmark: run a workload several times, or compare two sets.

    python3 perfbench/steady.py run --workload car_pipeline --seeds 1-10 --out A.json
    python3 perfbench/steady.py compare A.json B.json

`run` calls run.py once per seed (each time with another seed, as the
acceptance check does; --seconds is BENCHMARK.json's run_seconds) and
prints, per metric, the median, the quartiles
(statistics.quantiles, n=4) and the spread (Q3 - Q1) / median next to the
metric's bound from BENCHMARK.json and a third of it. `compare` prints,
per metric, both medians and how much worse the second set is, as a share
of the first median, against the bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

import run

BENCHMARK = os.path.join(run.ROOT, "BENCHMARK.json")


def benchmark():
    with open(BENCHMARK) as fh:
        return json.load(fh)


def bounds():
    b = benchmark()
    return {m["name"]: m for m in b["end_to_end"] + b["per_layer"]}


def seeds(spec):
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    m = statistics.median(values)
    return {"median": m, "q1": q1, "q3": q3, "spread": (q3 - q1) / m if m else float("nan")}


def worse_by(m, a, b):
    """How much worse median b is than median a, as a share of a."""
    if not a:
        return float("nan")
    return (a - b) / a if m.get("better") == "higher" else (b - a) / a


def cmd_run(a):
    runs, seconds = [], benchmark()["run_seconds"]
    for s in seeds(a.seeds):
        p = subprocess.run([sys.executable, os.path.join(run.HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(s), "--seconds", str(seconds), "--trace", str(a.trace)],
                           cwd=run.ROOT, capture_output=True, text=True)
        last = (p.stdout.strip().splitlines() or [""])[-1]
        if p.returncode != 0:
            sys.exit(f"seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}")
        r = run.parse_result(last)
        runs.append({"seed": s, **r})
        print(f"seed {s}: correct={r['correct']} failed={r['failed']}/{r['attempted']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
    report(runs)
    if a.out:
        with open(a.out, "w") as fh:
            json.dump({"workload": a.workload, "runs": runs}, fh, indent=1)


def metric_values(runs):
    names = runs[0]["metrics"].keys()
    return {k: [r["metrics"][k]["value"] for r in runs] for k in names}


def report(runs):
    bs = bounds()
    print(f"{'metric':<24}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>8}{'bound/3':>9}")
    for k, vals in metric_values(runs).items():
        s = summary(vals)
        b = bs.get(k, {}).get("bound")
        flag = "" if b is None or s["spread"] < b / 3 else "  <-- above bound/3"
        print(f"{k:<24}{s['median']:>12.4f}{s['q1']:>12.4f}{s['q3']:>12.4f}{s['spread']:>9.3f}"
              f"{'' if b is None else b:>8}{'' if b is None else round(b / 3, 4):>9}{flag}")


def cmd_compare(a):
    sets = []
    for path in (a.first, a.second):
        with open(path) as fh:
            sets.append(metric_values(json.load(fh)["runs"]))
    bs = bounds()
    print(f"{'metric':<24}{'median A':>12}{'median B':>12}{'B worse by':>12}{'bound':>8}")
    for k in sets[0]:
        ma, mb = statistics.median(sets[0][k]), statistics.median(sets[1][k])
        m = bs.get(k, {})
        w = worse_by(m, ma, mb)
        flag = "  <-- worse than bound" if m.get("bound") is not None and w > m["bound"] else ""
        print(f"{k:<24}{ma:>12.4f}{mb:>12.4f}{w:>12.3f}{m.get('bound', ''):>8}{flag}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", default="1-10", help="a-b or a,b,c")
    r.add_argument("--trace", type=int, default=0)
    r.add_argument("--out")
    c = sub.add_parser("compare")
    c.add_argument("first")
    c.add_argument("second")
    a = ap.parse_args()
    cmd_run(a) if a.cmd == "run" else cmd_compare(a)


if __name__ == "__main__":
    main()

"""Record a workload's expectation file.

    python3 perfbench/record_expect.py suite_iterative NAMES_FILE FIXTURE_OWNERS
    python3 perfbench/record_expect.py car_pipeline SEEDS

For suite_iterative: each pool query's row count, schema and reference
latency, from two passes in different orders.

NAMES_FILE lists the pool, one query name per line; FIXTURE_OWNERS is the
comma-separated list of graft.queries objects whose ensureFixtures the
set-up runs (the ones the pool's queries read stored fixtures from).
Like a benchmark run, each pass's JVM first runs every query once,
untimed. A query is kept only
if both passes succeed with the same rows and schema; the others are
listed under "excluded" with the reason. ref_s is the mean of the two
latencies on this machine; it only sizes and stratifies the sample.

For car_pipeline: preprocess's epochLoss trace for each seed in SEEDS
(a-b or a,b,c), from a lifecycle whose other checks all pass. Traces
already recorded at the same sizes and epochs are kept.
"""
import json
import os
import random
import shutil
import sys

import car
import run
import steady


def record_car(seeds):
    cp = run.build()
    try:
        with open(car.EXPECT) as fh:
            old = json.load(fh)
        losses = old["epoch_loss"] if (old["sizes"], old["epochs"]) == (car.SIZES, car.EPOCHS) else {}
    except FileNotFoundError:
        losses = {}
    for seed in seeds:
        work = os.path.join(run.WORK, f"record-car_pipeline-{seed}")
        try:
            inputs, _ = car.generate(work, seed, range(1))
            _, reasons, _, loss = run.car_run(cp, inputs, os.path.join(work, "plain"), 0, None)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        if any(reasons):
            sys.exit(f"seed {seed}: {reasons}")
        losses[str(seed)] = loss
        print(f"seed {seed}: epochLoss {loss}", flush=True)
    with open(car.EXPECT, "w") as fh:
        json.dump({"workload": "car_pipeline", "sizes": car.SIZES, "epochs": car.EPOCHS,
                   "epoch_loss": dict(sorted(losses.items(), key=lambda kv: int(kv[0])))},
                  fh, indent=1)
        fh.write("\n")


def main():
    if sys.argv[1] == "car_pipeline":
        return record_car(steady.seeds(sys.argv[2]))
    workload, names_file = sys.argv[1], sys.argv[2]
    fixtures = [o for o in sys.argv[3].split(",") if o]
    with open(names_file) as fh:
        names = sorted({ln.strip() for ln in fh if ln.strip()})
    cp = run.build()
    passes = []
    for i in range(2):
        order = list(names)
        random.Random(i).shuffle(order)
        rec = run.suite_run(cp, order, fixtures, os.path.join(run.WORK, f"record-{workload}-{i}"), 0)
        passes.append({o["name"]: o for o in rec["ops"]})
    pool, excluded = {}, {}
    for q in names:
        a, b = passes[0][q], passes[1][q]
        if a["error"] or b["error"]:
            excluded[q] = "threw " + (a["error"] or b["error"])
        elif (a["rows"], a["schema"]) != (b["rows"], b["schema"]):
            excluded[q] = f"output differs between passes: rows {a['rows']} vs {b['rows']}"
        else:
            pool[q] = {"ref_s": round((a["lat_s"] + b["lat_s"]) / 2, 3),
                       "rows": a["rows"], "schema": a["schema"]}
    out = run.expect_path(workload)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump({"workload": workload, "sf": os.path.basename(run.SF_DIR), "cpus": run.CPUS,
                   "fixture_owners": fixtures,
                   "pool": pool, "excluded": excluded}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"{workload}: {len(pool)} kept, {len(excluded)} excluded -> {out}")


if __name__ == "__main__":
    main()

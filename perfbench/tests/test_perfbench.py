"""Tests of the benchmark's own logic; no JVM needed.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import car  # noqa: E402
import gen_car  # noqa: E402
import run  # noqa: E402
import steady  # noqa: E402


def digest(paths):
    out = {}
    for name, p in paths.items():
        with open(p, "rb") as fh:
            out[name] = hashlib.sha256(fh.read()).hexdigest()
    return out


class GeneratorTest(unittest.TestCase):
    SIZES = dict(n_train=600, n_test=100, n_txn=200)

    def gen(self, seed):
        d = tempfile.mkdtemp()
        self.addCleanup(lambda: __import__("shutil").rmtree(d, ignore_errors=True))
        return gen_car.generate(d, seed, **self.SIZES)

    def rows(self, path):
        with open(path, encoding="utf-8") as fh:
            return [ln.rstrip("\n").split("\t") for ln in fh]

    def test_same_seed_gives_identical_bytes(self):
        self.assertEqual(digest(self.gen(5)), digest(self.gen(5)))

    def test_other_seed_gives_other_files(self):
        a, b = digest(self.gen(5)), digest(self.gen(6))
        self.assertTrue(all(a[k] != b[k] for k in a))

    def test_layout_and_coverage(self):
        p = self.gen(11)
        train, test, txn = self.rows(p["car_train"]), self.rows(p["car_test"]), self.rows(p["store_txn"])
        self.assertEqual((len(train), len(test), len(txn)), (600, 100, 200))
        self.assertEqual({len(r) for r in train}, {36})
        self.assertEqual({len(r) for r in test}, {35})
        self.assertEqual({len(r) for r in txn}, {5, 6})
        # nullable columns hold empty fields; carid never does
        self.assertTrue(any(r[8] == "" for r in train))
        self.assertTrue(all(r[0] for r in train))
        # every anonymousFeature11 format, the L*W*H and yyyyMM formats
        self.assertEqual({r[30] for r in train} - {""}, set(gen_car.ANON11))
        self.assertTrue(all(len(r[31].split("*")) == 3 for r in train if r[31]))
        self.assertTrue(all(len(r[32]) == 6 and r[32].isdigit() for r in train if r[32]))
        # transactions key into 附件1 (most of them), so second's join is non-empty
        ids = {r[0] for r in train}
        keyed = sum(r[0] in ids for r in txn)
        self.assertGreaterEqual(keyed, 0.9 * len(txn))
        self.assertLess(keyed, len(txn))

    def test_discrete_ids_are_skewed(self):
        train = self.rows(self.gen(3)["car_train"])
        brands = [r[2] for r in train]
        top = max(brands.count(b) for b in set(brands))
        self.assertGreater(top, 5 * len(brands) / len(set(brands)))


class CarTest(unittest.TestCase):
    def test_stages_file_is_the_lifecycle(self):
        d = tempfile.mkdtemp()
        self.addCleanup(lambda: __import__("shutil").rmtree(d, ignore_errors=True))
        inputs = {"car_train": "a1.txt", "car_test": "a2.txt", "store_txn": "a4.txt"}
        path = os.path.join(d, "stages.txt")
        car.write_stages(path, inputs, "out", 2)
        with open(path, encoding="utf-8") as fh:
            lines = [ln.rstrip("\n").split("\t") for ln in fh]
        self.assertEqual([ln[0] for ln in lines], list(car.STAGES))
        pre, first, second = (dict(zip(ln[1::2], ln[2::2])) for ln in lines)
        self.assertEqual((pre["--data"], pre["--n-epochs"]), ("a2.txt", str(car.EPOCHS)))
        self.assertEqual((first["--data"], first["--embeddings"]), ("a2.txt", "out"))
        self.assertEqual((second["--data"], second["--txn"]), ("a1.txt", "a4.txt"))
        self.assertTrue(all(f["--cpus"] == "2" and f["--result-dir"] == "out" for f in (pre, first, second)))

    def test_stage_times_land_on_run_metrics(self):
        rec = {"setup": {}, "layers": {"site.car.EmbeddingTrainer.job_s": 2.0, "site.car.Pipelines.job_s": 1.0},
               "ops": [{"name": s, "lat_s": float(i + 1), "codegen_compiles": 1, "codegen_s": 0.1,
                        "gc_s": 0.0, "gc_count": 0} for i, s in enumerate(car.STAGES)]}
        m = run.per_layer(rec, 5.0)
        self.assertEqual((m["run.preprocess_s"], m["run.first_s"], m["run.second_s"]), (1.0, 2.0, 3.0))
        self.assertEqual((m["queries.build_s"], m["fixtures.build_s"]), (0.0, 0.0))
        self.assertEqual(m["site.car.job_s"], 3.0)
        self.assertEqual(m["trace.overhead_s"], 1.0)


class TailRuleTest(unittest.TestCase):
    def test_at_least_ten_beyond_and_highest_such_percentile(self):
        for n in range(11, 600):
            p, i = run.tail_rank(n)
            self.assertGreaterEqual(n - 1 - i, 10, n)
            j = -(-(p + 1) * n // 100) - 1
            self.assertLess(n - 1 - j, 10, n)

    def test_known_values(self):
        self.assertEqual(run.tail_rank(100), (90, 89))
        self.assertEqual(run.tail_rank(40), (75, 29))
        self.assertEqual(run.tail_rank(11), (9, 0))

    def test_small_samples_use_the_max(self):
        self.assertEqual(run.op_tail([3.0, 1.0, 2.0]), (3.0, 100, 3))

    def test_op_tail_value(self):
        lat = [float(x) for x in range(1, 101)]
        self.assertEqual(run.op_tail(lat), (90.0, 90, 100))


class SampleTest(unittest.TestCase):
    POOL = {f"q{i:03d}": {"ref_s": 0.1 + i / 100} for i in range(120)}

    def test_one_query_per_stratum_in_name_order(self):
        a = run.sample_ops(self.POOL, 10)
        self.assertEqual(a, sorted(a))
        n = len(a)
        names = sorted(self.POOL)
        strata = [set(names[120 * i // n: 120 * (i + 1) // n]) for i in range(n)]
        self.assertTrue(all(len(s & set(a)) == 1 for s in strata))

    def test_size_follows_seconds(self):
        mean = sum(v["ref_s"] for v in self.POOL.values()) / len(self.POOL)
        self.assertEqual(len(run.sample_ops(self.POOL, 20)), round(20 / mean))
        self.assertEqual(len(run.sample_ops(self.POOL, 0)), 2)
        self.assertEqual(len(run.sample_ops(self.POOL, 10 ** 6)), 120)

    def test_passes_fill_the_seconds(self):
        pool = {"a": {"ref_s": 4.0}, "b": {"ref_s": 3.5}, "c": {"ref_s": 7.5}}
        self.assertEqual(run.passes(pool, ["a", "b", "c"], 30), 2)
        self.assertEqual(run.passes(pool, ["a", "b", "c"], 5), 1)
        self.assertEqual(run.passes(pool, ["a"], 30), 8)


class EndToEndTest(unittest.TestCase):
    def test_queries_count_at_their_median_over_passes(self):
        lat = {"a": [4.0, 2.0], "b": [1.0, 3.0], "c": [5.0, 6.0]}
        ops = [{"name": q, "lat_s": xs[i], "cpu_s": xs[i] / 2} for i in range(2) for q, xs in lat.items()]
        m = run.end_to_end({"setup": {"setup_s": 9.0}, "retained_heap_mb": 80.0, "ops": ops})
        self.assertEqual((m["wall_s"], m["op_p50_s"], m["op_tail_s"], m["cpu_s"]), (10.5, 3.0, 5.5, 5.25))
        self.assertEqual(run.per_query(ops), [3.0, 2.0, 5.5])


class OutputTest(unittest.TestCase):
    def test_result_line_round_trips(self):
        line = run.result_line(True, 12, 0, {"wall_s": 1.25, "setup_s": 3.5},
                               {"wall_s": "s", "setup_s": "s"})
        r = run.parse_result(line)
        self.assertEqual(r["metrics"]["wall_s"], {"value": 1.25, "unit": "s"})
        self.assertEqual((r["correct"], r["attempted"], r["failed"]), (True, 12, 0))

    def test_malformed_lines_are_refused(self):
        good = {"correct": True, "attempted": 1, "failed": 0, "metrics": {}}
        for bad in ({**good, "extra": 1}, {**good, "attempted": 0}, {**good, "failed": 1.5},
                    {**good, "correct": "yes"}, {**good, "metrics": {"x": {"value": "1"}}}):
            with self.assertRaises(ValueError):
                run.parse_result(json.dumps(bad))

    def test_checks_count_wrong_rows_and_schema(self):
        pool = {"a": {"rows": 3, "schema": "x:int"}}
        ops = [{"name": "a", "error": None, "rows": 3, "schema": "x:int"},
               {"name": "a", "error": None, "rows": 4, "schema": "x:int"},
               {"name": "a", "error": None, "rows": 3, "schema": "x:bigint"},
               {"name": "a", "error": "Boom", "rows": -1, "schema": ""},
               {"name": "b", "error": None, "rows": 1, "schema": ""}]
        self.assertEqual([r is None for r in run.check_ops(ops, pool)], [True] + [False] * 4)

    def test_span_self_time_excludes_children(self):
        spans = [{"op": "0:q", "name": "op", "parent": "", "start_ns": 0, "end_ns": 10},
                 {"op": "0:q", "name": "queries.build", "parent": "op", "start_ns": 1, "end_ns": 5},
                 {"op": "0:q", "name": "queries.action", "parent": "op", "start_ns": 5, "end_ns": 9},
                 {"op": "1:q", "name": "op", "parent": "", "start_ns": 20, "end_ns": 23}]
        self.assertEqual(run.span_self_times(spans),
                         {"op": 5e-9, "queries.build": 4e-9, "queries.action": 4e-9})

    def test_spread_and_worse_by(self):
        s = steady.summary([1.0, 2.0, 3.0, 4.0, 5.0])
        self.assertEqual(s["median"], 3.0)
        self.assertAlmostEqual(s["spread"], (4.5 - 1.5) / 3.0)
        self.assertAlmostEqual(steady.worse_by({"better": "lower"}, 2.0, 2.2), 0.1)
        self.assertAlmostEqual(steady.worse_by({"better": "higher"}, 2.0, 1.8), 0.1)


if __name__ == "__main__":
    unittest.main()

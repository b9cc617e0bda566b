"""Tests for the benchmark's own rules. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import json
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402
import run  # noqa: E402


def q(name, seconds, p=0, ok=True, cpu=1.0):
    return {"q": name, "pass": p, "s": seconds, "build_s": 0.1, "cpu_s": cpu,
            "group": f"g:{name}:{p}", "start_ms": 0, "end_ms": 0, "ok": ok}


def r(shape, ms, ok=True):
    return {"shape": shape, "ms": ms, "bytes": 10, "ok": ok}


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 0.50), 50)
        self.assertEqual(metrics.percentile(xs, 0.95), 95)
        self.assertEqual(metrics.percentile(xs, 0.99), 99)
        self.assertEqual(metrics.percentile([7], 0.95), 7)

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.percentile([3, 1, 2], 0.5), 2)

    def test_samples_beyond(self):
        # p99 of 100 samples has exactly one sample above it
        self.assertEqual(metrics.beyond(100, 0.99), 1)
        self.assertEqual(metrics.beyond(200, 0.95), 10)
        self.assertEqual(metrics.beyond(199, 0.95), 9)

    def test_resolution_needs_ten_samples_beyond(self):
        self.assertTrue(metrics.resolved(200, 0.95))
        self.assertFalse(metrics.resolved(199, 0.95))
        self.assertFalse(metrics.resolved(100, 0.99))
        self.assertTrue(metrics.resolved(20, 0.50))

    def test_describe_states_count_and_resolution(self):
        line = metrics.describe("p95", list(range(100)), 0.95)
        self.assertIn("n=100", line)
        self.assertIn("5 beyond", line)
        self.assertIn("UNRESOLVED", line)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 0.5)


class Failures(unittest.TestCase):
    def test_failed_share(self):
        self.assertEqual(metrics.failed_share(200, 0), 0.0)
        self.assertEqual(metrics.failed_share(200, 5), 0.025)
        with self.assertRaises(ValueError):
            metrics.failed_share(0, 0)

    def test_failed_request_is_beyond_any_limit(self):
        lat = metrics.request_latencies([r("a", 5.0)] * 19 + [r("a", 1.0, ok=False)])
        self.assertTrue(math.isinf(max(lat)))
        # 1 failure in 20 samples lands exactly on the maximum
        self.assertEqual(metrics.finite(metrics.percentile(lat, 1.0)),
                         metrics.FAILED_MS)
        self.assertEqual(metrics.percentile(lat, 0.95), 5.0)

    def test_counts(self):
        phase = {"queries": [q("a", 1.0), q("b", 1.0, ok=False)],
                 "requests": [r("x", 1.0), r("x", 2.0, ok=False)]}
        self.assertEqual(metrics.counts(phase), (4, 2))

    def test_failed_query_is_infinitely_slow(self):
        med = metrics.median_by_query([q("a", 1.0, ok=False)])
        self.assertTrue(math.isinf(med["a"]))


class Families(unittest.TestCase):
    FAMS = {"relational": ["a", "b"], "dedup": ["c"], "text": ["d"]}

    def test_family_sums_add_up_to_wall(self):
        samples = [q(n, s * (3 - p), p) for p in range(3)
                   for n, s in (("a", 1.0), ("b", 2.0), ("c", 3.0), ("d", 0.5))]
        phase = {"name": "batch", "timed_from": 1, "queries": samples}
        timed = metrics.timed_passes(phase)
        sums = metrics.family_sums(metrics.median_by_query(timed), self.FAMS)
        self.assertAlmostEqual(sum(sums.values()), metrics.phase_wall(phase))
        self.assertEqual(sums["relational"], 1.5 + 3.0)

    def test_timed_passes_leave_out_the_warm_up_passes(self):
        samples = [q("a", 9.0, 0), q("a", 3.0, 1), q("a", 1.0, 2), q("a", 1.2, 3)]
        phase = {"timed_from": 2, "queries": samples}
        timed = metrics.timed_passes(phase)
        self.assertAlmostEqual(metrics.median_by_query(timed)["a"], 1.1)
        self.assertAlmostEqual(metrics.first_touch(phase)["a"], 9.0 - 1.1)
        # a single pass (the background probe) is all there is
        one = {"timed_from": 0, "queries": samples[:1]}
        self.assertEqual(metrics.timed_passes(one), samples[:1])
        self.assertEqual(metrics.first_touch(one), {})

    def test_batch_latency_is_per_query_of_the_timed_passes(self):
        times = {("a", 0): 3.0, ("b", 0): 2.0, ("a", 1): 1.0, ("b", 1): 1.5,
                 ("a", 2): 1.2, ("b", 2): 1.0}
        raw = {"workload": "batch", "setup_s": [1.0], "setup_cold_s": 9.0,
               "phases": [{"name": "batch", "role": "timed", "traced": False,
                           "wall_s": 99.0, "cpu_s": 99.0, "requests": [],
                           "timed_from": 1,
                           "queries": [q(n, t, p, cpu=2 * t)
                                       for (n, p), t in times.items()]}]}
        m, _ = metrics.end_to_end(raw)
        self.assertAlmostEqual(m["wall_s"][0], 1.1 + 1.25)
        self.assertAlmostEqual(m["cpu_s"][0], 2 * (1.1 + 1.25))
        self.assertAlmostEqual(m["qps"][0], 4 / 4.7)
        # samples 1.0, 1.0, 1.2, 1.5 s: the cold pass is left out
        self.assertAlmostEqual(m["latency_p50_ms"][0], 1000.0)
        self.assertAlmostEqual(m["latency_p95_ms"][0], 1500.0)

    def test_every_query_in_exactly_one_family(self):
        with self.assertRaises(ValueError):
            metrics.family_sums({"a": 1.0}, {"x": ["a"], "y": ["a"]})
        with self.assertRaises(ValueError):
            metrics.family_sums({"z": 1.0}, self.FAMS)

    def test_shipped_mapping_covers_the_batch_list(self):
        cfg = run.load_config()
        mapped = [n for v in cfg["families"].values() for n in v]
        self.assertEqual(sorted(mapped), sorted(cfg["batch"]["queries"]))
        self.assertEqual(len(mapped), len(set(mapped)))


class Gaps(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(metrics.union_ms([]), 0)

    def test_driver_gap_is_wall_minus_job_union(self):
        query = {"group": "g", "start_ms": 0, "end_ms": 1000}
        jobs = [("g", 100, 400), ("g", 300, 500), ("other", 0, 1000)]
        self.assertAlmostEqual(metrics.driver_gap_s([query], jobs), 0.6)

    def test_self_time_subtracts_children(self):
        spans = [[1, 0, "outer", "", 0, 10_000_000_000],
                 [2, 1, "inner", "", 0, 4_000_000_000]]
        self.assertEqual(metrics.self_times(spans),
                         {"outer": 6.0, "inner": 4.0})


class Output(unittest.TestCase):
    def test_last_line_format(self):
        line = metrics.render(True, 10, 0, {"wall_s": (1.5, "s"),
                                            "qps": (2.0, "req/s")})
        obj = json.loads(line)
        self.assertEqual(sorted(obj), ["attempted", "correct", "failed", "metrics"])
        self.assertEqual(obj["metrics"]["wall_s"], {"value": 1.5, "unit": "s"})
        self.assertIsInstance(obj["attempted"], int)

    def test_end_to_end_names_match_benchmark_json(self):
        raw = {"workload": "service", "setup_s": [3.0, 1.0, 2.0],
               "setup_cold_s": 20.0,
               "phases": [{"name": "service", "role": "timed", "traced": False,
                           "wall_s": 10.0, "cpu_s": 20.0, "queries": [],
                           "requests": [r("a", float(i)) for i in range(1, 201)]}]}
        m, lines = metrics.end_to_end(raw)
        # the median of the warm re-setups; the cold one is reported apart
        self.assertEqual(m["setup_s"], (2.0, "s"))
        self.assertIn("cold set-up from JVM start: 20.000", lines[2])
        self.assertEqual(m["qps"], (20.0, "req/s"))
        self.assertEqual(m["latency_p95_ms"], (190.0, "ms"))
        self.assertIn("resolved", lines[1])
        spec = bench_spec()
        if spec is not None:
            self.assertEqual(sorted(x["name"] for x in spec["end_to_end"]),
                             sorted(m))
            for x in spec["end_to_end"]:
                self.assertEqual(x["unit"], m[x["name"]][1])


def bench_spec():
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def traced_raw():
    """A small raw result of a traced batch run."""
    cfg = run.load_config()
    shapes = ["point_spj", "key_agg", "dialect_page", "frag_join", "explain_join"]
    batch = [dict(q(n, 1.0 + p, p), jit_s=0.5, gc_s=0.1)
             for p in range(3) for n in cfg["batch"]["queries"]]
    mixed = [q(n, 2.0) for n in cfg["mixed"]["background"]]
    reqs = [r(s, 10.0) for s in shapes for _ in range(4)]
    direct = [{"shape": s, "layer": layer, "ms": 1.0} for s in shapes
              for layer in ("http", "engine.query", "engine.getdata",
                            "planjson", "dialect")]
    listener = {k: 1 for k in (
        "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
        "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
        "analysis_ms", "optimization_ms", "planning_ms", "graft_rules_ms",
        "interactive_plans", "aqe_off_plans", "codegen_compile_ms",
        "trace_cost_s", "fragment_write_s")}
    listener["job_intervals"] = []

    def phase(name, role, timed_from, queries, requests):
        return {"name": name, "role": role, "traced": True, "wall_s": 5.0,
                "cpu_s": 9.0, "timed_from": timed_from, "queries": queries,
                "requests": requests}
    return {"workload": "batch", "setup_cold_s": 20.0, "setup_s": [],
            "shapes": shapes, "direct": direct, "listener": listener,
            "spans": [[1, 0, "tables.register", "", 0, 2_000_000_000]],
            "phases": [phase("batch", "timed", 1, batch, []),
                       phase("service", "probe", 0, [], reqs),
                       phase("mixed", "probe", 0, mixed, reqs)]}


class PerLayer(unittest.TestCase):
    def test_names_and_units_match_benchmark_json(self):
        cfg = run.load_config()
        m = metrics.per_layer(traced_raw(), cfg["families"],
                              cfg["mixed"]["background"])
        spec = bench_spec()
        if spec is None:
            self.skipTest("no BENCHMARK.json")
        self.assertEqual([x["name"] for x in spec["per_layer"]], list(m))
        for x in spec["per_layer"]:
            self.assertEqual(x["unit"], m[x["name"]][1], x["name"])

    def test_values(self):
        cfg = run.load_config()
        m = metrics.per_layer(traced_raw(), cfg["families"],
                              cfg["mixed"]["background"])
        n = len(cfg["batch"]["queries"])
        self.assertEqual(m["setup.cold_s"], (20.0, "s"))
        self.assertEqual(m["tables.register_s"], (2.0, "s"))
        # timed passes 1 and 2 take 2 s and 3 s: median 2.5 s per query
        self.assertAlmostEqual(m["trace.wall_s"][0], 2.5 * n)
        self.assertAlmostEqual(sum(m[f"family.{f}_s"][0] for f in cfg["families"]),
                               m["trace.wall_s"][0])
        self.assertAlmostEqual(m["jit.first_touch_text_s"][0], 1.0 - 2.5)
        self.assertAlmostEqual(m["jvm.jit_compile_s"][0], 0.5 * n)


class Plan(unittest.TestCase):
    CFG = run.load_config()

    def test_every_seed_keeps_the_listed_order(self):
        for seed in (0, 1, 22):
            p = run.plan(self.CFG, "batch_headline", seed, 20, 0, 4)
            self.assertEqual(p["batch"].split(","), self.CFG["batch"]["queries"])

    def test_same_seed_same_plan(self):
        self.assertEqual(run.plan(self.CFG, "service_mix", 5, 20, 0, 4),
                         run.plan(self.CFG, "service_mix", 5, 20, 0, 4))

    def test_sizes_follow_seconds(self):
        p = run.plan(self.CFG, "service_mix", 1, 20, 0, 4)
        # 200 timed requests leave 10 samples beyond p95
        self.assertEqual(p["requests"], 200)
        self.assertTrue(metrics.resolved(p["requests"], 0.95))
        self.assertEqual(p["setups"], 1 + self.CFG["warm_setups"])
        b = run.plan(self.CFG, "batch_headline", 1, 20, 0, 4)
        self.assertEqual(b["untimed_passes"], self.CFG["batch"]["untimed_passes"])
        self.assertGreaterEqual(b["batch_passes"], b["untimed_passes"] + 2)

    def test_only_the_benchmark_workloads(self):
        self.assertEqual(sorted(run.WORKLOADS), ["batch_headline", "service_mix"])

    def test_corpus_does_not_depend_on_the_seed(self):
        import tempfile
        import datagen
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            a, b = os.path.join(d, "a"), os.path.join(d, "b")
            datagen.write(a, 1, 0.001)
            datagen.write(b, 2, 0.001)
            for t in ("orders", "documents", "embeddings"):
                self.assertTrue(pq.read_table(os.path.join(a, f"{t}.parquet")).equals(
                    pq.read_table(os.path.join(b, f"{t}.parquet"))))
            keys = []
            for x in (a, b):
                with open(os.path.join(x, "service_oracle.tsv")) as f:
                    keys.append(f.read())
            self.assertNotEqual(keys[0], keys[1])

    def test_checks_rotate_over_the_batch_list(self):
        seen = set()
        for seed in range(len(self.CFG["batch"]["queries"])):
            seen |= set(run.plan(self.CFG, "batch_headline", seed, 20, 0, 4)
                        ["check"].split(","))
        self.assertEqual(seen, set(self.CFG["batch"]["queries"]))


if __name__ == "__main__":
    unittest.main()

"""Tests for the benchmark's own code (no Spark needed).

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import duckdb  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import check  # noqa: E402
import gen  # noqa: E402
import report  # noqa: E402
import run  # noqa: E402

DIMS = os.path.join(BENCH, "data", "dims")


def span(sid, name, parent, start, end):
    return {"id": sid, "name": name, "parent": parent, "start_ms": start, "end_ms": end, "ok": True}


def op(oid, rnd, name, start, end, ok=True, error=""):
    return {"id": oid, "round": rnd, "name": name, "start_ms": start, "end_ms": end,
            "ok": ok, "error": error}


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.generate(3, a, DIMS, log=open(os.devnull, "w"))
            gen.generate(3, b, DIMS, log=open(os.devnull, "w"))
            for t in ("events", "supplier", "nation"):
                self.assertTrue(filecmp.cmp(os.path.join(a, f"{t}.parquet"),
                                            os.path.join(b, f"{t}.parquet"), shallow=False), t)

    def test_seeds_differ(self):
        self.assertNotEqual(gen.generate_events(1).column("ts"),
                            gen.generate_events(2).column("ts"))

    def test_every_seed_takes_both_routes(self):
        supplier = pq.read_table(os.path.join(DIMS, "supplier.parquet"))
        for seed in range(8):
            counts = gen.document_features(gen.generate_events(seed), supplier)
            over, within = gen.check_routes(counts)
            self.assertEqual(len(counts), 20)
            self.assertGreaterEqual(len(over), 1)
            self.assertGreaterEqual(len(within), 1)

    def test_one_route_only_fails_loudly(self):
        with self.assertRaises(gen.RouteCoverageError):
            gen.check_routes({(2024, 1): (100, 99), (2024, 2): (50, 49)})
        with self.assertRaises(gen.RouteCoverageError):
            gen.check_routes({(2024, 1): (200_000, 199_000)})


class SelfTimeTest(unittest.TestCase):
    def test_children_subtracted_once(self):
        spans = [
            span("r1-q", "op", "", 0, 100),
            span("r1-q", "construct", "op", 0, 30),
            span("r1-q", "analysis", "construct", 20, 25),
            span("r1-q", "plan", "op", 30, 40),
            span("r1-q", "optimization", "plan", 31, 35),
            span("r1-q", "planning", "plan", 34, 39),  # overlaps optimization
            span("r1-q", "execute", "op", 40, 98),
        ]
        st = report.self_times(spans)
        self.assertAlmostEqual(st[("r1-q", "op")], 2)  # 98..100 is unattributed
        self.assertAlmostEqual(st[("r1-q", "construct")], 25)
        self.assertAlmostEqual(st[("r1-q", "plan")], 2)  # 30..31 and 39..40
        self.assertAlmostEqual(st[("r1-q", "execute")], 58)

    def test_self_times_add_up_to_wall(self):
        spans = [span("r1-q", "op", "", 0, 100), span("r1-q", "construct", "op", 1, 30),
                 span("r1-q", "analysis", "construct", 20, 25), span("r1-q", "plan", "op", 30, 40),
                 span("r1-q", "optimization", "plan", 31, 35),
                 span("r1-q", "planning", "plan", 35, 39), span("r1-q", "execute", "op", 40, 98)]
        self.assertAlmostEqual(sum(report.self_times(spans).values()), 100)
        row = report.op_table(spans)["r1-q"]
        self.assertAlmostEqual(row["wall_s"], 0.1)
        self.assertAlmostEqual(sum(v for k, v in row.items() if k != "wall_s"), 0.1)

    def test_child_outside_parent_is_clipped(self):
        st = report.self_times([span("a", "construct", "op", 10, 20),
                                span("a", "analysis", "construct", 0, 15)])
        self.assertAlmostEqual(st[("a", "construct")], 5)

    def test_union_length(self):
        self.assertEqual(report.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(report.union_length([]), 0)

    def test_jobs_attributed_by_group_and_time(self):
        spans = [span("r2-temperature", "op", "", 100, 200),
                 span("r2-temperature", "construct", "op", 100, 120),
                 span("r4-temperature", "op", "", 300, 400),
                 span("r4-temperature", "construct", "op", 300, 310),
                 span("r2-q_topk", "op", "", 0, 50),
                 span("r2-q_topk", "construct", "op", 0, 10)]
        jobs = [{"job": 1, "group": "graft-pipeline-temperature", "start_ms": 110},
                {"job": 2, "group": "graft-pipeline-temperature", "start_ms": 350},
                {"job": 3, "group": "perfbench-r2-q_topk", "start_ms": 20},
                {"job": 4, "group": "", "start_ms": 20}]
        self.assertEqual(report.attribute_jobs(jobs, spans), {
            1: ("r2-temperature", "construct"), 2: ("r4-temperature", "execute"),
            3: ("r2-q_topk", "execute")})

    def test_tracing_overhead_pairs_neighbours(self):
        rounds = [{"round": i, "traced": i % 2 == 0, "start_ms": 0, "end_ms": w}
                  for i, w in [(1, 1000), (2, 1000), (3, 800), (4, 800), (5, 600)]]
        # round 2 against (1000 + 800) / 2, round 4 against (800 + 600) / 2
        self.assertAlmostEqual(report.tracing_overhead(rounds), 0.1)


class LayerTableTest(unittest.TestCase):
    def test_one_traced_round(self):
        def job(jid, start, run_ms, out_bytes):
            return {"job": jid, "group": "perfbench-r2-q_topk", "start_ms": start,
                    "end_ms": start + 5, "succeeded": True, "stages": 2, "tasks": 4,
                    "task_run_ms": run_ms, "task_cpu_ns": run_ms * 500000, "gc_ms": 1,
                    "max_task_ms": run_ms // 4, "shuffle_write_bytes": 0,
                    "shuffle_read_bytes": 0, "max_task_shuffle_read_bytes": 0,
                    "spill_bytes": 0, "input_bytes": 1048576, "input_rows": 10,
                    "output_bytes": out_bytes, "output_rows": 0, "writer_task_run_ms": 0}
        rec = {"workload": "query_mix", "cores": "4", "process_cache": {"a": 1.5},
               "rounds": [{"round": i, "traced": i == 2, "start_ms": 1000.0 * i,
                           "end_ms": 1000.0 * i + 400, "detail": {}} for i in range(4)],
               "ops": [op(f"r{i}-q_topk", i, "q_topk", 1000.0 * i, 1000.0 * i + 400)
                       for i in range(4)],
               "spans": [span("r2-q_topk", "op", "", 2000, 2400),
                         span("r2-q_topk", "construct", "op", 2000, 2100),
                         span("r2-q_topk", "execute", "op", 2100, 2400)],
               "jobs": [job(1, 2050, 40, 0), job(2, 2200, 800, 0)]}
        m = report.layer_metrics(rec, {}, ["q_topk"])
        self.assertEqual((m["construct.jobs"], m["execute.jobs"]), (1, 1))
        self.assertAlmostEqual(m["construct.s"], 0.1)
        self.assertAlmostEqual(m["execute.s"], 0.3)
        self.assertAlmostEqual(m["execute.task_run_s"], 0.8)  # the construct job's 40 ms is not execute
        self.assertAlmostEqual(m["execute.core_busy_frac"], 0.84 / (4 * 0.4))
        self.assertAlmostEqual(m["sources.input_mb"], 2.0)
        self.assertAlmostEqual(m["query.q_topk_s"], 0.4)
        self.assertEqual((m["process_cache.builds"], m["process_cache.build_s"]), (1, 1.5))
        self.assertAlmostEqual(m["cold.first_round_s"], 0.4)
        self.assertEqual(set(m), set(report.metric_names(["q_topk"])))


class PercentileTest(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond(self):
        xs = [float(i) for i in range(1, 101)]
        p, v, n = report.tail(xs)
        self.assertEqual((p, n), (90, 100))
        self.assertAlmostEqual(v, 90.1)
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_small_sample_reports_median_with_count(self):
        p, v, n = report.tail([1.0, 2.0, 3.0, 4.0, 5.0])
        self.assertEqual((p, v, n), (50, 3.0, 5))

    def test_percentile_interpolates(self):
        self.assertAlmostEqual(report.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(report.percentile([], 90), 0.0)


class FailureCountingTest(unittest.TestCase):
    def record(self, ops):
        return {"workload": "query_mix", "peak_rss_mb": 1000.0, "retained_heap_mb": 500.0,
                "rounds": [{"round": i, "traced": False, "start_ms": 1000.0 * i,
                            "end_ms": 1000.0 * i + w, "detail": {}}
                           for i, w in [(0, 900), (1, 100), (2, 50), (3, 120)]],
                "probes": [{"after": i, "s": run.REF_PROBE_S} for i in range(-1, 4)],
                "ops": ops}

    def test_failing_query_counts_and_yields_no_time(self):
        ops = [op("r0-q_topk", 0, "q_topk", 0, 900),
               op("r1-q_topk", 1, "q_topk", 1000, 1100),
               # fails fast: must not become the fastest round
               op("r2-q_topk", 2, "q_topk", 2000, 2050, ok=False, error="boom"),
               op("r3-q_topk", 3, "q_topk", 3000, 3120)]
        rec = self.record(ops)
        with tempfile.TemporaryDirectory() as out:
            res = os.path.join(out, "results", "q_topk")
            os.makedirs(res)
            pq.write_table(pa.table({"x": [1, 2]}), os.path.join(res, "part-0.parquet"))
            expected = {"q_topk": {"fingerprint": check.fingerprint(pa.table({"x": [1, 2]}))}}
            self.assertEqual(check.check_queries(os.path.join(out, "results"), ["q_topk"],
                                                 expected), {"q_topk": None})
            orig = check.EXPECTED
            try:
                check.EXPECTED = os.path.join(out, "expected.json")
                with open(check.EXPECTED, "w") as f:
                    json.dump(expected, f)
                bad, _ = run.verify(rec, "", out)
            finally:
                check.EXPECTED = orig
        self.assertEqual(bad, {"r2-q_topk": "boom"})
        e2e, raw, n_warm = run.end_to_end(rec, bad, 1.0)
        self.assertEqual(n_warm, 2)
        self.assertAlmostEqual(e2e["round_s"], 0.10)  # the fastest good latency, not 0.05
        self.assertAlmostEqual(raw, 0.10)

    def test_times_are_scaled_by_the_probes(self):
        ops = [op(f"r{i}-q_topk", i, "q_topk", 1000 * i, 1000 * i + w)
               for i, w in [(0, 900), (1, 100), (2, 50), (3, 120)]]
        rec = self.record(ops)
        ref = run.REF_PROBE_S
        # the fastest probe after each round: 2, 1.5, 2, 1 -> median
        # 1.75 (the warm-up, after -1, is not a measurement)
        rec["probes"] = [{"after": i, "s": s * ref} for i, s in
                         [(-1, 9.0), (0, 2.0), (0, 2.5), (1, 4.0), (1, 1.5),
                          (2, 3.0), (2, 2.0), (3, 1.0), (3, 1.2)]]
        self.assertAlmostEqual(run.host_ratio(rec), 1.75)
        e2e, raw, _ = run.end_to_end(rec, {}, 7.0)
        self.assertAlmostEqual(raw, 0.05)
        self.assertAlmostEqual(e2e["round_s"], 0.05 / 1.75)
        self.assertAlmostEqual(e2e["setup_s"], 4.0)
        self.assertEqual(e2e["retained_heap_mb"], 500.0)

    def test_one_document_route_only_is_a_failure(self):
        class Oracle:
            def __init__(self, data, sql):
                pass

            def check_rounds(self, roots):
                return [({"temperature": None}, {"sharded_months": 2, "inbound_months": 18}),
                        ({"temperature": None}, {"sharded_months": 0, "inbound_months": 20})]

        rec = {"workload": "pipelines", "max_features_per_doc": gen.MAX_FEATURES_PER_DOC,
               "oracle_sql": {}, "rounds": [{"round": 0}, {"round": 1}],
               "ops": [op(f"r{i}-temperature", i, "temperature", 0, 1) for i in (0, 1)]}
        orig = check.PipelineOracle
        try:
            check.PipelineOracle = Oracle
            bad, _ = run.verify(rec, "", "")
        finally:
            check.PipelineOracle = orig
        self.assertEqual(list(bad), ["r1-temperature"])
        self.assertIn("one route", bad["r1-temperature"])

    def test_wrong_result_is_a_failure(self):
        with tempfile.TemporaryDirectory() as out:
            os.makedirs(os.path.join(out, "q"))
            pq.write_table(pa.table({"x": [1, 3]}), os.path.join(out, "q", "part-0.parquet"))
            want = {"q": {"fingerprint": check.fingerprint(pa.table({"x": [1, 2]}))}}
            self.assertIn("fingerprint", check.check_queries(out, ["q"], want)["q"])
            self.assertIsNotNone(check.check_queries(out, ["missing"], want)["missing"])


class RoundsTest(unittest.TestCase):
    def test_round_count_follows_seconds_not_speed(self):
        self.assertEqual(run.warm_rounds("query_mix", 25, 0), 4)
        self.assertEqual(run.warm_rounds("pipelines_archive", 25, 0), 4)
        self.assertEqual(run.warm_rounds("query_mix", 1, 0), 3)
        self.assertEqual(run.warm_rounds("query_mix", 25, 1), 5)  # U T U T U
        self.assertEqual(run.warm_rounds("query_mix", 40, 1), 7)


class CheckTest(unittest.TestCase):
    def test_fingerprint_ignores_row_order_and_float_noise(self):
        a = pa.table({"k": [1, 2], "v": [0.1 + 0.2, 1.0]})
        b = pa.table({"v": [1.0, 0.3], "k": [2, 1]})
        self.assertEqual(check.fingerprint(a), check.fingerprint(b))
        self.assertNotEqual(check.fingerprint(a), check.fingerprint(pa.table({"k": [1, 2], "v": [0.3, 2.0]})))

    def test_sharded_documents_reassemble_in_shard_order(self):
        p, s = check.PREFIX, check.SUFFIX
        con = duckdb.connect()
        con.execute("CREATE TABLE whole (year INT, month INT, shard INT, collection VARCHAR)")
        con.execute("CREATE TABLE parts (year INT, month INT, shard INT, collection VARCHAR)")
        con.execute(f"INSERT INTO whole VALUES (2024, 1, 0, '{p}{{\"a\":1}},{{\"a\":2}},{{\"a\":3}}{s}')")
        con.execute(f"INSERT INTO parts VALUES (2024, 1, 1, '{p}{{\"a\":3}}{s}'), "
                    f"(2024, 1, 0, '{p}{{\"a\":1}},{{\"a\":2}}{s}')")
        whole = con.execute(check.documents_sql("SELECT * FROM whole")).fetchall()
        parts = con.execute(check.documents_sql("SELECT * FROM parts")).fetchall()
        self.assertEqual(whole[0][4:], parts[0][4:])  # same document md5
        self.assertEqual(parts[0][2:4], (2, True))  # two parts, numbered 0..1
        con.execute("UPDATE parts SET shard = 2 WHERE shard = 1")
        self.assertFalse(con.execute(check.documents_sql("SELECT * FROM parts")).fetchall()[0][3])


class MetricNameTest(unittest.TestCase):
    def test_names_and_units(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            spec = json.load(f)
        names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        names += [w["name"] for w in spec["workloads"]]
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9_.-]+$")
            self.assertLessEqual(len(n), 64)
        self.assertEqual(len(names), len(set(names)))
        self.assertEqual([m["name"] for m in spec["end_to_end"]], [n for n, _ in run.END_TO_END])
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]],
                         report.layer_table(run.QUERY_MIX))
        for w in spec["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()

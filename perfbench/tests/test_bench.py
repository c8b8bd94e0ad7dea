"""The benchmark's own tests: input determinism, percentile and sample-count
rules, failure accounting and span arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import gen  # noqa: E402
import metrics as M  # noqa: E402
import run  # noqa: E402


def op(i, kind="a", ok=True, latency=1.0, traced=False, start=0, end=1000, groups=()):
    return {"i": i, "kind": kind, "ok": ok, "latency_s": latency, "traced": traced,
            "start_ms": start, "end_ms": end, "groups": list(groups), "request": 0,
            "unit": 0, "output_bytes": 0, "error": None if ok else "boom"}


class InputsTest(unittest.TestCase):
    def test_same_seed_gives_byte_identical_inputs(self):
        for workload in gen.SIZES:
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
                ma = gen.generate(workload, 7, a)
                mb = gen.generate(workload, 7, b)
                self.assertEqual(ma["sha256"], mb["sha256"], workload)
                self.assertEqual(ma["rows"], mb["rows"], workload)
                self.assertGreater(ma["bytes"], 0)

    def test_other_seed_gives_other_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            self.assertNotEqual(gen.generate("similarity_graph", 1, a)["sha256"],
                                gen.generate("similarity_graph", 2, b)["sha256"])

    def test_corpus_over_the_shingle_cap_is_refused(self):
        doc = "a b c d e"
        self.assertEqual(gen.max_shingle_df([doc] * 3), 3)
        gen.check_corpus([doc] * gen.MAX_SHINGLE_DF, "at cap")
        with self.assertRaises(ValueError):
            gen.check_corpus([doc] * (gen.MAX_SHINGLE_DF + 1), "over cap")


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(M.percentile(xs, 0.5), 50)
        self.assertEqual(M.percentile(xs, 0.9), 90)
        self.assertEqual(M.percentile([3.0, 1.0, 2.0], 0.5), 2.0)
        self.assertEqual(M.percentile([5.0], 0.9), 5.0)
        with self.assertRaises(ValueError):
            M.percentile([], 0.5)

    def test_p90_needs_100_samples_for_10_beyond(self):
        self.assertEqual(M.tail_samples(100, 0.9), 10)
        self.assertEqual(M.tail_samples(99, 0.9), 9)
        self.assertEqual(M.tail_samples(0, 0.9), 0)
        self.assertEqual(M.min_samples(0.9), 100)
        xs = list(range(100))
        p90 = M.percentile(xs, 0.9)
        self.assertEqual(sum(x > p90 for x in xs), M.tail_samples(len(xs), 0.9))


class FailureAccountingTest(unittest.TestCase):
    def test_thrown_operation_is_failed_and_not_timed(self):
        ops = [op(0), op(1, ok=False, latency=0.001), op(2)]
        self.assertEqual(M.failed_ops(ops, []), {1})
        raw = {"ops": ops, "events": {"jobs": [], "stages": []}, "phase_s": 3.0,
               "setup_s": 2.0, "probes": {}, "period": 3}
        manifest = {"rows": {"tables/lineitem.parquet": 10, "tables/orders.parquet": 5,
                             "tables/customer.parquet": 2},
                    "pulse_elements": 40, "archive_raw_bytes": {"run000": 100}}
        for o in ops:
            o["kind"] = "ragged_pack"
        e2e, extra, per_kind, _, failed = run.reduce(raw, manifest, [], "ragged_analytics")
        self.assertEqual(failed, {1})
        self.assertAlmostEqual(extra["failed_frac"], 1 / 3)
        self.assertEqual(extra["latency_samples"], 2)
        self.assertEqual(e2e["latency_p50_s"], 1.0)  # the failed 1 ms never counts
        self.assertAlmostEqual(e2e["throughput_ops_per_s"], 2 / 3.0)
        self.assertEqual(e2e["setup_s"], 2.0)
        self.assertEqual(per_kind["ragged_pack"]["failed"], 1)

    def test_input_rows_count_frames_and_pulse_rows_only(self):
        ext = run.input_rows("extract_convert", {"sizes": {"events_per_run": 7}})
        self.assertEqual((ext["convert"], ext["land"], ext["season"]), (7, 7, 0))
        rag = run.input_rows("ragged_analytics", {
            "rows": {"tables/lineitem.parquet": 10}, "pulse_elements": 40})
        self.assertEqual(rag["ragged_pack"], 10)
        self.assertEqual(rag["columns_pulse_reduce"], 40)
        self.assertEqual(rag["join_inner_hash"], 0)

    def test_rejected_check_fails_the_operations_it_vouches_for(self):
        ops = [op(0, "a"), op(1, "b"), op(2, "a"), op(3, "b")]
        by_kind = [{"kind": "a", "ops": [], "ok": False}]
        self.assertEqual(M.failed_ops(ops, by_kind), {0, 2})
        by_op = [{"kind": "b", "ops": [3], "ok": False}, {"kind": "a", "ops": [], "ok": True}]
        self.assertEqual(M.failed_ops(ops, by_op), {3})


class SpanTest(unittest.TestCase):
    def span(self, i, parent, start, end, layer="x", group="op-0"):
        return {"id": i, "parent": parent, "name": f"s{i}", "layer": layer,
                "request": 0, "group": group, "start_ns": start * 10 ** 9,
                "end_ns": end * 10 ** 9}

    def test_self_time_subtracts_direct_children_only(self):
        spans = [self.span(0, -1, 0, 10, "op"), self.span(1, 0, 1, 4, "tables"),
                 self.span(2, 0, 5, 9, "operators.similarity"),
                 self.span(3, 2, 6, 7, "tables")]
        st = M.self_times(spans)
        self.assertAlmostEqual(st[0], 10 - 3 - 4)
        self.assertAlmostEqual(st[1], 3)
        self.assertAlmostEqual(st[2], 4 - 1)
        self.assertAlmostEqual(st[3], 1)
        self.assertAlmostEqual(sum(st.values()), 10)
        layers = M.layer_self(spans)
        self.assertAlmostEqual(layers["tables"], 4)
        self.assertAlmostEqual(layers["op"], 3)

    def test_write_share_excludes_season_spans(self):
        spans = [dict(self.span(0, -1, 0, 3), name="sources.write"),
                 dict(self.span(1, -1, 3, 13), name="sources.season")]
        self.assertAlmostEqual(M.write_share(spans, 1.0), 2.0)
        self.assertAlmostEqual(M.write_share(spans, 0.0), 3.0)
        self.assertEqual(M.write_share(spans[1:], 0.0), 0.0)

    def test_layer_self_filters_by_operation_group(self):
        spans = [self.span(0, -1, 0, 2, "a", "op-1"), self.span(1, -1, 0, 5, "a", "probe-1")]
        self.assertAlmostEqual(M.layer_self(spans, {"op-1"})["a"], 2)


class SchedulerTest(unittest.TestCase):
    def test_driver_gap_is_wall_time_outside_jobs(self):
        self.assertAlmostEqual(M.driver_gap(0, 1000, []), 1.0)
        self.assertAlmostEqual(M.driver_gap(0, 1000, [(100, 300), (200, 400), (800, 900)]), 0.6)
        self.assertAlmostEqual(M.driver_gap(0, 1000, [(-50, 2000)]), 0.0)

    def test_jobs_attach_to_operations_by_group(self):
        ops = [op(0, start=0, end=100), op(1, start=100, end=300, groups=["stream-run"])]
        events = {"jobs": [
            {"id": 0, "group": "op-0", "start_ms": 10, "end_ms": 90, "stage_ids": [0, 1]},
            {"id": 1, "group": "op-1/sp-3", "start_ms": 110, "end_ms": 150, "stage_ids": [2]},
            {"id": 2, "group": "stream-run", "start_ms": 160, "end_ms": 200, "stage_ids": [3]},
            {"id": 3, "group": "", "start_ms": 0, "end_ms": 1, "stage_ids": [4]}],
            "stages": [{"id": k, "attempt": 0, "tasks": k + 1, "run_ms": 10, "shuffle_read": 1,
                        "shuffle_write": 2, "spill": 0} for k in range(5) if k != 1]}
        per = M.per_op_spark(ops, events)
        self.assertEqual(per[0]["jobs"], 1)
        self.assertEqual(per[0]["stages"], 1)  # stage 1 was skipped: never completed
        self.assertEqual(per[0]["tasks"], 1)
        self.assertEqual(per[1]["jobs"], 2)
        self.assertEqual(per[1]["tasks"], 3 + 4)
        self.assertAlmostEqual(per[1]["driver_gap_s"], 0.12)

    def test_trace_overhead_compares_like_with_like(self):
        ops = [op(0, "a", latency=1.0), op(1, "a", latency=1.1, traced=True),
               op(2, "b", latency=2.0), op(3, "b", latency=2.0, traced=True),
               op(4, "c", latency=9.0, traced=True)]
        self.assertAlmostEqual(M.trace_overhead(ops), 0.1 / 3.0)


if __name__ == "__main__":
    unittest.main()

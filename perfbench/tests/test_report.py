"""Unit tests of the benchmark's metric rules.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
import report  # noqa: E402


def span(id_, parent, start, end, name="s", layer="index"):
    return {"id": id_, "parent": parent, "name": name, "layer": layer,
            "start_ms": float(start), "end_ms": float(end)}


def stage(sid, job, name, submit, complete, tasks=4, **kw):
    st = {"stage": sid, "job": job, "name": name, "submit_ms": float(submit),
          "complete_ms": float(complete), "tasks": tasks, "run_ms": 100, "cpu_ms": 80.0,
          "gc_ms": 5, "deser_ms": 1, "sched_ms": 2, "shuffle_read_bytes": 10,
          "shuffle_write_bytes": 20, "spill_bytes": 0, "result_bytes": 30,
          "task_ms": [10, 10, 10, 40]}
    st.update(kw)
    return st


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(report.percentile(xs, 50), 50)
        self.assertEqual(report.percentile(xs, 90), 90)
        self.assertEqual(report.percentile(xs, 100), 100)
        self.assertEqual(report.percentile([7.0], 50), 7.0)

    def test_samples_beyond(self):
        self.assertEqual(report.beyond(100, 90), 10)
        self.assertEqual(report.beyond(200, 95), 10)
        self.assertEqual(report.beyond(99, 90), 9)

    def test_refuses_a_percentile_with_fewer_than_ten_beyond(self):
        report.reported_percentile(list(range(100)), 90)
        with self.assertRaises(ValueError):
            report.reported_percentile(list(range(99)), 90)
        with self.assertRaises(ValueError):
            report.reported_percentile(list(range(199)), 95)


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once_and_clipped(self):
        spans = [span(1, 0, 0, 100),
                 span(2, 1, 10, 30), span(3, 1, 20, 50),  # overlap: 40 covered
                 span(4, 1, 90, 120),  # runs past the parent: 10 covered
                 span(5, 2, 12, 28)]  # grandchild: counts against span 2 only
        selfs = report.self_times(spans)
        self.assertAlmostEqual(selfs[1], 50.0)
        self.assertAlmostEqual(selfs[2], 4.0)
        self.assertAlmostEqual(selfs[3], 30.0)
        self.assertAlmostEqual(selfs[5], 16.0)

    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(report.self_times([span(1, 0, 5, 7)]), {1: 2.0})

    def test_unattributed_is_root_self_time(self):
        spans = [span(1, 0, 0, 100, "query.round", "bench"),
                 span(2, 1, 0, 75, "IndexSearcher.searchBatch", "search"),
                 span(3, 0, 200, 300, "ingest.round", "bench")]
        self.assertAlmostEqual(report.unattributed_frac(spans), 125 / 200)


class StageAttribution(unittest.TestCase):
    def test_library_call_sites_name_their_layer(self):
        self.assertEqual(report.callsite_layer("collect at IndexBuilder.scala:215", "bench"), "index")
        self.assertEqual(report.callsite_layer("collect at IndexSearcher.scala:461", "bench"), "search")
        self.assertEqual(report.callsite_layer("count at StreamingIndexer.scala:45", "search"), "streaming")
        self.assertEqual(report.callsite_layer("rdd at Dedup.scala:120", "bench"), "pipeline")
        self.assertEqual(report.callsite_layer("collect at Maintenance.scala:260", "bench"), "index")

    def test_other_call_sites_take_the_span_layer(self):
        self.assertEqual(report.callsite_layer("head at Main.scala:470", "pipeline"), "pipeline")
        self.assertEqual(report.callsite_layer("", "search"), "search")

    def test_jobs_join_spans_by_job_group(self):
        raw = {"contexts": [{"jobs": [
            {"job": 0, "group": "span-7", "start_ms": 5.0, "end_ms": 9.0},
            {"job": 1, "group": "", "start_ms": 1.0, "end_ms": 2.0},
            {"job": 2, "group": "span-7", "start_ms": 1.0, "end_ms": 4.0}],
            "stages": [stage(0, 0, "a", 5, 9), stage(1, 2, "b", 1, 4), stage(2, 1, "c", 1, 2)]}]}
        by = report.jobs_by_span(raw)
        self.assertEqual(list(by), [7])
        self.assertEqual([j["job"] for j in by[7]], [2, 0])  # start order
        self.assertEqual([s["name"] for s in by[7][1]["stages"]], ["a"])

    def test_build_phase_split(self):
        # the jobs of one traced `local[4]` build of the web corpus (8k docs,
        # 16 segments, AQE on), times relative to the span start
        aqe = "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768"
        jobs = [
            {"job": 1, "start_ms": 225.0, "end_ms": 355.0,
             "stages": [stage(1, 1, aqe, 226, 355, shuffle_write_bytes=0)]},
            {"job": 2, "start_ms": 367.0, "end_ms": 474.0,
             "stages": [stage(2, 2, aqe, 368, 472, shuffle_write_bytes=93161)]},
            {"job": 3, "start_ms": 557.0, "end_ms": 674.0,
             "stages": [stage(3, 3, "", 0, 0, tasks=0),
                        stage(4, 3, "collect at IndexBuilder.scala:120", 559, 674, tasks=1)]},
            {"job": 4, "start_ms": 817.0, "end_ms": 1121.0,
             "stages": [stage(5, 4, "", 0, 0, tasks=0),
                        stage(6, 4, aqe, 819, 1119, tasks=1, shuffle_write_bytes=113082)]},
            {"job": 5, "start_ms": 834.0, "end_ms": 1177.0,
             "stages": [stage(7, 5, aqe, 838, 1176, shuffle_write_bytes=12579188)]},
            {"job": 6, "start_ms": 1286.0, "end_ms": 1536.0,
             "stages": [stage(8, 6, "", 0, 0, tasks=0),
                        stage(9, 6, "parquet at IndexBuilder.scala:151", 1290, 1536, tasks=1)]},
            {"job": 7, "start_ms": 1583.0, "end_ms": 3336.0,
             "stages": [stage(10, 7, "", 0, 0, tasks=0), stage(11, 7, "", 0, 0, tasks=0),
                        stage(12, 7, "", 0, 0, tasks=0),
                        stage(13, 7, "map at IndexBuilder.scala:190", 1586, 1942),
                        stage(14, 7, "collect at IndexBuilder.scala:192", 1943, 3336, tasks=16)]},
        ]
        sp = span(4, 3, 0, 3339.1)
        got = report.build_phases(sp, jobs)
        self.assertAlmostEqual(got["rank"], 0.674)
        self.assertAlmostEqual(got["join"], (1177 - 674 + 1943 - 1536) / 1e3)
        self.assertAlmostEqual(got["docmap"], 0.359)
        self.assertAlmostEqual(got["invert"], 1.393)
        self.assertAlmostEqual(got["commit"], 0.0031)
        self.assertAlmostEqual(sum(got.values()), 3.3391)


class ResultLine(unittest.TestCase):
    RAW = {"trace": False, "attempted": 3, "failed": 1,
           "values": {"cores": 4, "build.docs": 100, "query.batch_size": 10},
           "samples": {"setup.rep_s": [3.0, 1.0, 2.0], "setup.warmup_s": [5.0],
                       "build.s_4": [0.5], "build.s_1": [1.5], "build.bytes": [1000.0],
                       "query.batch_s": [0.1], "heap_retained_mb": [50.0, 70.0]}}

    def test_shape_and_values(self):
        line = report.result_line(self.RAW)
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertFalse(line["correct"])
        m = {k: v["value"] for k, v in line["metrics"].items()}
        self.assertEqual(m["setup_s"], 7.0)
        self.assertEqual(m["build_docs_per_s"], 200.0)
        self.assertEqual(m["query_qps"], 100.0)
        self.assertEqual(m["heap_retained_mb"], 70.0)

    def test_lists_every_benchmark_metric_in_order(self):
        bench = json.loads(report.BENCHMARK_JSON.read_text())
        line = report.result_line(self.RAW)
        self.assertEqual([(k, v["unit"]) for k, v in line["metrics"].items()],
                         [(m["name"], m["unit"]) for m in bench["end_to_end"]])

    def test_refuses_a_listed_metric_it_did_not_compute(self):
        units = report.metric_units
        report.metric_units = lambda kind: dict(units(kind), not_measured="s")
        try:
            with self.assertRaises(KeyError):
                report.result_line(self.RAW)
        finally:
            report.metric_units = units


if __name__ == "__main__":
    unittest.main()

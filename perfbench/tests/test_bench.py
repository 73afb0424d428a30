"""Tests of the benchmark's own logic (no JVM needed):

    python3 -m unittest discover -s perfbench/tests
"""
import json
import sys
import tempfile
import unittest
from pathlib import Path

import duckdb
import pandas as pd

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import analyze  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def span(id_, name, start, end, parent=None):
    return {"id": id_, "name": name, "start_ms": start, "end_ms": end, "parent": parent}


class TailRule(unittest.TestCase):

    def test_eleventh_largest_with_ten_beyond(self):
        value, pct, beyond = analyze.tail(range(1, 101))
        self.assertEqual(value, 90)
        self.assertEqual(beyond, 10)
        self.assertEqual(sum(1 for x in range(1, 101) if x > value), 10)
        self.assertAlmostEqual(pct, 100 * 89 / 99, places=2)

    def test_order_of_samples_does_not_matter(self):
        xs = [7, 1, 9, 3, 12, 5, 8, 2, 11, 4, 10, 6]
        self.assertEqual(analyze.tail(xs)[0], 2)
        self.assertEqual(analyze.tail(xs), analyze.tail(sorted(xs)))

    def test_too_few_samples_fall_back_to_the_maximum(self):
        self.assertEqual(analyze.tail([3, 1, 2]), (3, 100.0, 0))
        self.assertEqual(analyze.tail([]), (0.0, None, 0))

    def test_sample_counts_of_a_run(self):
        ops = [{"pass": p, "kind": "case", "key": str(i), "start_ms": 100.0 * (10 * p + i),
                "end_ms": 100.0 * (10 * p + i) + 5 + i, "error": None}
               for p in range(2) for i in range(10)]
        passes = [{"index": p, "traced": False, "start_ms": 1000.0 * p,
                   "end_ms": 1000.0 * p + 900 + 100 * p} for p in range(2)]
        metrics, counts = analyze.end_to_end({"ops": ops, "passes": passes}, 2.0, set())
        self.assertEqual(counts["ops"], 20)
        self.assertEqual(counts["passes"], 2)
        self.assertEqual(counts["tail_beyond"], 10)
        self.assertEqual(metrics["setup_s"], 2.0)
        self.assertAlmostEqual(metrics["run_s"], 0.95)
        self.assertEqual(metrics["op_p50_ms"], 9.5)
        self.assertEqual(metrics["op_tail_ms"], 9.0)


class SpansAndJobs(unittest.TestCase):

    SPANS = [span(0, "pass", 0, 100), span(1, "operators.build", 10, 60, 0),
             span(2, "pipeline.stage.a", 12, 30, 1), span(3, "pipeline.stage.b", 30, 58, 1),
             span(4, "sources.write", 62, 99, 0)]

    def test_self_time_subtracts_direct_children(self):
        self.assertEqual(analyze.self_times(self.SPANS),
                         {0: 100 - 50 - 37, 1: 50 - 18 - 28, 2: 18, 3: 28, 4: 37})

    def test_job_goes_to_the_span_it_was_submitted_in(self):
        jobs = [{"job": 1, "start_ms": 20, "span": 2}, {"job": 2, "start_ms": 40, "span": 3},
                {"job": 3, "start_ms": 70, "span": 4}, {"job": 4, "start_ms": 5, "span": 0}]
        self.assertEqual(analyze.attribute_jobs(self.SPANS, jobs),
                         {1: (2, "property"), 2: (3, "property"), 3: (4, "property"),
                          4: (0, "property")})

    def test_job_from_another_thread_falls_back_to_the_open_span(self):
        # span 2 ended before the job started: the id was inherited by a
        # thread started inside it
        jobs = [{"job": 1, "start_ms": 40, "span": 2}, {"job": 2, "start_ms": 75, "span": 1}]
        self.assertEqual(analyze.attribute_jobs(self.SPANS, jobs),
                         {1: (3, "time"), 2: (4, "time")})

    def test_fallback_never_lands_on_the_pass_span(self):
        # at 61 only the root pass span is open; at 500 nothing is
        jobs = [{"job": 1, "start_ms": 61, "span": 2}, {"job": 2, "start_ms": 500, "span": 2}]
        self.assertEqual(analyze.attribute_jobs(self.SPANS, jobs),
                         {1: (None, None), 2: (None, None)})

    def test_job_without_a_span_id_is_unattributed(self):
        jobs = [{"job": 1, "start_ms": 40, "span": None}, {"job": 2, "start_ms": 40, "span": 99}]
        self.assertEqual(analyze.attribute_jobs(self.SPANS, jobs),
                         {1: (None, None), 2: (None, None)})

    def record(self, jobs):
        passes = [{"index": 1, "traced": True, "start_ms": 0, "end_ms": 100},
                  {"index": 0, "traced": False, "start_ms": -300, "end_ms": -200}]
        return {"spans": self.SPANS, "jobs": jobs, "passes": passes, "tasks": [],
                "stages": [], "queries": [], "progress": []}

    def test_job_without_a_span_id_inside_a_pass_makes_the_trace_incomplete(self):
        jobs = [{"job": 0, "start_ms": 20, "span": 2}, {"job": 1, "start_ms": 40, "span": None}]
        layers, trace = analyze.per_layer(self.record(jobs), cores=4)
        self.assertEqual(layers["spark.jobs"], 2)
        self.assertEqual(trace["unattributed_jobs"], 1)

    def test_attributed_jobs_sum_to_the_pass_jobs(self):
        jobs = [{"job": i, "start_ms": t, "span": s, "stages": []}
                for i, (t, s) in enumerate([(11, 1), (20, 2), (40, 3), (45, 3), (70, 4), (5, 0)])]
        layers, trace = analyze.per_layer(self.record(jobs), cores=4)
        self.assertEqual(trace["unattributed_jobs"], 0)
        self.assertEqual(trace["jobs_by_property"], 6)
        self.assertEqual(layers["spark.jobs"], 6)
        self.assertEqual(layers["operators.build_jobs"], 4)
        by_name = trace["spans_by_name"]
        self.assertEqual(sum(v["jobs"] for v in by_name.values()), layers["spark.jobs"])
        self.assertEqual(by_name["pipeline.stage.b"]["jobs"], 2)
        self.assertAlmostEqual(layers["operators.build_s"], 0.05)
        self.assertAlmostEqual(layers["sources.write_s"], 0.037)


class Generators(unittest.TestCase):

    def test_same_seed_same_inputs(self):
        for make in (lambda s: gen.events(s, "events", 2000, 50)[0].to_pandas(),
                     lambda s: gen.docs(s, "docs", 120)[0],
                     lambda s: gen.cases(s, "cases", 8)[0],
                     lambda s: gen.stream(s, "stream", 3, 40, 4, 5)[0]):
            a, b, c = make(7), make(7), make(8)
            if isinstance(a, pd.DataFrame):
                pd.testing.assert_frame_equal(a, b)
                self.assertFalse(a.equals(c))
            else:
                self.assertEqual(a, b)
                self.assertNotEqual(a, c)

    def test_event_properties(self):
        table, props = gen.events(3, "events", 10_000, 200)
        df = table.to_pandas()
        self.assertEqual(props["rows"], 10_000)
        self.assertAlmostEqual(df["user_id"].value_counts().iloc[0] / 10_000, 0.25, places=2)
        self.assertAlmostEqual(df["event_type"].isna().mean(), 0.1, delta=0.02)
        self.assertEqual(props["groups"], df["user_id"].nunique())

    def test_stream_lateness_stays_under_the_watermark_delay(self):
        lines, _ = gen.stream(5, "stream", 6, 50, 4, 12, step_ms=10)
        seen = 0
        for line in lines:
            ts = int(line.split("\t")[2])
            self.assertGreater(ts, seen - (12 + 10) * 10)
            seen = max(seen, ts)


class Reference(unittest.TestCase):

    def test_last_start_first_end(self):
        markers = ["x", "s", "x", "e", "x", "s", "x", "x", "e", "x"]
        self.assertEqual(gen.interval_ids(markers, "s", "e", False, True),
                         [0, 1, 1, 1, 0, 2, 2, 2, 2, 0])

    def test_repeated_markers_by_config(self):
        m = [1, 1, None, 2, 2, 0]
        self.assertEqual(gen.interval_ids(m, 1, 2, False, True), [0, 1, 1, 1, 0, 0])
        self.assertEqual(gen.interval_ids(m, 1, 2, True, True), [1, 1, 1, 1, 0, 0])
        self.assertEqual(gen.interval_ids(m, 1, 2, True, False), [1, 1, 1, 1, 1, 0])
        self.assertEqual(gen.interval_ids(m, 1, 2, False, False), [0, 1, 1, 1, 1, 0])

    def test_unclosed_and_unopened_intervals_are_noise(self):
        self.assertEqual(gen.interval_ids(["e", "x", "s", "x"], "s", "e", False, True),
                         [0, 0, 0, 0])


class CorruptedOutputFails(unittest.TestCase):

    def test_changed_value_is_not_the_same_frame(self):
        good = pd.DataFrame({"a": [1, 2, 3], "f": [0.5, 0.25, 1.0]})
        self.assertTrue(check.same(good.iloc[::-1], good))
        bad = good.copy()
        bad.loc[1, "a"] = 7
        self.assertFalse(check.same(bad, good))
        self.assertFalse(check.same(good.iloc[:2], good))

    def test_corrupted_stream_pass_is_reported(self):
        batch = pd.DataFrame({"groupKey": ["a", "a", "a", "b"], "order": [1, 2, 3, 4],
                              "iids": [1, 1, 0, 0]})
        emitted = pd.concat([batch.iloc[:2].assign(**{"pass": 0}),
                             batch.iloc[:2].assign(**{"pass": 1}),
                             batch.iloc[[0, 2]].assign(**{"pass": 2})])
        emitted.loc[(emitted["pass"] == 1) & (emitted["order"] == 2), "iids"] = 5
        self.assertEqual(check.stream(emitted, batch, [0, 1, 2]), [1, 2])

    def test_corrupted_curation_pass_is_reported_and_counted(self):
        with tempfile.TemporaryDirectory(dir=HERE) as d:
            inputs, out = Path(d) / "inputs", Path(d) / "out"
            rows, _ = gen.docs(1, "docs", 30)
            gen.write_jsonl(rows, inputs / "docs", shards=2)
            sql = ("SELECT doc_id, lang, n_chars, CAST(n_chars // 10 AS BIGINT) AS n_tokens, "
                   "CAST(0.5 AS DOUBLE) AS quality_score, CAST(doc_id AS BIGINT) AS cum_bytes, "
                   "CAST(doc_id % 2 AS BIGINT) AS shard FROM documents")
            (out / "curate").mkdir(parents=True)
            con = duckdb.connect()
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_json("
                        f"'{inputs}/docs/*.jsonl', format='newline_delimited', "
                        f"columns={check.DOC_COLUMNS})")
            for i in range(2):
                src = sql if i == 0 else sql.replace("n_chars //", "1 + n_chars //")
                con.execute(f"COPY ({src}) TO '{out}/curate/pass_{i}' "
                            f"(FORMAT PARQUET, PARTITION_BY (shard))")
            self.assertEqual(check.curation(duckdb.connect(), inputs, out, sql, [0, 1]), [1])
            ops = [{"pass": i, "kind": "pass", "key": str(i), "start_ms": 0.0, "end_ms": 1.0,
                    "error": None} for i in range(2)]
            passes = [{"index": i, "traced": False, "start_ms": 0.0, "end_ms": 1.0}
                      for i in range(2)]
            _, counts = analyze.end_to_end({"ops": ops, "passes": passes}, 1.0, {1})
            self.assertEqual(counts["failed"], 1)

    def test_failed_op_counts_and_keeps_its_time(self):
        ops = [{"pass": 0, "kind": "case", "key": "a", "start_ms": 0.0, "end_ms": 10.0,
                "error": None},
               {"pass": 0, "kind": "case", "key": "b", "start_ms": 10.0, "end_ms": 40.0,
                "error": "AssertionError: PlainFrame mismatch"}]
        passes = [{"index": 0, "traced": False, "start_ms": 0.0, "end_ms": 40.0}]
        metrics, counts = analyze.end_to_end({"ops": ops, "passes": passes}, 1.0, set())
        self.assertEqual(counts["failed"], 1)
        self.assertEqual(metrics["op_p50_ms"], 20.0)


class Contract(unittest.TestCase):

    def test_benchmark_json_names_the_reported_metrics(self):
        path = HERE.parent.parent / "BENCHMARK.json"
        if not path.is_file():
            self.skipTest("BENCHMARK.json not present")
        spec = json.loads(path.read_text())
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)
        self.assertTrue({w["name"] for w in spec["workloads"]} <= set(run.PARAMS))

    def test_steal_share_is_the_eighth_counter_over_all(self):
        start = [100, 0, 10, 500, 0, 0, 0, 5, 0, 0]
        end = [160, 0, 20, 520, 0, 0, 0, 15, 0, 0]
        self.assertEqual(run.steal_share(start, end), 0.1)
        self.assertIsNone(run.steal_share(None, end))
        self.assertIsNone(run.steal_share(start, start))

    def test_materialized_keeps_the_query(self):
        sql = "WITH RECURSIVE a AS (SELECT 1 AS x),\nb AS (SELECT x FROM a),\nr(n) AS (SELECT 1)\nSELECT * FROM b"
        m = check.materialized(sql)
        self.assertIn("a AS MATERIALIZED (", m)
        self.assertIn("b AS MATERIALIZED (", m)
        self.assertIn("r(n) AS (SELECT 1)", m)
        self.assertEqual(duckdb.connect().execute(m).fetchall(), [(1,)])


if __name__ == "__main__":
    unittest.main()

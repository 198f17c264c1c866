"""Self-tests of the harness's accounting on tiny synthetic runs.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import layers


def span(i, parent, name, start, end):
    return {"id": i, "parent": parent, "name": name, "start_ns": start * 10**6,
            "end_ns": end * 10**6, "start_wall_ms": start, "end_wall_ms": end}


def job(i, span_id, start, frames=(), **m):
    base = {"tasks": 1, "run_ms": 10, "cpu_ms": 5.0, "gc_ms": 0, "deser_ms": 1,
            "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0,
            "fetch_wait_ms": 0, "input_bytes": 0, "output_bytes": 0, "sched_delay_ms": 2}
    base.update(m)
    return {"id": i, "span": span_id, "start_ms": start, "end_ms": start + 5,
            "frames": list(frames), "stages": 1, "m": base}


# A query span [0, 100) with build [0, 30) and execute [40, 90); a second
# top-level span [200, 260) whose child [210, 250) holds a grandchild.
SPANS = [span(0, -1, "query", 0, 100), span(1, 0, "analytics.build", 0, 30),
         span(2, 0, "execute", 40, 90), span(3, -1, "llm.e2e", 200, 260),
         span(4, 3, "dedup.staging", 210, 250), span(5, 4, "inner", 220, 230)]


class SelfTime(unittest.TestCase):
    def test_self_time_is_span_minus_covered_children(self):
        st = layers.self_times(SPANS)
        self.assertAlmostEqual(st[0], 100 - 30 - 50)
        self.assertAlmostEqual(st[3], 60 - 40)
        self.assertAlmostEqual(st[4], 40 - 10)  # grandchildren count only for their parent
        self.assertAlmostEqual(st[5], 10)

    def test_overlapping_children_are_counted_once(self):
        spans = [span(0, -1, "p", 0, 100), span(1, 0, "a", 10, 60), span(2, 0, "b", 50, 120)]
        self.assertAlmostEqual(layers.self_times(spans)[0], 10)


class JobAttribution(unittest.TestCase):
    def test_every_job_lands_in_exactly_one_span(self):
        jobs = [job(0, 1, 5), job(1, -1, 45), job(2, -1, 225), job(3, -1, 150), job(4, 4, 240)]
        got = layers.attribute_jobs(jobs, SPANS)
        self.assertEqual(sorted(got), [0, 1, 2, 3, 4])
        self.assertEqual(got[0], 1)   # carried span property wins
        self.assertEqual(got[1], 2)   # innermost span holding its start
        self.assertEqual(got[2], 5)
        self.assertEqual(got[3], -1)  # outside every span
        self.assertEqual(got[4], 4)

    def test_job_without_graft_frames_takes_its_span_module(self):
        mods = layers.span_modules(SPANS)
        self.assertEqual(mods[2], "analytics")
        self.assertEqual(mods[5], "operators.Dedup")  # inherits from dedup.staging
        self.assertEqual(layers.job_module(job(0, 2, 0), 2, mods), "analytics")
        self.assertEqual(layers.job_module(job(0, -1, 0), -1, mods), "harness")
        tables = job(0, 2, 0, ["graft.Tables$.load(Tables.scala:128)"])
        self.assertEqual(layers.job_module(tables, 2, mods), "Tables")

    def test_module_counters_sum_each_job_once(self):
        jobs = [job(0, 2, 0), job(1, 4, 0, ["graft.Tables$.load(Tables.scala:1)"]), job(2, -1, 150)]
        by_span = layers.attribute_jobs(jobs, SPANS)
        c = layers.module_counters(jobs, by_span, layers.span_modules(SPANS), ops=1)
        self.assertEqual(sum(v for k, v in c.items() if k.endswith(".jobs")), 3)
        self.assertEqual(c["module.analytics.jobs"], 1)
        self.assertEqual(c["module.Tables.jobs"], 1)
        self.assertEqual(c["module.harness.jobs"], 1)


class CallSiteModule(unittest.TestCase):
    def test_mapping(self):
        cases = {
            "graft.Tables$.load(Tables.scala:128)": "Tables",
            "graft.operators.Dedup$.ensureCanonicalStaging(Dedup.scala:1580)": "operators.Dedup",
            "graft.operators.Upsert$.overwritePartitionsInto(Upsert.scala:81)": "operators.Upsert",
            "graft.operators.Similarity$.f(Similarity.scala:1)": "other",
            "graft.analytics.JoinQueries$.joinAgg(JoinQueries.scala:10)": "analytics",
            "graft.pipeline.StockPipeline.writeLogs(StockPipeline.scala:148)": "pipeline",
            "graft.store.Catalog$.bootstrap(Catalog.scala:85)": "store",
            "graft.sources.AlphaVantage$.parseBars(AlphaVantage.scala:60)": "other",
            "graft.functions.TextAnalysis$.$anonfun$f$1(TextAnalysis.scala:5)": "other",
            "graft.streaming.EventStream$.streamTumblingAppend(EventStream.scala:360)": "streaming",
            "graft.Conf$.withConf(Conf.scala:110)": "other",
        }
        for frame, mod in cases.items():
            self.assertEqual(layers.module_of([frame]), mod, frame)
        self.assertEqual(layers.module_of([]), "harness")

    def test_innermost_named_module_wins(self):
        frames = ["graft.Conf$.checkpointThenRelease(Conf.scala:40)",
                  "graft.operators.Dedup$.canonicalQuery(Dedup.scala:2245)",
                  "graft.Tables$.load(Tables.scala:128)"]
        self.assertEqual(layers.module_of(frames), "operators.Dedup")


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(layers.tail(list(range(1, 1001))), (99.0, 990))  # p99.9 has 1 beyond
        self.assertEqual(layers.tail(list(range(1, 101))), (90.0, 90))    # p95 has 5 beyond
        self.assertEqual(layers.tail(list(range(1, 41))), (75.0, 30))
        self.assertEqual(layers.tail(list(range(1, 20))), (50.0, 10))    # under 20: median

    def test_percentile_is_nearest_rank(self):
        self.assertEqual(layers.percentile([5, 1, 3], 50.0), 3)
        self.assertEqual(layers.percentile([1, 2, 3, 4], 75.0), 3)


class Overhead(unittest.TestCase):
    def test_pairs_by_name(self):
        u = [{"name": "a", "ms": 100.0}, {"name": "b", "ms": 1000.0}]
        t = [{"name": "a", "ms": 110.0}, {"name": "b", "ms": 1100.0}, {"name": "c", "ms": 5.0}]
        self.assertAlmostEqual(layers.overhead(u, t), 0.1)


class Coverage(unittest.TestCase):
    def test_children_cover_their_parent(self):
        self.assertAlmostEqual(layers.coverage(SPANS, "query"), 0.8)
        self.assertAlmostEqual(layers.coverage(SPANS, "llm.e2e"), 40 / 60)


class StoreWrites(unittest.TestCase):
    def test_only_store_call_sites_count(self):
        writes = [
            {"frames": ["graft.operators.Upsert$.overwritePartitionsInto(Upsert.scala:81)",
                        "graft.pipeline.StockPipeline.upsertIntoStockData(StockPipeline.scala:125)"],
             "files": 3, "bytes": 3000, "rows": 10},
            {"frames": ["graft.store.Catalog$.bootstrap(Catalog.scala:85)"],
             "files": 1, "bytes": 100, "rows": 10},
            {"frames": [], "files": 9, "bytes": 9999, "rows": 1},  # harness check output
            {"frames": ["graft.pipeline.StockPipeline.writeLogs(StockPipeline.scala:148)"],
             "files": 1, "bytes": 500, "rows": 2},
        ]
        self.assertEqual(layers.store_writes(writes, ops=2), (3100 / 20, 2.0))
        self.assertEqual(layers.store_writes(writes[2:], ops=2), (0.0, 0.0))


class CallSiteLayers(unittest.TestCase):
    def test_matched_ms_sums_records_whose_frames_match(self):
        recs = [{"frames": ["graft.store.Catalog$.bootstrap(Catalog.scala:80)"], "start_ms": 0, "end_ms": 7},
                {"frames": ["graft.store.Catalog.bootstrap(Catalog.scala:84)"], "start_ms": 10, "end_ms": 12},
                {"frames": ["graft.Tables$.load(Tables.scala:1)"], "start_ms": 0, "end_ms": 50},
                {"frames": ["graft.store.Catalog$.bootstrap(Catalog.scala:80)"], "start_ms": 0, "end_ms": -1}]
        self.assertEqual(layers.matched_ms(recs, layers.EXEC_LAYERS["store.bootstrap_ms"]), 9)


class Streaming(unittest.TestCase):
    def test_per_replay_sums_and_harness_remainder(self):
        spans = [span(0, -1, "stream", 0, 100), span(1, -1, "stream", 200, 260)]

        def prog(run, batch, trig, rows, state):
            return {"run": run, "batch": batch, "input_rows": rows, "state_rows": state,
                    "state_bytes": 10 * state, "state_commit_ms": 1,
                    "ms": {"triggerExecution": trig, "addBatch": trig - 5, "walCommit": 1,
                           "commitOffsets": 1, "queryPlanning": 2}}
        progress = [prog("a", 0, 40, 100, 7), prog("a", 1, 20, 0, 0), prog("b", 0, 30, 50, 5)]
        m = layers.streaming(progress, spans)
        self.assertAlmostEqual(m["streaming.trigger_ms"], 90 / 2)
        self.assertAlmostEqual(m["streaming.addbatch_ms"], 75 / 2)
        self.assertAlmostEqual(m["streaming.commit_ms"], 6 / 2)
        self.assertAlmostEqual(m["streaming.replay_setup_ms"], (160 - 90) / 2)
        self.assertAlmostEqual(m["streaming.state_rows"], (7 + 5) / 2)  # peak per query
        self.assertAlmostEqual(m["streaming.batch_p50_ms"], 30)
        self.assertAlmostEqual(m["streaming.events_per_s"], 150 / 0.09)

    def test_no_replay_reads_zero(self):
        m = layers.streaming([], SPANS)
        self.assertEqual(set(m), {k for k in layers.PER_LAYER if k.startswith("streaming.")})
        self.assertFalse(any(m.values()))


class OracleCompare(unittest.TestCase):
    """check.compare follows tools/selfcheck.py's rules."""

    def test_row_and_column_order_do_not_matter(self):
        import pandas as pd
        import check
        got = pd.DataFrame({"b": [2.5, 1.0], "a": ["y", "x"]})
        exp = pd.DataFrame({"a": ["x", "y"], "b": [1.0, 2.5]})
        self.assertIsNone(check.compare(got, exp))

    def test_float_values_compare_exactly_and_types_must_agree(self):
        import pandas as pd
        import check
        self.assertIn("float mismatches", check.compare(pd.DataFrame({"a": [0.1 + 0.2]}),
                                                        pd.DataFrame({"a": [0.3]})))
        self.assertIn("dtype", check.compare(pd.DataFrame({"a": [1.0]}),
                                             pd.DataFrame({"a": [1]})))
        self.assertIn("row count", check.compare(pd.DataFrame({"a": [1]}),
                                                 pd.DataFrame({"a": [1, 1]})))


class Declared(unittest.TestCase):
    def test_benchmark_json_lists_exactly_the_per_layer_metrics(self):
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")
        declared = json.load(open(path))["per_layer"]
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in declared}, layers.PER_LAYER)

    def test_prediction_map_covers_exactly_the_per_layer_metrics(self):
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "predictions.json")
        self.assertEqual(set(json.load(open(path))["predictions"]), set(layers.PER_LAYER))

    def test_module_counters_cover_every_module(self):
        names = {f"module.{m}.{c}" for m in layers.MODULES for c in layers.MODULE_COUNTERS}
        self.assertTrue(names <= set(layers.PER_LAYER))


if __name__ == "__main__":
    unittest.main()

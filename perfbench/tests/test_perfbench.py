"""Tests of the benchmark's own logic (no JVM): input determinism, the
trace self-time arithmetic and the result schema.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402

SIZES = {"events": 3000, "documents": 800, "embeddings": 300}


def read_bytes(d):
    out = {}
    for n in SIZES:
        with open(os.path.join(d, n + ".parquet"), "rb") as f:
            out[n] = f.read()
    return out


class GeneratorTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        tmp = tempfile.TemporaryDirectory()
        cls.addClassCleanup(tmp.cleanup)
        cls.a, cls.b, cls.c = (os.path.join(tmp.name, x) for x in "abc")
        cls.info = gen.write(7, SIZES, cls.a)
        gen.write(7, SIZES, cls.b)
        gen.write(8, SIZES, cls.c)

    def test_same_seed_gives_identical_files(self):
        self.assertEqual(read_bytes(self.a), read_bytes(self.b))

    def test_different_seed_gives_different_data(self):
        a, c = read_bytes(self.a), read_bytes(self.c)
        for n in SIZES:
            self.assertNotEqual(a[n], c[n], n)

    def test_info_reports_rows_and_bytes(self):
        for n, rows in SIZES.items():
            self.assertEqual(self.info[n]["rows"], rows)
            self.assertEqual(self.info[n]["bytes"],
                             os.path.getsize(os.path.join(self.a, n + ".parquet")))

    def test_seed_keeps_shapes_the_queries_depend_on(self):
        for d in (self.a, self.c):
            ev = pq.read_table(os.path.join(d, "events.parquet")).to_pandas()
            self.assertEqual(sorted(ev.event_id), list(range(SIZES["events"])))
            by_id = ev.sort_values("event_id")
            self.assertTrue(by_id.ts.is_monotonic_increasing)
            self.assertEqual(set(ev.event_type), set(gen.EVENT_TYPES))
            self.assertTrue(ev.props.str.fullmatch(r'\{"k": \d{1,2}\}').all())

            docs = pq.read_table(os.path.join(d, "documents.parquet")).to_pandas()
            self.assertEqual(sorted(docs.doc_id), list(range(SIZES["documents"])))
            words = set(" ".join(docs.text).split())
            self.assertEqual(words - {"dup"}, set(gen.VOCAB))
            dup_share = docs.text.str.endswith(" dup").mean()
            self.assertTrue(0.02 < dup_share < 0.09, dup_share)
            self.assertTrue((docs.n_chars == docs.text.str.len()).all())
            self.assertTrue((docs.source == "src" + (docs.doc_id % 20).astype(str)).all())

            emb = pq.read_table(os.path.join(d, "embeddings.parquet")).to_pandas()
            self.assertEqual(sorted(emb.vec_id), list(range(SIZES["embeddings"])))
            norms = emb.embedding.map(lambda v: float(sum(x * x for x in v)))
            self.assertTrue(((norms - 1).abs() < 1e-5).all())
            self.assertEqual(set(emb.label), set(range(10)))

    def test_seed_changes_row_order_and_id_content(self):
        a = pq.read_table(os.path.join(self.a, "documents.parquet")).to_pandas()
        c = pq.read_table(os.path.join(self.c, "documents.parquet")).to_pandas()
        self.assertNotEqual(list(a.doc_id), list(c.doc_id))
        self.assertNotEqual(a.set_index("doc_id").text.to_dict(),
                            c.set_index("doc_id").text.to_dict())


def span(i, parent, name, start, end, query="q"):
    return {"id": i, "parent": parent, "name": name, "query": query,
            "start_ns": start, "end_ns": end}


def job(group, start, end, **kw):
    base = {"group": group, "start_ns": start, "end_ns": end, "tasks": 0,
            "task_failures": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
            "input_bytes": 0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
            "spill_bytes": 0, "output_bytes": 0}
    base.update(kw)
    return base


class SelfTimeTest(unittest.TestCase):

    def test_union_merges_overlaps_and_ignores_empty(self):
        self.assertEqual(metrics.union_ns([(0, 10), (5, 15), (20, 30), (7, 7)]), 25)
        self.assertEqual(metrics.union_ns([]), 0)

    def test_self_time_is_span_minus_covered_part(self):
        s = span(0, -1, "construct", 100, 200)
        kids = [{"start_ns": 110, "end_ns": 140}, {"start_ns": 130, "end_ns": 150},
                {"start_ns": 190, "end_ns": 260}]  # runs past the span: clipped
        self.assertEqual(metrics.self_time_ns(s, kids), 100 - 40 - 10)
        self.assertEqual(metrics.self_time_ns(s, []), 100)

    def test_pass_layers_attributes_jobs_by_group(self):
        spans = [span(0, -1, "run", 0, 1000, ""), span(1, 0, "pass", 0, 1000, ""),
                 span(2, 1, "query", 0, 1000), span(3, 2, "construct", 0, 400),
                 span(4, 2, "exec", 500, 1000), span(5, 2, "catalyst", 400, 500)]
        jobs = [job("pb:3", 100, 300, input_bytes=1 << 20),
                job("pb:4", 500, 900, tasks=4, run_ms=0.0016, cpu_ns=3, task_failures=1),
                job(None, 600, 700, output_bytes=2 << 20),  # pool-thread job
                job(None, 5000, 6000)]                        # outside the pass
        rec = {"span": 1, "s": 1e-6, "cache_peak_bytes": 3 << 20,
               "queries": {"q": {"join_rows": 10, "leaked_rdds": 2,
                                 "plan": {"exchanges": 2, "smj": 1, "bhj": 0, "scans": 3}}}}
        m = metrics.pass_layers(rec, spans, jobs, cores=4, input_file_bytes=1 << 19,
                                result_rows={"q": 5})
        self.assertAlmostEqual(m["construct_s"], 400e-9)
        self.assertAlmostEqual(m["construct_self_s"], 200e-9)
        self.assertAlmostEqual(m["catalyst_s"], 100e-9)
        self.assertAlmostEqual(m["exec_s"], 500e-9)
        self.assertAlmostEqual(m["exec_self_s"], 100e-9)
        self.assertEqual((m["construct_jobs"], m["exec_jobs"], m["unattributed_jobs"]), (1, 1, 1))
        self.assertAlmostEqual(m["construct_share"], 0.4)
        self.assertAlmostEqual(m["exec_core_idle_frac"], 1 - 1.6e-6 / (500e-9 * 4))
        self.assertEqual(m["exec_task_failures"], 1)
        self.assertAlmostEqual(m["input_mb"], 1.0)
        self.assertAlmostEqual(m["input_amplification"], 2.0)
        self.assertAlmostEqual(m["write_mb"], 2.0)
        self.assertAlmostEqual(m["cache_peak_mb"], 3.0)
        self.assertEqual((m["plan_exchanges"], m["plan_smj"], m["plan_scans"]), (2, 1, 3))
        self.assertAlmostEqual(m["refine_useful_ratio"], 0.5)


class SchemaTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            cls.bench = json.load(f)

    def names(self, kind):
        return sorted(m["name"] for m in self.bench[kind])

    def test_every_declared_metric_has_unit_and_direction(self):
        for m in self.bench["end_to_end"] + self.bench["per_layer"]:
            self.assertIn(m["better"], ("lower", "higher"), m["name"])
            self.assertTrue(m["unit"], m["name"])
        setup = [m for m in self.bench["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual((setup["unit"], setup["better"]), ("s", "lower"))
        self.assertEqual(setup["bound"], max(m["bound"] for m in self.bench["end_to_end"]))

    def test_workloads_match_runner(self):
        self.assertEqual({w["name"]: w["why"] for w in self.bench["workloads"]},
                         {n: w["why"] for n, w in run.WORKLOADS.items()})

    def test_every_metric_is_computed(self):
        spans = [span(0, -1, "run", 0, 10 ** 9, ""), span(1, 0, "pass", 0, 10 ** 9, ""),
                 span(2, 1, "query", 0, 10 ** 9), span(3, 2, "construct", 0, 10 ** 8),
                 span(4, 2, "exec", 2 * 10 ** 8, 10 ** 9),
                 span(5, 2, "catalyst", 10 ** 8, 2 * 10 ** 8)]
        q = {"q": {"s": 1.0, "join_rows": 0, "leaked_rdds": 0, "plan": {}}}
        harness = {
            "passes": [{"kind": "cold", "traced": True, "s": 3.0, "queries": q, "span": 1,
                        "peak_rss_kb": 4096},
                       {"kind": "warm", "traced": False, "s": 1.1, "queries": q,
                        "peak_rss_kb": 2048},
                       {"kind": "warm", "traced": True, "s": 1.0, "queries": q, "span": 1,
                        "cache_peak_bytes": 0, "peak_rss_kb": 3072}],
            "spans": spans, "jobs": [job("pb:4", 3 * 10 ** 8, 9 * 10 ** 8, run_ms=100)],
            "cores": 4,
            "kernels_ns": {"json_shred_ns": 1.0, "minhash_ns": 2.0, "simhash_ns": 3.0,
                           "word_hits_ns": 4.0},
        }
        e2e = metrics.end_to_end(harness, [2.0, 1.0, 3.0], input_rows=110)
        self.assertEqual(sorted(e2e), self.names("end_to_end"))
        self.assertEqual((e2e["setup_s"], e2e["cold_pass_s"], e2e["warm_pass_s"]), (2.0, 3.0, 1.1))
        self.assertAlmostEqual(e2e["warm_rows_per_s"], 100.0)
        self.assertEqual(e2e["peak_rss_mb"], 2.0)
        layers = metrics.per_layer(harness, input_file_bytes=1, result_rows={"q": 1})
        self.assertEqual(sorted(layers), self.names("per_layer"))
        self.assertAlmostEqual(layers["trace_overhead_frac"], 1.0 / 1.1 - 1)
        self.assertTrue(all(isinstance(v, (int, float)) for v in layers.values()))

    def test_passes_of_several_jvms_are_pooled(self):
        def p(kind, s):
            return {"kind": kind, "traced": False, "s": s, "peak_rss_kb": 1024}
        first = {"attempted": 3, "errors": [], "passes": [p("cold", 4.0), p("warm", 1.0)],
                 "checks": {}}
        last = {"attempted": 5, "errors": [{"query": "q", "pass": "check"}],
                "passes": [p("cold", 2.0), p("warm", 3.0)], "checks": {"q": "error"}}
        merged = metrics.merge_jvms([first, last])
        self.assertEqual((merged["attempted"], len(merged["errors"])), (8, 1))
        self.assertEqual(merged["checks"], {"q": "error"})
        self.assertEqual([q["jvm"] for q in merged["passes"]], [0, 0, 1, 1])
        e2e = metrics.end_to_end(merged, [1.0], input_rows=4)
        self.assertEqual((e2e["cold_pass_s"], e2e["warm_pass_s"]), (3.0, 2.0))


if __name__ == "__main__":
    unittest.main()

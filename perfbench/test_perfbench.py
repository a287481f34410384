"""Tests of the benchmark's own code: input determinism, the metric
arithmetic and the diff verdicts.

  python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import json
import os
import tempfile
import unittest

import diff
import gen
import run


def tree_digest(root):
    h = hashlib.sha256()
    for d, dirs, files in os.walk(root):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(d, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def digests(self, workload, seed):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.generate(workload, seed, a)
            gen.generate(workload, seed, b)
            return tree_digest(a), tree_digest(b)

    def test_same_seed_gives_byte_identical_inputs(self):
        for w in ("study_load", "curate_cycles", "query_catalog"):
            a, b = self.digests(w, 7)
            self.assertEqual(a, b, w)

    def test_other_seed_gives_other_inputs(self):
        for w in ("study_load", "curate_cycles"):
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
                gen.generate(w, 1, a)
                gen.generate(w, 2, b)
                self.assertNotEqual(tree_digest(a), tree_digest(b), w)

    def test_injected_duplicates_and_takedowns(self):
        with tempfile.TemporaryDirectory() as d:
            e = gen.generate("curate_cycles", 3, d)
            takedown = {i for t in e["takedowns"] for i in t}
            for b in e["batches"]:
                self.assertEqual(b["size"], gen.BATCH_DOCS)
                self.assertEqual(len(b["exact"]), gen.EXACT_PER_BATCH)
                # a takedown never removes the source of a later duplicate
                for _, src in b["exact"] + b["near"]:
                    self.assertNotIn(src, takedown)


def op(kind, rnd, s, traced=False, written=0):
    return {"kind": kind, "round": rnd, "s": s, "traced": traced, "bytes_written": written}


def span(name, rnd, start, records_read, wall=1.0):
    c = {k: 0.0 for k in run.COUNTERS}
    c.update(wall_s=wall, records_read=records_read)
    return {"name": name, "round": rnd, "start_s": start, "counters": c}


class MetricsTest(unittest.TestCase):
    def test_end_to_end_uses_whole_untraced_rounds(self):
        res = {"setup_s": 21.5, "live_heap_mb": [100.0, 120.0, 90.0], "ops": [
            op("warmup", -1, 20.0), op("cycle", 0, 6.0), op("cycle", 0, 8.0),
            op("retract", 0, 2.0), op("compact", 0, 7.0), op("cycle", 1, 7.0)]}
        m = run.end_to_end("curate_cycles", res)
        self.assertAlmostEqual(m["setup_s"], 21.5)
        self.assertAlmostEqual(m["live_heap_mb"], 100.0)
        self.assertAlmostEqual(m["ingest_s"], 7.0)
        self.assertAlmostEqual(m["maint_s"], 9.0)

    def test_per_layer_reports_every_name(self):
        res = {"spans": [], "values": {"input_bytes": 10.0, "warehouse_bytes": 50.0},
               "ops": [op("upload", 0, 30.0, written=100), op("upload", 1, 20.0, True, 160),
                       op("floors", -2, 12.0), op("floors", -2, 10.0, True)]}
        v = run.per_layer("study_load", res)
        self.assertEqual(set(v), {n for n, _ in run.layer_names()})
        self.assertLessEqual(len(v), 128)
        self.assertAlmostEqual(v["core.Publish.write_amplification"], 10.0)
        self.assertAlmostEqual(v["warehouse_bytes_per_input_byte"], 5.0)
        self.assertAlmostEqual(v["trace_overhead_s"], -2.0)

    def test_overhead_pass_stays_out_of_the_layers(self):
        screen = "operators.Dedup.incrementalDedupLedgered"
        # three in-round screens, then the overhead pass's two traced
        # screens on a compacted ledger (fewer records, faster)
        spans = [span(screen, 0, 1.0, 100, 2.0), span(screen, 0, 2.0, 150, 3.0),
                 span(screen, 0, 3.0, 200, 4.0), span(screen, -2, 4.0, 50, 0.5),
                 span(screen, -2, 5.0, 50, 0.5)]
        res = {"spans": spans, "values": {},
               "ops": [op("screen", -2, 1.0), op("screen", -2, 1.1, True)]}
        v = run.per_layer("curate_cycles", res)
        self.assertAlmostEqual(v["operators.DedupLedger.records_read_growth"], 2.0)
        self.assertAlmostEqual(v[screen + ".wall_s"], 3.0)
        self.assertAlmostEqual(v["trace_overhead_s"], 0.1)


def summary(value, failed=0):
    return {"correct": failed == 0, "attempted": 20, "failed": failed,
            "metrics": {"ingest_s": {"value": value, "unit": "s"}}}


BENCH = {"workloads": [{"name": "w"}],
         "end_to_end": [{"name": "ingest_s", "unit": "s", "better": "lower", "bound": 0.1}]}


class DiffTest(unittest.TestCase):
    def test_improved_needs_nine_tenths_of_pairs(self):
        a = [10.0 + 0.1 * i for i in range(10)]
        self.assertEqual(diff.verdict(a, [x - 2.0 for x in a], 0.1)[0], "improved")
        b = [x - 2.0 for x in a[:8]] + [x + 0.1 for x in a[8:]]
        self.assertNotEqual(diff.verdict(a, b, 0.1)[0], "improved")

    def test_no_worse_worse_and_unresolved(self):
        a = [10.0 + 0.1 * i for i in range(10)]
        self.assertEqual(diff.verdict(a, [x * 1.02 for x in a], 0.1)[0], "no worse")
        self.assertEqual(diff.verdict(a, [x * 1.5 for x in a], 0.1)[0], "worse")
        noisy = [5.0, 15.0] * 5
        self.assertEqual(diff.verdict(noisy, noisy[::-1], 0.1)[0], "unresolved")

    def test_wide_spread_reading_better_is_only_no_worse(self):
        # every change run beats every parent run, but the parent's spread
        # is wider than the bound and the gap is within the parent's IQR
        a = [10.0, 10.0, 10.0, 14.0, 14.0, 14.0, 14.0, 18.0, 18.0, 18.0]
        b = [9.9] * 10
        self.assertEqual(diff.verdict(a, b, 0.1)[0], "no worse")

    def test_higher_is_better(self):
        a = [10.0 + 0.1 * i for i in range(10)]
        self.assertEqual(diff.verdict(a, [x + 2.0 for x in a], 0.1, False)[0], "improved")

    def test_more_failures_is_failing_whatever_the_timings(self):
        parent = {("w", s): summary(10.0 + 0.1 * s) for s in range(10)}
        faster = {("w", s): summary(5.0, failed=1 if s == 3 else 0) for s in range(10)}
        self.assertEqual(diff.compare(parent, faster, BENCH)[0][-1], "failing")
        same = {("w", s): summary(10.0 + 0.1 * s) for s in range(10)}
        self.assertEqual(diff.compare(parent, same, BENCH)[0][-1], "no worse")

    def test_load_reads_untraced_results_of_a_directory(self):
        with tempfile.TemporaryDirectory() as d:
            for seed, trace in ((1, 0), (1, 1), (2, 0)):
                with open(os.path.join(d, f"w-seed{seed}-trace{trace}.json"), "w") as f:
                    json.dump({"workload": "w", "seed": seed, "trace": bool(trace),
                               "summary": summary(1.0)}, f)
            self.assertEqual(sorted(diff.load(d)), [("w", 1), ("w", 2)])


if __name__ == "__main__":
    unittest.main()

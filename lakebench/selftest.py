#!/usr/bin/env python3
"""Self-tests of the benchmark itself. Run from the root of a checkout:

    python3 lakebench/selftest.py

The first three tests are pure Python. The rest start the benchmark JVM
(building it first if needed) and take about two minutes together.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402

SF01 = os.path.join(BENCH, "data", "sf0.1")


def scratch():
    os.makedirs(os.path.join(BENCH, "work"), exist_ok=True)
    return tempfile.mkdtemp(prefix="selftest-", dir=os.path.join(BENCH, "work"))


class Pure(unittest.TestCase):

    def test_same_seed_same_bytes(self):
        a, b, c = scratch(), scratch(), scratch()
        try:
            gen.generate(11, SF01, os.path.join(a, "in"))
            gen.generate(11, SF01, os.path.join(b, "in"))
            gen.generate(12, SF01, os.path.join(c, "in"))
            cmp = filecmp.dircmp(os.path.join(a, "in"), os.path.join(b, "in"))
            names = [os.path.join(d, f) for d in ("inbox", "batches")
                     for f in sorted(os.listdir(os.path.join(a, "in", d)))] + ["plan.tsv", "truth.json"]
            self.assertEqual(cmp.left_only + cmp.right_only, [])
            match, mismatch, errors = filecmp.cmpfiles(
                os.path.join(a, "in"), os.path.join(b, "in"), names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
            self.assertGreater(len(match), 20)
            self.assertFalse(filecmp.cmp(os.path.join(a, "in", "plan.tsv"),
                                         os.path.join(c, "in", "plan.tsv"), shallow=False))
        finally:
            for d in (a, b, c):
                shutil.rmtree(d)

    def test_tail_percentile_keeps_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail(list(range(10))))
        self.assertEqual(metrics.tail(list(range(11))), (0, 100.0 / 11, 11))
        xs = [float(x) for x in range(40, 0, -1)]  # 1..40, unsorted
        value, pct, n = metrics.tail(xs)
        self.assertEqual((value, pct, n), (30.0, 75.0, 40))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_span_self_time(self):
        self.assertEqual(metrics.self_time((0, 100), []), 100)
        # overlapping children count once; a child running past the parent is clipped
        self.assertEqual(metrics.self_time((0, 100), [(10, 20), (15, 30), (90, 120)]), 70)
        self.assertEqual(metrics.self_time((0, 100), [(0, 100), (20, 30)]), 0)
        tree = metrics.SpanTree([
            [1, 0, "op", 0, 10_000_000_000],
            [2, 1, "pipeline.process_file", 1_000_000_000, 9_000_000_000],
            [3, 2, "lake.append", 2_000_000_000, 4_000_000_000],
            [4, 2, "job", 3_000_000_000, 5_000_000_000],
            [5, 3, "job", 2_500_000_000, 3_500_000_000],
        ])
        # process_file minus its lake child: 8 s - 2 s
        self.assertEqual(tree.self_s("pipeline.process_file", "lake."), 6.0)
        # op minus the union of every job under it: 10 s - (2.5..5 s)
        self.assertEqual(tree.outside_jobs_s(), 7.5)


class WithJvm(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.cp = run.build()

    def jvm(self, work, **args):
        args.setdefault("seed", 1)
        args.setdefault("seconds", 1)
        args.setdefault("trace", 0)
        args.update(work=work, out=os.path.join(work, "out.json"))
        run.run_jvm(self.cp, args, work)
        with open(args["out"]) as f:
            return json.load(f)

    def test_decorator_changes_no_result(self):
        work = scratch()
        try:
            cmd = ["java"] + [x for p in run.JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
                "-Djava.io.tmpdir=" + work, "-cp", self.cp, "lakebench.SelfTest", work]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            self.assertEqual(proc.returncode, 0, proc.stderr[-3000:])
            self.assertIn("identical result lines", proc.stdout)
        finally:
            shutil.rmtree(work)

    def test_unknown_gate_is_an_error(self):
        work = scratch()
        try:
            with self.assertRaises(SystemExit) as e:
                self.jvm(work, workload="medallion", data=SF01, gates="gold_q1_pricing_summary,no_such_gate")
            self.assertIn("exited with 2", str(e.exception))
        finally:
            shutil.rmtree(work)

    def test_oracle_check_fails_on_a_corrupted_gate_output(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        work = scratch()
        try:
            gates = ["gold_q1_pricing_summary"]
            raw = self.jvm(work, workload="medallion", data=SF01, gates=gates[0])
            self.assertEqual(checks.oracle_check(SF01, raw["dump"], gates), [])
            path = os.path.join(raw["dump"], gates[0])
            table = pq.read_table(path)
            col = table.column_names[0]
            values = table.column(col).to_pylist()
            values[0] = values[1] if values[0] != values[1] else values[0] + "x"
            shutil.rmtree(path)
            os.makedirs(path)
            pq.write_table(table.set_column(0, col, pa.array(values, table.schema.field(col).type)),
                           os.path.join(path, "part-0.parquet"))
            failures = checks.oracle_check(SF01, raw["dump"], gates)
            self.assertEqual(len(failures), 1)
            self.assertIn("differs from oracle", failures[0])
        finally:
            shutil.rmtree(work)

    def test_lake_check_fails_on_a_dropped_lake_file(self):
        work = scratch()
        try:
            truth = gen.generate(3, SF01, os.path.join(work, "input"))
            base = dict(workload="lake_ingest", data=SF01, input=os.path.join(work, "input"))
            raw = self.jvm(work, inject="drop_lake_file", **base)
            failures = checks.lake_check(truth, raw, os.path.join(work, "accounts.tsv"))
            # the dropped file shows as lost rows, and as nothing else
            self.assertTrue(failures)
            self.assertTrue(all(f.startswith("table orders:") for f in failures), failures)
        finally:
            shutil.rmtree(work)


if __name__ == "__main__":
    unittest.main()

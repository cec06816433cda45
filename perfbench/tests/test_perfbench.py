"""Tests of the benchmark itself: the generator, the metric names and the
output checks. Needs python3 with numpy, pyarrow and duckdb; no JVM.

Run from the repository root: python3 -m unittest discover perfbench/tests
"""
import csv
import decimal
import glob
import hashlib
import json
import os
import random
import re
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import duckdb  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9_.-]+$")
SMALL = dict(days=4, replicas=2, sf=0.001, events_per_day=40)


def tree_digest(root):
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(root, "**", "*"), recursive=True)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def gen(self, seed, name):
        out = os.path.join(self.tmp, name)
        gen.generate(seed, out, **SMALL)
        return out

    def test_same_seed_same_bytes(self):
        self.assertEqual(tree_digest(self.gen(7, "a")), tree_digest(self.gen(7, "b")))

    def test_other_seed_other_inputs(self):
        a, b = self.gen(7, "a"), self.gen(8, "b")
        for sub in ("xetra", "tables"):
            self.assertNotEqual(tree_digest(os.path.join(a, sub)),
                                tree_digest(os.path.join(b, sub)))

    def test_layout_and_manifest(self):
        out = self.gen(3, "a")
        m = json.load(open(os.path.join(out, "manifest.json")))
        files = glob.glob(os.path.join(out, "xetra", "*", "*_BINS_XETR*.csv"))
        self.assertEqual(len(files), SMALL["days"] * 24)
        self.assertEqual(m["csv_files"], len(files))
        rows = 0
        for f in files:
            with open(f) as fh:
                rows += sum(1 for _ in fh) - 1
        self.assertEqual(m["csv_rows"], rows)
        self.assertEqual(m["csv_rows"], SMALL["days"] * SMALL["events_per_day"]
                         * SMALL["replicas"])
        with open(files[0]) as f:
            self.assertEqual(next(csv.reader(f)), gen.CSV_HEADER.split(","))


class MetricNamesTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            self.bench = json.load(f)
        with open(os.path.join(BENCH, "metrics.json")) as f:
            self.described = json.load(f)

    def test_names_are_well_formed_and_unique(self):
        names = [m["name"] for m in self.bench["end_to_end"] + self.bench["per_layer"]]
        names += [w["name"] for w in self.bench["workloads"]]
        for n in names:
            self.assertRegex(n, NAME)
        self.assertEqual(len(names), len(set(names)))

    def test_every_metric_is_described(self):
        names = {m["name"] for m in self.bench["end_to_end"] + self.bench["per_layer"]}
        self.assertEqual(names, set(self.described["metrics"]))
        for m in self.bench["per_layer"]:
            self.assertLessEqual({"layer", "moves", "workload", "source"},
                                 set(self.described["metrics"][m["name"]]))
        workloads = {w["name"] for w in self.bench["workloads"]}
        self.assertEqual(workloads, set(run.WORKLOADS))
        self.assertEqual(workloads, set(self.described["workloads"]))

    def test_mix_queries_have_a_metric(self):
        per_layer = {m["name"] for m in self.bench["per_layer"]}
        with open(os.path.join(BENCH, "mix.txt")) as f:
            mix = [ln.strip() for ln in f if ln.strip() and not ln.startswith("#")]
        self.assertTrue(mix)
        for q in mix:
            self.assertIn(f"query.{q}_s", per_layer)


class BroundTest(unittest.TestCase):
    """The DuckDB `bround` macro the checks use rounds like Spark's bround:
    half-even on the shortest decimal form of a double."""

    def test_matches_half_even_on_the_decimal_form(self):
        con = duckdb.connect()
        checks.install_bround(con)
        rng = random.Random(3)
        xs = [-32.675, -32.665, 0.125, 2.675, 1e-05] + [
            round(rng.uniform(-500, 500), rng.randint(1, 5)) for _ in range(300)]
        for x in xs:
            want = float(decimal.Decimal(repr(x)).quantize(
                decimal.Decimal("0.01"), rounding=decimal.ROUND_HALF_EVEN))
            self.assertEqual(con.sql(f"SELECT bround({x!r}::DOUBLE, 2)").fetchone()[0],
                             want, x)


class ChecksTest(unittest.TestCase):
    """Fake program outputs made from the reference, then corrupted."""

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp()
        cls.data = os.path.join(cls.tmp, "data")
        gen.generate(5, cls.data, **SMALL)
        cls.xetra = os.path.join(cls.data, "xetra")
        cls.dates = sorted(os.listdir(cls.xetra))

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def write_report(self, con, path, dates, keep_from, corrupt=False):
        rows = con.sql(checks.reference_sql(dates, keep_from)).fetchall()
        cols = list(zip(*rows))
        if corrupt:
            vol = list(cols[6])
            vol[0] += 1
            cols[6] = tuple(vol)
        types = [pa.string(), pa.string()] + [pa.float64()] * 4 + [pa.int64(), pa.float64()]
        t = pa.table([pa.array(c, t) for c, t in zip(cols, types)],
                     names=checks.REPORT_COLS)
        os.makedirs(path, exist_ok=True)
        pq.write_table(t, os.path.join(path, "part-0.parquet"))

    def iteration(self, corrupt_batch=False, corrupt_stream=False, dup_meta=False):
        """Backfill of all but the last date, then one daily run."""
        root = tempfile.mkdtemp(dir=self.tmp)
        con = duckdb.connect()
        checks.load_bars(con, self.xetra)
        front, last = self.dates[:-1], self.dates[-1]
        rep = os.path.join(root, "trg", "report1")
        stamp = lambda d: f"xetra_daily_report1_{d.replace('-', '')}_230000.parquet"
        self.write_report(con, os.path.join(rep, stamp(front[-1])),
                          front, front[0])
        self.write_report(con, os.path.join(rep, stamp(last)),
                          self.dates[-2:], last, corrupt=corrupt_batch)
        out = os.path.join(root, "stream_out")
        self.write_report(con, os.path.join(out, "b0"), front, front[0])
        self.write_report(con, os.path.join(out, "b1"), [last], last, corrupt=corrupt_stream)
        meta = os.path.join(root, "meta.csv")
        with open(meta, "w") as f:
            f.write("source_date,datetime_of_processing\n")
            for d in self.dates + ([self.dates[1]] if dup_meta else []):
                f.write(f"{d},2024-01-31 23:00:00\n")
        it = {"batch_runs": [{"dates": front, "stamp": front[-1]},
                             {"dates": [last], "stamp": last}],
              "stream_runs": [front, [last]], "stream_out": out, "meta": meta,
              "report_dir": rep}
        return checks.check_etl(con, self.dates, it)

    def test_correct_outputs_pass(self):
        self.assertEqual(self.iteration(), [])

    def test_corrupted_batch_row_fails(self):
        fails = self.iteration(corrupt_batch=True)
        self.assertTrue(any(f.startswith("batch") for f in fails), fails)

    def test_corrupted_stream_row_fails(self):
        fails = self.iteration(corrupt_stream=True)
        self.assertTrue(any(f.startswith("stream") for f in fails), fails)

    def test_duplicated_meta_date_fails(self):
        fails = self.iteration(dup_meta=True)
        self.assertTrue(any(f.startswith("meta") for f in fails), fails)

    def mix_case(self, warm_delta=0.0, oracle_delta=0.0):
        dump = tempfile.mkdtemp(dir=self.tmp)
        for p, d in (("cold", 0.0), ("warm", warm_delta)):
            os.makedirs(os.path.join(dump, p, "q"))
            pq.write_table(pa.table({"k": [1, 2], "v": [0.5, 1.5 + d]}),
                           os.path.join(dump, p, "q", "part-0.parquet"))
        oracle = ("SELECT * FROM (VALUES (2, 1.5 + %r), (1, 0.5)) t(k, v)" % oracle_delta)
        return checks.check_mix(duckdb.connect(), os.path.join(self.data, "tables"),
                                ["q"], dump, {"q": oracle})

    def test_mix_agreement_passes(self):
        self.assertEqual(self.mix_case(), [])

    def test_mix_cold_warm_mismatch_fails(self):
        self.assertTrue(any("cold and warm" in f for f in self.mix_case(warm_delta=1.0)))

    def test_mix_oracle_mismatch_fails(self):
        self.assertTrue(any("oracle" in f for f in self.mix_case(oracle_delta=1.0)))


if __name__ == "__main__":
    unittest.main()

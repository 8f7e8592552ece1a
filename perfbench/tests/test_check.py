"""Self-tests of the output comparator and the task check."""
import datetime as dt
import os
import sys
import tempfile
import unittest

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


class CompareFramesTest(unittest.TestCase):
    def test_column_and_row_order_do_not_matter(self):
        a = pd.DataFrame({"k": [2, 1], "v": [0.5, 1.5]})
        b = pd.DataFrame({"v": [1.5, 0.5], "k": [1, 2]})
        self.assertEqual(check.compare_frames(a, b), (True, ""))

    def test_floats_match_within_relative_tolerance(self):
        a = pd.DataFrame({"v": [1e6, 0.25, np.nan]})
        self.assertTrue(check.compare_frames(a, pd.DataFrame({"v": [1e6 + 1e-4, 0.25, np.nan]}))[0])
        ok, why = check.compare_frames(a, pd.DataFrame({"v": [1e6 + 1.0, 0.25, np.nan]}))
        self.assertFalse(ok)
        self.assertIn("column v", why)

    def test_shape_mismatches_fail(self):
        a = pd.DataFrame({"k": [1, 2]})
        self.assertFalse(check.compare_frames(a, pd.DataFrame({"k": [1]}))[0])
        self.assertFalse(check.compare_frames(a, pd.DataFrame({"j": [1, 2]}))[0])

    def test_strings_nulls_and_lists(self):
        a = pd.DataFrame({"s": ["x", None], "l": [[1.0, 2.0], [3.0]]})
        b = pd.DataFrame({"s": ["x", None], "l": [[1.0, 2.0], [3.0]]})
        self.assertTrue(check.compare_frames(a, b)[0])
        b.loc[1, "s"] = "y"
        self.assertFalse(check.compare_frames(a, b)[0])

    def test_table_references_are_read_from_oracle_sql(self):
        sql = "SELECT * FROM lineitem l JOIN orders o ON 1=1 WHERE x IN (SELECT 1 FROM nation)"
        self.assertEqual(check.tables_of(sql, ["orders", "lineitem", "nation", "part"]),
                         ["lineitem", "nation", "orders"])


class TaskCheckTest(unittest.TestCase):
    """Two daily-mean slices of one variable, judged against outputs
    written the way the program writes them."""

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.dir = self.tmp.name
        start = dt.datetime(2000, 1, 1, tzinfo=dt.timezone.utc)
        gen.grid(3, self.dir, 2, 2, start, 4)
        t0 = gen.epoch_us(start)
        day = 86_400_000_000
        base = {"var": "tas", "resample": "day", "timeshot": "mean", "calc_sql": "t_air",
                "drs_dir": "A/I/S/E/M/day/tas/gn/v1", "input_vars": ["t_air"]}
        self.tasks = [dict(base, id="tas_day_0", start_us=t0, end_us=t0 + 2 * day),
                      dict(base, id="tas_day_1", start_us=t0 + 2 * day, end_us=t0 + 4 * day)]
        self.con = check.connect()

    def tearDown(self):
        self.con.close()
        self.tmp.cleanup()

    def write_output(self, root, tasks, bump=0.0):
        raw = f"read_parquet('{self.dir}/raw/*.parquet')"
        frames = [self.con.execute(check.expected_sql(t, raw)).df() for t in tasks]
        df = pd.concat(frames, ignore_index=True)
        df.loc[df.index[0], "value"] += bump
        out = f"{root}/A/I/S/E/M/day/tas/gn/v1"
        os.makedirs(out, exist_ok=True)
        pq.write_table(pa.table({
            "time": pa.array(df["t"].to_numpy(), pa.timestamp("us", tz="UTC")),
            "lat": df["lat"].to_numpy(), "lon": df["lon"].to_numpy(),
            "value": df["value"].to_numpy()}), f"{out}/part-0.parquet")
        n = {t["id"]: len(f) for t, f in zip(tasks, frames)}
        os.makedirs(f"{root}/_status", exist_ok=True)
        pq.write_table(pa.table({"task_id": [t["id"] for t in self.tasks],
                                 "status": ["processed"] * 2,
                                 "n_rows": [n.get(t["id"], 12) for t in self.tasks]}),
                       f"{root}/_status/part-0.parquet")

    def judge(self, root):
        [(reasons, wrong)], n_exp = check.check_tasks(self.con, self.dir, self.tasks, [root])
        return reasons, wrong, n_exp

    def test_complete_output_passes(self):
        root = f"{self.dir}/ok"
        self.write_output(root, self.tasks)
        reasons, wrong, n_exp = self.judge(root)
        self.assertEqual(reasons, {"tas_day_0": "", "tas_day_1": ""})
        self.assertEqual(wrong, 0)
        # closed-right days: each slice's first hour (00:00) lands in the
        # bucket of the day before, so two days give three buckets per cell
        self.assertEqual(n_exp, {"tas_day_0": 12, "tas_day_1": 12})

    def test_an_overwritten_slice_is_missing(self):
        root = f"{self.dir}/lost"
        self.write_output(root, self.tasks[1:])
        reasons, wrong, _ = self.judge(root)
        self.assertIn("0 of 12", reasons["tas_day_0"])
        self.assertEqual(reasons["tas_day_1"], "")
        self.assertEqual(wrong, 0)

    def test_a_changed_value_is_wrong(self):
        root = f"{self.dir}/bad"
        self.write_output(root, self.tasks, bump=0.5)
        reasons, wrong, _ = self.judge(root)
        self.assertEqual(wrong, 1)
        self.assertTrue(any(reasons.values()))

    def test_rows_covered_by_a_slice(self):
        h = gen.US_PER_HOUR
        self.assertEqual(run.task_rows({"start_us": 0, "end_us": 3 * h}, 10), 30)
        self.assertEqual(run.task_rows({"start_us": 1, "end_us": 3 * h + 1}, 1), 3)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        with tempfile.TemporaryDirectory() as d:
            start = dt.datetime(2000, 1, 30, tzinfo=dt.timezone.utc)
            self.assertEqual(gen.grid(5, f"{d}/a", 2, 3, start, 3), 2 * 3 * 72)
            gen.grid(5, f"{d}/b", 2, 3, start, 3)
            gen.grid(6, f"{d}/c", 2, 3, start, 3)
            files = sorted(os.listdir(f"{d}/a/raw"))
            self.assertEqual(files, ["part-200001.parquet", "part-200002.parquet"])
            read = lambda k: pq.read_table(f"{d}/{k}/raw").to_pandas()
            pd.testing.assert_frame_equal(read("a"), read("b"))
            self.assertFalse(read("a").equals(read("c")))


if __name__ == "__main__":
    unittest.main()

"""Checks of the benchmark's generators and result accounting.

Run from the root of a checkout: python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402


def scratch():
    os.makedirs(f"{HERE}/work", exist_ok=True)
    return tempfile.TemporaryDirectory(dir=f"{HERE}/work")


def read(path):
    with open(path) as f:
        return f.read()


def same_tree(a, b):
    names = sorted(os.listdir(a))
    return names == sorted(os.listdir(b)) and filecmp.cmpfiles(a, b, names, shallow=False)[0] == names


class GeneratorTest(unittest.TestCase):
    def test_tables_same_seed_same_bytes(self):
        with scratch() as d:
            gen.tables(5, 0.001, f"{d}/a")
            gen.tables(5, 0.001, f"{d}/b")
            gen.tables(6, 0.001, f"{d}/c")
            self.assertTrue(same_tree(f"{d}/a", f"{d}/b"))
            self.assertFalse(same_tree(f"{d}/a", f"{d}/c"))

    def test_eav_same_seed_same_files(self):
        with scratch() as d:
            e1 = gen.eav(5, 60, f"{d}/a")
            e2 = gen.eav(5, 60, f"{d}/b")
            self.assertEqual(e1, e2)
            for f in ["records.csv", "fieldmap.csv", "deid.csv", "secondary.csv"]:
                self.assertTrue(filecmp.cmp(f"{d}/a/{f}", f"{d}/b/{f}", shallow=False), f)
            self.assertNotEqual(gen.eav(6, 60, f"{d}/c")["kept_by_status"], {})

    def test_eav_covers_the_fixture_cases(self):
        with scratch() as d:
            e = gen.eav(5, 120, d)
            rows = [ln.split(",") for ln in read(f"{d}/records.csv").splitlines()[1:]]
            fields = {r[4] for r in rows}
            statuses = {ln.split(",")[1] for ln in read(f"{d}/fieldmap.csv").splitlines()}
            self.assertTrue(set(gen.GRANULARITY) <= statuses, "all four date granularities")
            self.assertTrue(set(gen.GRANULARITY) <= set(e["kept_by_status"]))
            self.assertEqual(sum(r[5] == "not-a-date" for r in rows), e["date_errors"])
            dobs = [r[0] for r in rows if r[4] == "np_dob"]
            self.assertGreater(len(dobs), len(set(dobs)), "a duplicated np_dob")
            self.assertIn("unmapped_field", fields)
            self.assertIn("screening_arm_1", read(f"{d}/fieldmap.csv"), "event-restricted status")
            self.assertIn("redcap_data_access_group", fields)


class AccountingTest(unittest.TestCase):
    def run_json(self, times, errors=None, failed=0):
        passes = [{"traced": False, "cpu_s": 1.0, "times": t} for t in times]
        return {"passes": passes, "errors": errors or {}, "attempted": sum(len(t) for t in times) + failed,
                "failed": failed, "setup": [1.0, 2.0], "min_passes": len(times), "peak_heap_mb": 100.0, "layers": {}}

    def test_a_call_that_throws_is_counted_and_never_timed(self):
        r = self.run_json([{"q": 1.0}, {"q": 2.0}, {"q": 3.0}], errors={"boom": "injected"}, failed=3)
        s = run.summarize(r, dict(r["errors"]), 0.5, 0)
        self.assertFalse(s["correct"])
        self.assertEqual((s["attempted"], s["failed"]), (6, 3))
        self.assertEqual(s["metrics"]["wall_s"]["value"], 2.5)
        self.assertEqual(s["metrics"]["success_frac"]["value"], 0.5)

    def test_an_injected_wrong_result_is_a_failure(self):
        import duckdb
        with scratch() as d:
            gen.tables(5, 0.001, f"{d}/data")
            sql = "SELECT r_regionkey, r_name FROM region"
            for name, expr in [("right", "r_name"), ("wrong", "replace(r_name, 'ASIA', 'AISA')")]:
                os.makedirs(f"{d}/out/results/{name}")
                duckdb.sql(f"COPY (SELECT r_regionkey, {expr} AS r_name FROM "
                           f"'{d}/data/region.parquet') TO '{d}/out/results/{name}/part-0.parquet'")
            with open(f"{d}/out/run.json", "w") as f:
                json.dump({"facts": {"oracle_sql": {"right": sql, "wrong": sql}}}, f)
            problems = run.check_queries(f"{d}/out", f"{d}/data")
            self.assertEqual(set(problems), {"wrong"})
            r = self.run_json([{"right": 1.0, "wrong": 1.0}] * 3)
            s = run.summarize(r, problems, 0.5, 0)
            self.assertFalse(s["correct"])
            self.assertEqual((s["attempted"], s["failed"]), (6, 3))
            self.assertEqual(s["metrics"]["wall_s"]["value"], 1.0)

    def test_setup_is_generation_plus_the_cold_set_up(self):
        r = self.run_json([{"q": 1.0}] * 3)
        self.assertEqual(run.summarize(r, {}, 0.5, 0)["metrics"]["setup_s"]["value"], 3.5)

    def test_etl_facts_are_checked_against_the_prediction(self):
        expected = {"input_rows": 10, "kept_rows": 6, "kept_by_status": {"Include": 6},
                    "date_errors": 1, "calc_records": 8, "secondary_records": 2}
        facts = dict(expected, envelopes=1, envelopes_with_metadata=1, header_ok=True)
        self.assertEqual(run.check_etl(facts, expected), {})
        self.assertIn("date_errors", run.check_etl(dict(facts, date_errors=0), expected))
        self.assertIn("envelopes_with_metadata",
                      run.check_etl(dict(facts, envelopes_with_metadata=0), expected))


if __name__ == "__main__":
    unittest.main()

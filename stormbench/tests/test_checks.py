"""The output checker accepts a consistent forecast and flags broken ones.

Run from the repository root: python3 -m unittest discover -s stormbench/tests
"""
import json
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import checks  # noqa: E402

C, STORM, KEY, PREV = "TST", "STORMX", "20251027060000", "20251027000000"
TILES = ["t0", "t1", "t2"]
POP = [100.0, 50.0, 10.0]
ADMIN = {"t0": "A", "t1": "A", "t2": "B"}


def prob(tile, th):
    """Non-increasing in the threshold, different per tile."""
    return max(0.0, 0.9 - 0.1 * TILES.index(tile) - 0.05 * checks.THRESHOLDS.index(th))


def write_csv(path, header, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(",".join(header) + "\n")
        for r in rows:
            f.write(",".join(str(v) for v in r) + "\n")


def build_store(root):
    """One country/forecast with every view the checker expects."""
    for rel in checks.expected_files(C, STORM, KEY):
        p = os.path.join(root, rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        if rel.endswith(".parquet"):
            os.makedirs(p, exist_ok=True)
        else:
            open(p, "w").close()
    prefix = f"{C}_{STORM}_{KEY}_"
    for th in checks.THRESHOLDS:
        rows = [(t, th, prob(t, th), pop * prob(t, th)) for t, pop in zip(TILES, POP)]
        write_csv(os.path.join(root, f"mercator_impact_views/{prefix}{th}_14.csv"),
                  ["zone_id", "wind_threshold", "probability", "E_population"], rows)
        for lv in (1, 2):
            sums = {}
            for t, _, _, e in rows:
                sums[ADMIN[t]] = sums.get(ADMIN[t], 0.0) + e
            write_csv(os.path.join(root, f"admin_impact_views/{prefix}{th}_admin{lv}.csv"),
                      ["tile_id", "wind_threshold", "E_population"],
                      [(a, th, s) for a, s in sorted(sums.items())])
    report = {"children_change_perc": 12.5}
    prev = {}
    for th in checks.THRESHOLDS:
        report[f"expected_children_{th}"] = 40 - th // 10
        prev[f"expected_children_{th}"] = 30
        report[f"change_children_{th}"] = report[f"expected_children_{th}"] - 30
    os.makedirs(os.path.join(root, "reports_json"), exist_ok=True)
    with open(os.path.join(root, f"reports_json/{C}_{STORM}_{KEY}.json"), "w") as f:
        json.dump(report, f)
    with open(os.path.join(root, f"reports_json/{C}_{STORM}_{PREV}.json"), "w") as f:
        json.dump(prev, f)


class ChecksTest(unittest.TestCase):

    def setUp(self):
        self.root = tempfile.mkdtemp(prefix="stormbench-checks-")
        self.addCleanup(shutil.rmtree, self.root, True)
        build_store(self.root)

    def run_check(self):
        return checks.check_forecast(self.root, C, STORM, KEY, PREV, len(TILES))

    def rewrite(self, rel, edit):
        p = os.path.join(self.root, rel)
        with open(p) as f:
            lines = f.read().splitlines()
        with open(p, "w") as f:
            f.write("\n".join(edit(lines)) + "\n")

    def test_consistent_forecast_passes(self):
        attempted, failures, digest = self.run_check()
        self.assertEqual(failures, [])
        self.assertGreater(attempted, 10)
        self.assertEqual(len(digest), 16)

    def test_corrupted_tile_view_is_flagged(self):
        rel = f"mercator_impact_views/{C}_{STORM}_{KEY}_50_14.csv"
        self.rewrite(rel, lambda ls: ls[:1] + [ls[1].rsplit(",", 1)[0] + ",999.0"] + ls[2:])
        _, failures, _ = self.run_check()
        self.assertTrue(any("admin1 sum E_population" in f for f in failures), failures)

    def test_dropped_threshold_is_flagged(self):
        os.remove(os.path.join(self.root, f"mercator_impact_views/{C}_{STORM}_{KEY}_137_14.csv"))
        _, failures, digest = self.run_check()
        self.assertIsNone(digest)
        self.assertTrue(any("missing 1 view files" in f for f in failures), failures)

    def test_dropped_threshold_rows_are_flagged(self):
        rel = f"mercator_impact_views/{C}_{STORM}_{KEY}_64_14.csv"
        self.rewrite(rel, lambda ls: ls[:2])
        _, failures, _ = self.run_check()
        self.assertTrue(any("tile view has" in f for f in failures), failures)

    def test_probability_rising_with_threshold_is_flagged(self):
        rel = f"mercator_impact_views/{C}_{STORM}_{KEY}_137_14.csv"
        self.rewrite(rel, lambda ls: ls[:1] + [",".join(["t2", "137", "0.99", "9.9"])]
                     + [x for x in ls[1:] if not x.startswith("t2,")])
        _, failures, _ = self.run_check()
        self.assertTrue(any("probability increases" in f for f in failures), failures)

    def test_wrong_forecast_delta_is_flagged(self):
        p = os.path.join(self.root, f"reports_json/{C}_{STORM}_{KEY}.json")
        with open(p) as f:
            report = json.load(f)
        report["change_children_34"] += 1
        with open(p, "w") as f:
            json.dump(report, f)
        _, failures, _ = self.run_check()
        self.assertTrue(any("change_children_34" in f for f in failures), failures)

    def test_first_report_form(self):
        self.assertIsNone(checks.delta_problem(
            {"children_change_perc": "-", "expected_children_34": 5, "change_children_34": 5},
            None))
        self.assertIsNotNone(checks.delta_problem(
            {"children_change_perc": 3.0, "expected_children_34": 5, "change_children_34": 5},
            None))


if __name__ == "__main__":
    unittest.main()

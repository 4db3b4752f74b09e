"""The generator is a pure function of the seed.

Run from the repository root: python3 -m unittest discover -s stormbench/tests
"""
import hashlib
import os
import sys
import tempfile
import unittest

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402


def tree_digest(root):
    """{relative path: sha256} of every file under root."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


class GenTest(unittest.TestCase):

    def generate(self, kind, seed):
        out = tempfile.mkdtemp(prefix="stormbench-gen-")
        self.addCleanup(lambda: __import__("shutil").rmtree(out, ignore_errors=True))
        if kind == "stream":
            gen.gen_stream_tables(seed, out)
        else:
            gen.gen_pipeline(kind, seed, out, forecasts=2)
        return tree_digest(out)

    def test_same_seed_gives_byte_identical_files(self):
        for kind in ("mainland", "stream"):
            with self.subTest(kind=kind):
                a, b = self.generate(kind, 5), self.generate(kind, 5)
                self.assertTrue(a)
                self.assertEqual(a, b)

    def test_other_seed_gives_different_files(self):
        for kind in ("mainland", "stream"):
            with self.subTest(kind=kind):
                a, b = self.generate(kind, 5), self.generate(kind, 6)
                self.assertEqual(a.keys(), b.keys())
                changed = [p for p in a if a[p] != b[p]]
                # every data-bearing table changes; fixed dimension tables
                # (region, nation) and the layout do not
                self.assertGreater(len(changed), len(a) // 2)

    def test_pipeline_layout_matches_what_main_reads(self):
        out = tempfile.mkdtemp(prefix="stormbench-gen-")
        self.addCleanup(lambda: __import__("shutil").rmtree(out, ignore_errors=True))
        m = gen.gen_pipeline("mainland", 1, out, forecasts=3)
        ingest = os.path.join(out, "ingest")
        for iso in m["countries"]:
            for name in ("tiles", "admin1", "admin2", "school", "hc", "shelter", "wash"):
                self.assertTrue(os.path.exists(f"{ingest}/{iso}_{name}.parquet"), name)
        for k, f in enumerate(m["forecasts"]):
            self.assertTrue(os.path.exists(f"{ingest}/envelopes/{m['storm']}_{f['key']}.parquet"))
            self.assertTrue(os.path.exists(f"{ingest}/tracks/{m['storm']}_{f['key']}.parquet"))
            catalog = gen.pq.read_table(f"{ingest}/catalog_steps/{k:04d}.parquet")
            self.assertEqual(catalog.num_rows, k + 1)
            single = gen.pq.read_table(f"{ingest}/catalog_single/{k:04d}.parquet")
            self.assertEqual(single.to_pydict()["forecast_time"],
                             catalog.to_pydict()["forecast_time"][k:])

    def test_grid_cells_hitting_a_polygon(self):
        # the diamond |x-1| + |y-1| <= 1: a cell meets it exactly when the
        # cell's L1 distance to (1, 1) is at most 1
        diamond = np.array([[1.0, 0.0], [2.0, 1.0], [1.0, 2.0], [0.0, 1.0]])
        edges = np.arange(-0.43, 2.6, 0.3)  # no cell lies within 0.03 of distance 1
        lo, hi = edges[:-1], edges[1:]
        got = gen.grid_hits(diamond, lo, hi, lo, hi)

        def gap(a, b):  # distance from 1 to [a, b]
            return np.maximum(0.0, np.maximum(a - 1.0, 1.0 - b))
        want = gap(lo, hi)[:, None] + gap(lo, hi)[None, :] <= 1.0
        self.assertEqual(got.tolist(), want.tolist())
        self.assertTrue(got.any() and not got.all())

    def test_consecutive_forecasts_keep_most_memberships(self):
        pairs = gen.forecast_overlap("mainland", 1, 3)
        self.assertEqual(len(pairs), 2)
        for p in pairs:
            self.assertEqual(set(p["membership_kept"]), {str(t) for t in gen.THRESHOLDS})
            self.assertGreaterEqual(min(p["membership_kept"].values()), 0.9, p)
            for th, kept in p["probability_kept"].items():
                self.assertLessEqual(kept, p["membership_kept"][th])

    def test_envelopes_are_nested_by_threshold(self):
        mlon, mlat, _ = gen.member_tracks(3, gen.WORKLOADS["mainland"], 0)
        env = gen.envelopes_table(mlon, mlat).to_pydict()
        self.assertEqual(len(env["geometry"]), gen.MEMBERS * len(gen.THRESHOLDS))

        def ring(wkb):  # polygon WKB -> closed ring of (x, y)
            xy = np.frombuffer(wkb[13:], dtype="<f8")
            return xy.reshape(-1, 2)

        def inside(p, hull):  # convex, counter-clockwise
            a, b = hull[:-1], hull[1:]
            cross = (b[:, 0] - a[:, 0]) * (p[1] - a[:, 1]) - (b[:, 1] - a[:, 1]) * (p[0] - a[:, 0])
            return bool((cross >= -1e-9).all())
        by = {(m, t): g for m, t, g in zip(env["ensemble_member"], env["wind_threshold"],
                                           env["geometry"])}
        for m in range(gen.MEMBERS):
            for lo, hi in zip(gen.THRESHOLDS, gen.THRESHOLDS[1:]):
                outer, inner = ring(by[(m, lo)]), ring(by[(m, hi)])
                self.assertTrue(all(inside(p, outer) for p in inner), (m, lo, hi))


if __name__ == "__main__":
    unittest.main()

"""Tests of the benchmark's input generators and output checks.

    python3 -m unittest discover -s graftbench/tests
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import run  # noqa: E402

SMALL_BEAMLINE = dict(n_files=2, scans_per_file=6, frames=2, size=32)
SMALL_CORPUS = dict(shards=2, n_docs=200)


def load(path):
    with open(path) as fh:
        return json.load(fh)


def tree(d):
    out = []
    for root, _, files in os.walk(d):
        out += [os.path.relpath(os.path.join(root, f), d) for f in files]
    return sorted(out)


def same_tree(a, b):
    names = tree(a)
    return names == tree(b) and all(
        filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names)


class Deterministic(unittest.TestCase):
    def check(self, make):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            make(a, 7)
            make(b, 7)
            make(c, 8)
            self.assertTrue(same_tree(a, b), "same seed must give byte-identical inputs")
            self.assertFalse(same_tree(a, c), "another seed must give other inputs")

    def test_beamline(self):
        self.check(lambda d, s: gen.beamline(d, s, **SMALL_BEAMLINE))

    def test_corpus(self):
        self.check(lambda d, s: gen.corpus(d, s, **SMALL_CORPUS))

    def test_gate_tables_fixed(self):
        with tempfile.TemporaryDirectory() as t:
            a, b = os.path.join(t, "a"), os.path.join(t, "b")
            gen.gate_tables(a, scale=0.05)
            gen.gate_tables(b, scale=0.05)
            self.assertTrue(same_tree(a, b))


class TruthRoundTrip(unittest.TestCase):
    def test_spec_scans_hold_planted_peak(self):
        with tempfile.TemporaryDirectory() as d:
            gen.beamline(d, 3, **SMALL_BEAMLINE)
            truth = load(os.path.join(d, "truth_scans.json"))
            scans = parse_spec(os.path.join(d, "scans_00.spec"))
            for t in truth:
                if t["file"] != "scans_00":
                    continue
                th, det = scans[t["scan"]]
                self.assertEqual(len(th), t["points"])
                self.assertEqual(int(det.sum()), t["det_sum"])
                # the planted center is where the counts peak
                self.assertLess(abs(th[int(np.argmax(det))] - t["center"]), 2.5 * t["width"])

    def test_edf_ring_radius(self):
        with tempfile.TemporaryDirectory() as d:
            gen.beamline(d, 3, **SMALL_BEAMLINE)
            ring = load(os.path.join(d, "truth_rings.json"))[0]
            frames = parse_edf(os.path.join(d, "scans_00.edf"), ring["size"])
            img = frames[1].astype(float) - frames[0]
            yy, xx = np.mgrid[0:ring["size"], 0:ring["size"]]
            rbin = np.floor(np.hypot(yy - ring["cy"], xx - ring["cx"])).astype(int)
            prof = np.bincount(rbin.ravel(), img.ravel()) / np.bincount(rbin.ravel())
            self.assertLessEqual(abs(np.argmax(prof) + 0.5 - ring["radius"]), 1.5)

    def test_planted_duplicates(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            gen.corpus(d, 5, **SMALL_CORPUS)
            shard = os.path.join(d, "shard_00")
            docs = pq.read_table(os.path.join(shard, "docs.parquet")).to_pydict()
            text = dict(zip(docs["doc_id"], docs["text"]))
            pairs = load(os.path.join(shard, "truth_pairs.json"))
            self.assertTrue(pairs)
            for p in pairs:
                j = gen._jaccard(text[p["a"]], text[p["b"]])
                self.assertAlmostEqual(j, p["jaccard"], places=3)
                if p["kind"] == "exact":
                    self.assertEqual(text[p["a"]], text[p["b"]])
                else:
                    self.assertGreater(j, 0.6)
            for j in load(os.path.join(shard, "truth_junk.json")):
                self.assertFalse(any(c.isalpha() for c in text[j]))


class GateCheck(unittest.TestCase):
    def test_digest_ignores_row_and_column_order(self):
        a = run._digest(["y", "x"], [(2, "b"), (1, "a")])
        b = run._digest(["x", "y"], [("a", 1), ("b", 2)])
        self.assertEqual(a, b)
        self.assertNotEqual(a, run._digest(["x", "y"], [("a", 1), ("b", 3)]))


def parse_spec(path):
    scans, cur, rows = {}, None, []
    with open(path) as fh:
        lines = fh.readlines()
    for line in lines:
        if line.startswith("#S "):
            if cur is not None:
                scans[cur] = rows
            cur, rows = int(line.split()[1]), []
        elif line.strip() and not line.startswith("#") and cur is not None:
            rows.append([float(v) for v in line.split()])
    scans[cur] = rows
    cols = gen.SPEC_LABELS
    return {s: (np.array([r[cols.index("TH")] for r in rs]),
                np.array([r[cols.index("Detector")] for r in rs]))
            for s, rs in scans.items()}


def parse_edf(path, size):
    with open(path, "rb") as fh:
        data = fh.read()
    frames, pos = [], 0
    while pos < len(data):
        end = data.index(b"}\n", pos) + 2
        n = size * size * 2
        frames.append(np.frombuffer(data[end:end + n], dtype="<u2").reshape(size, size))
        pos = end + n
    return frames


if __name__ == "__main__":
    unittest.main()

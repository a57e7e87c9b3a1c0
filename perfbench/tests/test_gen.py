"""Determinism and shape of the seeded input generators.

    python3 -m unittest discover -s perfbench/tests
"""
import csv
import hashlib
import json
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def tree_digest(root):
    """path -> sha256 of every file under root."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


class GeneratorTest(unittest.TestCase):
    def generate(self, workload, seed):
        tmp = tempfile.TemporaryDirectory()
        self.addCleanup(tmp.cleanup)
        gen.generate(workload, seed, os.path.join(tmp.name, "in"))
        return os.path.join(tmp.name, "in")

    def test_same_seed_gives_identical_bytes(self):
        for w in gen.GENERATORS:
            with self.subTest(workload=w):
                a, b = tree_digest(self.generate(w, 7)), tree_digest(self.generate(w, 7))
                self.assertTrue(a)
                self.assertEqual(a, b)

    def test_different_seed_gives_different_inputs_and_literals(self):
        for w in gen.GENERATORS:
            with self.subTest(workload=w):
                a, b = self.generate(w, 7), self.generate(w, 8)
                self.assertNotEqual(tree_digest(a), tree_digest(b))
                with open(os.path.join(a, "spec.json")) as fa, \
                        open(os.path.join(b, "spec.json")) as fb:
                    self.assertNotEqual(json.load(fa), json.load(fb))

    def test_kgp_id_is_unique(self):
        d = self.generate("gwas_lookup", 3)
        ids = pq.read_table(os.path.join(d, "b37.parquet")).column("kgp_id").to_pylist()
        self.assertEqual(len(ids), len(set(ids)))
        d = self.generate("study_ingest", 3)
        with open(os.path.join(d, "markers.tsv")) as f:
            rows = list(csv.reader(f, delimiter="\t"))
        positional = [r[0] for r in rows if r[0] == r[1]]
        self.assertEqual(len(positional), len(set(positional)))

    def test_loads_carry_qc_failures_aliases_and_unresolved_names(self):
        d = self.generate("study_ingest", 5)
        with open(os.path.join(d, "spec.json")) as f:
            spec = json.load(f)
        with open(os.path.join(d, "markers.tsv")) as f:
            known = {r[1] for r in csv.reader(f, delimiter="\t")}
        loads = [spec["base"]] + [c for c in spec["commits"] if "mfi" in c]
        unresolved = []
        for load in loads:
            with open(os.path.join(d, load["mfi"])) as f:
                rows = list(csv.reader(f, delimiter="\t"))
            fails = [r for r in rows if float(r[7]) < 0.3 or float(r[5]) < 1e-4]
            rs = [r[0] for r in rows if r[0].startswith("rs")]
            self.assertTrue(fails, load["mfi"])
            self.assertTrue([n for n in rs if n in known], load["mfi"])
            self.assertTrue(len(fails) < len(rows) / 4)
            unresolved += [r[0] for r in rows if r[0].startswith("rs") and r[0] not in known]
        self.assertTrue(unresolved)

    def test_pinned_reads_miss_the_snapshot_cache(self):
        with open(os.path.join(self.generate("study_ingest", 4), "spec.json")) as f:
            spec = json.load(f)
        pins = [c["pin"] for c in spec["commits"]]
        warm, cache = spec["warm"], gen.SNAPSHOT_CACHE
        self.assertEqual(pins[:warm], [0] * warm)
        timed = [(i, p) for i, p in enumerate(pins[warm:], start=warm + 1) if p is not None]
        # every timed round from the first with history past the cache on
        self.assertEqual([i for i, _ in timed], list(range(cache + 2, len(pins) + 1)))
        for i, p in timed:
            self.assertGreaterEqual(i - p, cache + 1)
            self.assertNotIn(p, pins[max(0, i - 1 - cache):i - 1])

    def test_mixes_are_fixed_across_seeds(self):
        kinds = []
        for seed in (1, 2):
            with open(os.path.join(self.generate("study_ingest", seed), "spec.json")) as f:
                kinds.append([c["kind"] for c in json.load(f)["commits"]])
        self.assertEqual(kinds[0], kinds[1])
        block = len(gen.LOOKUP_BLOCK)
        counts = []
        for seed in (1, 2):
            with open(os.path.join(self.generate("gwas_lookup", seed), "spec.json")) as f:
                reqs = json.load(f)["requests"][:block]
            counts.append(sorted(r["kind"] for r in reqs))
        self.assertEqual(counts[0], sorted(gen.LOOKUP_BLOCK))
        self.assertEqual(counts[0], counts[1])


if __name__ == "__main__":
    unittest.main()

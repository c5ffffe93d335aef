"""The generator's contract: the same seed gives byte-identical inputs, and
another seed gives other inputs of the same sizes.

    python3 perfbench/test_gen.py
"""

import hashlib
import json
import os
import shutil
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402


def digest(root):
    """sha256 over every file's relative path and bytes, in sorted order."""
    h = hashlib.sha256()
    for dp, dns, fns in os.walk(root):
        dns.sort()
        for f in sorted(fns):
            p = os.path.join(dp, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def generate(self, seed):
        d = tempfile.mkdtemp(prefix="perfbench-gen-")
        self.addCleanup(shutil.rmtree, d)
        return d, gen.generate(d, seed)

    def test_same_seed_same_bytes(self):
        a, meta_a = self.generate(7)
        b, meta_b = self.generate(7)
        self.assertEqual(digest(a), digest(b))
        self.assertEqual(meta_a, meta_b)

    def test_other_seed_other_bytes_same_sizes(self):
        a, meta_a = self.generate(7)
        b, meta_b = self.generate(8)
        self.assertNotEqual(digest(a), digest(b))
        self.assertEqual(meta_a["publish"]["rows"], meta_b["publish"]["rows"])
        self.assertEqual(meta_a["rights"]["owned_docs"],
                         meta_b["rights"]["owned_docs"])

    def test_expectations_match_rows(self):
        d, meta = self.generate(3)
        rows = []
        svc = os.path.join(d, "publish", "services")
        for f in sorted(os.listdir(svc)):
            with open(os.path.join(svc, f), encoding="utf-8") as fh:
                rows += [json.loads(line) for line in fh]
        m = meta["publish"]
        self.assertEqual(len(rows), m["rows"])
        self.assertEqual(len({r["id"] for r in rows}), m["rows"])
        staged = [r for r in rows if r["name"] is not None]
        self.assertEqual(len(staged), m["staged_rows"])
        self.assertEqual(sum(r["geo"] is not None for r in staged),
                         m["located_rows"])
        # every planted case occurs
        self.assertTrue(any(r["website"] == [] for r in rows))
        self.assertTrue(any(str(r["type"]).startswith("type-inconnu")
                            for r in rows))
        self.assertGreater(meta["rights"]["exact_dups"], 0)
        self.assertGreater(meta["rights"]["denied"], 0)


if __name__ == "__main__":
    unittest.main()

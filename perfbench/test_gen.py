"""The input generator is a pure function of the seed.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import shutil
import tempfile
import unittest

import gen

WORK = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".work")


class SeededInputs(unittest.TestCase):
    def setUp(self):
        os.makedirs(WORK, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=WORK, prefix="test-gen-")

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def digests(self, seed, name):
        out = os.path.join(self.tmp, name)
        return {p: gen.generate(seed, out, p) for p in gen.PARTS}

    def test_same_seed_same_inputs(self):
        self.assertEqual(self.digests(7, "a"), self.digests(7, "b"))

    def test_other_seed_other_inputs(self):
        a, b = self.digests(7, "a"), self.digests(8, "b")
        for part in gen.PARTS:
            self.assertNotEqual(a[part], b[part], part)

    def test_digest_covers_file_bytes(self):
        d = self.digests(7, "a")
        out = os.path.join(self.tmp, "a", "tpch")
        with open(os.path.join(out, "query_draw.json"), "a") as f:
            f.write(" ")
        self.assertNotEqual(d["tpch"], gen.digest(out))


if __name__ == "__main__":
    unittest.main()

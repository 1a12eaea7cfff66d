"""Determinism of the input generator: the same seed gives byte-identical
documents and micro-batches, a different seed gives different ones.

    python3 -m unittest discover -s kbbench/tests

Builds the benchmark first if needed (see kbbench/build.py).
"""
import os
import subprocess
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import build  # noqa: E402


def gen_digest(seed: int, n: int = 300) -> dict:
    b = build.ensure()
    cp = os.pathsep.join([str(b["classes"]), str(b["jars"] / "*")])
    out = subprocess.run(
        ["java", "-Xmx512m", "-XX:-UsePerfData", "-cp", cp, "kbbench.Main", "--seed", str(seed),
         "--gen-digest", str(n)],
        capture_output=True, text=True, check=True, timeout=120).stdout
    return dict(ln.split(" ", 1) for ln in out.strip().splitlines())


class GenTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.a1, cls.a2, cls.b = gen_digest(1), gen_digest(1), gen_digest(2)

    def test_same_seed_same_inputs(self):
        self.assertEqual(self.a1, self.a2)
        self.assertEqual(set(self.a1), {"docs", "batches"})

    def test_other_seed_other_inputs(self):
        for k in self.a1:
            self.assertNotEqual(self.a1[k], self.b[k], k)

    def test_draw_size_changes_digest(self):
        self.assertNotEqual(gen_digest(1, 299)["docs"], self.a1["docs"])


if __name__ == "__main__":
    unittest.main()

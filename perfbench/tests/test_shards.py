"""Determinism of the stream workload's inputs: the same seed gives
byte-identical shard files, and a different seed gives the same action
mix. Builds the harness if needed and starts one JVM (about 30 s).

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import run  # noqa: E402


class ShardDeterminism(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.work = os.path.join(run.WORK_ROOT, f"test-shards-{os.getpid()}")
        shutil.rmtree(cls.work, ignore_errors=True)
        os.makedirs(cls.work)
        cmd = run.harness_cmd(cls.work, ["shards", "7,7,8", 0, 0, cls.work,
                                         os.path.join(cls.work, "unused.json")])
        subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                       timeout=600)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.work, ignore_errors=True)

    def shards(self, i):
        d = os.path.join(self.work, f"shards-{i}")
        return d, sorted(os.listdir(d))

    def mix(self, i):
        with open(os.path.join(self.work, f"mix-{i}.json")) as f:
            return json.load(f)

    def test_same_seed_gives_byte_identical_shards(self):
        (a, names_a), (b, names_b) = self.shards(0), self.shards(1)
        self.assertEqual(names_a, names_b)
        self.assertEqual(len(names_a), 4)
        _, mismatch, errors = filecmp.cmpfiles(a, b, names_a, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def test_other_seed_gives_other_records_and_the_same_action_mix(self):
        (a, names), (c, _) = self.shards(0), self.shards(2)
        with open(os.path.join(a, names[1]), "rb") as f, open(os.path.join(c, names[1]), "rb") as g:
            self.assertNotEqual(f.read(), g.read())
        m0, m2 = self.mix(0), self.mix(2)
        self.assertEqual(set(m0), set(m2))
        self.assertEqual(sum(m0.values()), sum(m2.values()))
        total = sum(m0.values())
        for action in m0:
            # the seed shift keeps every small-modulus residue; only the
            # rare large-prime rules (mod 29..53) may move a record or two
            self.assertLessEqual(abs(m0[action] - m2[action]), 0.01 * total, action)


if __name__ == "__main__":
    unittest.main()

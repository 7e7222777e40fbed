"""The seeded OSM generator gives identical bytes for one seed and
different bytes for two seeds. Builds the benchmark first if needed.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import os
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import build  # noqa: E402


def generate(classes, jars, out, seed):
    subprocess.run(["java", "-Xmx1g", "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
                    "perfbench.OsmGen", out, str(seed)], check=True)
    with open(out, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        classes, jars = build.build(), build.spark_jars()
        with tempfile.TemporaryDirectory(dir=build.BUILD) as d:
            a = generate(classes, jars, os.path.join(d, "a.osm"), 7)
            b = generate(classes, jars, os.path.join(d, "b.osm"), 7)
            c = generate(classes, jars, os.path.join(d, "c.osm"), 8)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)


if __name__ == "__main__":
    unittest.main()

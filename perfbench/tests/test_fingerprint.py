"""Runs FingerprintCheck.scala against the harness's Fingerprint.scala.

Run from the repository root: python3 -m unittest discover perfbench/tests
"""
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
sys.path.insert(0, str(BENCH))
import build  # noqa: E402


class FingerprintTest(unittest.TestCase):
    def test_canonicalisation(self):
        try:
            cp = build.spark_classpath()
        except build.BuildError as e:
            self.skipTest(str(e))
        out = BENCH.parent / ".bench_build" / "fingerprint-check"
        build.scalac([BENCH / "harness" / "Fingerprint.scala", HERE / "FingerprintCheck.scala"],
                     out)
        run = subprocess.run(
            ["java", "-cp", f"{out}:{cp}", "perfbench.FingerprintCheck"],
            capture_output=True, text=True, timeout=120)
        self.assertEqual(run.returncode, 0, run.stdout + run.stderr)


if __name__ == "__main__":
    unittest.main()

"""Runs the JVM-side result canonicalization checks (perfbench.SelfTest)."""
import subprocess
import unittest

from _path import build


class Canonicalization(unittest.TestCase):
    def test_jvm_self_test(self):
        try:
            classes = build.ensure(quiet=True)
        except build.BuildError as e:
            self.skipTest(f"cannot build the harness: {e}")
        r = subprocess.run(["java", "-cp", build.classpath(classes), "perfbench.SelfTest"],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        self.assertEqual(r.returncode, 0, r.stdout)
        self.assertNotIn("FAIL", r.stdout)


if __name__ == "__main__":
    unittest.main()

import hashlib
import tempfile
import unittest
from pathlib import Path

from _path import gen

SMALL = [gen.WindowSpec(repos=40, branches=200, issues=400),
         gen.WindowSpec(repos=30, branches=150, issues=300)]


def window_bytes(seed):
    out = []
    with tempfile.TemporaryDirectory() as d:
        for i, (files, exp) in enumerate(gen.ingest_windows(seed, SMALL)):
            gen.write_window(Path(d) / str(i), files)
            for name in sorted(files):
                out.append((i, name, (Path(d) / str(i) / name).read_bytes()))
            out.append((i, "expected", repr(exp).encode()))
    return out


class RawWindows(unittest.TestCase):
    def test_same_seed_gives_identical_bytes(self):
        self.assertEqual(window_bytes(7), window_bytes(7))

    def test_other_seed_gives_other_bytes(self):
        self.assertNotEqual(window_bytes(7), window_bytes(8))

    def test_layout_and_expectations(self):
        (files, exp), (files2, exp2) = gen.ingest_windows(3, SMALL)
        self.assertEqual(sorted(files), ["branches_raw.json", "issues_raw.json", "repos_raw.json"])
        a = exp["audits"]
        for ent in ("repos", "branches", "issues"):
            self.assertLess(a[ent][1], a[ent][0], f"{ent}: drops expected")
        self.assertEqual(a["owners"][0], a["repos"][1])
        self.assertEqual(a["users"][0], a["issues"][1])
        # dimensions only grow across windows
        for dim in ("owners", "users"):
            self.assertGreaterEqual(exp2["dims"][dim][0], exp["dims"][dim][0])
        # the second window re-sends records of the first
        ids1 = {r["id"] for r in files["repos_raw.json"]}
        self.assertTrue(ids1 & {r["id"] for r in files2["repos_raw.json"]})
        self.assertTrue(any(r["repo_name"].startswith("gone-repo-") for r in files["issues_raw.json"]))

    def test_login_hash_is_order_insensitive(self):
        self.assertEqual(gen.login_hash(["a", "b"]), gen.login_hash(["b", "a"]))
        want = sum(int.from_bytes(hashlib.sha256(s.encode()).digest()[:8], "big")
                   for s in ["a", "b"]) % (1 << 64)
        self.assertEqual(gen.login_hash(["a", "b"]), format(want, "016x"))


class AnalyticsTables(unittest.TestCase):
    def test_same_seed_gives_identical_tables(self):
        a = gen.analytics_tables(0.001, 42)
        b = gen.analytics_tables(0.001, 42)
        self.assertEqual(sorted(a), ["customer", "documents", "embeddings", "events",
                                     "lineitem", "nation", "orders", "part", "region",
                                     "supplier"])
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)

    def test_other_seed_gives_other_tables(self):
        a = gen.analytics_tables(0.001, 42)["lineitem"]
        b = gen.analytics_tables(0.001, 43)["lineitem"]
        self.assertFalse(a.equals(b))


if __name__ == "__main__":
    unittest.main()

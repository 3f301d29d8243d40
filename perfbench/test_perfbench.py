"""The benchmark's own tests: python3 -m unittest discover -s perfbench -p 'test_*.py'"""
import hashlib
import json
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import check  # noqa: E402
import gen  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def digest(directory):
    h = hashlib.sha256()
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as f:
            h.update(name.encode() + hashlib.sha256(f.read()).digest())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_tables_are_byte_deterministic_per_seed(self):
        with tempfile.TemporaryDirectory() as d:
            runs = {}
            for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
                os.makedirs(os.path.join(d, tag))
                gen.write_tables(os.path.join(d, tag), 0.001, seed)
                runs[tag] = digest(os.path.join(d, tag))
            self.assertEqual(runs["a"], runs["b"])
            self.assertNotEqual(runs["a"], runs["c"])

    def test_text_is_byte_deterministic_per_seed(self):
        with tempfile.TemporaryDirectory() as d:
            for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
                gen.zipf_text(os.path.join(d, tag), seed, 1 << 18, vocab=1 << 16)
            read = {t: open(os.path.join(d, t), "rb").read() for t in "abc"}
            self.assertEqual(read["a"], read["b"])
            self.assertNotEqual(read["a"], read["c"])

    def test_text_counts_are_exact(self):
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "t")
            words, lens, counts = gen.zipf_text(path, 3, 1 << 18, vocab=1 << 16)
            seen = {}
            for line in open(path, "rb").read().splitlines():
                for w in line.split(b" "):
                    seen[w] = seen.get(w, 0) + 1
            want = {words[i, :lens[i]].tobytes(): int(c) for i, c in enumerate(counts)}
            self.assertEqual(seen, want)


class WordCountCheckTest(unittest.TestCase):
    def layout(self, d):
        words, lens, counts = gen.zipf_text(os.path.join(d, "t"), 5, 1 << 16, vocab=1 << 12)
        expected = gen.reference_layout(words, lens, counts, 4)
        for r, body in enumerate(expected, 1):
            with open(os.path.join(d, f"wc-{r}.out"), "wb") as f:
                f.write(body)
        return expected

    def test_accepts_the_reference_layout(self):
        with tempfile.TemporaryDirectory() as d:
            expected = self.layout(d)
            self.assertEqual(gen.check_reference_layout(d, "wc", expected), [])
            for body in expected:
                keys = [ln.split(b" ")[0] for ln in body.splitlines()]
                self.assertEqual(keys, sorted(keys))

    def test_rejects_one_changed_count(self):
        with tempfile.TemporaryDirectory() as d:
            expected = self.layout(d)
            path = os.path.join(d, "wc-2.out")
            lines = open(path, "rb").read().splitlines(keepends=True)
            word, count = lines[3].split()
            lines[3] = b"%s %d\n" % (word, int(count) + 1)
            with open(path, "wb") as f:
                f.write(b"".join(lines))
            problems = gen.check_reference_layout(d, "wc", expected)
            self.assertEqual(len(problems), 1)
            self.assertIn("wc-2.out differs at line 4", problems[0])

    def test_routes_by_first_byte_with_the_r_remap(self):
        words, lens = gen.word_bytes(np.arange(26))
        out = gen.reference_layout(words, lens, np.ones(26, int), 4)
        # 'd' is 100 and 'h' 104: both are 0 mod 4, so reducer 4.
        self.assertIn(b"d 1\n", out[3])
        self.assertIn(b"h 1\n", out[3])
        self.assertIn(b"a 1\n", out[0])  # 97 mod 4 = 1


class OracleCheckTest(unittest.TestCase):
    def write(self, d, name, table):
        os.makedirs(os.path.join(d, name))
        pq.write_table(table, os.path.join(d, name, "part-0.parquet"))

    def test_rounds_doubles_to_four_places(self):
        with tempfile.TemporaryDirectory() as d:
            self.write(d, "q", pa.table({"x": [1.00004]}))
            got = check.load_result(d, "q", need_atomic=True)
        self.assertIsNone(check.compare(got, (["x"], check.check_oracle.canon([(1.0,)]))))
        self.assertIsNotNone(check.compare(got, (["x"], check.check_oracle.canon([(1.0002,)]))))

    def test_rejects_nested_columns_against_an_oracle(self):
        with tempfile.TemporaryDirectory() as d:
            self.write(d, "q", pa.table({"x": [[1, 2]]}))
            self.assertIn("non-atomic", check.load_result(d, "q", need_atomic=True))
            self.assertIsInstance(check.load_result(d, "q", need_atomic=False), tuple)

    def test_a_failed_query_is_a_failed_check(self):
        with tempfile.TemporaryDirectory() as d:
            with open(os.path.join(d, "q.error"), "w") as f:
                f.write("boom")
            got = check.load_result(d, "q", need_atomic=False)
        self.assertEqual(check.compare(got, (["x"], [])), "query failed: boom")


class MetricNamesTest(unittest.TestCase):
    def test_names_and_units(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            spec = json.load(f)
        names = [w["name"] for w in spec["workloads"]]
        names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        for n in names:
            self.assertTrue(NAME.fullmatch(n), n)
            self.assertLessEqual(len(n), 64)
        self.assertEqual(len(names), len(set(names)))
        sources = "".join(open(os.path.join(HERE, p)).read() for p in (
            "run.py", os.path.join("src", "main", "scala", "perfbench", "Tracer.scala")))
        for m in spec["end_to_end"] + spec["per_layer"]:
            parts = m["name"].split(".")
            made = f'"{parts[1]}"' if parts[0] == "module" else f'"{m["name"]}"'
            self.assertIn(made, sources, f"{m['name']} is not produced by the benchmark")


if __name__ == "__main__":
    unittest.main()

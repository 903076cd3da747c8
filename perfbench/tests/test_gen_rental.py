"""Determinism and shape of the rental generator.

Run from the root of the repository:
  python3 -m unittest discover -s perfbench/tests
"""
import csv
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen_rental  # noqa: E402


def generated(seed, rows=2000):
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "raw.csv")
        gen_rental.generate(path, seed, rows)
        with open(path, "rb") as f:
            return f.read()


class GenRentalTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        self.assertEqual(generated(7), generated(7))

    def test_different_seeds_different_bytes(self):
        self.assertNotEqual(generated(7), generated(8))

    def test_schema_sentinels_and_wroclaw(self):
        for seed in range(20):
            rows = list(csv.reader(generated(seed, rows=50).decode("utf-8").splitlines()))
            header, body = rows[0], rows[1:]
            self.assertEqual(header, gen_rental.COLS)
            self.assertEqual(len(body), 50)
            self.assertTrue(all(len(r) == 29 for r in body))
            city = header.index("miasto")
            self.assertIn("Wrocław", {r[city] for r in body}, f"seed {seed}")

    def test_variants_present(self):
        body = generated(1).decode("utf-8")
        for variant in (gen_rental.BRAK, " zł", ",50 zł", "ul. ", "od zaraz", "junk-date"):
            self.assertIn(variant, body)


if __name__ == "__main__":
    unittest.main()

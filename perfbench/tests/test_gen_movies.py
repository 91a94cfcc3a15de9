import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen_movies  # noqa: E402

SMALL = dict(n_wiki=300, n_kaggle=900, n_ratings=5000, ratings_per_file=2000)


class GenMoviesTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.root = self.tmp.name

    def tearDown(self):
        self.tmp.cleanup()

    def gen(self, name, seed, sizes=SMALL):
        out = os.path.join(self.root, name)
        truth = gen_movies.generate(out, seed, **sizes)
        return out, truth

    def test_same_seed_gives_identical_inputs(self):
        a, ta = self.gen("a", 7)
        b, tb = self.gen("b", 7)
        self.assertEqual(gen_movies.input_fingerprint(a), gen_movies.input_fingerprint(b))
        self.assertEqual(ta, tb)

    def test_other_seed_gives_other_inputs(self):
        a, ta = self.gen("a", 7)
        b, tb = self.gen("b", 8)
        self.assertNotEqual(gen_movies.input_fingerprint(a), gen_movies.input_fingerprint(b))
        self.assertNotEqual(ta["movies_fingerprint"], tb["movies_fingerprint"])

    def test_files_follow_the_fixture_layout(self):
        out, truth = self.gen("a", 3)
        with open(f"{out}/wiki_movies.json") as fh:
            wiki = json.load(fh)
        self.assertEqual(len(wiki), SMALL["n_wiki"])
        keys = {k for r in wiki for k in r}
        for k in ("No. of episodes", "Directed by", "Director", "imdb_link", "Running time", "Length"):
            self.assertIn(k, keys)
        with open(f"{out}/movies_metadata.csv") as fh:
            header = fh.readline().strip().split(",")
            row = fh.readline()
        self.assertEqual(header, gen_movies.KAGGLE_COLUMNS)
        self.assertTrue(row.startswith(("False,", "True,")))
        files = sorted(os.listdir(f"{out}/ratings"))
        self.assertEqual(len(files), 3)
        with open(f"{out}/ratings/{files[0]}") as fh:
            lines = fh.read().splitlines()
        self.assertEqual(len(lines), 1 + SMALL["ratings_per_file"])
        user, movie, rating, ts = lines[1].split(",")
        self.assertIn(rating, gen_movies.RATINGS)
        self.assertTrue(gen_movies.FIRST_TS <= int(ts) < gen_movies.LAST_TS)
        self.assertEqual(truth["ratings_loaded"], SMALL["n_ratings"])

    def test_truth_funnel_narrows(self):
        _, t = self.gen("a", 5)
        self.assertGreater(t["rows_wiki_in"], t["rows_after_filter"])
        self.assertGreater(t["rows_after_filter"], t["rows_after_dedup"])
        self.assertGreater(t["rows_after_dedup"], t["rows_movies"])
        self.assertEqual(t["rows_movies"], t["rows_with_ratings"])

    def test_cache_reuses_and_evicts(self):
        cache = os.path.join(self.root, "cache")
        first = gen_movies.cached(cache, 1, keep=2, **SMALL)
        stamp = os.path.getmtime(f"{first}/truth.json")
        self.assertEqual(gen_movies.cached(cache, 1, keep=2, **SMALL), first)
        self.assertEqual(os.path.getmtime(f"{first}/truth.json"), stamp)
        gen_movies.cached(cache, 2, keep=2, **SMALL)
        gen_movies.cached(cache, 3, keep=2, **SMALL)
        self.assertEqual(len(os.listdir(cache)), 2)


if __name__ == "__main__":
    unittest.main()

"""Corpus generator: determinism per seed and the expected counts it
derives from its own structure.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import random
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402


def snapshot(docs):
    return [(d.name, d.data, d.chunks, d.charts, d.dup_of, d.junk) for d in docs]


class Determinism(unittest.TestCase):
    def test_same_seed_same_corpus(self):
        a = gen.corpus(7, 30, "doc", dup_share=0.2, junk_share=0.1)
        b = gen.corpus(7, 30, "doc", dup_share=0.2, junk_share=0.1)
        self.assertEqual(snapshot(a), snapshot(b))

    def test_other_seed_other_corpus(self):
        a = gen.corpus(7, 30, "doc")
        b = gen.corpus(8, 30, "doc")
        self.assertNotEqual([d.data for d in a], [d.data for d in b])

    def test_prefixes_are_independent_streams(self):
        a = gen.corpus(7, 10, "doc")
        b = gen.corpus(7, 10, "warm")
        self.assertNotEqual([d.data for d in a], [d.data for d in b])


class Counts(unittest.TestCase):
    def test_chunk_rule(self):
        H, T = ("heading", 0), (lambda n: ("text", n))
        # short sections merge until the minimum is reached
        self.assertEqual(gen.count_chunks([H, T(50), H, T(60)]), 1)
        # a heading closes a chunk that holds the minimum
        self.assertEqual(gen.count_chunks([H, T(100), H, T(10)]), 2)
        # a paragraph that would pass the maximum opens a new chunk
        self.assertEqual(gen.count_chunks([H, T(1500), T(600)]), 2)
        # ... unless the open chunk is still below the minimum
        self.assertEqual(gen.count_chunks([H, T(50), T(1990)]), 1)
        self.assertEqual(gen.count_chunks([]), 0)

    def test_cost_factors_are_stratified(self):
        for seed in range(5):
            docs = gen.corpus(seed, 40, "doc")
            self.assertEqual(sum(d.charts for d in docs), 40 * 2)
            self.assertEqual(sum(d.pages for d in docs), 40 * 10 // 4)
            self.assertEqual(sum(d.long_section for d in docs), 4)
            self.assertTrue(all(d.tokens > 2000 for d in docs if d.long_section))

    def test_chart_markers_match_counts(self):
        for d in gen.corpus(3, 20, "doc"):
            lines = d.data.decode("utf-8").split("\n")
            markers = [ln for ln in lines if ln.strip().startswith(("TABLE:", "FIGURE:"))]
            self.assertEqual(len(markers), d.charts)

    def test_page_count(self):
        for d in gen.corpus(3, 20, "doc"):
            self.assertEqual(d.data.decode("utf-8").count("\f") + 1, d.pages)

    def test_planted_shares_are_exact(self):
        for seed in range(5):
            docs = gen.corpus(seed, 100, "cur", dup_share=0.15, junk_share=0.06)
            self.assertEqual(sum(1 for d in docs if d.dup_of), 15)
            self.assertEqual(sum(1 for d in docs if d.junk), 6)
            self.assertIsNone(docs[0].dup_of)

    def test_minimum_document_length(self):
        for seed in range(5):
            docs = gen.corpus(seed, 60, "cur", dup_share=0.15, junk_share=0.06,
                              min_tokens=100)
            self.assertTrue(all(d.tokens >= 100 for d in docs))
        # without the minimum, a one-section document can fall under it
        self.assertTrue(any(d.tokens < 100 for s in range(5)
                            for d in gen.corpus(s, 60, "cur")))

    def test_near_duplicates_keep_layout(self):
        docs = gen.corpus(11, 60, "cur", dup_share=0.3)
        by_name = {d.name: d for d in docs}
        dups = [d for d in docs if d.dup_of]
        self.assertTrue(dups)
        for d in dups:
            src = by_name[d.dup_of]
            self.assertEqual((d.chunks, d.charts, d.pages), (src.chunks, src.charts, src.pages))
            self.assertNotEqual(d.data, src.data)
            a, b = d.data.split(), src.data.split()
            self.assertEqual(len(a), len(b))
            self.assertLess(sum(x != y for x, y in zip(a, b)) / len(a), 0.05)

    def test_headings_and_paragraphs_are_distinguishable(self):
        # the layout convention: a heading ends in ':' with <= 8 words,
        # no paragraph line does
        rng = random.Random(1)
        d = gen.make_doc(rng, "x.pdf", page_sections=[1, 3, 2],
                         short=[True, False, True, False, False, False],
                         n_charts=2, long_section=True)
        for ln in d.data.decode("utf-8").replace("\f", "\n").split("\n"):
            s = ln.strip()
            if s and not s.startswith(("TABLE:", "FIGURE:")):
                self.assertEqual(s.endswith(":"), len(s.split()) <= 8, s[:60])


if __name__ == "__main__":
    unittest.main()

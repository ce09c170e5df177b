"""Tests of the seeded input generators: the same seed gives the same
bytes, and the planted counts the output checks rely on are exact.

    python3 -m unittest discover -s loadbench/tests
"""

import hashlib
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import gen  # noqa: E402


def digest(x):
    return hashlib.sha256(repr(x).encode()).hexdigest()


class FleetTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        a, _ = gen.fleet(7, 6, 50)
        b, _ = gen.fleet(7, 6, 50)
        c, _ = gen.fleet(8, 6, 50)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)
        ids = [f"M{m:04d}" for m in range(6)]
        self.assertEqual(gen.fleet_questions(7, ids, 9), gen.fleet_questions(7, ids, 9))

    def test_reference_schema_and_nulls(self):
        text, truth = gen.fleet(3, 20, 200, null_share=0.05)
        lines = text.splitlines()
        self.assertEqual(lines[0], gen.FLEET_HEADER)
        rows = [l.split(",") for l in lines[1:]]
        self.assertTrue(all(len(r) == 17 for r in rows))
        # non-padded month/day/hour, two-digit minutes
        self.assertEqual(rows[0][3].split(" ")[0], "1/1/2024")
        self.assertRegex(rows[-1][3], r"^\d{1,2}/\d{1,2}/\d{4} \d{1,2}:\d{2}$")
        empty = sum(r[4] == "" for r in rows) / len(rows)
        self.assertGreater(empty, 0.02)
        self.assertLess(empty, 0.08)
        # nulls reach the truth as the ingest's fill defaults
        filled = [row for rows_ in truth.values() for row in rows_]
        self.assertIn(75.0, [row[2] for row in filled])
        self.assertIn("Unknown", [row[8] for row in filled])

    def test_answers_follow_the_accessor_contracts(self):
        _, truth = gen.fleet(5, 4, 30)
        m = "M0002"
        latest = gen.fleet_answer(truth, f"latest\t{m}\t3").split(" ")
        epochs = sorted((r[0] for r in truth[m]), reverse=True)
        self.assertEqual([int(x) for x in latest], epochs[:3])
        top = gen.fleet_answer(truth, "highestTemperature\t2").split(" ")
        self.assertEqual(len(top), 2)
        self.assertEqual(len(gen.fleet_answer(truth, "byStatusAll").split(" ")), 4)

    def test_warmup_passes_a_manifest_checkpoint(self):
        ids = [f"M{m:04d}" for m in range(5)]
        warm = gen.fleet_warmup(1, ids)
        self.assertGreaterEqual(sum(l.startswith("log\t") for l in warm), 33)
        self.assertEqual(warm[-1], "maintain")


class CorpusTest(unittest.TestCase):
    def setUp(self):
        self.lines, self.truth = gen.corpus(11, 300, 60, 80, 20)

    def test_same_seed_same_bytes(self):
        again, _ = gen.corpus(11, 300, 60, 80, 20)
        self.assertEqual(digest(self.lines), digest(again))
        other, _ = gen.corpus(12, 300, 60, 80, 20)
        self.assertNotEqual(digest(self.lines), digest(other))

    def test_planted_counts_are_exact(self):
        texts = [l.split("\t", 2)[2] for l in self.lines]
        self.assertEqual(len(texts), self.truth["raw"])
        good = [t for t in texts
                if len(t) >= 20 and len(t.split(" ")) >= 5
                and len(set(t.split(" "))) * 1000000 // len(t.split(" ")) >= 300000]
        self.assertEqual(len(good), self.truth["after_quality"])
        distinct = {t.lower() for t in good}
        self.assertEqual(len(distinct), self.truth["after_exact_dedup"])
        # near copies share all but their last word with their family base
        families = {t.rsplit(" ", 1)[0] for t in distinct}
        self.assertEqual(len(families), self.truth["after_near_dup"])

    def test_every_near_copy_is_detectable(self):
        texts = sorted({l.split("\t", 2)[2].lower() for l in self.lines})
        by_stem = {}
        for t in texts:
            if len(t.split(" ")) >= 5:
                by_stem.setdefault(t.rsplit(" ", 1)[0], []).append(t)
        clusters = [ts for ts in by_stem.values() if len(ts) > 1]
        self.assertEqual(len(clusters), 80)
        for ts in clusters:
            sigs = [gen.signature(gen.shingles_of(t)) for t in ts]
            # each copy pairs with some member of its cluster
            for i, s in enumerate(sigs):
                self.assertTrue(any(gen.detected(s, o)
                                    for j, o in enumerate(sigs) if j != i))


class LakeTest(unittest.TestCase):
    def test_same_seed_same_bytes_and_steady_size(self):
        docs, plan, starts = gen.lake(4, 6, window=3, appends=3, batch=20,
                                      maintain_every=2, probes=2)
        again = gen.lake(4, 6, window=3, appends=3, batch=20,
                         maintain_every=2, probes=2)
        self.assertEqual((docs, plan, starts), again)
        sizes = []
        for c in range(len(starts)):
            end = starts[c + 1] if c + 1 < len(starts) else len(plan)
            table, _ = gen.lake_model(docs, plan[:end])
            sizes.append(len(table))
        # after the window fills, retention keeps the live size flat
        self.assertLessEqual(max(sizes[3:]) - min(sizes[3:]), 20)

    def test_replay_lands_nothing(self):
        docs, plan, _ = gen.lake(5, 2, window=2, appends=2, batch=10,
                                 maintain_every=2, probes=1)
        with_replay, _ = gen.lake_model(docs, plan)
        without, _ = gen.lake_model(docs, [l for l in plan
                                           if not l.startswith("replay")])
        self.assertEqual(with_replay, without)


if __name__ == "__main__":
    unittest.main()

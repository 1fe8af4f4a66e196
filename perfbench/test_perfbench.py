"""Tests of the benchmark's own generator and arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import os
import shutil
import tempfile
import unittest

import gen
import stats


def _files(root):
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


class GeneratorTest(unittest.TestCase):
    SCALE = 2

    def setUp(self):
        base = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                            ".bench_out")
        os.makedirs(base, exist_ok=True)
        self.tmp = tempfile.mkdtemp(prefix="gen-test-", dir=base)

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def generate(self, name, seed):
        root = os.path.join(self.tmp, name)
        c = gen.corpus(root, seed, self.SCALE)
        a = gen.arrivals(root, seed, self.SCALE, 2, 10, 10)
        return _files(c["dir"]), _files(a["dir"]), c, a

    def test_one_seed_gives_identical_bytes_and_another_seed_does_not(self):
        c1, a1, meta, arr = self.generate("first", 7)
        c2, a2, _, _ = self.generate("second", 7)
        self.assertEqual(c1, c2)
        self.assertEqual(a1, a2)
        self.assertEqual(len(c1), gen.CORPUS_FILES + 1)  # parts + fingerprint
        self.assertEqual(meta["posts"], gen.SOURCE_POSTS * self.SCALE)
        self.assertEqual(arr["files"], 20)

        c3, a3, _, _ = self.generate("third", 8)
        self.assertNotEqual(c1, c3)
        self.assertNotEqual(a1, a3)

    def test_cached_inputs_are_reused_only_on_a_matching_fingerprint(self):
        c = gen.corpus(self.tmp, 3, self.SCALE)
        part = os.path.join(c["dir"], "documents.parquet", "part-00000.parquet")
        before = os.path.getmtime(part)
        gen.corpus(self.tmp, 3, self.SCALE)
        self.assertEqual(os.path.getmtime(part), before)
        with open(os.path.join(c["dir"], "FINGERPRINT.json"), "w") as f:
            f.write('{"seed": 4}')
        gen.corpus(self.tmp, 3, self.SCALE)
        self.assertTrue(os.path.exists(part))
        self.assertTrue(gen._fresh(c["dir"], {
            "gen_version": gen.GEN_VERSION, "seed": 3, "scale": self.SCALE,
            "source": c["fingerprint"]}))

    def test_replica_rewrite_matches_scale_blowup(self):
        self.assertEqual(gen.replica_text("ab c-1 ñx", 0), "ab c-1 ñx")
        self.assertEqual(gen.replica_text("ab c-1 ñx", 3), "abx3 cx3-1x3 ñxx3")


class PercentileTest(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertEqual(stats.tail_percentile(list(range(1, 101))), (0.9, 90))
        # 50 samples: p90 has only 5 beyond, p75 has 12.5
        self.assertEqual(stats.tail_percentile(list(range(50, 0, -1))), (0.75, 38))
        # 15 samples: no tail percentile qualifies, the median is used
        self.assertEqual(stats.tail_percentile(list(range(1, 16))), (0.5, 8))


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_are_subtracted_once(self):
        parent = {"start": 0.0, "end": 10.0}
        children = [{"start": 1.0, "end": 4.0}, {"start": 3.0, "end": 6.0},
                    {"start": 9.0, "end": 12.0}]
        # covered: [1, 6] and [9, 10] -> 6 s of the 10
        self.assertAlmostEqual(stats.self_time(parent, children), 4.0)

    def test_no_children_is_the_whole_span(self):
        self.assertAlmostEqual(stats.self_time({"start": 2.0, "end": 5.5}, []), 3.5)


def _stream_record(committed, mismatched=0):
    arrivals = [{"index": i, "scheduled": float(i), "moved": float(i) + 2.0,
                 "committed": c, "posts": 10} for i, c in enumerate(committed)]
    return {"arrivals": arrivals, "window_start": 0.0, "setup_s": [1.0, 2.0, 3.0],
            "polls": [{"start": 0.0, "end": 1.0, "files": 1, "error": None}],
            "check": {"rows": 100, "distinct": 100, "mismatched": mismatched}}


class FreshnessTest(unittest.TestCase):
    def test_freshness_counts_from_the_scheduled_time(self):
        # the generator moved arrival 0 two seconds late; the wait counts
        rec = _stream_record([2.5, 3.0])
        self.assertEqual(stats.freshness(rec["arrivals"]), [2.5, 2.0])
        _, _, e2e, _ = stats.stream_outcome(rec)
        self.assertEqual(e2e["freshness_s_p50"], 2.0)
        self.assertAlmostEqual(e2e["posts_per_s"], 20 / 3.0)


class ErrorRateTest(unittest.TestCase):
    def test_a_wrong_store_row_is_a_failure(self):
        attempted, failed, _, _ = stats.stream_outcome(_stream_record([1.0, 2.0], 1))
        self.assertEqual((attempted, failed), (3, 1))
        self.assertAlmostEqual(stats.error_rate(attempted, failed), 1 / 3)

    def test_an_uncommitted_arrival_is_a_failure(self):
        attempted, failed, _, _ = stats.stream_outcome(_stream_record([1.0, None]))
        self.assertEqual((attempted, failed), (3, 1))

    def test_a_pass_with_a_wrong_digest_is_a_failure(self):
        passes = [{"start": 0.0, "end": 2.0, "error": None, "rows": 5,
                   "distinct": 5, "digest": d} for d in ("ab", "ff", "ab")]
        rec = {"posts": 5, "passes": passes, "setup_s": [1.0]}
        attempted, failed, e2e, _ = stats.batch_outcome(rec, {"rows": 5, "digest": "ab"})
        self.assertEqual((attempted, failed), (3, 1))
        self.assertAlmostEqual(e2e["posts_per_s"], 2.5)


if __name__ == "__main__":
    unittest.main()

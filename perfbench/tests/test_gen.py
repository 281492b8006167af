"""The seeded generator: deterministic per seed, and every LWW outcome it
sets up is decided by timestamps that never tie.

Run: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402

P = dict(gen.PARAMS, orders=20_000)


class SeedTest(unittest.TestCase):
    def test_same_seed_same_op_stream(self):
        self.assertEqual(gen.serve(7, P), gen.serve(7, P))

    def test_other_seed_other_op_stream(self):
        self.assertNotEqual(gen.serve(7, P)[0], gen.serve(8, P)[0])
        self.assertNotEqual(gen.serve(7, P)[1], gen.serve(8, P)[1])

    def test_same_seed_same_batches(self):
        self.assertEqual(gen.ingest(7, P), gen.ingest(7, P))

    def test_other_seed_other_batches(self):
        self.assertNotEqual(gen.ingest(7, P)[0], gen.ingest(8, P)[0])

    def test_generate_writes_identical_files(self):
        import tempfile
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            for w in ("triple_serve", "triple_ingest"):
                gen.generate(w, 3, os.path.join(a, w), a)
                gen.generate(w, 3, os.path.join(b, w), b)
                for f in sorted(os.listdir(os.path.join(a, w))):
                    with open(os.path.join(a, w, f)) as x, open(os.path.join(b, w, f)) as y:
                        self.assertEqual(x.read(), y.read(), f)


class ShapeTest(unittest.TestCase):
    def test_serve_mix(self):
        ops, sets = gen.serve(1, P)
        kinds = [o[0] for o in ops]
        self.assertAlmostEqual(kinds.count("search") / len(ops), 0.80, delta=0.03)
        self.assertAlmostEqual(kinds.count("merge") / len(ops), 0.05, delta=0.02)
        per_set = {}
        for r in sets:
            per_set.setdefault(r[0], []).append(r)
        self.assertEqual({len(v) for v in per_set.values()}, {gen.MERGE_KEYS})

    def test_update_timestamps_never_tie_with_the_store(self):
        _, sets = gen.serve(1, P)
        batches, _ = gen.ingest(1, P)
        for r in sets + batches:
            ts = int(r[4])
            self.assertFalse(gen.TS_LO <= ts < gen.TS_HI, r)

    def test_batches_stay_in_one_shard_with_unique_keys(self):
        batches, reads = gen.ingest(1, P)
        bounds = gen.boundaries(P)
        by_batch = {}
        for r in batches:
            by_batch.setdefault(r[0], []).append(r)
        for b, rows in by_batch.items():
            shards = {sum(1 for x in bounds if x <= r[1]) for r in rows}
            self.assertEqual(len(shards), 1, b)
            self.assertEqual(len({(r[1], r[2]) for r in rows}), len(rows))
        self.assertTrue(all(r[1] in {x[1] for x in by_batch[r[0]]} for r in reads))

    def test_batches_hold_stale_and_new_rows(self):
        batches, _ = gen.ingest(1, P)
        stale = [r for r in batches if int(r[4]) < gen.TS_LO]
        new = [r for r in batches if r[1].endswith("_new>")]
        self.assertGreater(len(stale), len(batches) // 10)
        self.assertGreater(len(new), len(batches) // 20)


if __name__ == "__main__":
    unittest.main()

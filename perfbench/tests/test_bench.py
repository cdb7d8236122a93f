"""Tests of the benchmark's own logic; no JVM needed.

    python3 perfbench/tests/test_bench.py
"""
import os
import random
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd  # noqa: E402

from bench import chain, draw, oracle, stats  # noqa: E402

NAMES = ([f'q{i:03d}_fuzz' for i in range(100, 300)] +
         [f'q{i:03d}_tpch_{i}' for i in range(20, 42)] +
         [f'q{i:03d}_dedup_x' for i in range(50, 59)] +
         [f'q{i:03d}_sharded_merge' for i in range(520, 530)] +
         [f'q{i:03d}_tfuzz3_{i}' for i in range(560, 570)] +
         ['q606_catalog_sql', 'q07_inversion', 'q08_window_rank'])


COST = {n: 100 + (i * 37) % 900 for i, n in enumerate(NAMES)}


def drawn(seed, n=20):
    return draw.draw(NAMES, seed, n, 3, cost=COST)


class DrawTest(unittest.TestCase):
    def test_same_seed_same_draw(self):
        self.assertEqual(drawn(7), drawn(7))

    def test_other_seed_other_draw(self):
        self.assertNotEqual(set(drawn(7)[1]), set(drawn(8)[1]))

    def test_warmup_and_timed_disjoint(self):
        for seed in range(20):
            warm, timed = drawn(seed)
            self.assertEqual(len(set(warm)), 3)
            self.assertEqual(len(set(timed)), 20)
            self.assertFalse(set(warm) & set(timed))
            self.assertTrue(set(warm + timed) <= set(draw.pool(NAMES)))

    def test_warmup_is_the_same_for_every_seed(self):
        self.assertEqual(len({tuple(drawn(seed)[0]) for seed in range(20)}), 1)
        self.assertEqual(chain.generate(1, 1, 2)['warmups'], chain.generate(2, 1, 2)['warmups'])

    def test_table_families_excluded(self):
        pool = draw.pool(NAMES)
        self.assertFalse([n for n in pool if 'sharded' in n or 'tfuzz' in n
                          or 'catalog' in n])

    def test_one_query_per_cost_class(self):
        warm = drawn(0)[0]
        ranked = sorted((q for q in draw.pool(NAMES) if q not in warm), key=lambda q: (COST[q], q))
        for seed in range(10):
            timed = set(drawn(seed, 10)[1])
            for i in range(10):
                cls = ranked[i * len(ranked) // 10:(i + 1) * len(ranked) // 10]
                self.assertEqual(len(timed & set(cls)), 1)

    def test_shipped_costs_cover_names(self):
        self.assertTrue(all(isinstance(v, int) and v > 0 for v in draw.costs().values()))


class ChainTest(unittest.TestCase):
    def test_same_seed_same_ops(self):
        self.assertEqual(chain.generate(5, 4, 3), chain.generate(5, 4, 3))

    def test_other_seed_other_ops(self):
        self.assertNotEqual(chain.generate(5, 4, 3)['ops'], chain.generate(6, 4, 3)['ops'])

    def test_every_seed_times_the_same_mix(self):
        def kinds(seed):
            spec = chain.generate(seed, 1, 3)
            return (sorted(o['kind'] for o in spec['ops']),
                    sorted(o['kind'] for o in spec['cdc_ops']))
        self.assertEqual(kinds(1), kinds(2))
        reads = [k for k in kinds(1)[0] if k in chain.READS]
        self.assertGreater(len(reads), stats.MIN_BEYOND)

    def test_asof_targets_stay_within_kept_versions(self):
        for seed in range(10):
            ops = chain.generate(seed, 6, 3)['ops']
            versioning = [i for i, o in enumerate(ops) if o['kind'] in chain.VERSIONING]
            for i, o in enumerate(ops):
                if o['kind'] == 'read_asof':
                    newer = [v for v in versioning if o['at'] < v < i]
                    self.assertLess(len(newer), chain.EXPIRE_KEEP)

    def _result(self, spec, n_ops):
        """What a correct harness returns after running n_ops chain ops."""
        model, records = chain.Model(), []
        for idx, op in enumerate(spec['ops'][:n_ops]):
            rec = {'kind': 'read' if op['kind'] in chain.READS else 'commit',
                   'name': op['kind'], 'ok': True}
            if op['kind'] in chain.READS:
                rec['rows'], rec['digest'] = model.expected(op)
            model.apply(idx, op)
            records.append(rec)
        return {'ops': records, 'ops_executed': n_ops, 'cdc_ops_executed': 0,
                'replica': {'rows': len(model.rows), 'digest': chain.digest(model.rows)}}

    def test_model_accepts_correct_reads(self):
        spec = chain.generate(11, 12, 3)
        verdicts, replica_ok, user_bytes = chain.check(spec, self._result(spec, 90))
        self.assertTrue(all(verdicts))
        self.assertTrue(replica_ok)
        self.assertGreater(user_bytes, 0)

    def test_model_catches_planted_wrong_row(self):
        spec = chain.generate(11, 12, 3)
        res = self._result(spec, 90)
        read = next(r for r in res['ops'] if r['name'] == 'read_full')
        model = chain.Model()
        plan = spec['ops'][:res['ops'].index(read) + 1]
        for idx, op in enumerate(plan[:-1]):
            model.apply(idx, op)
        wrong = dict(model.rows)
        some_id = next(iter(wrong))
        grp, val = wrong[some_id]
        wrong[some_id] = (grp, val + 1)
        read['digest'] = chain.digest(wrong)
        verdicts, _, _ = chain.check(spec, res)
        self.assertEqual(verdicts.count(False), 1)

    def test_model_catches_wrong_replica(self):
        spec = chain.generate(11, 12, 3)
        res = self._result(spec, 50)
        res['replica']['rows'] -= 1
        self.assertFalse(chain.check(spec, res)[1])


class TailTest(unittest.TestCase):
    def test_at_least_ten_beyond(self):
        rng = random.Random(0)
        for n in range(1, 400):
            xs = [rng.random() for _ in range(n)]
            p, v, count = stats.tail(xs)
            self.assertEqual(count, n)
            if n <= stats.MIN_BEYOND:
                self.assertIsNone(p)
                continue
            rank = sorted(xs).index(v) + 1
            self.assertGreaterEqual(n - rank, stats.MIN_BEYOND)
            # the next whole percentile would leave fewer than ten
            if p < 99:
                self.assertLess(n - max(1, -(-(p + 1) * n // 100)), stats.MIN_BEYOND)

    def test_hundred_samples_give_p90(self):
        self.assertEqual(stats.tail(list(range(100)))[:2], (90, 89))


class OracleTest(unittest.TestCase):
    def test_planted_wrong_row_is_caught(self):
        ref = pd.DataFrame({'b': [1.5, 2.5], 'a': ['x', 'y']})
        self.assertEqual(oracle.same(ref[['a', 'b']], ref), (True, ''))
        wrong = ref.copy()
        wrong.loc[1, 'b'] = 2.75
        self.assertEqual(oracle.same(wrong, ref), (False, 'values differ'))
        self.assertFalse(oracle.same(ref.iloc[:1], ref)[0])
        self.assertFalse(oracle.same(ref.astype({'b': 'float32'}), ref)[0])

    def test_duckdb_check_reads_outputs(self):
        with tempfile.TemporaryDirectory() as d:
            import duckdb
            con = duckdb.connect()
            os.makedirs(f'{d}/good')
            os.makedirs(f'{d}/bad')
            con.execute(f"COPY (SELECT range AS k, range * 2 AS v FROM range(5)) "
                        f"TO '{d}/good/part-0.parquet' (FORMAT parquet)")
            con.execute(f"COPY (SELECT range AS k, CASE WHEN range = 3 THEN 7 "
                        f"ELSE range * 2 END AS v FROM range(5)) "
                        f"TO '{d}/bad/part-0.parquet' (FORMAT parquet)")
            sql = 'SELECT range AS k, range * 2 AS v FROM range(5)'
            got = oracle.check(con, d, ['good', 'bad', 'missing'],
                               {'good': sql, 'bad': sql, 'missing': sql})
            self.assertTrue(got['good'][0])
            self.assertEqual(got['bad'], (False, 'values differ'))
            self.assertFalse(got['missing'][0])


if __name__ == '__main__':
    unittest.main()

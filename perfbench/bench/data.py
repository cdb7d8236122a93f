"""Deterministic input tables for the benchmark (seed 42).

The tables follow the star schema the query registry reads (region,
nation, customer, supplier, part, orders, lineitem, events, documents,
embeddings) with the same column types, key ranges and value domains.
Row counts scale with the scale factor: lineitem has 6,000,000 x sf
rows. The benchmark writes them once under its own data directory and
reuses them; the workload seed never changes them.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
TABLES = ['region', 'nation', 'customer', 'supplier', 'part', 'orders',
          'lineitem', 'events', 'documents', 'embeddings']
WORDS = ('a agg batch big column customer data fast filter group hash join '
         'key line merge order part query row scan slow small sort spark '
         'stream table the value vector window').split()
_DAY_US = 86_400_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span, n):
    base = np.datetime64(start, 'us')
    return base + rng.integers(0, span + 1, n).astype('timedelta64[D]')


def _choice(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def tables(sf):
    """Return {name: pyarrow.Table} for scale factor `sf` (e.g. 0.01)."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_user = int(15_000 * sf)
    out = {}
    out['region'] = pa.table({
        'r_regionkey': pa.array(range(5), pa.int32()),
        'r_name': ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST']})
    out['nation'] = pa.table({
        'n_nationkey': pa.array(range(25), pa.int32()),
        'n_name': [f'NATION_{i}' for i in range(25)],
        'n_regionkey': pa.array([i % 5 for i in range(25)], pa.int32())})
    out['customer'] = pa.table({
        'c_custkey': np.arange(n_cust, dtype=np.int64),
        'c_name': [f'Customer#{i:09d}' for i in range(n_cust)],
        'c_nationkey': rng.integers(0, 25, n_cust).astype(np.int32),
        'c_acctbal': _money(rng, -999.99, 9999.99, n_cust),
        'c_mktsegment': _choice(rng, ['AUTOMOBILE', 'BUILDING', 'FURNITURE',
                                      'HOUSEHOLD', 'MACHINERY'], n_cust)})
    out['supplier'] = pa.table({
        's_suppkey': np.arange(n_supp, dtype=np.int64),
        's_name': [f'Supplier#{i:09d}' for i in range(n_supp)],
        's_nationkey': rng.integers(0, 25, n_supp).astype(np.int32),
        's_acctbal': _money(rng, -999.99, 9999.99, n_supp)})
    adjs = ['blue', 'cold', 'hot', 'large', 'old', 'red', 'small', 'shiny']
    nouns = ['anvil', 'bolt', 'gear', 'gizmo', 'plate', 'ring', 'rod', 'widget']
    names = [f'{a} {b}' for a in adjs for b in nouns]
    keys = np.arange(n_part, dtype=np.int64)
    out['part'] = pa.table({
        'p_partkey': keys,
        'p_name': _choice(rng, names, n_part),
        'p_brand': _choice(rng, [f'Brand#{i}' for i in range(1, 26)], n_part),
        'p_type': _choice(rng, ['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL',
                                'STANDARD'], n_part),
        'p_size': rng.integers(1, 51, n_part).astype(np.int32),
        'p_retailprice': np.round(900.0 + (keys % 1000) / 10.0, 1)})
    out['orders'] = pa.table({
        'o_orderkey': np.arange(n_ord, dtype=np.int64),
        'o_custkey': rng.integers(0, n_cust, n_ord).astype(np.int64),
        'o_orderstatus': _choice(rng, ['F', 'O', 'P'], n_ord),
        'o_totalprice': _money(rng, 1000.0, 500000.0, n_ord),
        'o_orderdate': _days(rng, '1995-01-01', 2404, n_ord),
        'o_orderpriority': _choice(rng, ['1-URGENT', '2-HIGH', '3-MEDIUM',
                                         '4-NOT SPECIFIED', '5-LOW'], n_ord)})
    out['lineitem'] = pa.table({
        'l_orderkey': rng.integers(0, n_ord, n_line).astype(np.int64),
        'l_partkey': rng.integers(0, n_part, n_line).astype(np.int64),
        'l_suppkey': rng.integers(0, n_supp, n_line).astype(np.int64),
        'l_linenumber': rng.integers(1, 8, n_line).astype(np.int32),
        'l_quantity': rng.integers(1, 51, n_line).astype(np.float64),
        'l_extendedprice': _money(rng, 900.0, 105000.0, n_line),
        'l_discount': np.round(rng.uniform(0.0, 0.1, n_line), 2),
        'l_tax': np.round(rng.uniform(0.0, 0.08, n_line), 2),
        'l_returnflag': _choice(rng, ['A', 'N', 'R'], n_line),
        'l_linestatus': _choice(rng, ['F', 'O'], n_line),
        'l_shipdate': _days(rng, '1995-01-02', 2498, n_line)})
    gaps = rng.uniform(0, 2 * 30 * _DAY_US / n_ev, n_ev).cumsum()
    ts = np.datetime64('2024-01-01', 'us') + gaps.astype('timedelta64[us]')
    out['events'] = pa.table({
        'event_id': np.arange(n_ev, dtype=np.int64),
        'ts': pa.array(ts, pa.timestamp('us')),
        'user_id': rng.integers(0, n_user, n_ev).astype(np.int64),
        'event_type': _choice(rng, ['click', 'error', 'purchase', 'signup',
                                    'view'], n_ev),
        'value': np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        'props': [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for _ in range(n_doc):
        words = [WORDS[i] for i in rng.integers(0, len(WORDS), rng.integers(10, 100))]
        if rng.random() < 0.05:
            words += ['dup'] * int(rng.integers(1, 3))
        texts.append(' '.join(words))
    out['documents'] = pa.table({
        'doc_id': np.arange(n_doc, dtype=np.int64),
        'text': texts,
        'lang': _choice(rng, ['en', 'de', 'es', 'fr', 'zh'], n_doc,
                        p=[0.42, 0.145, 0.145, 0.145, 0.145]),
        'source': [f'src{i % 20}' for i in range(n_doc)],
        'n_chars': np.array([len(t) for t in texts], dtype=np.int64)})
    vecs = rng.normal(size=(n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out['embeddings'] = pa.table({
        'vec_id': np.arange(n_emb, dtype=np.int64),
        'embedding': pa.array(list(vecs), pa.list_(pa.float32())),
        'label': rng.integers(0, 10, n_emb).astype(np.int32)})
    return out


def ensure(root, sf):
    """Write the tables for `sf` under root/sf<sf>/ once; return the dir."""
    d = os.path.join(root, f'sf{sf}')
    done = os.path.join(d, '_COMPLETE')
    if not os.path.exists(done):
        os.makedirs(d, exist_ok=True)
        for name, tbl in tables(sf).items():
            pq.write_table(tbl, os.path.join(d, f'{name}.parquet'))
        open(done, 'w').close()
    return d

"""The table_chain workload: a seeded op sequence on one graft-sharded
table, and the in-process model every read is checked against.

Rows are (id, grp, val). Ids are unique; ranges are inclusive id ranges.
The chain is an initial write, then blocks of the same op kinds in the
same order (BLOCK), and CDC replication, one commit per window, in the
order of CDC_CYCLE. Batch sizes, range widths and as-of depth are fixed.
The seed chooses rows, values and range positions, not the kinds or their
order: with a seeded order, where the compaction fell decided how many
data dirs later reads listed, and the median read moved by a 0.36 spread
across five seeds. With a seeded as-of depth, one read_asof took 260 ms
or 1000 ms by the version it hit, and the run's total moved with it.

Versioning ops (write, append, merge, update, delete_where, compact)
create at most one table version each, so an as-of read ASOF_BACK
versioning ops ago stays within the versions that `expire` keeps.
"""
import hashlib
import random

INITIAL_ROWS = 4000
GROUPS = 8
EXPIRE_KEEP = 4
ASOF_BACK = 1
SMALL_DIR_ROWS = 2000
VERSIONING = ('write', 'append', 'merge', 'update', 'delete_where', 'compact')
COMMITS = VERSIONING + ('expire',)
READS = ('read_where', 'read_asof', 'read_full')
# Pruned reads are the cheap mode of the read latencies; most reads are
# pruned so that the median falls inside that mode, and a block's 13 reads
# give the tail percentile its ten samples.
_W = 'read_where'
BLOCK = ('append', _W, _W, 'merge', _W, 'read_asof', 'update', _W, _W, 'read_full',
         'delete_where', _W, _W, 'read_asof', 'compact', _W, 'read_full', 'expire', _W)
CDC_CYCLE = ('append', 'merge', 'update', 'delete_where')


class _Gen:
    def __init__(self, rng):
        self.rng = rng
        self.next_id = 0
        self.live = set()

    def row(self, i):
        return [i, f'g{self.rng.randrange(GROUPS)}', self.rng.randrange(1_000_000)]

    def new_rows(self, n):
        rows = [self.row(i) for i in range(self.next_id, self.next_id + n)]
        self.next_id += n
        self.live.update(r[0] for r in rows)
        return rows

    def id_range(self, share):
        width = max(1, int(self.next_id * share))
        lo = self.rng.randrange(0, max(1, self.next_id - width))
        return lo, lo + width

    def op(self, kind, versioning_idx):
        rng = self.rng
        if kind == 'append':
            return {'kind': kind, 'rows': self.new_rows(300)}
        if kind == 'merge':
            old = rng.sample(sorted(self.live), min(len(self.live), 75))
            return {'kind': kind, 'rows': [self.row(i) for i in sorted(old)] + self.new_rows(75)}
        if kind == 'update':
            lo, hi = self.id_range(0.05)
            return {'kind': kind, 'lo': lo, 'hi': hi, 'delta': rng.randrange(1, 1000)}
        if kind in ('delete_where', 'read_where'):
            lo, hi = self.id_range(0.01 if kind == 'delete_where' else 0.05)
            if kind == 'delete_where':
                self.live.difference_update(range(lo, hi + 1))
            return {'kind': kind, 'lo': lo, 'hi': hi}
        if kind == 'compact':
            return {'kind': kind, 'small_dir_rows': SMALL_DIR_ROWS}
        if kind == 'expire':
            return {'kind': kind, 'keep': EXPIRE_KEEP}
        if kind == 'read_asof':
            back = min(ASOF_BACK, len(versioning_idx) - 1)
            return {'kind': kind, 'at': versioning_idx[-1 - back]}
        return {'kind': kind}


def generate(seed, blocks, windows):
    """Returns {'ops', 'cdc_ops', 'warmups'} for the seed. `ops[0]` is the
    initial write; cdc ops index after the chain ops."""
    rng = random.Random(seed)
    g = _Gen(rng)
    ops = [{'kind': 'write', 'rows': g.new_rows(INITIAL_ROWS)}]
    versioning = [0]
    for _ in range(blocks):
        for kind in BLOCK:
            o = g.op(kind, versioning)
            if kind in VERSIONING:
                versioning.append(len(ops))
            ops.append(o)
    cdc = [g.op(CDC_CYCLE[i % len(CDC_CYCLE)], versioning) for i in range(windows)]
    return {'ops': ops, 'cdc_ops': cdc, 'warmups': warmup()}


def warmup():
    """The fixed warm-up: a small table of its own, then one pruned read."""
    g = _Gen(random.Random(0))
    return [{'kind': 'write', 'rows': g.new_rows(300)}, g.op('read_where', [0])]


class Model:
    """The table's expected content after each op, replayed in order."""

    def __init__(self):
        self.rows = {}
        self.after = {}  # versioning op index -> rows after it

    def apply(self, idx, op):
        kind = op['kind']
        rows = self.rows
        if kind == 'write':
            self.rows = rows = {}
        if kind in ('write', 'append', 'merge'):
            for i, grp, val in op['rows']:
                rows[i] = (grp, val)
        elif kind == 'update':
            for i in [i for i in rows if op['lo'] <= i <= op['hi']]:
                grp, val = rows[i]
                rows[i] = (grp, val + op['delta'])
        elif kind == 'delete_where':
            for i in [i for i in rows if op['lo'] <= i <= op['hi']]:
                del rows[i]
        if kind in VERSIONING:
            self.after[idx] = dict(rows)
            for old in [k for k in self.after if k < idx][:-EXPIRE_KEEP]:
                del self.after[old]

    def expected(self, op):
        """(row count, digest) a read op must return."""
        kind = op['kind']
        if kind == 'read_where':
            sel = {i: r for i, r in self.rows.items() if op['lo'] <= i <= op['hi']}
        elif kind == 'read_asof':
            sel = self.after[op['at']]
        else:
            sel = self.rows
        return len(sel), digest(sel)

    def user_bytes(self):
        """Raw bytes of the live rows: two longs plus the UTF-8 group."""
        return sum(16 + len(g.encode()) for g, _ in self.rows.values())


def digest(rows):
    """SHA-256 of `id|grp|val` lines in id order (the harness's digest)."""
    text = '\n'.join(f'{i}|{g}|{v}' for i, (g, v) in sorted(rows.items()))
    return hashlib.sha256(text.encode()).hexdigest()


def check(spec, result):
    """Replays the executed ops; returns (ok per op record, replica ok,
    user bytes). Op records are the harness's, in execution order."""
    model = Model()
    plan = spec['ops'][:result['ops_executed']]
    plan += spec['cdc_ops'][:result['cdc_ops_executed']]
    records = [r for r in result['ops'] if r['kind'] != 'window']
    verdicts = []
    for idx, (op, rec) in enumerate(zip(plan, records)):
        ok = rec['ok']
        if ok and op['kind'] in READS:
            ok = (rec['rows'], rec['digest']) == model.expected(op)
        model.apply(idx, op)
        verdicts.append(ok)
    rep = result.get('replica', {})
    replica_ok = (rep.get('rows'), rep.get('digest')) == (len(model.rows), digest(model.rows))
    return verdicts, replica_ok, model.user_bytes()

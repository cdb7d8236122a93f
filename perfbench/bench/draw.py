"""Seeded, cost-stratified draw of registry queries.

The pool is every registry query outside the table families
(`*sharded*`, `tfuzz*`, `catalog*`). Query costs vary about 20x, so a
draw stratified only by family leaves the median latency of a run to
chance (a 25-30% spread across seeds in a simulation over measured
costs). The draw therefore sorts the pool by the reference cost in
`query_costs.json` (the median of three timings of each query at sf0.01
on 4 cores, each in a fresh JVM set up as a benchmark run, 26 queries per
JVM in a shuffled order), cuts it into `n` classes of equal size, and takes one query from each
class, chosen by the seed among the CENTRAL members nearest the class's
median cost; a query missing from the table counts at the median cost.
Taking any member of a class still moved the run's median latency by a
0.35 spread across five seeds, because a query's cost in a fresh JVM
strays from its reference by +-20%; with a single timing as the reference,
some central pairs differed 2-4x in real cost (q237_fuzz timed 0.86 s once
and 1.2-3.4 s later), and the run's CPU time spread 0.096 across ten seeds.
The warm-up is fixed:
the `warmup_size` queries nearest the pool's lower-quartile cost, taken out of
the pool before the draw, so every seed sets up with the same work and
no timed query was compiled in the warm-up.
"""
import json
import os
import random
import re
import statistics

TABLE_FAMILY = re.compile(r'sharded|^q\d+_(tfuzz|catalog)')
COSTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), 'query_costs.json')
CENTRAL = 2


def pool(names):
    return sorted(n for n in names if not TABLE_FAMILY.search(n))


def costs():
    with open(COSTS) as f:
        return json.load(f)


def warmup(p, cost, mid, size):
    low = cost.get(sorted(p, key=lambda q: (cost.get(q, mid), q))[len(p) // 4], mid)
    return sorted(p, key=lambda q: (abs(cost.get(q, mid) - low), q))[:size]


def draw(names, seed, n, warmup_size, cost=None):
    """Returns (the fixed warm-up, timed queries in run order) for the seed."""
    rng = random.Random(seed)
    cost = costs() if cost is None else cost
    p = pool(names)
    mid = statistics.median(cost[q] for q in p if q in cost)
    warm = warmup(p, cost, mid, warmup_size)
    p = [q for q in p if q not in warm]
    ranked = sorted(p, key=lambda q: (cost.get(q, mid), q))
    timed = []
    for i in range(n):
        cls = ranked[i * len(p) // n:(i + 1) * len(p) // n]
        centre = cost.get(cls[len(cls) // 2], mid)
        near = sorted(cls, key=lambda q: (abs(cost.get(q, mid) - centre), q))
        timed.append(rng.choice(near[:CENTRAL]))
    rng.shuffle(timed)
    return warm, timed

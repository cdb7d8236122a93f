"""DuckDB check of query outputs against `SparkEntry.oracleSql`.

Same rule as the repository's oracle compare: columns sorted by name,
dtypes equal, then row count and stringified values equal in order.
"""
import duckdb

from . import data


def connect(sf_dir, threads=2):
    con = duckdb.connect()
    con.execute(f'SET threads = {int(threads)}')
    for t in data.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{sf_dir}/{t}.parquet')")
    return con


def same(mine, ref):
    """(ok, reason) for two pandas frames."""
    mine = mine.reindex(sorted(mine.columns), axis=1)
    ref = ref.reindex(sorted(ref.columns), axis=1)
    if list(mine.columns) != list(ref.columns) or \
            list(map(str, mine.dtypes)) != list(map(str, ref.dtypes)):
        return False, 'schema differs'
    if len(mine) != len(ref):
        return False, f'rows {len(mine)} != {len(ref)}'
    if not mine.astype(str).reset_index(drop=True).equals(
            ref.astype(str).reset_index(drop=True)):
        return False, 'values differ'
    return True, ''


def check(con, outputs_dir, names, oracle_sql):
    """{name: (ok, reason)} for each query output under outputs_dir."""
    out = {}
    for name in names:
        try:
            mine = con.execute(
                f"SELECT * FROM parquet_scan('{outputs_dir}/{name}/*.parquet')").df()
            out[name] = same(mine, con.execute(oracle_sql[name]).df())
        except Exception as e:  # a missing output or a failing oracle
            out[name] = (False, f'{type(e).__name__}: {e}'[:300])
    return out

"""Compares registry results written by the warm-up pass with each
query's DuckDB oracle over the same testdata tables.

The comparison is order-insensitive and exact: same column names, and
the same multiset of rows, value for value (NaN equals NaN).
"""
import collections
import json
import math
import pathlib

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def fingerprint(cursor) -> tuple:
    """(sorted column names, multiset of rows with columns in that order)."""
    cols = [d[0] for d in cursor.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = collections.Counter(tuple(_norm(r[i]) for i in order) for r in cursor.fetchall())
    return [cols[i] for i in order], rows


def corrupt(fp: tuple) -> tuple:
    """A wrong expectation: one extra row. Used by the benchmark's own test."""
    cols, rows = fp
    rows = collections.Counter(rows)
    rows[tuple("corrupted" for _ in cols)] += 1
    return cols, rows


def check(tables_dir: str, results_dir: str, oracle_file: str, only, corrupt_names=()) -> dict:
    """Checks the queries named in `only`; returns {query: None if exact,
    else a one-line reason}."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        path = pathlib.Path(tables_dir) / f"{t}.parquet"
        if path.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    queries = json.loads(pathlib.Path(oracle_file).read_text())
    verdicts = {}
    for name, sql in sorted(queries.items()):
        if name not in only:
            continue
        try:
            got = fingerprint(con.execute(
                f"SELECT * FROM read_parquet('{pathlib.Path(results_dir) / name}/*.parquet')"))
            want = fingerprint(con.execute(sql))
        except Exception as e:  # noqa: BLE001 - any failure is a failed gate
            verdicts[name] = f"{type(e).__name__}: {str(e).splitlines()[0][:200] if str(e) else ''}"
            continue
        if name in corrupt_names:
            want = corrupt(want)
        if got[0] != want[0]:
            verdicts[name] = f"columns {got[0]} vs oracle {want[0]}"
        elif got[1] != want[1]:
            extra = sum((got[1] - want[1]).values())
            missing = sum((want[1] - got[1]).values())
            verdicts[name] = f"{extra} rows not in the oracle, {missing} oracle rows missing"
        else:
            verdicts[name] = None
    con.close()
    return verdicts

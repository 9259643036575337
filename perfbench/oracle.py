"""Output check: each query's first-pass result against its DuckDB oracle.

Canonicalisation follows the engine's oracle compare (tools/check.py):
columns sorted by name, rows sorted by every column, arrow type kinds
compared (int widths and date-vs-timestamp are one kind), then cell by
cell with NaN equal to NaN and a date equal to the timestamp at its
midnight. A query without an oracle must return at least one row.

The compare is kept here, not imported from tools/check.py, so that the
benchmark's correctness gate changes only when the benchmark does.
"""
import datetime
import json
import math
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _kind(t) -> str:
    t = str(t)
    for prefix, kind in (("decimal", "decimal"), ("int", "int"), ("uint", "int"),
                         ("float", "float"), ("double", "float"),
                         ("halffloat", "float"), ("timestamp", "temporal"),
                         ("date", "temporal")):
        if t.startswith(prefix):
            return kind
    return t


def _canon(table):
    df = table.to_pandas()
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _midnight(d):
    return datetime.datetime(d.year, d.month, d.day)


def _cell_eq(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    for x, y in ((a, b), (b, a)):
        if isinstance(x, datetime.date) and not isinstance(x, datetime.datetime):
            if hasattr(y, "to_pydatetime"):
                return y.to_pydatetime() == _midnight(x)
            if isinstance(y, datetime.datetime):
                return y == _midnight(x)
    return a == b


def _compare(got_arrow, exp_arrow):
    """None when equal, else a one-line reason."""
    gt = {f.name: f.type for f in got_arrow.schema}
    et = {f.name: f.type for f in exp_arrow.schema}
    kinds = [(c, str(gt.get(c)), str(et.get(c))) for c in sorted(set(gt) | set(et))
             if _kind(gt.get(c)) != _kind(et.get(c))]
    if kinds:
        return f"column type kinds differ: {kinds}"
    got, exp = _canon(got_arrow), _canon(exp_arrow)
    if len(got) != len(exp):
        return f"rows {len(got)} vs oracle {len(exp)}"
    for i, (gr, er) in enumerate(zip(got.values.tolist(), exp.values.tolist())):
        for col, g, e in zip(got.columns, gr, er):
            if not _cell_eq(g, e):
                return f"row {i} column {col}: {g!r} vs oracle {e!r}"
    return None


def check(data_dir: Path, out_dir: Path, queries: list, errors: dict) -> dict:
    """Map every query to None (passed) or the reason it failed."""
    oracle = json.loads((out_dir / "oracle_sql.json").read_text())
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir / t}.parquet')")
    verdict = {}
    for name in queries:
        if name in errors:
            verdict[name] = errors[name]
            continue
        result = out_dir / "check" / name
        if not list(result.glob("*.parquet")):
            verdict[name] = "no result written"
            continue
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{result}/*.parquet')").arrow()
            if name in oracle:
                verdict[name] = _compare(got, con.execute(oracle[name]).arrow())
            else:
                verdict[name] = None if got.num_rows > 0 else "no rows"
        except Exception as e:  # a failing oracle is a failed check
            verdict[name] = f"{type(e).__name__}: {e}"[:300]
    con.close()
    return verdict

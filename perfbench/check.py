"""Output checks for the query workloads.

Each query's result (written to parquet after the timed loop) is reduced
to an order-independent hash and compared with the hash of its oracle SQL
run by DuckDB over the same generated parquet. The comparison follows
tools/compare.py: columns matched case-insensitively and by name, cells
compared exactly (6 == 6.0, but a DECIMAL output or an int-vs-float column
mismatch fails), nulls equal only to nulls.

One difference from tools/compare.py, which gates fixed fixture data: on
freshly generated data a rounded double sum can sit exactly on a half cent
(prices have two decimals, discounts two more), and the two engines sum in
different orders, so `round(sum(..), 2)` may land one cent apart. When the
exact hashes differ, rows are matched in sorted order and two doubles are
taken as equal when they differ by floating-point noise (1e-9 relative) or
are both whole cents exactly one cent apart. Everything else stays exact.
"""
import decimal
import glob
import hashlib
import math
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(inputs):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        p = os.path.join(inputs, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _cell(v):
    import pandas as pd
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if hasattr(v, "item") and not isinstance(v, (str, bytes)):
        try:
            v = v.item()
        except (ValueError, AttributeError):
            pass
    if isinstance(v, decimal.Decimal):
        raise TypeError("DECIMAL cell (cast to DOUBLE or VARCHAR)")
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, int):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return int(v) if v.is_integer() and abs(v) < 2 ** 53 else v
    if isinstance(v, pd.Timestamp):
        return ("ts", (v.tz_convert(None) if v.tzinfo else v).value)
    if hasattr(v, "isoformat") and not isinstance(v, str):
        return ("ts", pd.Timestamp(v).value)
    if isinstance(v, (str, bytes)):
        return v
    raise TypeError(f"unhashable cell type {type(v).__name__} (nested output)")


def frame_hash(df):
    """(rows, hash) of a pandas frame, independent of row and column order."""
    cols = sorted(df.columns)
    total = 0
    for row in df[cols].itertuples(index=False, name=None):
        key = repr(tuple(_cell(v) for v in row)).encode()
        total = (total + int.from_bytes(hashlib.blake2b(key, digest_size=8).digest(), "little")) % (1 << 64)
    return len(df), total


def close(a, b):
    """Doubles equal up to summation-order noise; see the module docstring."""
    if a == b:
        return True
    if not (isinstance(a, float) or isinstance(b, float)):
        return False
    a, b = float(a), float(b)
    if abs(a - b) <= 1e-9 * max(abs(a), abs(b)):
        return True

    def cents(x):
        return abs(x * 100 - round(x * 100)) < 1e-6
    return cents(a) and cents(b) and abs(abs(a - b) - 0.01) < 1e-9


def rows_match(got, exp):
    """Sorted row-by-row comparison with `close` for doubles."""
    cols = sorted(got.columns)
    keyed = sorted(cols, key=lambda c: got[c].dtype.kind == "f")

    def rows(df):
        cells = [[_cell(v) for v in r] for r in df[keyed].itertuples(index=False, name=None)]
        return sorted(cells, key=lambda r: [(x is None, repr(type(x)), x if x is not None else 0)
                                            if not isinstance(x, tuple) else (False, "ts", x[1])
                                            for x in r])
    for g, e in zip(rows(got), rows(exp)):
        for a, b in zip(g, e):
            if a is None or b is None:
                if a is not b:
                    return False
            elif not close(a, b):
                return False
    return True


def compare(got, exp):
    """None when `got` (the engine's output) matches `exp` (the oracle's),
    else the reason it does not."""
    got = got.rename(columns=str.lower)
    exp = exp.rename(columns=str.lower)
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns {sorted(got.columns)} != {sorted(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    kinds = [c for c in got.columns
             if {got[c].dtype.kind, exp[c].dtype.kind} in ({"i", "f"}, {"u", "f"})]
    if kinds:
        return f"int-vs-float column(s) {kinds}"
    try:
        if frame_hash(got) != frame_hash(exp) and not rows_match(got, exp):
            return "content differs"
    except TypeError as e:
        return str(e)
    return None


def check_queries(inputs, out_dir, oracles):
    """name -> None (pass) or the reason the query's output is wrong."""
    import pyarrow.parquet as pq
    con = connect(inputs)
    verdicts = {}
    for name in sorted(oracles):
        sql = oracles[name]
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not sql:
            verdicts[name] = "no oracle SQL"
            continue
        if not files:
            verdicts[name] = "no output written"
            continue
        try:
            got = pq.ParquetDataset(files).read().to_pandas()
            exp = con.execute(sql).df()
        except Exception as e:  # the query's own failure, reported per query
            verdicts[name] = f"{type(e).__name__}: {str(e)[:200]}"
            continue
        verdicts[name] = compare(got, exp)
    con.close()
    return verdicts

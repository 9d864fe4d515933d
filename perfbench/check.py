"""Output checks against the registry's DuckDB oracles.

A result and its oracle agree when they have the same sorted column
names and the same multiset of rows after normalisation: floats rounded
to 6 places (integral floats rendered as ints, so 1534.0 and 1534 agree),
decimals as floats, timestamps as ISO strings, null and NaN as distinct
markers. It follows ``tools/check_parity.py``, reading the oracle with
``fetchall`` instead of pandas. A query without an oracle gets the
rows-only check: at least one row.
"""

from __future__ import annotations

import datetime
import decimal
import math
import tempfile

import duckdb

from a3_fp_bigdata_spark.data import TABLES


#: DuckDB's default limit is 80% of the machine's memory; an oracle
#: that needs more than this fails its check instead
MEMORY_LIMIT = "2GB"


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET memory_limit = '{MEMORY_LIMIT}'")
    # a spill would otherwise go to .tmp/ in the working directory
    con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def norm(v):
    if v is None:
        return (0, "")
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return (1, "nan")
        r = round(v, 6)
        return (1, str(int(r)) if r == int(r) else str(r))
    if isinstance(v, datetime.datetime):
        return (1, v.replace(tzinfo=None).isoformat())
    if isinstance(v, datetime.date):
        return (1, v.isoformat())
    if isinstance(v, (list, tuple)):
        return (1, str([norm(x) for x in v]))
    return (1, str(v))


def _sorted_rows(rows, positions):
    return sorted(tuple(norm(r[i]) for i in positions) for r in rows)


def compare_rows(cols: list[str], rows: list[tuple], con, sql: str | None) -> str | None:
    """None when ``rows`` (tuples in ``cols`` order) match the oracle;
    otherwise a one-line reason. ``sql=None`` is the rows-only check."""
    if sql is None:
        return None if rows else "rows-only check: no rows"
    cur = con.execute(sql)
    ocols = [d[0] for d in cur.description]
    orows = cur.fetchall()
    if sorted(cols) != sorted(ocols):
        return f"columns {sorted(cols)} vs oracle {sorted(ocols)}"
    key = sorted(cols)
    mine = _sorted_rows(rows, [cols.index(c) for c in key])
    theirs = _sorted_rows(orows, [ocols.index(c) for c in key])
    if mine == theirs:
        return None
    msg = f"rows {len(mine)} vs oracle {len(theirs)}"
    for a, b in zip(mine, theirs):
        if a != b:
            return f"{msg}; first diff {a} vs {b}"[:400]
    return msg

"""Order-insensitive result digests, and the DuckDB oracle they are checked
against.

A digest covers the row count, the column names and the values. Cells go
through ``tools/mirror.py``'s canonicalisation (the correctness gate's own),
columns are taken in name order and rows are sorted, so two engines that
agree under the mirror gate yield the same digest. On top of the mirror's
cell rules the digest fixes what a hash must not see: decimals compare as
floats, -0.0 as 0.0, zoned timestamps as naive UTC and structs by value.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import os
import sys


def _mirror_canon():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "tools"))
    try:
        from mirror import _canon_cell
    finally:
        sys.path.pop(0)
    return _canon_cell


_canon_cell = _mirror_canon()


def _cell(v):
    if isinstance(v, decimal.Decimal):
        v = float(v)
    elif isinstance(v, dict):
        v = tuple(v.values())
    elif isinstance(v, dt.datetime) and v.tzinfo is not None:
        v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    v = _canon_cell(v)
    if isinstance(v, tuple):
        return tuple(_cell(x) for x in v)
    if isinstance(v, float) and v == 0.0:
        return 0.0
    return v


def digest(columns: list[str], rows) -> str:
    """Digest of a result given as column names plus row tuples."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(repr(tuple(_cell(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256()
    h.update(repr((len(canon), [columns[i] for i in order])).encode())
    for line in canon:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def oracle_digests(corpus_dir: str, oracles: dict[str, str]) -> dict[str, str]:
    """Run each op's oracle SQL in DuckDB over the corpus; digest each result."""
    import duckdb

    from highspeedrailwaybigdatasystem_spark.schemas import TABLE_NAMES

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        for t in TABLE_NAMES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus_dir}/{t}.parquet')"
            )
        out = {}
        for name, sql in oracles.items():
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            out[name] = digest(cols, cur.fetchall())
        return out
    finally:
        con.close()

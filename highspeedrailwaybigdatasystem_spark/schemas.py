"""Declared schemas for the ground-truth corpus (FIXTURES.md §2).

Schemas are declared, not inferred, so that timestamp units and integer
widths can't drift between reads (SURVEY.md §1.3). ``load`` reads a table
and asserts the on-disk schema matches the declaration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def _st(*fields: tuple) -> StructType:
    return StructType([StructField(n, t, True) for n, t in fields])


SCHEMAS: dict[str, StructType] = {
    "region": _st(
        ("r_regionkey", IntegerType()),
        ("r_name", StringType()),
    ),
    "nation": _st(
        ("n_nationkey", IntegerType()),
        ("n_name", StringType()),
        ("n_regionkey", IntegerType()),
    ),
    "customer": _st(
        ("c_custkey", LongType()),
        ("c_name", StringType()),
        ("c_nationkey", IntegerType()),
        ("c_acctbal", DoubleType()),
        ("c_mktsegment", StringType()),
    ),
    "supplier": _st(
        ("s_suppkey", LongType()),
        ("s_name", StringType()),
        ("s_nationkey", IntegerType()),
        ("s_acctbal", DoubleType()),
    ),
    "part": _st(
        ("p_partkey", LongType()),
        ("p_name", StringType()),
        ("p_brand", StringType()),
        ("p_type", StringType()),
        ("p_size", IntegerType()),
        ("p_retailprice", DoubleType()),
    ),
    "orders": _st(
        ("o_orderkey", LongType()),
        ("o_custkey", LongType()),
        ("o_orderstatus", StringType()),
        ("o_totalprice", DoubleType()),
        ("o_orderdate", TimestampType()),
        ("o_orderpriority", StringType()),
    ),
    "lineitem": _st(
        ("l_orderkey", LongType()),
        ("l_partkey", LongType()),
        ("l_suppkey", LongType()),
        ("l_linenumber", IntegerType()),
        ("l_quantity", DoubleType()),
        ("l_extendedprice", DoubleType()),
        ("l_discount", DoubleType()),
        ("l_tax", DoubleType()),
        ("l_returnflag", StringType()),
        ("l_linestatus", StringType()),
        ("l_shipdate", TimestampType()),
    ),
    "events": _st(
        ("event_id", LongType()),
        ("ts", TimestampType()),  # timestamp[us] in parquet since 2026-08-13 regen (FIXTURES.md)
        ("user_id", LongType()),
        ("event_type", StringType()),
        ("value", DoubleType()),
        ("props", StringType()),  # JSON string, shape {"k": <int>}
    ),
    "documents": _st(
        ("doc_id", LongType()),
        ("text", StringType()),
        ("lang", StringType()),
        ("source", StringType()),
        ("n_chars", LongType()),
    ),
    "embeddings": _st(
        ("vec_id", LongType()),
        ("embedding", ArrayType(FloatType())),  # fixed dim 64, L2-normalized
        ("label", IntegerType()),
    ),
}

TABLE_NAMES = tuple(SCHEMAS)

EMBEDDING_DIM = 64

#: Legacy read schema for ns-encoded events files. Historically the corpus
#: stored ``ts`` as parquet TIMESTAMP(NANOS), which Spark 4.x cannot read as
#: a timestamp at all (PARQUET_TYPE_ILLEGAL); with
#: spark.sql.legacy.parquet.nanosAsLong=true (set in session.py) the column
#: arrives as a raw ns-since-epoch long and is converted to a µs
#: TimestampType with exact integer division (``div``, not ``/`` — ns epochs
#: exceed double's 2^53 exact-integer range). The corpus was regenerated on
#: 2026-08-13 with ``ts`` as plain timestamp[us], which Spark reads natively
#: — so ``load`` now sniffs the actual footer type per file (one driver-side
#: metadata read, cached per path) and only falls back to this path for
#: genuinely ns-encoded data. Applying the ns path to µs data silently
#: shrinks every timestamp 1000× (the round-2 incident), hence the
#: footer branch plus the statistics range guard below.
EVENTS_READ_SCHEMA = _st(
    ("event_id", LongType()),
    ("ts", LongType()),
    ("user_id", LongType()),
    ("event_type", StringType()),
    ("value", DoubleType()),
    ("props", StringType()),
)

#: events.ts must land in this closed interval (FIXTURES.md: corpus spans
#: 2024-01-01…2024-01-30). A unit drift (ns↔µs mixup = ×1000) blows far
#: past this window, so the guard turns silent corruption into a loud error.
_EVENTS_TS_MIN_US = 1_672_531_200_000_000  # 2023-01-01 UTC, generous lower bound
_EVENTS_TS_MAX_US = 1_735_689_600_000_000  # 2025-01-01 UTC, generous upper bound

#: Cache of the sniffed ts encoding, keyed on (path, newest mtime_ns, total
#: size) so a corpus regenerated in-place mid-process (the round-2 incident
#: scenario) invalidates the entry and is re-sniffed instead of being read
#: with a stale branch.
_EVENTS_TS_KIND: dict[tuple[str, int, int], str] = {}


def _events_fingerprint(path: str) -> tuple[str, int, int]:
    """Corpus fingerprint (max mtime_ns, total bytes) over every parquet
    data file under ``path`` — one table file, or a whole sf_dir. The walk
    is recursive, so a Spark-written directory dataset
    (table.parquet/part-*.parquet) is covered by its part files, not just
    the directory entry: an in-place rewrite of any table or part changes
    the fingerprint and invalidates the ts-kind cache and the
    ``ensure_views`` registration keyed on it."""
    import glob
    import os

    if os.path.isdir(path):
        files = sorted(
            glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        )
    else:
        files = [path]
    mtime = 0
    size = 0
    for f in files:
        if os.path.isdir(f):
            # a *.parquet-named directory: its part files are already in
            # the recursive glob; the dir entry itself carries no data.
            continue
        st = os.stat(f)
        mtime = max(mtime, st.st_mtime_ns)
        size += st.st_size
    return (path, mtime, size)


def _sniff_events_ts_kind(path: str) -> str:
    """Classify the physical encoding of ``ts`` from the parquet footers.

    Driver-side metadata-only read (no data pages). EVERY file under the
    path is sniffed — a multi-file dataset with mixed encodings raises
    instead of silently reading some files with the wrong branch. Every
    row group's footer statistics for ``ts`` are validated against the
    documented corpus range so a regenerated corpus with a different unit
    fails loudly here instead of producing 1000×-off results downstream.
    The corpus is small (≤ a few dozen footers); this stays in the
    low-millisecond range vs a ~10 s session startup.
    """
    import datetime as _dt
    import glob
    import os

    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(path, "*.parquet"))) if os.path.isdir(path) else [path]
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")

    kinds: set[str] = set()
    for fpath in files:
        t = pq.read_schema(fpath).field("ts").type
        ts_str = str(t)
        if ts_str.startswith("timestamp["):
            kind = t.unit  # 'us' or 'ns'
        elif ts_str == "int64":
            kind = "int64-ns"
        else:
            raise TypeError(f"events.ts has unsupported parquet type {ts_str} in {fpath}")
        kinds.add(kind)
        if len(kinds) > 1:
            raise ValueError(
                f"events dataset at {path} mixes ts encodings {sorted(kinds)} "
                f"across files — refusing to load (would misread some files)"
            )

        def _to_us(v: object) -> int:
            if isinstance(v, _dt.datetime):
                epoch = _dt.datetime(1970, 1, 1, tzinfo=v.tzinfo or _dt.timezone.utc)
                return int((v.replace(tzinfo=epoch.tzinfo) - epoch).total_seconds() * 1e6)
            v = int(v)  # raw int64: ns for int64-ns files
            return v // 1000 if kind in ("int64-ns", "ns") else v

        # Range guard from footer row-group statistics (still metadata-only),
        # checked for EVERY row group so drift in a later row group is caught.
        md = pq.ParquetFile(fpath).metadata
        arrow_schema = md.schema.to_arrow_schema()
        ts_idx = arrow_schema.get_field_index("ts")
        for rg in range(md.num_row_groups):
            stats = md.row_group(rg).column(ts_idx).statistics
            if stats is None or not stats.has_min_max:
                continue
            lo_us, hi_us = _to_us(stats.min), _to_us(stats.max)
            if not (_EVENTS_TS_MIN_US <= lo_us and hi_us <= _EVENTS_TS_MAX_US):
                raise ValueError(
                    f"events.ts statistics out of documented corpus range "
                    f"(FIXTURES.md 2024-01-01…2024-01-30): min={stats.min} "
                    f"max={stats.max} kind={kind} file={fpath} row_group={rg} "
                    f"— possible unit drift; refusing to load"
                )
    return kinds.pop()


def _events_ts_to_timestamp(df: DataFrame) -> DataFrame:
    from pyspark.sql import functions as F

    return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one corpus table.

    The declared schema is passed to the reader so every downstream plan
    sees identical types regardless of parquet footer details; column
    pruning and predicate pushdown still apply (schema is a projection
    contract, not a cast).

    ``events`` is special-cased: the physical encoding of ``ts`` is sniffed
    from the parquet footer (cached per path) and the reader branches —
    native TimestampType for timestamp[us] data, the legacy
    nanosAsLong + div-1000 conversion only for int64/timestamp[ns] data.
    """
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        fp = _events_fingerprint(path)
        kind = _EVENTS_TS_KIND.get(fp)
        if kind is None:
            kind = _sniff_events_ts_kind(path)
            _EVENTS_TS_KIND[fp] = kind
        if kind == "us":
            return spark.read.schema(SCHEMAS["events"]).parquet(path)
        raw = spark.read.schema(EVENTS_READ_SCHEMA).parquet(path)
        return _events_ts_to_timestamp(raw)
    return spark.read.schema(SCHEMAS[name]).parquet(path)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every corpus table as a temp view (SQL-surface entry point)."""
    for name in TABLE_NAMES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)


#: (session JVM id) → fingerprint of the sf_dir currently registered by
#: ensure_views. Keyed on the underlying Java session object id so a stopped
#: and rebuilt SparkSession (fresh catalog, same Python id reuse possible)
#: never reads a stale entry.
_VIEWS_REGISTERED: dict[int, tuple[str, int, int]] = {}


def ensure_views(spark: SparkSession, sf_dir: str) -> None:
    """``register_views``, memoized per live session.

    A ``spark.read.schema(...).parquet(...)`` round-trip costs 25–55 ms of
    driver time per table; ops that re-register all ten views on every call
    were paying ~0.5 s of pure Py4J overhead. One registration per
    (session, corpus state) amortizes that to zero on warm paths. The key
    is the fingerprint of the whole sf_dir (path, newest mtime, total size
    over every parquet file under it), so an in-place rewrite of ANY table
    re-registers (and re-sniffs) instead of serving a stale view: one
    created before ``lineitem.parquet`` was overwritten with a larger
    copy counted 0 rows where a fresh read counts 60000. Re-registers when
    the same session switches sf_dir (plain view names hold one corpus at
    a time — exactly the __spark_entry__/mirror/pytest usage).
    """
    key = id(spark._jsparkSession)
    state = _events_fingerprint(sf_dir)
    if _VIEWS_REGISTERED.get(key) != state:
        register_views(spark, sf_dir)
        _VIEWS_REGISTERED[key] = state

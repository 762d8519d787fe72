"""Table loading over the driver-provided synthetic star schema, and the
one Parquet reader every internal scan goes through.

``read_parquet(spark, paths, schema=None)`` stands in for the reference's
derived-parquet scans (``spark.read.parquet``, ``MainEventsView.scala:52``).
A bare ``spark.read.parquet`` infers the schema by running a Spark job that
reads a footer, and this engine rebuilds its DataFrames for every query, so
that job would fire once per query instead of once per input. The helper
gets the schema from one of three sources:

- **the caller**, where the layout is fixed or recorded: deletion-vector
  files (``snapshots.DV_SCHEMA``), equality-delete files (the table
  schema's key columns) and snapshot scans (the manifest's ``schema``);
- **a memo** of inferred ``StructType``s, keyed by the absolute paths, each
  file's ``(size, mtime_ns)`` and the confs that change Parquet schema
  conversion (``_SCHEMA_CONFS``). It holds schemas only, never data, is
  capped at ``SCHEMA_MEMO_CAP`` entries (oldest evicted), and lives at
  module level, so entries survive a SparkContext restart in the same
  driver process. A rewritten file changes its fingerprint and is
  re-inferred;
- **a plain** ``spark.read.parquet`` for any path the memo cannot
  fingerprint with ``os.stat`` (globs, non-local URIs, missing paths), so
  the caller sees exactly Spark's own error.

The dimension-pruned Heka raw scan (``SyncView.scala:53-62``) is in our
engine a partitioned-parquet scan whose pruning Catalyst performs from
``WHERE`` clauses on partition columns (see ``sources/writers.py`` for the
partitioned layout producer).

At 100 TB the fact tables (lineitem/orders/events/documents) are read as
Hive-partitioned datasets; predicate + column pushdown reaches the parquet
reader automatically because every query in ``queries/`` is declared with
DataFrame expressions (verify with ``plans/explain.py``).
"""

from __future__ import annotations

import os
import re
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# confs whose value changes the schema Spark infers from the same files
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)
SCHEMA_MEMO_CAP = 512
_schema_memo: OrderedDict[tuple, StructType] = OrderedDict()
_schema_memo_lock = threading.Lock()
_NOT_LOCAL = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:|[*?\[{]")


def _fingerprint(path: str) -> tuple | None:
    """(absolute path, ((relative file, size, mtime_ns), ...)) for every
    file under ``path`` — the listing Spark's file index makes anyway, plus
    one ``os.stat`` per file. Marker and summary files are included: a
    rewrite touches them too, and ``_metadata`` can feed inference. None
    when ``path`` is a glob, a URI or missing."""
    if _NOT_LOCAL.search(path):
        return None
    root = os.path.abspath(path)
    try:
        st = os.stat(root)
    except OSError:
        return None
    if not os.path.isdir(root):
        return root, ((".", st.st_size, st.st_mtime_ns),)
    files = []
    for d, _, names in os.walk(root, followlinks=True):
        for n in names:
            full = os.path.join(d, n)
            try:
                fs = os.stat(full)
            except OSError:  # vanished mid-listing: let Spark see it
                return None
            files.append((os.path.relpath(full, root), fs.st_size, fs.st_mtime_ns))
    return root, tuple(sorted(files))


def read_parquet(
    spark: SparkSession,
    paths: str | list[str],
    schema: StructType | str | None = None,
) -> DataFrame:
    """``spark.read.parquet(*paths)`` without the schema-inference job:
    the schema comes from the caller, else from the module memo (see the
    module docstring), else from Spark's own inference, whose result is
    then memoized."""
    paths = [paths] if isinstance(paths, str) else list(paths)
    if schema is not None:
        return spark.read.schema(schema).parquet(*paths)
    prints = [_fingerprint(p) for p in paths]
    if not paths or None in prints:
        return spark.read.parquet(*paths)
    key = (tuple(prints), tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS))
    known = _schema_memo.get(key)
    if known is not None:
        return spark.read.schema(known).parquet(*paths)
    df = spark.read.parquet(*paths)
    # a copy: ``df.schema`` is the caller's object, and StructType is mutable
    inferred = StructType.fromJson(df.schema.jsonValue())
    with _schema_memo_lock:
        _schema_memo[key] = inferred
        while len(_schema_memo) > SCHEMA_MEMO_CAP:
            _schema_memo.popitem(last=False)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table (``<sf_dir>/<name>.parquet``).

    ``events.ts`` is written as a parquet TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects; read it as nanos-since-epoch (legacy conf,
    safe to set dynamically) and floor-convert to a microsecond timestamp —
    the same truncation DuckDB applies, so oracle comparisons agree."""
    if name not in TABLE_NAMES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    # Pin UTC regardless of the caller's session: day keys / epoch math in the
    # query pack must agree with the (UTC-naive) oracle even when the driver
    # builds its own SparkSession without a timeZone conf.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
        # The generator has shipped two layouts for ``ts``: TIMESTAMP(NANOS)
        # (reads as BIGINT nanos under the legacy conf) and plain
        # TIMESTAMP(MICROS) (reads natively). Adapt to whichever is present.
        # Either way, normalize to TIMESTAMP_NTZ: DuckDB's timestamps are
        # naive — a tz-aware TimestampType here would surface as arrow
        # timestamp[us, tz=UTC] vs the oracle's naive timestamp[us] in any
        # arrow-level comparison.
        ts_kind = df.schema["ts"].dataType.typeName()
        if ts_kind == "long":
            ts_expr = F.timestamp_micros(F.expr("ts div 1000"))
        else:
            ts_expr = F.col("ts")
        return df.withColumn("ts", ts_expr.cast("timestamp_ntz"))
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in TABLE_NAMES}


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose all tables as temp views for the SQL front-door."""
    for n in TABLE_NAMES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)

"""Z-order (Morton-curve) clustering for multi-column data skipping.

Parquet data skipping is min/max based: a scan with ``WHERE x = k`` skips a
file only if the file's [min(x), max(x)] excludes k. Linear sort on x makes
x-ranges tight but leaves every other column's range full-width per file —
a filter on y skips nothing. Interleaving the bits of n columns into one
Morton code and range-partitioning + sorting on it makes files cover small
*boxes* of the column space, so min/max pruning works on EVERY column.
This is the layout operator behind "ZORDER BY" in lakehouse engines (public
bit-interleave construction — Morton 1966), re-expressed as pure Spark
column arithmetic: whole-stage codegen'd, no UDF.

One path serves every caller:
- ``zorder_code(cols, bits)``: the stride-n interleave, z bit (i*n + j) =
  bit i of column j; n*bits <= 62 keeps the code in one BIGINT;
- ``zorder_key(df, cols, bits)``: per-column equal-frequency buckets, then
  the interleave, attached as ``zval``;
- ``cluster_zorder(df, cols, n_files, bits)``: key, ONE range shuffle on
  ``zval``, sort within partitions, drop ``zval``;
- ``ensure_zorder_dataset``: the fingerprint-cached warehouse build.

`tests/test_layout.py` proves the skipping property from parquet footer
metadata: after z-order layout, per-file rectangles shrink on every axis,
where a linear sort narrows only its own column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from telemetry_parquet_spark.sources.tables import read_parquet

# Columns with more approx-distinct values than this are bucketed by the
# windowless approx-quantile projection instead of the exact rank-CDF map.
EXACT_MAX_DISTINCT = 1 << 16


def zorder_code(cols: list, bits: int) -> Column:
    """Morton interleave of n integer columns, the low ``bits`` bits of
    each: z bit (i*n + j) = bit i of column j. One shift-mask-shift term
    per (column, bit) — n*bits codegen'd integer ops per row. NULL in any
    column gives a NULL code. Requires n * bits <= 62 (BIGINT)."""
    n = len(cols)
    if n * bits > 62:
        raise ValueError(f"n*bits = {n * bits} exceeds BIGINT capacity")
    out = F.lit(0).cast("bigint")
    for j, c in enumerate(cols):
        cc = (F.col(c) if isinstance(c, str) else c).cast("bigint")
        for i in range(bits):
            out = out.bitwiseOR(
                F.shiftleft(
                    F.shiftright(cc, i).bitwiseAND(F.lit(1)), i * n + j
                )
            )
    return out


# --- data-adaptive buckets --------------------------------------------------
#
# Interleaving RAW low bits is right when every domain is a dense small
# integer range (the grid test), useless when values are wide (64-bit ids:
# the low bits are noise) or skewed (most raw codes share a tiny
# sub-rectangle and the curve degenerates to a linear sort). So
# ``zorder_key`` first maps each value to an equal-frequency bucket
# ``(rows_before_value * 2^bits) div total_rows`` — the same boundary
# discipline Delta's OPTIMIZE ZORDER applies via range ids — then
# interleaves the buckets. All-integer math, so a SQL oracle replays it
# bit-for-bit (`layout_zorder_keys`).
#
# Scale: two bucket-map regimes, chosen per column by one
# approx_count_distinct probe:
# - EXACT rank-CDF (``rank_bucket_map``): histogram of distinct values +
#   one cumulative sum. The cumulative sum is a GLOBAL window — fine while
#   the domain is vocabulary-sized (part / supplier keys), but on a
#   near-unique column the "domain" is row-sized and the single-partition
#   window becomes a one-reducer bottleneck.
# - APPROX boundary buckets (``quantile_bucket_expr``): 2^bits - 1
#   approxQuantile boundaries (Greenwald-Khanna, one distributed pass,
#   driver gets only the boundary list) compiled into a pure whole-stage-
#   codegen'd projection — NO window, NO join, NO shuffle anywhere in the
#   keying, at any cardinality.
# A column is exact while its domain is at most ``EXACT_MAX_DISTINCT``
# (equal-frequency tiles are exact and SQL-replayable) and approx above.


def rank_bucket_map(df: DataFrame, col: str, bits: int = 8) -> DataFrame:
    """value -> exact equal-frequency bucket in [0, 2^bits): domain-sized
    histogram, cumulative count over distinct values, integer division.
    Use only on vocabulary-sized domains (see module scale notes);
    high-cardinality columns go through ``quantile_bucket_expr``."""
    from pyspark.sql import Window

    b = 1 << bits
    nn = df.where(F.col(col).isNotNull())
    # nulls never match the (null-unsafe) bucket join — including them
    # in the histogram would reserve bucket range no value can use and
    # compress every real value into the top of the curve
    hist = nn.groupBy(F.col(col).alias("v")).agg(F.count("*").alias("cnt"))
    # total derives from the histogram (Σ cnt ≡ count of non-null rows),
    # not from a second corpus scan; hist's aggregation exchange is
    # identical under both consumers, so AQE exchange reuse runs the
    # corpus pass once per column
    total = hist.agg(F.sum("cnt").alias("n"))
    cume = hist.withColumn(
        "start", F.sum("cnt").over(Window.orderBy("v")) - F.col("cnt")
    )
    return cume.crossJoin(F.broadcast(total)).select(
        "v", F.expr(f"(start * {b}) div n").alias("bucket")
    )


def quantile_bucket_expr(df: DataFrame, col: str, bits: int = 8) -> Column:
    """value -> approximate equal-frequency bucket as a pure PROJECTION.

    One ``approxQuantile`` pass yields the 2^bits - 1 boundary values
    (driver-sized: the list, never the data), with a boundary rank error
    of a tenth of a bucket width; the bucket index is then ``count of
    boundaries <= value``, evaluated with ``F.aggregate`` over a literal
    array — whole-stage codegen, zero joins/windows/shuffles. Duplicate
    boundaries (heavy hitters spanning multiple quantiles) are
    deduplicated; the curve simply allocates fewer tiles to a value that
    already owns more than one tile's worth of rows. NULL input yields a
    NULL bucket — the same placement the exact rank-bucket path produces
    via its left join — so flipping regimes never moves a column's null
    rows."""
    b = 1 << bits
    rel_err = max(1e-4, 0.1 / b)
    probs = [i / b for i in range(1, b)]
    bounds = sorted(set(df.stat.approxQuantile(col, probs, rel_err)))
    arr = F.array(*[F.lit(float(v)) for v in bounds])
    val = F.col(col).cast("double")
    bucket = F.aggregate(
        arr,
        F.lit(0),
        lambda acc, bnd: acc + F.when(val >= bnd, 1).otherwise(0),
    ).cast("bigint")
    return F.when(val.isNull(), F.lit(None).cast("bigint")).otherwise(bucket)


def zorder_key(df: DataFrame, cols: list[str], bits: int = 8) -> DataFrame:
    """Attach ``zval`` = Morton code of the columns' equal-frequency
    buckets, ``bits`` bits each.

    One approx_count_distinct probe picks the regime PER COLUMN: the exact
    rank-CDF map (a broadcast left join) up to ``EXACT_MAX_DISTINCT``
    distinct values, the approx boundary projection above it — so a
    (vocabulary-sized, near-unique) pair gets an exact map on the first
    and a windowless projection on the second. The fact table never
    shuffles in any regime."""
    from pyspark.sql.types import NumericType

    numeric = {
        f.name for f in df.schema.fields
        if isinstance(f.dataType, NumericType)
    }
    cnt = df.agg(*[F.approx_count_distinct(c).alias(c) for c in cols]).first()
    out = df
    tags = []
    for idx, c in enumerate(cols):
        tag = f"__zb_{idx}"
        tags.append(tag)
        # approxQuantile is numeric-only: a high-cardinality string key
        # must stay on the exact path rather than crash — the regime flip
        # is a performance decision, never a type error
        if cnt[c] > EXACT_MAX_DISTINCT and c in numeric:
            out = out.withColumn(tag, quantile_bucket_expr(df, c, bits))
        else:
            # reserved internal names on the MAP side: a source column
            # literally named 'v' or 'bucket' must survive the join
            bm = rank_bucket_map(df, c, bits).select(
                F.col("v").alias("__zb_v"),
                F.col("bucket").alias(tag),
            )
            out = out.join(
                F.broadcast(bm), out[c] == bm["__zb_v"], "left"
            ).drop("__zb_v")
    return out.withColumn("zval", zorder_code(tags, bits)).drop(*tags)


def cluster_zorder(
    df: DataFrame, cols: list[str], n_files: int, bits: int = 8
) -> DataFrame:
    """Re-layout ``df`` along the Morton curve of ``cols``: ``zorder_key``,
    then ONE range shuffle into ``n_files`` zval ranges, sorted within
    each. Write the result with any sink; each output file then covers a
    small box of the column space, enabling min/max skipping on every
    clustering column. The schema stays ``df``'s."""
    return (
        zorder_key(df, cols, bits)
        .repartitionByRange(n_files, F.col("zval"))
        .sortWithinPartitions("zval")
        .drop("zval")
    )


def ensure_zorder_dataset(
    spark,
    src_path: str,
    name: str,
    cols: list[str],
    n_files: int = 32,
    bits: int = 8,
) -> str:
    """Materialize ``src_path`` z-order-clustered on ``cols`` into
    ``n_files`` zval-range files under the session warehouse
    (fingerprint-cached). Every clustering column's per-file min/max
    envelope comes out tight, which is exactly what the unified scan
    planner's stats pruning consumes (scan_planner.py)."""
    from telemetry_parquet_spark.sources.skipping import materialize_cached

    def write(out: str) -> None:
        cluster_zorder(
            read_parquet(spark, src_path), cols, n_files, bits
        ).write.mode("overwrite").parquet(out)

    return materialize_cached(spark, src_path, name, write)

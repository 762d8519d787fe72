"""Z-order (Morton-curve) clustering for multi-column data skipping.

Parquet data skipping is min/max based: a scan with ``WHERE x = k`` skips a
file only if the file's [min(x), max(x)] excludes k. Linear sort on x makes
x-ranges tight but leaves every other column's range full-width per file —
a filter on y skips nothing. Interleaving the bits of (x, y) into one
Morton code and range-partitioning + sorting on it makes files cover small
*rectangles* of (x, y) space, so min/max pruning works on BOTH columns.
This is the layout operator behind "ZORDER BY" in lakehouse engines (public
bit-interleave construction — Morton 1966), re-expressed as pure Spark
column arithmetic: the code is computed by the classic parallel-bit-spread
magic numbers, whole-stage codegen'd, no UDF.

Scale notes (100 TB):
- the write is ONE range shuffle on the morton code (same cost as any
  sorted export); skipping benefits accrue to every subsequent scan;
- bit arithmetic is on BIGINT with 16-bit inputs — no overflow, ANSI-safe;
- >2 columns: ``zorder_code_n`` / ``zorder_key_adaptive_n`` implement the
  stride-n interleave (z bit i*n+j = bit i of column j) with the same
  per-column bucket regimes; n*bits <= 62 keeps the code in one BIGINT.
  Gated by a 3-axis rectangle-shrink test and the 3-range planner query
  ``scan_planned_zorder3_ranges`` (all three predicates must prune).

`tests/test_layout.py` proves the skipping property from parquet footer
metadata: after z-order layout, per-file (x, y) rectangles shrink on BOTH
axes, where a linear sort narrows only its own column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from telemetry_parquet_spark.sources.tables import read_parquet

# Parallel bit spread: 16 input bits to the even bit positions of 32.
# (value, mask) pairs applied as x = (x | x << shift) & mask.
_SPREAD_STEPS: tuple[tuple[int, int], ...] = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)


def _spread16(c: Column) -> Column:
    """Spread the low 16 bits of ``c`` to even bit positions (bits 0,2,..30)."""
    x = c.cast("bigint").bitwiseAND(F.lit(0xFFFF))
    for shift, mask in _SPREAD_STEPS:
        x = x.bitwiseOR(F.shiftleft(x, shift)).bitwiseAND(F.lit(mask))
    return x


def zorder_code(x: Column | str, y: Column | str) -> Column:
    """Morton interleave of two 16-bit-masked columns: x takes even bits,
    y odd bits. Equal-prefix codes are spatially adjacent in (x, y)."""
    cx = F.col(x) if isinstance(x, str) else x
    cy = F.col(y) if isinstance(y, str) else y
    return _spread16(cx).bitwiseOR(F.shiftleft(_spread16(cy), 1))


def cluster_zorder(
    df: DataFrame,
    x: str,
    y: str,
    num_partitions: int = 32,
) -> DataFrame:
    """Re-layout ``df`` along the Morton curve of (x, y): range-partition +
    sort on the code. Write the result with any sink; each output file then
    covers a small (x, y) rectangle, enabling min/max skipping on both
    columns."""
    code = zorder_code(x, y).alias("__z")
    return (
        df.withColumn("__z", code)
        .repartitionByRange(num_partitions, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
    )


# --- data-adaptive variant -------------------------------------------------
#
# ``zorder_code`` interleaves the RAW low 16 bits — perfect when both
# domains are dense small integers (the grid test), useless when values are
# wide (64-bit ids: the low bits are noise) or skewed (most raw codes share
# a tiny sub-rectangle and the curve degenerates to a linear sort). The
# adaptive variant first maps each value to its EXACT rank-CDF bucket
# ``(rows_before_value * 2^bits) div total_rows`` — equal-frequency tiles,
# the same boundary discipline Delta's OPTIMIZE ZORDER applies via range
# ids — then interleaves the buckets. All-integer math, so a SQL oracle
# replays it bit-for-bit (`layout_zorder_keys`).
#
# Scale: two bucket-map regimes, chosen per column:
# - EXACT rank-CDF (``rank_bucket_map``): histogram of distinct values +
#   one cumulative sum. The cumulative sum is a GLOBAL window — fine while
#   the domain is vocabulary-sized (the registered bench dimensions: part /
#   supplier keys), but on a near-unique column the "domain" is row-sized
#   and the single-partition window becomes a one-reducer bottleneck.
# - APPROX boundary buckets (``quantile_bucket_expr``): 2^bits - 1
#   approxQuantile boundaries (Greenwald-Khanna, one distributed pass,
#   driver gets only the boundary list) compiled into a pure whole-stage-
#   codegen'd projection — NO window, NO join, NO shuffle anywhere in the
#   keying, at any cardinality.
# ``zorder_key_adaptive`` defaults to AUTO: exact while the domain is small
# (equal-frequency tiles are exact and SQL-replayable — the driver oracle),
# approx above ``exact_max_distinct``. Interleave and layout are identical
# in both regimes.


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


def quantile_bucket_expr(
    df: DataFrame, col: str, bits: int = 8, rel_err: float | None = None
) -> Column:
    """value -> approximate equal-frequency bucket as a pure PROJECTION.

    One ``approxQuantile`` pass yields the 2^bits - 1 boundary values
    (driver-sized: the list, never the data); the bucket index is then
    ``count of boundaries <= value``, evaluated with ``F.aggregate`` over a
    literal array — whole-stage codegen, zero joins/windows/shuffles.
    Duplicate boundaries (heavy hitters spanning multiple quantiles)
    are deduplicated; the curve simply allocates fewer tiles to a value
    that already owns more than one tile's worth of rows. NULL input
    yields a NULL bucket — the same placement the exact rank-bucket path
    produces via its left join — so flipping regimes (``mode='auto'`` in
    ``zorder_key_adaptive``) never moves a column's null rows."""
    b = 1 << bits
    if rel_err is None:
        # boundary rank error a tenth of a bucket width
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


def zorder_key_adaptive(
    df: DataFrame,
    x: str,
    y: str,
    bits: int = 8,
    out_col: str = "zval",
    mode: str = "auto",
    exact_max_distinct: int = 1 << 16,
) -> DataFrame:
    """Attach ``out_col`` = Morton code of the two columns' rank buckets.

    ``mode``: 'exact' (rank-CDF broadcast join per column), 'approx'
    (boundary-bucket projection per column), or 'auto' (default) — one
    approx_count_distinct probe picks the regime PER COLUMN, so a
    (vocabulary-sized, near-unique) pair gets an exact map on the first
    and a windowless projection on the second. The fact table never
    shuffles in any regime."""
    from pyspark.sql.types import NumericType

    numeric = {
        f.name for f in df.schema.fields
        if isinstance(f.dataType, NumericType)
    }
    if mode == "auto":
        cnt = df.agg(
            F.approx_count_distinct(x).alias("x"),
            F.approx_count_distinct(y).alias("y"),
        ).first()
        modes = {
            # approxQuantile is numeric-only: a high-cardinality string
            # key must stay on the exact path rather than crash — the
            # regime flip is a performance decision, never a type error
            c: (
                "approx"
                if cnt[k] > exact_max_distinct and c in numeric
                else "exact"
            )
            for c, k in ((x, "x"), (y, "y"))
        }
    else:
        modes = {x: mode, y: mode}

    out = df
    for colname, tag in ((x, "__zb_x"), (y, "__zb_y")):
        if modes[colname] == "exact":
            # reserved internal names on the MAP side: a source column
            # literally named 'v' or 'bucket' must survive the join
            bm = rank_bucket_map(df, colname, bits).select(
                F.col("v").alias("__zb_v"),
                F.col("bucket").alias(tag),
            )
            out = out.join(
                F.broadcast(bm), out[colname] == bm["__zb_v"], "left"
            ).drop("__zb_v")
        else:
            out = out.withColumn(
                tag, quantile_bucket_expr(df, colname, bits)
            )
    return out.withColumn(
        out_col, zorder_code(F.col("__zb_x"), F.col("__zb_y"))
    ).drop("__zb_x", "__zb_y")


def cluster_zorder_adaptive(
    df: DataFrame,
    x: str,
    y: str,
    num_files: int,
    bits: int = 8,
    mode: str = "auto",
    exact_max_distinct: int = 1 << 16,
) -> DataFrame:
    """``cluster_zorder`` for wide/skewed domains: equal-frequency tiles
    via the per-column bucket regime (see ``zorder_key_adaptive``), then
    the same one-range-shuffle layout."""
    keyed = zorder_key_adaptive(
        df, x, y, bits=bits, mode=mode, exact_max_distinct=exact_max_distinct
    )
    return keyed.repartitionByRange(num_files, F.col("zval")).sortWithinPartitions(
        "zval"
    )


def ensure_zorder_dataset(
    spark,
    src_path: str,
    name: str,
    x: str,
    y: str,
    n_files: int = 32,
    bits: int = 8,
) -> str:
    """Materialize ``src_path`` z-order-clustered on (x, y) into
    ``n_files`` zval-range files under the session warehouse
    (fingerprint-cached). The zval key is dropped before the write — the
    layout's value is that BOTH columns' per-file min/max envelopes come
    out tight, which is exactly what the unified scan planner's stats
    pruning consumes (scan_planner.py); the table schema stays the
    source's."""
    from telemetry_parquet_spark.sources.skipping import materialize_cached

    def write(out: str) -> None:
        (
            cluster_zorder_adaptive(
                read_parquet(spark, src_path), x, y, n_files, bits=bits
            )
            .drop("zval")
            .write.mode("overwrite")
            .parquet(out)
        )

    return materialize_cached(spark, src_path, name, write)


# --- n-column generalization ----------------------------------------------
#
# The 2-column path uses the parallel-bit-spread magic numbers (stride 2).
# For n columns the interleave is stride n: z bit (i*n + j) = bit i of
# column j. The generic construction below emits one shift-mask-shift term
# per (column, bit) — n*bits codegen'd integer ops per row, no UDF, no
# shuffle — which for the practical range (n <= 4, bits <= 10) is within
# ~2x of the magic-number path and keeps the code obviously correct. The
# adaptive bucket regimes (exact rank-CDF / approx quantile boundaries)
# apply per column unchanged.


def zorder_code_n(cols: list, bits: int = 6) -> Column:
    """Morton interleave of n bucket columns, ``bits`` bits each: z bit
    (i*n + j) = bit i of column j. Requires n * bits <= 62 (BIGINT)."""
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


def zorder_key_adaptive_n(
    df: DataFrame,
    cols: list[str],
    bits: int = 6,
    out_col: str = "zval",
    mode: str = "auto",
    exact_max_distinct: int = 1 << 16,
) -> DataFrame:
    """n-column ``zorder_key_adaptive``: per-column equal-frequency
    buckets (exact rank-CDF map or approx quantile projection, chosen per
    column as in the 2-column path), then the stride-n interleave. The
    fact table never shuffles in any regime."""
    if mode == "auto":
        cnt = df.agg(
            *[F.approx_count_distinct(c).alias(c) for c in cols]
        ).first()
        from pyspark.sql.types import NumericType

        numeric = {
            f.name for f in df.schema.fields
            if isinstance(f.dataType, NumericType)
        }
        modes = {
            c: (
                "approx"
                if cnt[c] > exact_max_distinct and c in numeric
                else "exact"
            )
            for c in cols
        }
    else:
        modes = {c: mode for c in cols}
    out = df
    tags = []
    for idx, c in enumerate(cols):
        tag = f"__zb_{idx}"
        tags.append(tag)
        if modes[c] == "exact":
            bm = rank_bucket_map(df, c, bits).select(
                F.col("v").alias("__zb_v"),
                F.col("bucket").alias(tag),
            )
            out = out.join(
                F.broadcast(bm), out[c] == bm["__zb_v"], "left"
            ).drop("__zb_v")
        else:
            out = out.withColumn(tag, quantile_bucket_expr(df, c, bits))
    return out.withColumn(out_col, zorder_code_n(tags, bits)).drop(*tags)


def ensure_zorder_dataset_n(
    spark,
    src_path: str,
    name: str,
    cols: list[str],
    n_files: int = 32,
    bits: int = 6,
) -> str:
    """``ensure_zorder_dataset`` for n clustering columns: zval-range
    files whose per-file min/max envelopes are tight on EVERY clustering
    column at once (fingerprint-cached; zval dropped before the write)."""
    from telemetry_parquet_spark.sources.skipping import materialize_cached

    def write(out: str) -> None:
        keyed = zorder_key_adaptive_n(
            read_parquet(spark, src_path), cols, bits=bits
        )
        (
            keyed.repartitionByRange(n_files, F.col("zval"))
            .sortWithinPartitions("zval")
            .drop("zval")
            .write.mode("overwrite")
            .parquet(out)
        )

    return materialize_cached(spark, src_path, name, write)

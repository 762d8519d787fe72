"""Data-layout queries: z-order clustering keys under an exact DuckDB
oracle (same integer-CDF bucket math, same unrolled Morton interleave)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from telemetry_parquet_spark.queries.registry import query
from telemetry_parquet_spark.sources.tables import load_table, read_parquet

_BITS = 8


def _interleave_sql(bx: str, by: str, bits: int = _BITS) -> str:
    """Unrolled Morton interleave as ANSI SQL — the term-for-term
    replay of sources/layout.py's ``zorder_code`` loop for two columns."""
    terms = []
    for i in range(bits):
        terms.append(f"((({bx} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({by} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


_ZORDER_ORACLE = f"""
    WITH n AS (SELECT COUNT(*) AS n FROM lineitem),
    hp AS (SELECT l_partkey AS v, COUNT(*) AS cnt FROM lineitem GROUP BY 1),
    cp AS (SELECT v,
                  CAST(SUM(cnt) OVER (ORDER BY v) - cnt AS BIGINT) AS start
           FROM hp),
    bp AS (SELECT v, CAST((start * {1 << _BITS}) // (SELECT n FROM n) AS BIGINT) AS b
           FROM cp),
    hs AS (SELECT l_suppkey AS v, COUNT(*) AS cnt FROM lineitem GROUP BY 1),
    cs AS (SELECT v,
                  CAST(SUM(cnt) OVER (ORDER BY v) - cnt AS BIGINT) AS start
           FROM hs),
    bs AS (SELECT v, CAST((start * {1 << _BITS}) // (SELECT n FROM n) AS BIGINT) AS b
           FROM cs)
    SELECT l.l_orderkey,
           l.l_linenumber,
           bp.b AS bucket_part,
           bs.b AS bucket_supp,
           CAST({_interleave_sql('bp.b', 'bs.b')} AS BIGINT) AS zval
    FROM lineitem l
    JOIN bp ON l.l_partkey = bp.v
    JOIN bs ON l.l_suppkey = bs.v
"""


@query("layout_zorder_keys", oracle=_ZORDER_ORACLE)
def layout_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA-ADAPTIVE z-order keys for lineitem over (l_partkey, l_suppkey):
    exact rank-CDF buckets + Morton interleave (sources/layout.py — the
    adaptive sibling of the raw-bit `zorder_codes`; buckets make the curve
    meaningful on wide/skewed domains where raw low bits are noise). The
    corpus never shuffles — both bucket maps are domain-sized broadcast
    joins; the oracle replays the identical integer math in DuckDB."""
    from telemetry_parquet_spark.sources.layout import rank_bucket_map, zorder_code

    li = load_table(spark, sf_dir, "lineitem")
    bp = rank_bucket_map(li, "l_partkey", _BITS)
    bs = rank_bucket_map(li, "l_suppkey", _BITS)
    return (
        li.select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
        .join(F.broadcast(bp.withColumnRenamed("bucket", "bucket_part")),
              F.col("l_partkey") == bp["v"], "inner")
        .drop("v")
        .join(F.broadcast(bs.withColumnRenamed("bucket", "bucket_supp")),
              F.col("l_suppkey") == bs["v"], "inner")
        .drop("v")
        .select(
            "l_orderkey",
            "l_linenumber",
            "bucket_part",
            "bucket_supp",
            zorder_code(["bucket_part", "bucket_supp"], _BITS).alias("zval"),
        )
    )


@query(
    "skip_bloom_point_lookup",
    # oracle = the plain full-scan filter: Bloom filters have no false
    # negatives, so the pruned read must return EXACTLY these rows. The
    # Spark side additionally RAISES unless files were actually skipped
    # (require_pruning) — a green row proves both the answer and the
    # pruning, the footer_stats discipline.
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus,
           o_totalprice, o_orderdate, o_orderpriority
    FROM orders
    WHERE o_custkey = (SELECT MIN(o_custkey) FROM orders)
    """,
)
def skip_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup on a NON-layout column served through the per-file
    Bloom skipping index (sources/skipping.py): orders re-laid-out into 32
    date-range files (the realistic hostile case — the probe key smears
    across the layout), one bitmap per file, probe -> candidate files ->
    pruned scan. Build is fingerprint-cached in the warehouse."""
    import os

    from telemetry_parquet_spark.sources.skipping import (
        build_file_bloom_index,
        ensure_split_dataset,
        pruned_point_lookup,
    )

    src = os.path.join(sf_dir, "orders.parquet")
    data = ensure_split_dataset(
        spark, src, "skip_orders_" + os.path.basename(sf_dir.rstrip("/")),
        layout_col="o_orderdate",
    )
    index = build_file_bloom_index(read_parquet(spark, data), "o_custkey")
    probe = read_parquet(spark, data).agg(F.min("o_custkey")).first()[0]
    return pruned_point_lookup(
        spark, data, index, "o_custkey", probe, require_pruning=True
    )


@query(
    "scan_planned_mixed_predicates",
    # oracle = the plain full-scan filter: min/max envelope pruning is
    # conservative and Bloom filters have no false negatives, so the
    # composed planner must return EXACTLY these rows. The Spark side
    # additionally RAISES unless EVERY wired mechanism skipped >= 1 file
    # (require_each_pruning) — a green row proves the min/max prune AND
    # the Bloom prune both engaged on one scan, the unified-planner step
    # the r8 verdict ordered.
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus,
           o_totalprice, o_orderdate, o_orderpriority
    FROM orders
    WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                          AND TIMESTAMP '1997-06-30 00:00:00'
      AND o_custkey = (SELECT MIN(o_custkey) FROM orders
                       WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                                             AND TIMESTAMP '1997-06-30 00:00:00')
    """,
)
def scan_planned_mixed_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-predicate scan through the unified planner
    (sources/scan_planner.py): orders re-laid-out into 32 date-range
    files, then ONE plan_scan composes (a) min/max file-stats pruning for
    the o_orderdate range — effective because the layout clusters dates —
    with (b) the per-file Bloom index for the o_custkey point predicate —
    effective because the key smears ACROSS that layout. Residual filter
    re-applies both predicates exactly."""
    import os

    from telemetry_parquet_spark.sources.scan_planner import (
        Eq,
        Range,
        build_minmax_file_stats,
        plan_scan,
    )
    from telemetry_parquet_spark.sources.skipping import (
        build_file_bloom_index,
        ensure_split_dataset,
    )

    load_table(spark, sf_dir, "orders")  # pins session UTC for ts literals
    src = os.path.join(sf_dir, "orders.parquet")
    data = ensure_split_dataset(
        spark, src, "skip_orders_" + os.path.basename(sf_dir.rstrip("/")),
        layout_col="o_orderdate",
    )
    files = read_parquet(spark, data)
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1997-06-30").cast("timestamp")
    probe = (
        files.where(F.col("o_orderdate").between(lo, hi))
        .agg(F.min("o_custkey"))
        .first()[0]
    )
    lo_v, hi_v = files.select(lo.alias("lo"), hi.alias("hi")).first()
    stats = build_minmax_file_stats(files, ["o_orderdate"])
    index = build_file_bloom_index(files, "o_custkey")
    pruned, _plan = plan_scan(
        spark,
        data,
        [Range("o_orderdate", lo_v, hi_v), Eq("o_custkey", probe)],
        stats=stats,
        bloom_indexes={"o_custkey": index},
        require_each_pruning=True,
    )
    return pruned.select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority",
    )


@query(
    "scan_planned_zorder_ranges",
    # oracle = the plain full-scan double-range filter. The Spark side
    # serves it through the unified planner over a Z-ORDERED layout
    # (lineitem clustered on the Morton curve of (l_partkey, l_suppkey)),
    # where per-file min/max envelopes are tight on BOTH columns at once
    # — and RAISES unless each column's stats prune independently
    # (require_each_pruning with per-predicate accounting). A linear sort
    # could only ever satisfy one of the two.
    oracle="""
    WITH b AS (
      SELECT MIN(l_partkey) AS pmin, MAX(l_partkey) AS pmax,
             MIN(l_suppkey) AS smin, MAX(l_suppkey) AS smax
      FROM lineitem
    )
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice
    FROM lineitem, b
    WHERE l_partkey BETWEEN pmin + CAST(floor((pmax - pmin) * 0.50) AS BIGINT)
                        AND pmin + CAST(floor((pmax - pmin) * 0.75) AS BIGINT)
      AND l_suppkey BETWEEN smin + CAST(floor((smax - smin) * 0.25) AS BIGINT)
                        AND smin + CAST(floor((smax - smin) * 0.50) AS BIGINT)
    """,
)
def scan_planned_zorder_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two range predicates, BOTH pruned by min/max stats, on one scan —
    the payoff a z-order layout exists for, proven through the planner's
    per-predicate file accounting. Build is fingerprint-cached; bound
    arithmetic is integer-exact (int-valued doubles, floor) so the
    predicate endpoints match the oracle's bit for bit."""
    import math as _math
    import os

    from telemetry_parquet_spark.sources.layout import ensure_zorder_dataset
    from telemetry_parquet_spark.sources.scan_planner import (
        Range,
        build_minmax_file_stats,
        plan_scan,
    )

    src = os.path.join(sf_dir, "lineitem.parquet")
    data = ensure_zorder_dataset(
        spark, src,
        "zorder_lineitem_" + os.path.basename(sf_dir.rstrip("/")),
        cols=["l_partkey", "l_suppkey"],
    )
    files = read_parquet(spark, data)
    b = files.agg(
        F.min("l_partkey").alias("pmin"), F.max("l_partkey").alias("pmax"),
        F.min("l_suppkey").alias("smin"), F.max("l_suppkey").alias("smax"),
    ).first()
    p_lo = b.pmin + _math.floor((b.pmax - b.pmin) * 0.50)
    p_hi = b.pmin + _math.floor((b.pmax - b.pmin) * 0.75)
    s_lo = b.smin + _math.floor((b.smax - b.smin) * 0.25)
    s_hi = b.smin + _math.floor((b.smax - b.smin) * 0.50)
    stats = build_minmax_file_stats(files, ["l_partkey", "l_suppkey"])
    pruned, _plan = plan_scan(
        spark,
        data,
        [Range("l_partkey", p_lo, p_hi), Range("l_suppkey", s_lo, s_hi)],
        stats=stats,
        require_each_pruning=True,
    )
    return pruned.select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_extendedprice",
    )


@query(
    "scan_planned_zorder3_ranges",
    # oracle = the plain full-scan triple-range filter; the Spark side
    # serves it through the planner over a 3-COLUMN z-order layout
    # (stride-3 Morton interleave, zorder_code) and RAISES unless all
    # THREE columns' min/max stats prune independently — the n-column
    # generalization the 2-D module promised, proven engaged.
    oracle="""
    WITH b AS (
      SELECT MIN(l_partkey) AS pmin, MAX(l_partkey) AS pmax,
             MIN(l_suppkey) AS smin, MAX(l_suppkey) AS smax,
             MIN(l_orderkey) AS omin, MAX(l_orderkey) AS omax
      FROM lineitem
    )
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
    FROM lineitem, b
    WHERE l_partkey BETWEEN pmin + CAST(floor((pmax - pmin) * 0.55) AS BIGINT)
                        AND pmax
      AND l_suppkey BETWEEN smin AND smin + CAST(floor((smax - smin) * 0.45) AS BIGINT)
      AND l_orderkey BETWEEN omin + CAST(floor((omax - omin) * 0.55) AS BIGINT)
                         AND omax
    """,
)
def scan_planned_zorder3_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three range predicates, EACH pruned by per-file min/max, on one
    scan of a 3-column Morton layout (l_partkey × l_suppkey × l_orderkey,
    6 bits per column). Each range is a half-domain cut at 0.55/0.45
    — strictly inside one half, pinning the column's top bucket bit while
    staying clear of the boundary VALUE itself (a cut at exactly 0.50
    lands on a value the lower-half files legitimately contain, so
    nothing can be pruned on that axis — found at sf0.01) — necessary for pruning here, because with 32
    zval-range files only the top ~5 interleave bits are fixed per file,
    i.e. each column's single most significant bit (a mid-domain range
    spanning both halves of any column prunes nothing — verified). The
    planner must skip files on all three axes or raise."""
    import math as _math
    import os

    from telemetry_parquet_spark.sources.layout import ensure_zorder_dataset
    from telemetry_parquet_spark.sources.scan_planner import (
        Range,
        build_minmax_file_stats,
        plan_scan,
    )

    cols = ["l_partkey", "l_suppkey", "l_orderkey"]
    src = os.path.join(sf_dir, "lineitem.parquet")
    data = ensure_zorder_dataset(
        spark, src,
        "zorder3_lineitem_" + os.path.basename(sf_dir.rstrip("/")),
        cols=cols, bits=6,
    )
    files = read_parquet(spark, data)
    b = files.agg(
        *[F.min(c).alias(f"mn_{c}") for c in cols],
        *[F.max(c).alias(f"mx_{c}") for c in cols],
    ).first()

    def bound(c: str, frac: float) -> int:
        return b[f"mn_{c}"] + _math.floor(
            (b[f"mx_{c}"] - b[f"mn_{c}"]) * frac
        )

    preds = [
        Range("l_partkey", bound("l_partkey", 0.55), b["mx_l_partkey"]),
        Range("l_suppkey", b["mn_l_suppkey"], bound("l_suppkey", 0.45)),
        Range("l_orderkey", bound("l_orderkey", 0.55), b["mx_l_orderkey"]),
    ]
    pruned, _plan = plan_scan(
        spark, data, preds,
        stats=build_minmax_file_stats(files, cols),
        require_each_pruning=True,
    )
    return pruned.select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"
    )

"""Z-order layout: the data-skipping property, proven from parquet footers.

Min/max skipping is only as good as the per-file value rectangles. After
``cluster_zorder`` on [x, y], BOTH columns' per-file ranges must shrink to
a fraction of the domain; a linear sort narrows only its own column.
"""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from telemetry_parquet_spark.sources.layout import cluster_zorder, zorder_code


def _file_ranges(path: str, cols: tuple[str, str]):
    """Per-file (max-min) widths for each column, from footer statistics."""
    widths = {c: [] for c in cols}
    for f in sorted(glob.glob(f"{path}/*.parquet")):
        md = pq.ParquetFile(f).metadata
        lo = {c: None for c in cols}
        hi = {c: None for c in cols}
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                name = col.path_in_schema
                if name in cols and col.statistics is not None:
                    s = col.statistics
                    lo[name] = s.min if lo[name] is None else min(lo[name], s.min)
                    hi[name] = s.max if hi[name] is None else max(hi[name], s.max)
        for c in cols:
            widths[c].append(hi[c] - lo[c])
    return {c: sum(v) / len(v) for c, v in widths.items()}


def _grid(spark, n=65536, side=256):
    """n points uniformly covering a side×side grid, in hash order."""
    return spark.range(n).select(
        (F.xxhash64("id").bitwiseAND(F.lit(side - 1))).alias("x"),
        (F.xxhash64("id", F.lit(7)).bitwiseAND(F.lit(side - 1))).alias("y"),
    )


def test_zorder_narrows_both_columns(spark, tmp_path):
    df = _grid(spark)
    linear = str(tmp_path / "linear")
    zordered = str(tmp_path / "zorder")
    df.repartitionByRange(16, "x").sortWithinPartitions("x").write.parquet(linear)
    cluster_zorder(df, ["x", "y"], 16, 8).write.parquet(zordered)

    lin = _file_ranges(linear, ("x", "y"))
    zo = _file_ranges(zordered, ("x", "y"))
    # linear sort: x tight, y full-domain — a y-filter skips NOTHING
    assert lin["x"] < 64 and lin["y"] > 192
    # z-order: BOTH columns' per-file ranges are a fraction of the domain,
    # so min/max pruning works for filters on either column. (The trade is
    # balance, not area: x widens vs the linear sort, y collapses from
    # full-domain to under half — that's what makes 2-D skipping possible.)
    assert zo["x"] < 128 and zo["y"] < 128
    assert zo["y"] < 0.5 * lin["y"]


def test_zorder_code_locality(spark):
    """Points close in (x, y) share long code prefixes: the code of (x, y)
    and (x+1, y) differ less on average than random pairs (sanity on the
    interleave construction)."""
    rows = (
        spark.range(1000)
        .select(
            zorder_code(
                [F.col("id") % 256, (F.col("id") * 7) % 256], 16
            ).alias("z"),
            (F.col("id") % 256).alias("x"),
            ((F.col("id") * 7) % 256).alias("y"),
        )
        .collect()
    )
    # spot-check the interleave against a pure-Python reference
    def spread(v):
        v &= 0xFFFF
        for s, m in ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)):
            v = (v | (v << s)) & m
        return v

    for r in rows[:100]:
        assert r.z == spread(r.x) | (spread(r.y) << 1)


# --- adaptive (rank-CDF bucketed) variant ----------------------------------


def _morton_py(x: int, y: int, bits: int = 8) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_adaptive_key_matches_python_reference_and_is_bijective(spark):
    df = (
        spark.range(256)
        .withColumnRenamed("id", "x")
        .crossJoin(spark.range(0, 256, 17).withColumnRenamed("id", "y"))
        .withColumn("z", zorder_code(["x", "y"], 8))
    )
    n = df.count()
    assert df.select("z").distinct().count() == n  # bijective on the grid
    for r in df.where("x in (0,1,5,127,128,255) and y in (0,3,64,255)").collect():
        assert r.z == _morton_py(r.x, r.y), (r.x, r.y)


def test_adaptive_key_covers_every_row_deterministically(spark, sf_dir):
    from telemetry_parquet_spark.sources.layout import zorder_key

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    keyed = zorder_key(li, ["l_partkey", "l_suppkey"])
    stats = keyed.agg(
        F.min("zval").alias("lo"), F.max("zval").alias("hi"), F.count("*").alias("n")
    ).collect()[0]
    assert stats.n == li.count()  # broadcast joins drop/duplicate nothing
    assert 0 <= stats.lo and stats.hi < (1 << 16)
    again = zorder_key(li, ["l_partkey", "l_suppkey"])
    assert (
        keyed.select("l_orderkey", "l_linenumber", "zval")
        .exceptAll(again.select("l_orderkey", "l_linenumber", "zval"))
        .count()
        == 0
    )


def _candidate_files(path: str, box: dict[str, tuple[int, int]]) -> tuple[int, int]:
    """(files whose footer min/max intersects the box, total files)."""
    files = sorted(glob.glob(f"{path}/part-*.parquet"))
    hit = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        mins: dict[str, int] = {}
        maxs: dict[str, int] = {}
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                name = col.path_in_schema
                if name not in box or col.statistics is None:
                    continue
                st = col.statistics
                mins[name] = min(mins.get(name, st.min), st.min)
                maxs[name] = max(maxs.get(name, st.max), st.max)
        if all(maxs[c] >= lo and mins[c] <= hi for c, (lo, hi) in box.items()):
            hit += 1
    return hit, len(files)


def test_adaptive_layout_prunes_both_dimensions(spark, sf_dir, tmp_path):
    """The adaptive layout's payoff, measured from written footers on REAL
    (non-grid) data. A layout sorted on l_partkey alone prunes partkey
    predicates perfectly but leaves every file spanning the FULL suppkey
    domain; the z-layout tiles both. Per-dimension workload total (one
    predicate per dimension) is the robust comparison — on the combined
    two-dim box the layouts tie at this tiny SF (suppkey has only 10
    distinct values, so a 40–60% box spans a fifth of the y domain)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    n_files = 64
    single = str(tmp_path / "single")
    zpath = str(tmp_path / "zorder")
    (
        li.repartitionByRange(n_files, "l_partkey")
        .sortWithinPartitions("l_partkey")
        .write.parquet(single)
    )
    cluster_zorder(li, ["l_partkey", "l_suppkey"], n_files).write.parquet(zpath)

    lo_p, hi_p = li.approxQuantile("l_partkey", [0.4, 0.6], 0.0)
    lo_s, hi_s = li.approxQuantile("l_suppkey", [0.4, 0.6], 0.0)
    box_p = {"l_partkey": (int(lo_p), int(hi_p))}
    box_s = {"l_suppkey": (int(lo_s), int(hi_s))}

    # the dimension the single sort cannot prune: near-total scan for the
    # single layout, heavy pruning for z-order.
    hit_single_s, total_single = _candidate_files(single, box_s)
    hit_z_s, _ = _candidate_files(zpath, box_s)
    assert hit_single_s >= total_single - 1  # suppkey range is full-width
    assert hit_z_s < hit_single_s // 2, (hit_z_s, hit_single_s)

    # mixed workload: z-order pays a modest partkey penalty to prune BOTH.
    hit_single_p, _ = _candidate_files(single, box_p)
    hit_z_p, _ = _candidate_files(zpath, box_p)
    assert hit_z_p + hit_z_s < (hit_single_p + hit_single_s) * 0.8

    # soundness: the layout is a permutation — box rows all survive.
    pred = F.col("l_partkey").between(*box_p["l_partkey"]) & F.col(
        "l_suppkey"
    ).between(*box_s["l_suppkey"])
    assert spark.read.parquet(zpath).where(pred).count() == li.where(pred).count()


def test_quantile_buckets_monotonic_and_balanced(spark, sf_dir):
    """Approx boundary buckets: monotonic in the value, inside [0, 2^bits),
    and near-equal-frequency on a near-unique column."""
    from telemetry_parquet_spark.sources.layout import quantile_bucket_expr
    from telemetry_parquet_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    bits = 6
    bucketed = li.select(
        F.col("l_extendedprice").alias("v"),
        quantile_bucket_expr(li, "l_extendedprice", bits=bits).alias("b"),
    )
    rows = sorted((float(r["v"]), int(r["b"])) for r in bucketed.collect())
    assert all(0 <= b < (1 << bits) for _, b in rows)
    assert all(b1 <= b2 for (_, b1), (_, b2) in zip(rows, rows[1:]))
    # equal-frequency within GK tolerance: no bucket > 2x the mean
    from collections import Counter

    counts = Counter(b for _, b in rows)
    mean = len(rows) / (1 << bits)
    assert max(counts.values()) <= 2 * mean


def test_auto_mode_matches_exact_on_small_domain(spark, sf_dir):
    """Keying two vocabulary-sized columns must equal the exact rank-CDF
    keying bit-for-bit (the regime probe picks exact under the
    threshold): ``zval`` equals a driver-side interleave of the two
    collected ``rank_bucket_map`` tables."""
    from telemetry_parquet_spark.sources.layout import (
        rank_bucket_map,
        zorder_key,
    )
    from telemetry_parquet_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    auto = zorder_key(li, ["l_partkey", "l_suppkey"], 8)
    bp = {r.v: r.bucket for r in rank_bucket_map(li, "l_partkey", 8).collect()}
    bs = {r.v: r.bucket for r in rank_bucket_map(li, "l_suppkey", 8).collect()}
    key = ["l_orderkey", "l_linenumber"]
    a = {tuple(r[k] for k in key): r["zval"] for r in auto.collect()}
    e = {
        tuple(r[k] for k in key): _morton_py(bp[r.l_partkey], bs[r.l_suppkey])
        for r in li.collect()
    }
    assert a == e


def test_zorder3_prunes_all_three_dimensions(spark, sf_dir, tmp_path):
    """The n-column generalization's payoff: after a stride-3 Morton
    layout on (l_partkey, l_suppkey, l_orderkey), a HALF-domain predicate
    on EACH column prunes files — where a single-column sort prunes only
    its own axis. Also pins zorder_code's packing against a Python
    recomputation."""
    cols = ["l_partkey", "l_suppkey", "l_orderkey"]
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_linenumber", *cols
    )
    n_files = 32
    zpath = str(tmp_path / "z3")
    cluster_zorder(li, cols, n_files, 6).write.parquet(zpath)
    # per-axis half-domain boxes (cut at 0.55 to sit clear of the median
    # boundary value; see scan_planned_zorder3_ranges)
    hits = {}
    for c in cols:
        lo = li.approxQuantile(c, [0.55], 0.0)[0]
        box = {c: (int(lo), int(li.agg(F.max(c)).first()[0]))}
        hits[c], total = _candidate_files(zpath, box)
        assert hits[c] < total, (c, hits[c], total)  # every axis prunes

    # packing: interleave equals a driver-side recomputation
    rows = [(5, 9, 63), (0, 0, 0), (63, 1, 32)]
    df = spark.createDataFrame(rows, ["a", "b", "c"])
    got = [r.z for r in df.select(zorder_code(["a", "b", "c"], 6).alias("z")).collect()]
    def pyz(a, b, c):
        z = 0
        for i in range(6):
            z |= ((a >> i) & 1) << (3 * i)
            z |= ((b >> i) & 1) << (3 * i + 1)
            z |= ((c >> i) & 1) << (3 * i + 2)
        return z
    assert got == [pyz(*r) for r in rows]

"""Partition-spec evolution (sources/partition_spec.py).

The contract under test, end to end:

- ``set_partition_spec`` is a metadata-only commit — zero files
  rewritten, old files keep pruning under min/max stats.
- spec-aware appends record each new file's EXACT partition tuple in
  the manifest, parsed from the hive-layout path (data files stay
  self-contained: ``partitionBy`` strips only the derived ``__pt_i``
  columns).
- ``plan_snapshot_scan`` prunes each file under the spec it was
  written with: ``bucket(n)`` serves point lookups min/max stats never
  can; ``day`` serves ranges; NULL-tuple files drop under comparison
  predicates; undecidable shapes (Range over bucket) keep.
- Pruning is conservative only — every planned result below is
  asserted EQUAL to the unpruned answer.
- Write-side (JVM) and plan-side (Python) transforms agree
  bit-for-bit (crc32 bucket parity is the load-bearing one).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from telemetry_parquet_spark.sources.partition_spec import (
    PartitionField,
    partition_value,
    set_partition_spec,
)
from telemetry_parquet_spark.sources.scan_planner import Eq, In, Range
from telemetry_parquet_spark.sources.snapshots import (
    append,
    compact_table,
    delete_where,
    latest_version,
    plan_snapshot_scan,
    read_manifest,
    read_snapshot,
)


def _frame(spark, n=1000):
    return spark.range(0, n).select(
        F.col("id").alias("k"),
        (F.col("id") % 97).cast("long").alias("cust"),
        F.date_add(
            F.lit("2024-01-01").cast("date"), (F.col("id") % 5).cast("int")
        ).alias("d"),
        F.concat(F.lit("u "), (F.col("id") % 13).cast("string")).alias("s"),
    )


@pytest.fixture(scope="module")
def evolved(spark, tmp_path_factory):
    """One shared chain: v1 pre-spec append (k-clustered), v2 set-spec
    (bucket(8, cust), day(d)), v3 spec-partitioned append."""
    root = str(tmp_path_factory.mktemp("pspec"))
    df = _frame(spark)
    append(spark, root, df.where("id < 500").repartitionByRange(4, "k"))
    set_partition_spec(
        root,
        [PartitionField("cust", "bucket", 8), PartitionField("d", "day")],
    )
    append(spark, root, df.where("id >= 500"))
    return root, df


def test_set_spec_is_metadata_only(evolved, spark):
    root, _ = evolved
    m1 = read_manifest(root, 1)
    m2 = read_manifest(root, 2)
    assert m2["action"] == "set-spec"
    assert m2["files"] == m1["files"]  # no rewrite, carried by reference
    assert m2["partition_spec"]["spec_id"] == 1
    assert "partitions" not in m2 or not m2["partitions"]


def test_partitioned_append_records_tuples(evolved, spark):
    root, df = evolved
    m = read_manifest(root, 3)
    old = set(read_manifest(root, 1)["files"])
    new = [f for f in m["files"] if f not in old]
    parts = m["partitions"]
    assert set(parts) == set(new)  # every new file, no pre-spec file
    assert all(e["spec_id"] == 1 and len(e["values"]) == 2
               for e in parts.values())
    # 8 buckets x 5 days, one file per tuple (the repartition discipline)
    assert len(new) == 40
    # tuples match the data: re-derive one file's bucket from its rows
    f0, e0 = next(iter(sorted(parts.items())))
    got = (
        spark.read.parquet(os.path.join(root, f0))
        .select(
            F.pmod(F.crc32(F.col("cust").cast("string").cast("binary")),
                   F.lit(8)).alias("b")
        )
        .distinct()
        .collect()
    )
    assert [r.b for r in got] == [e0["values"][0]]


def test_full_read_unchanged_across_evolution(evolved, spark):
    root, df = evolved
    assert read_snapshot(spark, root).count() == df.count()


def test_bucket_point_lookup_prunes_and_matches(evolved, spark):
    root, df = evolved
    pruned, plan = plan_snapshot_scan(
        spark, root, [Eq("cust", 42)], require_pruning=True
    )
    assert any(name == "spec:cust" for name, _ in plan.steps)
    # exactly 1/8 of the 40 spec files survive, plus the 4 pre-spec ones
    assert len(plan.files) == 4 + 5
    assert pruned.count() == df.where("cust = 42").count()


def test_in_list_unions_buckets(evolved, spark):
    root, df = evolved
    pruned, plan = plan_snapshot_scan(spark, root, [In("cust", (1, 2))])
    assert pruned.count() == df.where("cust in (1, 2)").count()
    assert any(name == "spec:cust" for name, _ in plan.steps)


def test_day_range_prunes_and_matches(evolved, spark):
    root, df = evolved
    pruned, plan = plan_snapshot_scan(
        spark, root, [Range("d", "2024-01-02", "2024-01-03")]
    )
    assert any(name == "spec:d" for name, _ in plan.steps)
    # 2 of 5 days survive among spec files: 8*2 + 4 pre-spec
    assert len(plan.files) == 4 + 16
    assert (
        pruned.count()
        == df.where("d between '2024-01-02' and '2024-01-03'").count()
    )


def test_range_over_bucket_is_kept_not_wrong(evolved, spark):
    """Bucket scrambles order: a Range on the bucketed column must not
    spec-prune (undecidable), and the answer stays exact."""
    root, df = evolved
    pruned, plan = plan_snapshot_scan(spark, root, [Range("cust", 10, 20)])
    assert not any(n.startswith("spec:") for n, _ in plan.steps)
    assert pruned.count() == df.where("cust between 10 and 20").count()


def test_null_tuple_files_drop_under_eq(spark, tmp_path):
    root = str(tmp_path / "nulls")
    df = _frame(spark, 200).withColumn(
        "s", F.when(F.col("k") % 7 == 0, F.lit(None)).otherwise(F.col("s"))
    )
    append(spark, root, df.where("k < 50"))
    set_partition_spec(root, [PartitionField("s", "identity")])
    append(spark, root, df.where("k >= 50"))
    m = read_manifest(root, latest_version(root))
    null_files = [
        f for f, e in m["partitions"].items() if e["values"][0] is None
    ]
    assert null_files  # the NULL partition materialized
    pruned, plan = plan_snapshot_scan(spark, root, [Eq("s", "u 5")])
    assert not set(null_files) & {
        os.path.relpath(p, root) for p in plan.files
    }
    assert pruned.count() == df.where("s = 'u 5'").count()


def test_identity_string_path_escaping_round_trips(spark, tmp_path):
    """Values with spaces/equals survive the hive-path encode/decode."""
    root = str(tmp_path / "esc")
    df = spark.createDataFrame(
        [(1, "a b=c"), (2, "plain"), (3, "a b=c")], "k int, s string"
    )
    append(spark, root, df.where("k = 2"))
    set_partition_spec(root, [PartitionField("s", "identity")])
    append(spark, root, df.where("k != 2"))
    m = read_manifest(root, latest_version(root))
    vals = {e["values"][0] for e in m["partitions"].values()}
    assert vals == {"a b=c"}
    pruned, _ = plan_snapshot_scan(spark, root, [Eq("s", "a b=c")])
    assert pruned.count() == 2


def test_truncate_prefix_eq(spark, tmp_path):
    root = str(tmp_path / "trunc")
    df = _frame(spark, 300).withColumn("s", F.concat("s", F.lit("xyz")))
    append(spark, root, df.where("k < 100"))
    set_partition_spec(root, [PartitionField("s", "truncate", 4)])
    append(spark, root, df.where("k >= 100"))
    pruned, plan = plan_snapshot_scan(spark, root, [Eq("s", "u 12xyz")])
    assert any(n == "spec:s" for n, _ in plan.steps)
    assert pruned.count() == df.where("s = 'u 12xyz'").count()


def test_spec_evolution_per_file(spark, tmp_path):
    """Two specs live side by side: files prune under the spec that
    wrote them, and the CURRENT spec governs only new writes."""
    root = str(tmp_path / "evolve2")
    df = _frame(spark, 600)
    append(spark, root, df.where("k < 200"))
    set_partition_spec(root, [PartitionField("cust", "bucket", 4)])
    append(spark, root, df.where("k >= 200 and k < 400"))
    set_partition_spec(root, [PartitionField("cust", "bucket", 8)])
    append(spark, root, df.where("k >= 400"))
    m = read_manifest(root, latest_version(root))
    assert m["partition_spec"]["spec_id"] == 2
    assert {e["spec_id"] for e in m["partitions"].values()} == {1, 2}
    pruned, plan = plan_snapshot_scan(
        spark, root, [Eq("cust", 42)], require_pruning=True
    )
    # 1/4 of spec-1 files + 1/8 of spec-2 files + the pre-spec files
    by_spec = {1: 0, 2: 0}
    kept_rel = {os.path.relpath(p, root) for p in plan.files}
    for f, e in m["partitions"].items():
        if f in kept_rel:
            by_spec[e["spec_id"]] += 1
    assert by_spec == {1: 1, 2: 1}
    assert pruned.count() == df.where("cust = 42").count()


def test_cow_rewrite_degrades_to_stats_never_wrong(spark, tmp_path):
    root = str(tmp_path / "cow")
    df = _frame(spark, 400)
    append(spark, root, df.where("k < 100"))
    set_partition_spec(root, [PartitionField("cust", "bucket", 4)])
    append(spark, root, df.where("k >= 100"))
    delete_where(spark, root, "cust = 13")  # hits ONE bucket file
    m = read_manifest(root, latest_version(root))
    # the rewritten bucket file lost its entry; carried ones kept theirs
    parts = m["partitions"]
    assert set(parts) <= set(m["files"])
    assert len(parts) == 3  # 4 bucket files - the rewritten one
    pruned, _ = plan_snapshot_scan(spark, root, [Eq("cust", 42)])
    assert pruned.count() == df.where("cust = 42 and cust <> 13").count()


def test_compact_under_spec_retuples_everything(spark, tmp_path):
    """compact_table under a spec = rewrite-data-files: the whole state
    comes back in the CURRENT spec's one-file-per-tuple layout, so
    tuples survive maintenance, pre-spec files gain them, and bucket
    pruning afterwards is FULL (no stats-only remainder)."""
    root = str(tmp_path / "retuple")
    df = _frame(spark, 400)
    append(spark, root, df.where("k < 100"))  # pre-spec, no tuples
    set_partition_spec(root, [PartitionField("cust", "bucket", 4)])
    append(spark, root, df.where("k >= 100"))
    delete_where(spark, root, "cust = 13")  # orphans one bucket file
    v = compact_table(spark, root, target_bytes=64 * 1024 * 1024)
    m = read_manifest(root, v)
    assert m["action"] == "compact-spec"
    assert set(m["partitions"]) == set(m["files"])  # EVERY file tupled
    assert read_snapshot(spark, root).count() == df.where(
        "cust <> 13"
    ).count()
    pruned, plan = plan_snapshot_scan(
        spark, root, [Eq("cust", 42)], require_pruning=True
    )
    # full bucket pruning: exactly the probe's bucket survives
    assert len(plan.files) == 1
    assert pruned.count() == df.where("cust = 42").count()


def test_overwrite_under_spec(spark, tmp_path):
    from telemetry_parquet_spark.sources.partition_spec import (
        drop_partition_spec,
    )
    from telemetry_parquet_spark.sources.snapshots import overwrite

    root = str(tmp_path / "ow")
    df = _frame(spark, 300)
    append(spark, root, df.where("k < 100"))
    set_partition_spec(root, [PartitionField("cust", "bucket", 4)])
    v = overwrite(spark, root, df)
    m = read_manifest(root, v)
    assert set(m["partitions"]) == set(m["files"])
    pruned, plan = plan_snapshot_scan(
        spark, root, [Eq("cust", 7)], require_pruning=True
    )
    assert pruned.count() == df.where("cust = 7").count()
    # replacing the table with data lacking a spec column is loud
    with pytest.raises(ValueError, match="drop_partition_spec"):
        overwrite(spark, root, df.drop("cust"))
    # after dropping the spec the same overwrite commits unpartitioned,
    # and the spec HISTORY stays for any file that still carries a tuple
    drop_partition_spec(root)
    v2 = overwrite(spark, root, df.drop("cust"))
    m2 = read_manifest(root, v2)
    assert not m2.get("partitions")
    assert m2.get("specs")  # history preserved
    assert read_snapshot(spark, root).count() == df.count()


def test_bucket_crc32_write_plan_parity(spark):
    """The load-bearing bit-compat: Spark's crc32(cast(x as string)) and
    Python's zlib.crc32(str(x)) agree for ints and strings."""
    f_int = PartitionField("cust", "bucket", 8)
    f_str = PartitionField("s", "bucket", 8)
    probe = spark.createDataFrame(
        [(42, "a b=c"), (0, ""), (97, "Ünïcode"), (-5, "x" * 100)],
        "cust long, s string",
    )
    rows = probe.select(
        "cust", "s",
        F.pmod(F.crc32(F.col("cust").cast("string").cast("binary")),
               F.lit(8)).alias("bi"),
        F.pmod(F.crc32(F.col("s").cast("string").cast("binary")),
               F.lit(8)).alias("bs"),
    ).collect()
    for r in rows:
        assert partition_value(f_int, r.cust) == r.bi
        assert partition_value(f_str, r.s) == r.bs
    assert partition_value(PartitionField("d", "day"), "2024-01-03") == (
        19725
    )


def test_spec_validation_is_loud(spark, tmp_path):
    root = str(tmp_path / "bad")
    append(spark, root, _frame(spark, 10))
    with pytest.raises(ValueError, match="not in table schema"):
        set_partition_spec(root, [PartitionField("nope", "identity")])
    with pytest.raises(ValueError, match="date/timestamp"):
        set_partition_spec(root, [PartitionField("cust", "day")])
    with pytest.raises(ValueError, match="n >= 1"):
        set_partition_spec(root, [PartitionField("cust", "bucket")])
    with pytest.raises(ValueError, match="identity"):
        set_partition_spec(root, [PartitionField("d", "identity")])
    with pytest.raises(ValueError, match="string column"):
        set_partition_spec(root, [PartitionField("cust", "truncate", 3)])


def test_groupby_partition_rollup_exact_and_refusals(spark, tmp_path):
    """The partitions-metadata rollup: per-tuple COUNT(*)/SUM folded
    from the manifest matches the scan GROUP BY exactly, and every
    not-exactly-answerable state refuses (None) instead of guessing."""
    from telemetry_parquet_spark.sources.partition_spec import (
        snapshot_groupby_partition,
    )
    from telemetry_parquet_spark.sources.snapshots import (
        delete_where_mor,
    )

    root = str(tmp_path / "rollup")
    df = _frame(spark, 500)
    append(spark, root, df.where("k < 200"))
    set_partition_spec(root, [PartitionField("d", "day")])
    append(spark, root, df.where("k >= 200"))
    # pre-spec files lack tuples -> refuse
    assert snapshot_groupby_partition(root, agg_cols=("cust",)) is None
    compact_table(spark, root, target_bytes=1 << 26)  # migrate
    got = snapshot_groupby_partition(root, agg_cols=("cust",))
    assert got is not None
    fields, groups = got
    exp = {
        (r.day,): (r.n, r.s)
        for r in df.groupBy(
            F.datediff("d", F.lit("1970-01-01").cast("date")).alias("day")
        )
        .agg(F.count("*").alias("n"), F.sum("cust").alias("s"))
        .collect()
    }
    assert {
        k: (g["n_rows"], g["sum"]["cust"]) for k, g in groups.items()
    } == exp
    # non-integer agg column -> refuse; unknown column -> refuse
    assert snapshot_groupby_partition(root, agg_cols=("s",)) is None
    assert snapshot_groupby_partition(root, agg_cols=("nope",)) is None
    # outstanding deletion vectors: answered EXACTLY via the vectors'
    # per-file sidecar deltas (test_rollup_stays_metadata_only_through_
    # mor_deletes covers the full matrix)
    delete_where_mor(spark, root, "cust = 13")
    got2 = snapshot_groupby_partition(root, agg_cols=("cust",))
    assert got2 is not None
    live = df.where("cust <> 13")
    exp2 = {
        (r.day,): (r.n, r.s)
        for r in live.groupBy(
            F.datediff("d", F.lit("1970-01-01").cast("date")).alias("day")
        )
        .agg(F.count("*").alias("n"), F.sum("cust").alias("s"))
        .collect()
    }
    assert {
        k: (g["n_rows"], g["sum"]["cust"]) for k, g in got2[1].items()
    } == exp2


def test_cross_typed_literals_keep_not_misprune(spark, tmp_path):
    """A literal whose Python type disagrees with the stored tuple must
    KEEP (undecidable), never prune: Spark's residual coerces
    42.0 == 42 and '42' == 42 where Python's == says unequal."""
    root = str(tmp_path / "xtype")
    df = _frame(spark, 200)
    append(spark, root, df.where("k < 1"))
    set_partition_spec(root, [PartitionField("cust", "bucket", 4)])
    append(spark, root, df.where("k >= 1"))
    # float literal on an int bucket column: crc32('42.0') != crc32('42')
    pruned, plan = plan_snapshot_scan(spark, root, [Eq("cust", 42.0)])
    assert not any(n.startswith("spec:") for n, _ in plan.steps)
    assert pruned.count() == df.where("cust = 42.0 and k >= 1").count()
    # string literal on an int identity column: keep, residual decides
    root2 = str(tmp_path / "xtype2")
    append(spark, root2, df.where("k < 1"))
    set_partition_spec(root2, [PartitionField("cust", "identity")])
    append(spark, root2, df.where("k >= 1"))
    pruned2, plan2 = plan_snapshot_scan(spark, root2, [Eq("cust", "42")])
    assert not any(n.startswith("spec:") for n, _ in plan2.steps)
    assert pruned2.count() == df.where("cust = '42' and k >= 1").count()


def test_streaming_ingest_under_spec_records_tuples(spark, tmp_path):
    """The exactly-once streaming sink composes with partition specs for
    free (it appends through the same writer): each micro-batch commits
    day-partitioned files with tuples in the manifest, a replayed batch
    is stamp-skipped, and the tuple pruning works on the streamed table."""
    import shutil

    from telemetry_parquet_spark.streaming.pipelines import (
        stream_commit_snapshots,
    )

    src = str(tmp_path / "landing")
    root = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    df = _frame(spark, 400).drop("d").withColumn(
        "ts",
        F.to_timestamp(
            F.date_add(F.lit("2024-01-01").cast("date"),
                       (F.col("k") % 3).cast("int"))
        ),
    )
    b1, b2 = df.where("k < 200"), df.where("k >= 200")

    b1.write.mode("overwrite").parquet(src)
    stream_commit_snapshots(spark, src, root, ckpt)
    set_partition_spec(root, [PartitionField("ts", "day")])
    ckpt_saved = str(tmp_path / "ckpt_saved")
    shutil.copytree(ckpt, ckpt_saved)
    b2.write.mode("append").parquet(src)
    stream_commit_snapshots(spark, src, root, ckpt)
    m = read_manifest(root, latest_version(root))
    parts = m.get("partitions") or {}
    assert len(parts) == 3  # batch 2 landed as one file per day
    assert read_snapshot(spark, root).count() == 400
    # replayed batch: stamp-skipped, no duplicate partitioned files
    shutil.rmtree(ckpt)
    shutil.copytree(ckpt_saved, ckpt)
    stream_commit_snapshots(spark, src, root, ckpt)
    assert read_snapshot(spark, root).count() == 400
    # tuple pruning engages on the streamed table (pre-spec batch kept)
    pruned, plan = plan_snapshot_scan(
        spark, root, [Eq("ts", "2024-01-02 00:00:00")]
    )
    assert any(n == "spec:ts" for n, _ in plan.steps)
    assert pruned.count() == df.where(
        "ts = timestamp'2024-01-02 00:00:00'"
    ).count()


def test_compact_zorder_within_partitions(spark, tmp_path):
    """OPTIMIZE ZORDER under a spec: tuples survive (one file per
    tuple), and within each file rows are z-sorted on the z-columns —
    partition pruning picks files, row-group stats prune inside them."""
    from telemetry_parquet_spark.sources.layout import zorder_key

    root = str(tmp_path / "zin")
    df = _frame(spark, 600)
    append(spark, root, df.where("k < 300"))
    set_partition_spec(root, [PartitionField("d", "day")])
    append(spark, root, df.where("k >= 300"))
    v = compact_table(
        spark, root, target_bytes=1 << 26, zorder_cols=["cust", "k"]
    )
    m = read_manifest(root, v)
    assert m["action"] == "compact-spec-zorder"
    assert set(m["partitions"]) == set(m["files"])  # tuples survived
    assert read_snapshot(spark, root).count() == 600
    # within-file z-ordering: recompute zval over the whole table, then
    # check each file's rows are non-decreasing in it
    keyed = zorder_key(
        read_snapshot(spark, root), ["cust", "k"], 8
    ).select("k", "zval").collect()
    zval_of = {r.k: r.zval for r in keyed}
    for f in m["files"]:
        ks = [
            r.k
            for r in spark.read.parquet(
                os.path.join(root, f)
            ).select("k").collect()
        ]
        zs = [zval_of[k] for k in ks]
        assert zs == sorted(zs), f"file {f} not z-sorted"


def test_randomized_pruning_invariance(spark, tmp_path):
    """Seeded sweep: for dozens of random predicates (mixed shapes,
    types, NULLs, cross-typed literals) over a table holding pre-spec
    files, two live specs, and NULL partition values, the planned scan
    must equal the unpruned filtered read EXACTLY. This is the
    family's safety property: pruning may only ever drop files whose
    rows provably cannot match."""
    import random

    root = str(tmp_path / "rand")
    df = _frame(spark, 600).withColumn(
        "s", F.when(F.col("k") % 11 == 0, F.lit(None)).otherwise(F.col("s"))
    )
    append(spark, root, df.where("k < 200").repartitionByRange(3, "k"))
    set_partition_spec(root, [PartitionField("cust", "bucket", 4)])
    append(spark, root, df.where("k >= 200 and k < 400"))
    set_partition_spec(
        root,
        [PartitionField("d", "day"), PartitionField("s", "identity")],
    )
    append(spark, root, df.where("k >= 400"))

    full = read_snapshot(spark, root)
    rng = random.Random(20260816)
    int_vals = [0, 1, 13, 42, 96, 500, -3]
    str_vals = ["u 5", "u 12", "zzz", ""]
    day_vals = ["2024-01-01", "2024-01-03", "2024-01-05", "2023-12-31"]
    preds = []
    for _ in range(36):
        col = rng.choice(["cust", "d", "s", "k"])
        shape = rng.choice(["eq", "in", "range"])
        pool = {"cust": int_vals, "k": int_vals,
                "d": day_vals, "s": str_vals}[col]
        if shape == "eq":
            # cross-typed extras only where ANSI Spark can evaluate the
            # residual (numeric cols coerce "42"/42.0; a float literal
            # on the string col would throw on cast for BOTH sides)
            extras = [None, 42.0, "42"] if col in ("cust", "k") else [None]
            v = rng.choice(pool + extras)
            preds.append(Eq(col, v))
        elif shape == "in":
            preds.append(In(col, tuple(rng.sample(pool, 2))))
        else:
            lo, hi = sorted(rng.sample(pool, 2)) if col != "s" else (
                rng.choice(pool), None)
            preds.append(Range(col, lo, hi))
    for p in preds:
        pruned, plan = plan_snapshot_scan(spark, root, [p])
        from telemetry_parquet_spark.sources.scan_planner import (
            _predicate_expr,
        )
        exp = full.where(_predicate_expr(p))
        got_rows = sorted(tuple(r) for r in pruned.collect())
        exp_rows = sorted(tuple(r) for r in exp.collect())
        assert got_rows == exp_rows, (
            f"pruning changed the answer for {p}: "
            f"{len(got_rows)} vs {len(exp_rows)} rows ({plan.steps})"
        )


def test_empty_string_shares_hive_null_dir_but_never_mispruned(
    spark, tmp_path
):
    """Spark's hive layout writes '' and NULL to the same default
    partition; the None tuple therefore means NULL-or-'' for
    string-output transforms. Eq('') must KEEP and return the '' rows;
    a non-empty literal still drops the file; the partition rollup
    refuses rather than merging '' into the NULL group."""
    from telemetry_parquet_spark.sources.partition_spec import (
        snapshot_groupby_partition,
    )

    root = str(tmp_path / "emptystr")
    df = _frame(spark, 120).withColumn(
        "s",
        F.when(F.col("k") % 3 == 0, F.lit(""))
        .when(F.col("k") % 3 == 1, F.lit(None))
        .otherwise(F.col("s")),
    )
    append(spark, root, df.where("k < 1"))
    set_partition_spec(root, [PartitionField("s", "identity")])
    append(spark, root, df.where("k >= 1"))
    m = read_manifest(root, latest_version(root))
    null_tuples = [
        f for f, e in m["partitions"].items() if e["values"][0] is None
    ]
    assert null_tuples  # ''+NULL landed in the default partition
    pruned, plan = plan_snapshot_scan(spark, root, [Eq("s", "")])
    kept = {os.path.relpath(p, root) for p in plan.files}
    assert set(null_tuples) <= kept  # the ''-holding file was KEPT
    assert pruned.count() == df.where("s = ''").count()
    # a non-'' literal still prunes the default-partition file
    pruned2, plan2 = plan_snapshot_scan(spark, root, [Eq("s", "u 5")])
    assert not set(null_tuples) & {
        os.path.relpath(p, root) for p in plan2.files
    }
    assert pruned2.count() == df.where("s = 'u 5'").count()
    # the rollup refuses: it cannot split '' rows from NULL rows
    assert snapshot_groupby_partition(root, agg_cols=("cust",)) is None


def test_compact_where_retuples_region_under_spec(spark, tmp_path):
    """Region compaction under a spec re-tuples the rewritten files
    (with z-order within tuples) instead of silently orphaning them."""
    from telemetry_parquet_spark.sources.snapshots import compact_where

    root = str(tmp_path / "cwspec")
    df = _frame(spark, 400)
    append(spark, root, df.where("k < 100").repartitionByRange(3, "k"))
    set_partition_spec(root, [PartitionField("cust", "bucket", 4)])
    append(spark, root, df.where("k >= 100"))
    v = compact_where(
        spark, root, [Range("k", 0, 99)], target_bytes=1 << 26,
        zorder_cols=["cust"],
    )
    m = read_manifest(root, v)
    # every file NOT carried from the spec append got a fresh tuple
    assert set(m["partitions"]) == set(m["files"])
    assert read_snapshot(spark, root).count() == 400
    pruned, plan = plan_snapshot_scan(
        spark, root, [Eq("cust", 42)], require_pruning=True
    )
    assert pruned.count() == df.where("cust = 42").count()


def _ts_frame(spark, n=2000):
    """n rows spread over ~42 hours / 4 calendar months of timestamps."""
    return spark.range(0, n).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).cast("long").alias("g"),
        F.to_timestamp(
            F.lit("2024-01-31 22:00:00")
        ).alias("base"),
    ).select(
        "k", "g",
        (F.col("base") + F.make_interval(mins=F.col("k") * 75 / 60))
        .alias("ts"),
    ).drop("base")


def test_hour_transform_write_plan_parity(spark, tmp_path):
    """hour(ts): JVM write-side tuple == Python plan-side literal value,
    Range pruning engages, and the planned answer equals the full scan."""
    root = str(tmp_path / "hspec")
    df = _ts_frame(spark, 400)  # ~8.3 hours of data, 75s apart
    from telemetry_parquet_spark.sources.snapshots import append as _append

    _append(spark, root, df.limit(0))  # create with schema
    set_partition_spec(root, [PartitionField("ts", "hour")])
    _append(spark, root, df)
    m = read_manifest(root, latest_version(root))
    new = set(m["partitions"])
    assert new  # spec append recorded tuples
    # write/plan parity: re-derive one file's hour key from its rows
    f0, e0 = next(iter(sorted(m["partitions"].items())))
    got = (
        spark.read.parquet(os.path.join(root, f0))
        .select(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
        .collect()[0]
    )
    fld = PartitionField("ts", "hour")
    assert partition_value(fld, got.lo) == e0["values"][0]
    assert partition_value(fld, got.hi) == e0["values"][0]
    # Range pruning: a 2-hour window keeps a strict subset of files
    lo, hi = "2024-01-31 23:00:00", "2024-02-01 00:59:59"
    pruned, plan = plan_snapshot_scan(
        spark, root, [Range("ts", lo, hi)], require_pruning=True
    )
    assert any(name == "spec:ts" for name, _ in plan.steps)
    assert pruned.count() == df.where(
        f"ts >= '{lo}' and ts <= '{hi}'"
    ).count()


def test_month_year_transforms_prune_and_match(spark, tmp_path):
    root = str(tmp_path / "myspec")
    df = _ts_frame(spark, 2000)  # ~41 hours -> 2 months; stretch below
    df = df.select(
        "k", "g",
        (F.col("ts") + F.make_interval(days=F.col("k") % 90)).alias("ts"),
    )
    from telemetry_parquet_spark.sources.snapshots import append as _append

    _append(spark, root, df.limit(0))
    set_partition_spec(root, [PartitionField("ts", "month")])
    _append(spark, root, df)
    pruned, plan = plan_snapshot_scan(
        spark, root,
        [Range("ts", "2024-03-01 00:00:00", "2024-03-31 23:59:59")],
        require_pruning=True,
    )
    assert any(name == "spec:ts" for name, _ in plan.steps)
    assert pruned.count() == df.where(
        "ts >= '2024-03-01' and ts < '2024-04-01'"
    ).count()
    # month value parity on the month boundary literal
    assert partition_value(PartitionField("ts", "month"),
                           "2024-03-01 00:00:00") == (2024 - 1970) * 12 + 2
    # year spec on a second table
    root2 = str(tmp_path / "yspec")
    df2 = df.select(
        "k", "g",
        (F.col("ts") + F.make_interval(years=F.col("k") % 3)).alias("ts"),
    )
    _append(spark, root2, df2.limit(0))
    set_partition_spec(root2, [PartitionField("ts", "year")])
    _append(spark, root2, df2)
    pruned2, plan2 = plan_snapshot_scan(
        spark, root2, [Eq("ts", "2025-06-15 12:00:00")],
        require_pruning=True,
    )
    assert any(name == "spec:ts" for name, _ in plan2.steps)
    assert pruned2.count() == df2.where(
        "ts = '2025-06-15 12:00:00'"
    ).count()
    assert partition_value(PartitionField("ts", "year"), "2025-06-15") == 55


def test_temporal_transform_validation_is_loud(spark, tmp_path):
    """hour() refuses date columns; temporals refuse an n argument; the
    drop-column guard refuses to orphan the current spec."""
    from telemetry_parquet_spark.sources.partition_spec import validate_spec
    from telemetry_parquet_spark.sources.snapshots import (
        alter_drop_column,
        append as _append,
    )

    root = str(tmp_path / "vspec")
    df = _frame(spark, 50)
    _append(spark, root, df)
    with pytest.raises(ValueError, match="needs a timestamp"):
        set_partition_spec(root, [PartitionField("d", "hour")])
    with pytest.raises(ValueError, match="takes no n"):
        set_partition_spec(root, [PartitionField("d", "day", 8)])
    with pytest.raises(ValueError, match="takes no n"):
        validate_spec(df.schema, [PartitionField("k", "identity", 4)])
    set_partition_spec(root, [PartitionField("d", "day")])
    with pytest.raises(ValueError, match="DROP PARTITION SPEC first"):
        alter_drop_column(root, "d")
    # a non-spec column still drops fine under the spec
    alter_drop_column(root, "s")


def test_rollup_stays_metadata_only_through_mor_deletes(spark, tmp_path):
    """DV-aware partition rollup: each vector's per-file sidecar delta
    is attributed to its file's tuple, so per-tuple COUNT/SUM stays a
    manifest read through MOR deletes; the MOR update's untupled fresh
    copies refuse; a pre-format-2 sidecar (no breakdown) refuses to
    scan fallback; an emptied group disappears like SQL's GROUP BY
    would."""
    import json as _json

    from telemetry_parquet_spark.sources.partition_spec import (
        snapshot_groupby_partition,
    )
    from telemetry_parquet_spark.sources.snapshots import (
        _DV_AGG_SUFFIX,
        create_table,
        delete_where_mor,
        snapshot_sum,
        update_where_mor,
    )

    root = str(tmp_path / "mor_rollup")
    df = _frame(spark, 600)
    create_table(root, df.schema)
    set_partition_spec(root, [PartitionField("d", "day")])
    append(spark, root, df)

    def _expected():
        cur = read_snapshot(spark, root)
        return {
            (r.dd,): (r.n, r.s, r.c)
            for r in cur.groupBy(
                F.datediff("d", F.lit("1970-01-01").cast("date")).alias("dd")
            ).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("cust").alias("s"),
                F.count("cust").alias("c"),
            ).collect()
        }

    def _got():
        got = snapshot_groupby_partition(root, agg_cols=("cust",))
        assert got is not None, "rollup fell back under MOR deletes"
        _, groups = got
        return {
            k: (g["n_rows"], g["sum"]["cust"], g["count"]["cust"])
            for k, g in groups.items()
        }

    delete_where_mor(spark, root, "cust % 7 = 3")
    assert _got() == _expected()
    delete_where_mor(spark, root, "cust % 11 = 5")  # stacked vectors
    assert _got() == _expected()
    # MOR update: the masked originals subtract via the vector's
    # per-file sidecar AND the updated copies land with their own
    # tuples (spec-aware update writer) — the rollup stays engaged
    update_where_mor(spark, root, "cust % 5 = 0", {"cust": "cust + 1"})
    assert _got() == _expected()

    # fresh table: delete EVERY row of one day -> that group vanishes
    root2 = str(tmp_path / "mor_empty_group")
    create_table(root2, df.schema)
    set_partition_spec(root2, [PartitionField("d", "day")])
    append(spark, root2, df)
    delete_where_mor(spark, root2, "d = '2024-01-03'")
    got = snapshot_groupby_partition(root2, agg_cols=("cust",))
    assert got is not None
    keys = {k[0] for k in got[1]}
    day_20240103 = partition_value(PartitionField("d", "day"), "2024-01-03")
    assert day_20240103 not in keys and len(keys) == 4
    assert df.where("d <> '2024-01-03'").count() == sum(
        g["n_rows"] for g in got[1].values()
    )

    # pre-format-2 sidecar (flat {col: [s, n]}): global sum still works,
    # the per-tuple rollup refuses
    m = read_manifest(root2, latest_version(root2))
    side = os.path.join(root2, m["dv"][0] + _DV_AGG_SUFFIX)
    with open(side) as f:
        v2 = _json.load(f)
    with open(side, "w") as f:
        _json.dump(v2["total"], f)  # rewrite in the legacy flat shape
    assert snapshot_groupby_partition(root2, agg_cols=("cust",)) is None
    exp = read_snapshot(spark, root2).agg(
        F.sum("cust"), F.count("cust")
    ).first()
    assert snapshot_sum(root2, "cust") == (exp[0], exp[1])


def test_describe_partitions_reports_live_rows_under_dvs(spark, tmp_path):
    """DESCRIBE PARTITIONS subtracts each vector's per-file sidecar
    delta: row counts are LIVE rows, not raw footer counts; a legacy
    flat sidecar flips rows to -1 (unknown) instead of overstating."""
    import json as _json

    from telemetry_parquet_spark.sources.snapshots import (
        _DV_AGG_SUFFIX,
        create_table,
        delete_where_mor,
    )
    from telemetry_parquet_spark.sources.sql_front import engine_sql

    root = str(tmp_path / "descdv")
    df = _frame(spark, 400)
    create_table(root, df.schema)
    set_partition_spec(root, [PartitionField("d", "day")])
    append(spark, root, df)
    delete_where_mor(spark, root, "cust % 4 = 1")
    t = {"t": root}
    parts = engine_sql(spark, "DESCRIBE PARTITIONS t", t).collect()
    live = read_snapshot(spark, root)
    assert sum(r.n_rows for r in parts) == live.count()
    by_day = {
        r.day: r.n
        for r in live.groupBy(
            F.datediff("d", F.lit("1970-01-01").cast("date")).alias("day")
        ).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    import json as _j

    got = {_j.loads(r.partition)[0]: r.n_rows for r in parts}
    assert got == by_day
    # legacy flat sidecar -> unknown rows, never an overstated count
    m = read_manifest(root, latest_version(root))
    side = os.path.join(root, m["dv"][0] + _DV_AGG_SUFFIX)
    with open(side) as f:
        v2 = _json.load(f)
    with open(side, "w") as f:
        _json.dump(v2["total"], f)
    parts2 = engine_sql(spark, "DESCRIBE PARTITIONS t", t).collect()
    assert all(r.n_rows == -1 for r in parts2)


def test_staged_update_keeps_tuples_through_publish(spark, tmp_path):
    """stage_update_mor writes spec-aware updated copies whose tuples
    land at publish — the full transactional-update lifecycle keeps the
    table fully tupled and the DV-aware rollup engaged."""
    from telemetry_parquet_spark.sources.partition_spec import (
        snapshot_groupby_partition,
    )
    from telemetry_parquet_spark.sources.snapshots import (
        create_table,
        publish_staged,
        stage_update_mor,
    )

    root = str(tmp_path / "stupd")
    df = _frame(spark, 300)
    create_table(root, df.schema)
    set_partition_spec(root, [PartitionField("d", "day")])
    append(spark, root, df)
    stage_update_mor(
        spark, root, "cust % 6 = 2", {"cust": "cust + 100"}, "w1"
    )
    v = publish_staged(spark, root, "w1")
    m = read_manifest(root, v)
    assert set(m["partitions"]) == set(m["files"])
    got = snapshot_groupby_partition(root, agg_cols=("cust",))
    assert got is not None
    live = read_snapshot(spark, root)
    exp = {
        (r.dd,): (r.n, r.s)
        for r in live.groupBy(
            F.datediff("d", F.lit("1970-01-01").cast("date")).alias("dd")
        ).agg(
            F.count(F.lit(1)).alias("n"), F.sum("cust").alias("s")
        ).collect()
    }
    assert {
        k: (g["n_rows"], g["sum"]["cust"]) for k, g in got[1].items()
    } == exp


def test_offset_bearing_literals_prune_exactly(spark, tmp_path):
    """Review regression: an offset-bearing ISO literal ('…+02:00')
    must convert to the session timezone (UTC) before wall-clock
    comparison — reading the aware fields directly would drop files
    whose rows Spark's offset-honoring cast keeps."""
    fld = PartitionField("ts", "hour")
    # 06:00+02:00 == 04:00 UTC -> hour key must be the UTC hour
    assert partition_value(fld, "2024-01-05 06:00:00+02:00") == (
        partition_value(fld, "2024-01-05 04:00:00")
    )
    assert partition_value(PartitionField("ts", "day"),
                           "2024-01-06 01:00:00+03:00") == (
        partition_value(PartitionField("ts", "day"), "2024-01-05")
    )
    # end-to-end: the pruned answer equals the full scan's
    from telemetry_parquet_spark.sources.snapshots import create_table

    root = str(tmp_path / "tzspec")
    df = _ts_frame(spark, 300)
    create_table(root, df.schema)
    set_partition_spec(root, [PartitionField("ts", "hour")])
    append(spark, root, df)
    lo = "2024-02-01 01:00:00+02:00"  # == 2024-01-31 23:00 UTC
    hi = "2024-02-01 03:30:00+02:00"  # == 2024-02-01 01:30 UTC
    pruned, plan = plan_snapshot_scan(
        spark, root, [Range("ts", lo, hi)], require_pruning=True
    )
    exp = df.where(f"ts >= '{lo}' and ts <= '{hi}'").count()
    assert pruned.count() == exp and exp > 0


def test_session_zone_memo_invalidates_on_conf_change(spark):
    """The tzinfo memo is keyed by the conf STRING: a runtime
    ``spark.conf.set`` of spark.sql.session.timeZone before the next
    plan must be picked up — a per-session-object memo alone would
    silently prune offset-aware literals under the stale zone."""
    import datetime as _dt

    from telemetry_parquet_spark.sources.partition_spec import _session_zone

    orig = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        assert _session_zone().utcoffset(None) == _dt.timedelta(0)
        spark.conf.set("spark.sql.session.timeZone", "+05:30")
        assert _session_zone().utcoffset(None) == _dt.timedelta(
            hours=5, minutes=30
        )
        # and back — no one-way latch
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        assert _session_zone().utcoffset(None) == _dt.timedelta(0)
    finally:
        spark.conf.set("spark.sql.session.timeZone", orig)

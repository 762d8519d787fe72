"""Commit and change-feed planning from metadata or one pass
(sources/snapshots.py): MERGE / COW-delete pruning from manifest stats,
the one observed source-key probe, the one observed find-affected-files
pass, and ``table_changes`` diffing with one aggregate. The last test
pins the exact Spark job count of each operation kind over a small
seeded commit chain, so a re-added probe job fails it by name."""

from __future__ import annotations

import datetime as dt
import json
import os
import uuid

from pyspark.sql import functions as F

from telemetry_parquet_spark.sources import snapshots as S


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _ref_changes(spark, root, a, b) -> list[tuple]:
    """table_changes(a, b) as full-snapshot ``exceptAll`` both ways."""
    old = S.read_snapshot(spark, root, a)
    new = S.read_snapshot(spark, root, b)
    ins = new.exceptAll(old).withColumn("_change", F.lit("insert"))
    dels = old.exceptAll(new).withColumn("_change", F.lit("delete"))
    return _rows(ins.unionByName(dels))


def _table(spark, root, n=400, files=4):
    S.append(
        spark, root,
        spark.range(0, n).select(
            F.col("id").alias("k"), (F.col("id") % 5).alias("g")
        ).repartitionByRange(files, "k"),
    )
    return S.latest_version(root)


def test_observed_passes_on_empty_inputs(spark):
    """The observed passes return (never hang) on empty and
    zero-partition inputs: no files, no null, no dup, open ranges."""
    empty = spark.createDataFrame([], "k long, g long")
    assert S._touched_files("/t", empty.select("k")) == set()
    assert S._touched_files("/t", spark.range(5).where("id < 0")) == set()
    probe = S._key_probe(empty, ["k"])
    assert probe["empty"] and not probe["null"] and not probe["dup"]
    assert [(r.lo, r.hi) for r in probe["ranges"]] == [(None, None)]


def test_empty_source_merge_and_no_match_mutations(spark, tmp_path):
    """A merge with an empty source, a merge whose keys match nothing and
    a delete matching nothing each commit a new version with the right
    rows, carrying every file by reference."""
    root = str(tmp_path / "t")
    v0 = _table(spark, root)
    files0 = S.read_manifest(root, v0)["files"]
    before = _rows(S.read_snapshot(spark, root))

    v1 = S.delete_where(spark, root, "k < 0")
    assert S.read_manifest(root, v1)["files"] == files0
    assert _rows(S.read_snapshot(spark, root)) == before

    # keys outside every file's envelope: pruned to zero candidates
    src = spark.createDataFrame([(5000, 1)], "k long, g long")
    v2 = S.merge_into(spark, root, src, ["k"])
    m2 = S.read_manifest(root, v2)
    assert m2["scan_candidates"] == 0
    assert set(files0) <= set(m2["files"])
    after = sorted(before + [(5000, 1)])
    assert _rows(S.read_snapshot(spark, root)) == after

    v3 = S.merge_into(
        spark, root, spark.createDataFrame([], "k long, g long"), ["k"]
    )
    assert v3 == v2 + 1
    assert set(m2["files"]) <= set(S.read_manifest(root, v3)["files"])
    assert _rows(S.read_snapshot(spark, root)) == after

    # keys inside an envelope but unused: scanned, nothing rewritten
    gap = str(tmp_path / "gap")
    S.append(spark, gap, spark.createDataFrame(
        [(0, 0), (10, 0)], "k long, g long"))
    S.merge_into(
        spark, gap, spark.createDataFrame([(5, 1)], "k long, g long"),
        ["k"], prune_by_key_range=False,
    )
    assert _rows(S.read_snapshot(spark, gap)) == [(0, 0), (5, 1), (10, 0)]
    v5 = S.merge_into_conditional(
        spark, gap, spark.createDataFrame([], "k long, g long"), ["k"],
        [("update", None)],
    )
    assert _rows(S.read_snapshot(spark, gap, v5)) == [
        (0, 0), (5, 1), (10, 0)
    ]


def test_date_merge_key_pruned_from_manifest_stats(spark, tmp_path):
    """A DATE merge key prunes through the manifest's epoch-day stats:
    only the file whose date range holds the source keys is scanned, and
    the merged table is exact."""
    root = str(tmp_path / "d")
    base = dt.date(2024, 1, 1)
    df = spark.range(0, 400).select(
        F.date_add(F.lit(base), F.col("id").cast("int")).alias("d"),
        F.col("id").alias("v"),
    )
    S.append(spark, root, df.repartitionByRange(4, "d"))
    m = S.read_manifest(root, S.latest_version(root))
    assert m["stats_types"]["d"] == "date"
    src = spark.createDataFrame(
        [(base + dt.timedelta(days=5), -5),
         (base + dt.timedelta(days=7), -7)],
        "d date, v long",
    )
    v = S.merge_into(spark, root, src, ["d"])
    mv = S.read_manifest(root, v)
    assert mv["scan_candidates"] == 1 and mv["scanned"] == 4
    got = dict(_rows(S.read_snapshot(spark, root)))
    assert len(got) == 400
    assert got[base + dt.timedelta(days=5)] == -5
    assert got[base + dt.timedelta(days=7)] == -7
    assert got[base + dt.timedelta(days=6)] == 6


def test_file_without_stats_entry_is_kept(spark, tmp_path):
    """A file the manifest holds no stats for (a manifest written before
    stats, or an unreadable footer) is a candidate of every prune: the
    merge still finds and rewrites its matched row."""
    root = str(tmp_path / "nostats")
    v = _table(spark, root)
    path = S._manifest_path(root, v)
    with open(path) as f:
        m = json.load(f)
    victim = next(
        f for f in m["files"]
        if m["stats"][f]["k"][0] <= 10 <= m["stats"][f]["k"][1]
    )
    del m["stats"][victim]
    with open(path, "w") as f:
        json.dump(m, f)
    from telemetry_parquet_spark.sources.scan_planner import Range

    keep = S._manifest_keep(m, [Range("k", 100000, 100001)])
    assert [f for f in m["files"] if keep(f)] == [victim]
    v2 = S.merge_into(
        spark, root, spark.createDataFrame([(10, 99)], "k long, g long"),
        ["k"],
    )
    assert S.read_manifest(root, v2)["scan_candidates"] == 1
    got = dict(_rows(S.read_snapshot(spark, root)))
    assert len(got) == 400 and got[10] == 99


def test_table_changes_same_rows_without_sidecar(spark, tmp_path):
    """The DV-touched files come from the vectors' agg sidecars; with a
    sidecar deleted the feed falls back to scanning the vector and gives
    identical rows."""
    root = str(tmp_path / "cdc")
    _table(spark, root)
    a = S.latest_version(root)
    S.delete_where_mor(spark, root, "g = 2")
    b = S.update_where_mor(spark, root, "k % 7 = 0", {"g": "g + 100"})
    want = _ref_changes(spark, root, a, b)
    assert want and _rows(S.table_changes(spark, root, a, b)) == want
    dv = S.read_manifest(root, b)["dv"]
    os.remove(os.path.join(root, dv[0] + S._DV_AGG_SUFFIX))
    assert _rows(S.table_changes(spark, root, a, b)) == want


def test_table_changes_multiset(spark, tmp_path):
    """Multiset semantics: a row appended twice and then deleted once
    feeds two inserts, then exactly one delete."""
    root = str(tmp_path / "ms")
    row = spark.createDataFrame([(1, 7)], "k long, g long")
    S.append(spark, root, spark.createDataFrame([(2, 0)], "k long, g long"))
    v1 = S.latest_version(root)
    S.append(spark, root, row)
    v3 = S.append(spark, root, row)
    ins = _rows(S.table_changes(spark, root, v1, v3))
    assert ins == [(1, 7, "insert"), (1, 7, "insert")]
    # the upsert rewrites both copies' files and lands ONE copy
    v4 = S.merge_into(spark, root, row, ["k"])
    assert _rows(S.read_snapshot(spark, root, v4)) == [(1, 7), (2, 0)]
    assert _rows(S.table_changes(spark, root, v3, v4)) == [(1, 7, "delete")]
    assert _rows(S.table_changes(spark, root, v1, v4)) == [(1, 7, "insert")]
    assert _ref_changes(spark, root, v3, v4) == [(1, 7, "delete")]


# exact jobs per operation kind over ``_chain`` (build = the call itself,
# exec = a noop-sink materialization of a returned DataFrame)
EXPECTED_JOBS = {
    "merge_into": (6, 0),
    "changes_v4_v5": (0, 2),
    "delete_where": (2, 0),
    "delete_where_mor": (4, 0),
    "update_where_mor": (8, 0),
    "changes_v7_v8": (0, 4),
    "compact_table": (3, 0),
}


def _chain(spark, root):
    """(label, thunk) of a small seeded commit chain shaped like the
    benchmark's table service: four appends, a MERGE upsert, a COW
    delete, a MOR delete, a MOR update, compaction, and two change
    feeds."""
    def orders(lo, hi):
        # two partitions whatever the session's cores: the file count
        # (and so every later read's listing) stays the same
        return spark.range(lo, hi, 1, 2).select(
            F.col("id").alias("k"),
            (F.col("id") * 7919 % 97).alias("cust"),
            F.date_add(
                F.lit(dt.date(1994, 1, 1)),
                (F.col("id") * 31 % 700).cast("int"),
            ).alias("d"),
            (F.col("id") % 13 * 1.25).alias("price"),
            F.when(F.col("id") % 3 == 0, "O").otherwise("F").alias("status"),
        )

    def merge_source():
        window = orders(300, 360)
        upd = window.withColumn("price", F.col("price") + F.lit(1.0))
        ins = window.withColumn("k", F.col("k") + F.lit(10000))
        return upd.unionByName(ins)

    steps = [
        (f"append_{i}", lambda i=i: S.append(
            spark, root, orders(250 * i, 250 * (i + 1))))
        for i in range(4)
    ]
    steps += [
        ("merge_into", lambda: S.merge_into(
            spark, root, merge_source(), ["k"])),
        ("changes_v4_v5", lambda: S.table_changes(spark, root, 4, 5)),
        ("delete_where", lambda: S.delete_where(
            spark, root, "d < DATE'1994-03-01'")),
        ("delete_where_mor", lambda: S.delete_where_mor(
            spark, root, "cust % 7 = 3")),
        ("update_where_mor", lambda: S.update_where_mor(
            spark, root, "status = 'O' AND cust % 11 = 2",
            {"price": "price + 2.0"})),
        ("changes_v7_v8", lambda: S.table_changes(spark, root, 7, 8)),
        ("compact_table", lambda: S.compact_table(
            spark, root, target_bytes=1 << 30)),
    ]
    return steps


def test_commit_chain_job_counts(spark, tmp_path):
    """Each operation kind fires exactly its pinned number of Spark jobs
    (counts reproduce exactly from run to run); ``table_changes`` fires
    none while building the feed."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    root = str(tmp_path / "chain")
    # the tracker keeps a group's jobs for the whole application, so each
    # run counts under fresh group names
    run = uuid.uuid4().hex[:8]
    got = {}
    for label, thunk in _chain(spark, root):
        g_build, g_exec = f"cj-{run}-{label}-build", f"cj-{run}-{label}-exec"
        sc.setJobGroup(g_build, label)
        try:
            out = thunk()
            build = len(tracker.getJobIdsForGroup(g_build))
            sc.setJobGroup(g_exec, label)
            if not isinstance(out, int):
                out.write.format("noop").mode("overwrite").save()
            exec_ = len(tracker.getJobIdsForGroup(g_exec))
        finally:
            sc.setJobGroup("cj-idle", "")
        if label in EXPECTED_JOBS:
            got[label] = (build, exec_)
    assert S.latest_version(root) == 9
    moved = [
        f"{label}: (build, exec) jobs {got[label]} != pinned {want}"
        for label, want in EXPECTED_JOBS.items() if got[label] != want
    ]
    assert not moved, "; ".join(moved)

"""Snapshot-table lifecycle tests (sources/snapshots.py): append/time
travel, copy-on-write delete at file granularity, compaction-as-a-version
leaving old readers undisturbed, atomic commit conflicts, and vacuum as
the only destructive step."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from telemetry_parquet_spark.sources.snapshots import (
    add_check_constraint,
    append,
    compact_table,
    create_table,
    delete_where,
    drop_check_constraint,
    history,
    latest_version,
    merge_into,
    read_manifest,
    read_snapshot,
    restore_table,
    table_changes,
    vacuum,
)


def _orders(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))


def _multiset(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def table(spark, sf_dir, tmp_path):
    """v1 = orderkey%10<7, v2 = the rest (full orders at head)."""
    root = str(tmp_path / "tbl")
    orders = _orders(spark, sf_dir)
    v1 = append(spark, root, orders.where(F.col("o_orderkey") % 10 < 7))
    v2 = append(spark, root, orders.where(F.col("o_orderkey") % 10 >= 7))
    assert (v1, v2) == (1, 2)
    return root


def test_append_and_time_travel(spark, sf_dir, table):
    orders = _orders(spark, sf_dir)
    head = read_snapshot(spark, table)
    assert _multiset(head) == _multiset(orders)
    v1 = read_snapshot(spark, table, 1)
    assert _multiset(v1) == _multiset(orders.where(F.col("o_orderkey") % 10 < 7))
    v0 = read_snapshot(spark, table, 0)
    assert v0.count() == 0 and v0.schema == orders.schema
    acts = [h["action"] for h in history(table)]
    assert acts == ["create", "append", "append"]


def test_append_carries_files_by_reference(spark, table):
    m1 = read_manifest(table, 1)
    m2 = read_manifest(table, 2)
    assert set(m1["files"]) <= set(m2["files"])  # no rewrite on append


def test_delete_where_copy_on_write(spark, sf_dir, table):
    orders = _orders(spark, sf_dir)
    v3 = delete_where(spark, table, "o_orderpriority = '1-URGENT'")
    assert v3 == 3
    head = read_snapshot(spark, table)
    assert _multiset(head) == _multiset(
        orders.where(F.col("o_orderpriority") != "1-URGENT")
    )
    # old version still has the deleted rows — readers undisturbed
    assert read_snapshot(spark, table, 2).where(
        F.col("o_orderpriority") == "1-URGENT"
    ).count() > 0


def test_delete_null_predicate_keeps_row(spark, tmp_path):
    root = str(tmp_path / "nulls")
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b")], ["id", "tag"]
    )
    append(spark, root, df)
    delete_where(spark, root, "tag = 'a'")
    got = _multiset(read_snapshot(spark, root))
    assert got == [(2, None), (3, "b")]  # NULL predicate = no match


def test_compact_preserves_rows_and_reduces_files(spark, sf_dir, tmp_path):
    root = str(tmp_path / "frag")
    orders = _orders(spark, sf_dir)
    for i in range(6):  # six tiny appends = many small files
        append(spark, root, orders.where(F.col("o_orderkey") % 6 == i))
    before = read_manifest(table_root := root, latest_version(root))
    v = compact_table(spark, root, target_bytes=64 * 1024 * 1024)
    after = read_manifest(root, v)
    assert len(after["files"]) < len(before["files"])
    assert _multiset(read_snapshot(spark, root)) == _multiset(orders)
    # pre-compaction version reads the ORIGINAL files, still intact
    assert _multiset(read_snapshot(spark, root, v - 1)) == _multiset(orders)


def test_commit_conflict_raises(spark, sf_dir, tmp_path):
    root = str(tmp_path / "conflict")
    orders = _orders(spark, sf_dir).limit(10)
    append(spark, root, orders)
    # simulate a racing writer that already took version 2
    from telemetry_parquet_spark.sources.snapshots import _commit

    m = read_manifest(root, 1)
    _commit(root, "append", m["files"], m["schema"], parent=1)
    with pytest.raises(FileExistsError):
        _commit(root, "append", m["files"], m["schema"], parent=1)


def test_vacuum_reclaims_unreferenced_files(spark, sf_dir, tmp_path):
    root = str(tmp_path / "vac")
    orders = _orders(spark, sf_dir)
    append(spark, root, orders.where(F.col("o_orderkey") % 2 == 0))
    append(spark, root, orders.where(F.col("o_orderkey") % 2 == 1))
    compact_table(spark, root, target_bytes=64 * 1024 * 1024)
    head_rows = _multiset(read_snapshot(spark, root))
    removed = vacuum(root, keep_last=1)
    assert removed  # the pre-compaction files went away
    # head unaffected; expired versions gone from the log
    assert _multiset(read_snapshot(spark, root)) == head_rows
    assert [h["version"] for h in history(root)] == [latest_version(root)]
    # every retained manifest file exists on disk
    for f in read_manifest(root, latest_version(root))["files"]:
        assert os.path.exists(os.path.join(root, f))


def test_merge_into_updates_inserts_cow(spark, tmp_path):
    root = str(tmp_path / "merge")
    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)],
        ["id", "tag", "val"],
    )
    # two files so COW carry-by-reference is observable
    append(spark, root, target.where(F.col("id") <= 2))
    append(spark, root, target.where(F.col("id") >= 3))
    m_before = read_manifest(root, latest_version(root))
    source = spark.createDataFrame(
        [(2, "B", 21.0), (5, "e", 50.0)], ["id", "tag", "val"]
    )
    v = merge_into(spark, root, source, keys=["id"])
    got = _multiset(read_snapshot(spark, root))
    assert got == [
        (1, "a", 10.0),
        (2, "B", 21.0),
        (3, "c", 30.0),
        (4, "d", 40.0),
        (5, "e", 50.0),
    ]
    # pre-merge version unchanged
    assert _multiset(read_snapshot(spark, root, v - 1)) == _multiset(target)
    # the file holding ids {3,4} (no matches) carried over by reference
    m_after = read_manifest(root, v)
    assert set(m_before["files"]) & set(m_after["files"])
    assert history(root)[-1]["action"] == "merge"


def test_merge_into_rejects_duplicate_source_keys(spark, tmp_path):
    root = str(tmp_path / "mergedup")
    append(
        spark, root,
        spark.createDataFrame([(1, "a")], ["id", "tag"]),
    )
    dup = spark.createDataFrame([(1, "x"), (1, "y")], ["id", "tag"])
    with pytest.raises(ValueError, match="duplicate merge keys"):
        merge_into(spark, root, dup, keys=["id"])


def test_merge_into_empty_table_is_insert_all(spark, tmp_path):
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    root = str(tmp_path / "mergeempty")
    schema = StructType(
        [StructField("id", LongType()), StructField("tag", StringType())]
    )
    create_table(root, schema)
    src = spark.createDataFrame([(1, "a"), (2, "b")], schema)
    merge_into(spark, root, src, keys=["id"])
    assert _multiset(read_snapshot(spark, root)) == [(1, "a"), (2, "b")]


def test_compact_zorder_preserves_rows_and_tightens_envelopes(
    spark, sf_dir, tmp_path
):
    """OPTIMIZE ZORDER commit: row multiset identical, and the MEAN
    per-file min/max envelope on BOTH curve columns tightens vs the
    fragmented layout (each fragmented file spans the whole domain; a
    z-range file pins the top Morton bits of both columns) — the
    property the planner's pruning feeds on."""
    import os as _os

    from telemetry_parquet_spark.sources.scan_planner import (
        build_minmax_file_stats,
    )
    from telemetry_parquet_spark.sources.snapshots import snapshot_files

    root = str(tmp_path / "zopt")
    li = spark.read.parquet(_os.path.join(sf_dir, "lineitem.parquet"))
    for i in range(4):
        append(spark, root, li.where(F.col("l_orderkey") % 4 == i))
    v_frag = latest_version(root)
    v = compact_table(
        spark, root, target_bytes=1 << 30,
        zorder_cols=["l_partkey", "l_suppkey"], n_files=16,
    )
    assert read_manifest(root, v)["action"] == "compact-zorder"
    assert _multiset(read_snapshot(spark, root, v)) == _multiset(li)

    def envelope_mean(version, col):
        paths = snapshot_files(root, version)
        stats = build_minmax_file_stats(
            spark.read.parquet(*paths), [col]
        ).collect()
        return sum(r[f"max_{col}"] - r[f"min_{col}"] for r in stats) / len(
            stats
        )

    for col in ("l_partkey", "l_suppkey"):
        assert envelope_mean(v, col) < envelope_mean(v_frag, col), col


def test_append_schema_evolution(spark, tmp_path):
    """Add-column evolution is metadata-only: old files are never
    rewritten and surface the new column as NULL under the evolved
    manifest schema; unflagged drift is a loud error."""
    root = str(tmp_path / "evolve")
    append(spark, root, spark.createDataFrame([(1, "a")], ["id", "tag"]))
    wider = spark.createDataFrame([(2, "b", 9.5)], ["id", "tag", "score"])
    with pytest.raises(ValueError, match="allow_evolution"):
        append(spark, root, wider)
    m_before = read_manifest(root, latest_version(root))
    v = append(spark, root, wider, allow_evolution=True)
    m_after = read_manifest(root, v)
    assert set(m_before["files"]) <= set(m_after["files"])  # no rewrite
    got = _multiset(read_snapshot(spark, root))
    assert got == [(1, "a", None), (2, "b", 9.5)]
    # dropping a known column also needs the flag; with it, NULL-fills
    narrower = spark.createDataFrame([(3,)], ["id"])
    append(spark, root, narrower, allow_evolution=True)
    assert _multiset(read_snapshot(spark, root)) == [
        (1, "a", None),
        (2, "b", 9.5),
        (3, None, None),
    ]


def test_stream_commit_snapshots_exactly_once(spark, sf_dir, tmp_path):
    """availableNow stream → one atomic snapshot version per micro-batch;
    a replayed batch (checkpoint restored to pre-batch state, simulating
    a crash after the table commit but before the checkpoint advanced)
    must be recognized by its manifest stamp and skipped."""
    import shutil

    from telemetry_parquet_spark.streaming.pipelines import (
        stream_commit_snapshots,
    )

    src = str(tmp_path / "landing")
    root = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    orders = _orders(spark, sf_dir)
    b1 = orders.where(F.col("o_orderkey") % 3 == 0)
    b2 = orders.where(F.col("o_orderkey") % 3 == 1)

    b1.write.mode("overwrite").parquet(src)
    stream_commit_snapshots(spark, src, root, ckpt)
    v1 = latest_version(root)
    assert _multiset(read_snapshot(spark, root)) == _multiset(b1)
    assert read_manifest(root, v1)["batch_id"] == 0

    ckpt_saved = str(tmp_path / "ckpt_saved")
    b2.write.mode("append").parquet(src)
    shutil.copytree(ckpt, ckpt_saved)  # pre-batch-1 checkpoint
    stream_commit_snapshots(spark, src, root, ckpt)
    v2 = latest_version(root)
    assert v2 > v1
    assert _multiset(read_snapshot(spark, root)) == _multiset(b1.union(b2))
    # time travel: the batch-0 version still reads exactly batch 0
    assert _multiset(read_snapshot(spark, root, v1)) == _multiset(b1)

    # crash replay: restore the checkpoint, re-drain — same files, same
    # batch_id=1, already stamped in the log → must commit NOTHING new
    shutil.rmtree(ckpt)
    shutil.copytree(ckpt_saved, ckpt)
    stream_commit_snapshots(spark, src, root, ckpt)
    assert latest_version(root) == v2
    assert _multiset(read_snapshot(spark, root)) == _multiset(b1.union(b2))

    # idle drain: nothing new landed → no new version
    stream_commit_snapshots(spark, src, root, ckpt)
    assert latest_version(root) == v2


def test_check_constraints_gate_commits(spark, tmp_path):
    """Adding a constraint validates the head once; later appends/merges
    validate only their new rows and refuse to commit on violation
    (no new version, no orphan readable). NULL satisfies (SQL CHECK)."""
    root = str(tmp_path / "ck")
    append(spark, root, spark.createDataFrame([(1, 10.0)], ["id", "val"]))
    add_check_constraint(spark, root, "val_pos", "val > 0")
    v = latest_version(root)
    with pytest.raises(ValueError, match="val_pos"):
        append(spark, root, spark.createDataFrame([(2, -1.0)], ["id", "val"]))
    assert latest_version(root) == v  # nothing committed
    append(
        spark, root,
        spark.createDataFrame([(3, None)], "id bigint, val double"),
    )
    append(spark, root, spark.createDataFrame([(4, 2.0)], ["id", "val"]))
    with pytest.raises(ValueError, match="val_pos"):
        merge_into(
            spark, root,
            spark.createDataFrame([(4, -9.0)], ["id", "val"]),
            keys=["id"],
        )
    # the constraint rides through delete/compact commits
    delete_where(spark, root, "id = 3")
    compact_table(spark, root, target_bytes=1 << 30)
    assert read_manifest(root, latest_version(root))["constraints"] == {
        "val_pos": "val > 0"
    }
    # adding a constraint the head violates is refused
    with pytest.raises(ValueError, match="id_small"):
        add_check_constraint(spark, root, "id_small", "id < 2")
    drop_check_constraint(root, "val_pos")
    append(spark, root, spark.createDataFrame([(5, -1.0)], ["id", "val"]))


def test_restore_table_rolls_back_and_keeps_history(spark, sf_dir, table):
    orders = _orders(spark, sf_dir)
    delete_where(spark, table, "o_orderpriority = '1-URGENT'")
    v = restore_table(table, 2)  # undo the delete
    assert _multiset(read_snapshot(spark, table)) == _multiset(orders)
    m = read_manifest(table, v)
    assert m["action"] == "restore" and m["restored_from"] == 2
    # the rolled-back delete version is still readable
    assert read_snapshot(spark, table, 3).where(
        F.col("o_orderpriority") == "1-URGENT"
    ).count() == 0


def test_table_changes_cdc(spark, sf_dir, table):
    orders = _orders(spark, sf_dir)
    # v1 -> v2: the second append's rows, all inserts
    ch = table_changes(spark, table, 1, 2)
    assert _multiset(ch.where(F.col("_change") == "insert").drop("_change")) \
        == _multiset(orders.where(F.col("o_orderkey") % 10 >= 7))
    assert ch.where(F.col("_change") == "delete").count() == 0
    # delete commit: changes = exactly the removed rows
    v3 = delete_where(spark, table, "o_orderpriority = '1-URGENT'")
    ch = table_changes(spark, table, 2, v3)
    assert _multiset(ch.where(F.col("_change") == "delete").drop("_change")) \
        == _multiset(orders.where(F.col("o_orderpriority") == "1-URGENT"))
    assert ch.where(F.col("_change") == "insert").count() == 0
    # compaction: pure re-layout -> EMPTY changes despite full rewrite
    v4 = compact_table(spark, table, target_bytes=1 << 30)
    assert table_changes(spark, table, v3, v4).count() == 0
    # merge: update encodes as delete + insert
    src = spark.createDataFrame(
        read_snapshot(spark, table).limit(1).collect()
    ).withColumn("o_orderpriority", F.lit("CDCUPD"))
    v5 = merge_into(spark, table, src, keys=["o_orderkey"])
    ch = table_changes(spark, table, v4, v5).collect()
    kinds = sorted(r["_change"] for r in ch)
    assert kinds == ["delete", "insert"]


def test_delete_where_scan_predicates_prune_detection(spark, sf_dir, tmp_path):
    """Pruned COW delete: the same predicate deletes the same rows, but
    with scan_predicates bounding the detection scan the commit records
    fewer candidate files than the table holds — delete cost ∝ affected
    region on a clustered layout."""
    import os as _os

    from telemetry_parquet_spark.sources.scan_planner import Range

    li = spark.read.parquet(_os.path.join(sf_dir, "lineitem.parquet"))
    lo, hi = 1, 5  # small l_partkey range

    def build(root):
        append(spark, root, li)
        compact_table(
            spark, root, target_bytes=1 << 30,
            zorder_cols=["l_partkey", "l_suppkey"], n_files=8,
        )

    r1, r2 = str(tmp_path / "plain"), str(tmp_path / "pruned")
    build(r1)
    build(r2)
    delete_where(spark, r1, f"l_partkey BETWEEN {lo} AND {hi}")
    delete_where(
        spark, r2, f"l_partkey BETWEEN {lo} AND {hi}",
        scan_predicates=[Range("l_partkey", lo, hi)],
    )
    assert _multiset(read_snapshot(spark, r1)) == _multiset(
        read_snapshot(spark, r2)
    )
    m = read_manifest(r2, latest_version(r2))
    assert m["scan_candidates"] < m["scanned"]
    assert read_snapshot(spark, r2).where(
        (F.col("l_partkey") >= lo) & (F.col("l_partkey") <= hi)
    ).count() == 0


def test_merge_into_key_range_prunes_detection(spark, sf_dir, tmp_path):
    """Key-range merge pruning needs no contract — the source's own
    min/max bounds the detection scan. Same result with and without,
    fewer candidate files recorded on a key-clustered layout."""
    import os as _os

    from pyspark.sql import functions as _F

    li = spark.read.parquet(_os.path.join(sf_dir, "lineitem.parquet"))
    src = (
        li.where(_F.col("l_orderkey") <= 64)
        .groupBy("l_orderkey", "l_linenumber")
        .agg(*[_F.first(c).alias(c) for c in li.columns
               if c not in ("l_orderkey", "l_linenumber")])
        .withColumn("l_returnflag", _F.lit("Z"))
        .select(*li.columns)
    )

    def build(root):
        append(spark, root, li)
        # cluster by the first merge key so its envelopes are tight
        compact_table(
            spark, root, target_bytes=1 << 30,
            zorder_cols=["l_orderkey", "l_linenumber"], n_files=8,
        )

    r1, r2 = str(tmp_path / "noprune"), str(tmp_path / "prune")
    build(r1)
    build(r2)
    merge_into(
        spark, r1, src, keys=["l_orderkey", "l_linenumber"],
        prune_by_key_range=False,
    )
    merge_into(spark, r2, src, keys=["l_orderkey", "l_linenumber"])
    assert _multiset(read_snapshot(spark, r1)) == _multiset(
        read_snapshot(spark, r2)
    )
    m = read_manifest(r2, latest_version(r2))
    assert m["scan_candidates"] < m["scanned"]
    got = read_snapshot(spark, r2).where(
        _F.col("l_returnflag") == "Z"
    ).count()
    assert got == src.count()


def test_version_as_of_timestamp_and_commit_retry(spark, tmp_path):
    from telemetry_parquet_spark.sources.snapshots import (
        _commit,
        commit_with_retry,
        version_as_of,
    )

    root = str(tmp_path / "asof")
    append(spark, root, spark.createDataFrame([(1,)], ["id"]))
    t_after_v1 = read_manifest(root, 1)["committed_at"]
    append(spark, root, spark.createDataFrame([(2,)], ["id"]))
    assert version_as_of(root, t_after_v1) == 1
    assert version_as_of(root, read_manifest(root, 2)["committed_at"]) == 2
    with pytest.raises(FileNotFoundError):
        version_as_of(root, t_after_v1 - 1e6)

    # conflict retry: a racing writer takes v3; the first attempt commits
    # against the STALE head (parent=2 -> v3 taken -> FileExistsError),
    # the retry re-reads the moved head and lands as v4
    m2 = read_manifest(root, 2)
    _commit(root, "append", m2["files"], m2["schema"], parent=2)  # racer
    state = {"attempts": 0}

    def mutator():
        state["attempts"] += 1
        if state["attempts"] == 1:  # stale view of the head
            return _commit(
                root, "append", m2["files"], m2["schema"], parent=2
            )
        return append(spark, root, spark.createDataFrame([(3,)], ["id"]))

    v = commit_with_retry(mutator)
    assert state["attempts"] == 2 and v == latest_version(root) == 4
    assert sorted(r.id for r in read_snapshot(spark, root).collect()) == [
        1, 2, 3,
    ]


def test_refresh_view_incremental_group_lifecycle(spark, tmp_path):
    """IVM edge cases: a brand-new group appears via inserts, an emptied
    group disappears (count reaches 0), and a mixed delta adjusts both
    count and sum exactly."""
    from telemetry_parquet_spark.sources.snapshots import (
        refresh_view_incremental,
    )

    state = spark.createDataFrame(
        [("a", 2, 30.0), ("b", 1, 5.0)], ["g", "n_rows", "sum_val"]
    )
    changes = spark.createDataFrame(
        [
            ("a", 10.0, "delete"),   # a: 2->1 rows, 30->20
            ("b", 5.0, "delete"),    # b: emptied -> disappears
            ("c", 7.0, "insert"),    # c: new group
            ("c", 3.0, "insert"),
        ],
        ["g", "v", "_change"],
    )
    out = refresh_view_incremental(state, changes, ["g"], "v")
    got = sorted(tuple(r) for r in out.collect())
    assert got == [("a", 1, 20.0), ("c", 2, 10.0)]


def test_streaming_cdc_source_replays_commit_log(spark, sf_dir, tmp_path):
    """The snapshot_changes streaming source: availableNow drain streams
    every commit's diff (offsets = versions); the collected feed equals
    the batch table_changes over the same interval; a second drain from
    the checkpoint emits nothing; a new commit then streams exactly its
    own delta."""
    from telemetry_parquet_spark.streaming import cdc_source

    cdc_source.register(spark)
    root = str(tmp_path / "cdc")
    ckpt = str(tmp_path / "ckpt")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "id bigint, val double"
    )
    append(spark, root, df.where(F.col("id") < 10))
    append(spark, root, df.where(F.col("id") >= 10))
    delete_where(spark, root, "id % 5 = 0")
    compact_table(spark, root, target_bytes=1 << 30)

    def drain():
        out = []
        q = (
            spark.readStream.format("snapshot_changes")
            .option("root", root)
            .load()
            .writeStream.foreachBatch(
                lambda batch, _id: out.extend(
                    tuple(r) for r in batch.collect()
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(out)

    got = drain()
    # the stream is the per-commit EVENT LOG (a row inserted then deleted
    # appears twice), i.e. the concatenation of per-step diffs — not the
    # net interval diff
    want = sorted(
        tuple(r)
        for v in range(1, latest_version(root) + 1)
        for r in table_changes(spark, root, v - 1, v).collect()
    )
    assert got == want and len(got) == 24  # 20 inserts + 4 deletes
    assert drain() == []  # checkpoint: nothing new
    append(spark, root, spark.createDataFrame([(99, 9.9)], "id bigint, val double"))
    assert drain() == [(99, 9.9, "insert")]


def test_empty_create_then_delete_noop(spark, tmp_path):
    from pyspark.sql.types import LongType, StructField, StructType

    root = str(tmp_path / "empty")
    schema = StructType([StructField("id", LongType())])
    create_table(root, schema)
    v = delete_where(spark, root, "id = 1")
    assert v == 1
    assert read_snapshot(spark, root).count() == 0


def test_overwrite_replaces_state_keeps_parent_readable(spark, sf_dir, table):
    from telemetry_parquet_spark.sources.snapshots import overwrite

    orders = _orders(spark, sf_dir)
    head_before = latest_version(table)
    small = orders.where(F.col("o_orderkey") % 100 == 0)
    v = overwrite(spark, table, small)
    assert v == head_before + 1
    assert read_manifest(table, v)["action"] == "overwrite"
    # new head is ONLY the overwritten rows
    assert _multiset(read_snapshot(spark, table)) == _multiset(small)
    # no parent file carried over, and the parent stays fully readable
    assert not set(read_manifest(table, v)["files"]) & set(
        read_manifest(table, head_before)["files"]
    )
    assert _multiset(read_snapshot(spark, table, head_before)) == _multiset(
        orders
    )
    # CDC across the overwrite cancels the unchanged rows (small ⊂
    # orders): the NET change is just the rows the overwrite dropped
    ch = table_changes(spark, table, head_before, v)
    assert ch.where(F.col("_change") == "insert").count() == 0
    assert (
        ch.where(F.col("_change") == "delete").count()
        == orders.count() - small.count()
    )


def test_mor_delete_lifecycle(spark, sf_dir, table):
    """delete_where_mor: no file rewrite, read-time DV application,
    stacking, append carry, COW guards, CDC, compaction materializes."""
    from telemetry_parquet_spark.sources.snapshots import (
        delete_where_mor,
        merge_into,
        snapshot_files,
    )

    orders = _orders(spark, sf_dir)
    m2 = read_manifest(table, 2)
    v3 = delete_where_mor(spark, table, "o_orderpriority = '1-URGENT'")
    m3 = read_manifest(table, v3)
    # no data file rewritten; one stacked vector; old version undisturbed
    assert m3["files"] == m2["files"] and len(m3["dv"]) == 1
    assert _multiset(read_snapshot(spark, table, 2)) == _multiset(orders)
    kept = orders.where(F.col("o_orderpriority") != "1-URGENT")
    assert _multiset(read_snapshot(spark, table)) == _multiset(kept)
    # CDC of the MOR delete is exactly the removed rows
    ch = table_changes(spark, table, 2, v3)
    assert ch.where(F.col("_change") == "insert").count() == 0
    assert (
        _multiset(ch.drop("_change"))
        == _multiset(orders.where(F.col("o_orderpriority") == "1-URGENT"))
    )
    # second MOR delete stacks; positions never overlap across vectors
    v4 = delete_where_mor(spark, table, "o_orderpriority = '2-HIGH'")
    m4 = read_manifest(table, v4)
    assert m4["files"] == m2["files"] and len(m4["dv"]) == 2
    kept2 = kept.where(F.col("o_orderpriority") != "2-HIGH")
    assert _multiset(read_snapshot(spark, table)) == _multiset(kept2)
    # append carries the vectors forward
    extra = orders.limit(0)
    v5 = append(spark, table, extra)
    assert read_manifest(table, v5)["dv"] == m4["dv"]
    # COW mutators and raw-file planner access refuse outstanding DVs
    with pytest.raises(ValueError, match="deletion vectors"):
        delete_where(spark, table, "o_orderkey = 1")
    with pytest.raises(ValueError, match="deletion vectors"):
        merge_into(spark, table, orders.limit(1), keys=["o_orderkey"])
    with pytest.raises(ValueError, match="deletion vectors"):
        snapshot_files(table)
    # compaction materializes: vectors gone, content identical, and the
    # CDC across it cancels to empty
    v6 = compact_table(spark, table, target_bytes=1 << 30)
    assert not read_manifest(table, v6).get("dv")
    assert _multiset(read_snapshot(spark, table, v6)) == _multiset(kept2)
    assert table_changes(spark, table, v5, v6).count() == 0
    # vacuum keeps the DV files of retained MOR versions readable
    vacuum(table, keep_last=3)  # retains v4(mor), v5(append), v6(compact)
    assert _multiset(read_snapshot(spark, table, 4)) == _multiset(kept2)


def test_mor_delete_streams_through_cdc_source(spark, sf_dir, tmp_path):
    """The streaming CDC source masks DVs executor-side: a MOR delete
    streams exactly the deleted rows, and the materializing compaction
    streams nothing."""
    from telemetry_parquet_spark.sources.snapshots import delete_where_mor
    from telemetry_parquet_spark.streaming import cdc_source

    orders = _orders(spark, sf_dir)
    root = str(tmp_path / "mor_stream")
    append(spark, root, orders)
    delete_where_mor(spark, root, "o_orderpriority = '1-URGENT'")
    compact_table(spark, root, target_bytes=1 << 30)

    cdc_source.register(spark)
    batch = (
        spark.readStream.format("snapshot_changes")
        .option("root", root)
        .option("startingVersion", 1)  # skip the initial append
        .load()
    )
    q = (
        batch.writeStream.format("memory")
        .queryName("mor_cdc")
        .option(
            "checkpointLocation", str(tmp_path / "ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("mor_cdc")
    assert got.where(F.col("_change") == "insert").count() == 0
    assert _multiset(got.drop("_change")) == _multiset(
        orders.where(F.col("o_orderpriority") == "1-URGENT")
    )


def test_mor_update_masks_and_copies(spark, sf_dir, table):
    """update_where_mor: DV + updated copies in ONE commit, no rewrite,
    old version intact, CDC = delete(old)+insert(new), compaction folds."""
    from telemetry_parquet_spark.sources.snapshots import update_where_mor

    orders = _orders(spark, sf_dir)
    m2 = read_manifest(table, 2)
    v3 = update_where_mor(
        spark, table, "o_orderstatus = 'F'",
        {"o_orderpriority": "'BULK'"},
    )
    m3 = read_manifest(table, v3)
    assert set(m3["files"]) > set(m2["files"]) and len(m3["dv"]) == 1
    n_f = orders.where(F.col("o_orderstatus") == "F").count()
    head = read_snapshot(spark, table)
    assert head.count() == orders.count()  # mask and copies balance
    assert head.where(F.col("o_orderpriority") == "BULK").count() == n_f
    assert _multiset(read_snapshot(spark, table, 2)) == _multiset(orders)
    # CDC: one delete + one insert per updated row
    ch = table_changes(spark, table, 2, v3)
    assert ch.where(F.col("_change") == "delete").count() == n_f
    ins = ch.where(F.col("_change") == "insert")
    assert ins.count() == n_f
    assert ins.where(F.col("o_orderpriority") != "BULK").count() == 0
    # unknown column is loud; compaction materializes
    with pytest.raises(ValueError, match="unknown columns"):
        update_where_mor(spark, table, "1=1", {"nope": "'x'"})
    v4 = compact_table(spark, table, target_bytes=1 << 30)
    assert not read_manifest(table, v4).get("dv")
    assert _multiset(read_snapshot(spark, table, v4)) == _multiset(head)


def test_manifest_stats_and_planned_scan(spark, sf_dir, tmp_path):
    """Commit-time column stats: recorded per file, carried by reference
    on append, used by plan_snapshot_scan with zero data I/O, exact."""
    from telemetry_parquet_spark.sources.scan_planner import Range
    from telemetry_parquet_spark.sources.snapshots import (
        plan_snapshot_scan,
    )

    orders = _orders(spark, sf_dir)
    root = str(tmp_path / "stats")
    append(
        spark, root,
        orders.where(F.col("o_orderkey") % 2 == 0)
        .repartitionByRange(4, F.col("o_orderkey")),
    )
    m1 = read_manifest(root, 1)
    assert m1["stats"] and all(
        "o_orderkey" in st for st in m1["stats"].values()
    )
    # append carries parent stats by reference (same dict content)
    append(
        spark, root,
        orders.where(F.col("o_orderkey") % 2 == 1)
        .repartitionByRange(4, F.col("o_orderkey")),
    )
    m2 = read_manifest(root, 2)
    for f in m1["files"]:
        assert m2["stats"][f] == m1["stats"][f]
    # planned range scan: prunes files, exact vs direct filter
    keys = sorted(r.o_orderkey for r in orders.select("o_orderkey").collect())
    lo, hi = keys[len(keys) // 3], keys[len(keys) // 2]
    got, plan = plan_snapshot_scan(
        spark, root, [Range("o_orderkey", lo, hi)], require_pruning=True
    )
    assert len(plan.files) < plan.total_files
    expected = orders.where(
        (F.col("o_orderkey") >= lo) & (F.col("o_orderkey") <= hi)
    )
    assert _multiset(got) == _multiset(expected)
    # a predicate that prunes nothing raises under require_pruning
    with pytest.raises(RuntimeError, match="pruned nothing"):
        plan_snapshot_scan(
            spark, root,
            [Range("o_orderkey", keys[0], keys[-1])],
            require_pruning=True,
        )


def test_tags_pin_versions_against_vacuum(spark, sf_dir, table):
    """create_tag: read by name, atomic no-retarget, vacuum keeps
    tagged versions readable while expiring untagged ones."""
    from telemetry_parquet_spark.sources.snapshots import (
        create_tag,
        delete_tag,
        list_tags,
        resolve_ref,
    )

    orders = _orders(spark, sf_dir)
    v1_rows = _multiset(read_snapshot(spark, table, 1))
    assert create_tag(table, "baseline", 1) == 1
    compact_table(spark, table, target_bytes=1 << 30)
    assert list_tags(table) == {"baseline": 1}
    assert resolve_ref(table, "baseline") == 1
    # read by tag name
    assert _multiset(read_snapshot(spark, table, "baseline")) == v1_rows
    # a tag cannot be silently retargeted
    with pytest.raises(FileExistsError):
        create_tag(table, "baseline", 2)
    # vacuum with keep_last=1 would normally expire v1 — the tag pins it
    removed = vacuum(table, keep_last=1)
    assert _multiset(read_snapshot(spark, table, "baseline")) == v1_rows
    assert 2 not in [h["version"] for h in history(table)]  # v2 expired
    # drop the pin: the version becomes vacuumable
    delete_tag(table, "baseline")
    vacuum(table, keep_last=1)
    assert 1 not in [h["version"] for h in history(table)]
    with pytest.raises(KeyError):
        resolve_ref(table, "baseline")


def test_wap_stage_is_invisible_until_publish(spark, sf_dir, table):
    from telemetry_parquet_spark.sources.snapshots import (
        list_staged,
        publish_staged,
        read_staged,
        stage_append,
    )

    orders = _orders(spark, sf_dir)
    extra = orders.limit(50).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(10_000_000)
    )
    head_before = latest_version(table)
    stage_append(spark, table, extra, "batch1")
    assert list_staged(table) == ["batch1"]
    # no numbered version appeared; head read unchanged
    assert latest_version(table) == head_before
    assert read_snapshot(spark, table).count() == orders.count()
    # the audit view sees parent + staged rows exactly
    assert read_staged(spark, table, "batch1").count() == orders.count() + 50
    v = publish_staged(spark, table, "batch1")
    assert v == head_before + 1
    assert read_snapshot(spark, table).count() == orders.count() + 50
    assert list_staged(table) == []
    # exactly-once: the consumed stage cannot publish again
    with pytest.raises(KeyError):
        publish_staged(spark, table, "batch1")


def test_wap_audit_veto_aborts_publish(spark, sf_dir, table):
    from telemetry_parquet_spark.sources.snapshots import (
        list_staged,
        publish_staged,
        stage_append,
    )

    orders = _orders(spark, sf_dir)
    stage_append(spark, table, orders.limit(10), "sus")
    head_before = latest_version(table)

    def veto(df):
        raise ValueError("quality gate failed")

    with pytest.raises(ValueError, match="quality gate"):
        publish_staged(spark, table, "sus", audits=[veto])
    # nothing committed, stage still present for forensics / re-audit
    assert latest_version(table) == head_before
    assert list_staged(table) == ["sus"]


def test_wap_publish_rebases_onto_moved_head(spark, sf_dir, table):
    from telemetry_parquet_spark.sources.snapshots import (
        publish_staged,
        stage_append,
    )

    orders = _orders(spark, sf_dir)
    staged = orders.limit(30).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(20_000_000)
    )
    stage_append(spark, table, staged, "moved")
    # head advances while the stage is pending
    other = orders.limit(20).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(30_000_000)
    )
    append(spark, table, other)
    v = publish_staged(spark, table, "moved")
    m = read_manifest(table, v)
    assert m["action"] == "wap-publish"
    assert m["rebased_from"] == 2 and m["wap_id"] == "moved"
    # both the interleaved append and the staged rows are in the head
    assert read_snapshot(spark, table).count() == orders.count() + 50


def test_wap_staged_files_pinned_against_vacuum(spark, sf_dir, table):
    from telemetry_parquet_spark.sources.snapshots import (
        discard_staged,
        read_staged_manifest,
        stage_append,
    )

    orders = _orders(spark, sf_dir)
    stage_append(spark, table, orders.limit(25), "pinned")
    staged_files = read_staged_manifest(table, "pinned")["new_files"]
    removed = vacuum(table, keep_last=1)
    assert not set(staged_files) & set(removed)
    assert all(os.path.exists(os.path.join(table, f)) for f in staged_files)
    # after discard the same files are reclaimable orphans — but only
    # past the in-flight-writer grace window (orphan_grace_s); within it
    # vacuum must NOT touch them (a racing writer looks identical)
    discard_staged(table, "pinned")
    removed = vacuum(table, keep_last=1)
    assert not set(staged_files) & set(removed)  # grace holds them
    removed = vacuum(table, keep_last=1, orphan_grace_s=0.0)
    assert set(staged_files) <= set(removed)


def test_wap_rebase_revalidates_new_head_constraints(spark, sf_dir, table):
    from telemetry_parquet_spark.sources.snapshots import (
        publish_staged,
        stage_append,
    )

    orders = _orders(spark, sf_dir)
    bad = orders.limit(5).withColumn("o_totalprice", F.lit(-1.0))
    stage_append(spark, table, bad, "preconstraint")
    # constraint added AFTER staging; rebase publish must re-validate
    add_check_constraint(spark, table, "pos_price", "o_totalprice >= 0")
    with pytest.raises(ValueError, match="pos_price"):
        publish_staged(spark, table, "preconstraint")


def test_merge_evolution_adds_column_without_rewrite(spark, sf_dir, tmp_path):
    root = str(tmp_path / "me")
    orders = _orders(spark, sf_dir)
    append(spark, root, orders.where(F.col("o_orderkey") % 10 < 5))
    source = (
        orders.where(F.col("o_orderkey") % 10 == 7)
        .withColumn("o_channel", F.lit("WEB"))
    )
    # without the flag the widened source is a loud error
    with pytest.raises(ValueError, match="allow_evolution"):
        merge_into(spark, root, source, keys=["o_orderkey"])
    merge_into(
        spark, root, source, keys=["o_orderkey"], allow_evolution=True
    )
    head = read_snapshot(spark, root)
    assert "o_channel" in head.columns
    n_old = orders.where(F.col("o_orderkey") % 10 < 5).count()
    n_new = orders.where(F.col("o_orderkey") % 10 == 7).count()
    assert head.count() == n_old + n_new
    assert head.where(F.col("o_channel") == "WEB").count() == n_new
    assert head.where(F.col("o_channel").isNull()).count() == n_old
    # pre-merge version still reads under the narrow schema
    assert "o_channel" not in read_snapshot(spark, root, 1).columns
    # a partial source (missing table columns) never evolves
    with pytest.raises(ValueError):
        merge_into(
            spark, root,
            source.drop("o_orderpriority"),
            keys=["o_orderkey"], allow_evolution=True,
        )


def test_snapshot_bloom_lifecycle(spark, sf_dir, tmp_path):
    """Secondary Bloom index on the commit log: incremental maintenance
    equals a from-scratch build, planning composes manifest stats with
    the Bloom probe, and a STALE index (append after last update) keeps
    the uncovered files — exactness never depends on index freshness."""
    from telemetry_parquet_spark.sources.scan_planner import Eq, Range
    from telemetry_parquet_spark.sources.snapshots import (
        plan_snapshot_scan,
        update_snapshot_bloom,
    )

    root = str(tmp_path / "blm")
    orders = _orders(spark, sf_dir)
    append(
        spark, root,
        orders.where(F.col("o_orderkey") % 10 < 7)
        .repartitionByRange(8, F.col("o_orderkey")),
    )
    n1 = update_snapshot_bloom(spark, root, "o_custkey")
    assert n1 >= 1
    append(
        spark, root,
        orders.where(F.col("o_orderkey") % 10 >= 7)
        .repartitionByRange(3, F.col("o_orderkey")),
    )
    # STALE window: the new files are uncovered -> must be kept and the
    # answer stays exact
    ck = int(orders.agg(F.min("o_custkey")).first()[0])
    expected = sorted(
        map(tuple, orders.where(F.col("o_custkey") == ck).collect())
    )
    df, plan = plan_snapshot_scan(spark, root, [Eq("o_custkey", ck)])
    assert sorted(map(tuple, df.collect())) == expected
    # incremental catch-up scans only the new files
    n2 = update_snapshot_bloom(spark, root, "o_custkey")
    assert 1 <= n2 < n1 + 1 or n2 >= 1
    assert update_snapshot_bloom(spark, root, "o_custkey") == 0
    # fully-covered probe: still exact, and it prunes
    df2, plan2 = plan_snapshot_scan(
        spark, root, [Eq("o_custkey", ck)], require_pruning=True
    )
    assert sorted(map(tuple, df2.collect())) == expected
    assert plan2.pruned_by("bloom:o_custkey") >= 1
    # incremental index == from-scratch rebuild (same content per file)
    import shutil as _sh

    idx_dir = os.path.join(root, "_indexes", "bloom_o_custkey")
    incr = sorted(
        map(tuple, spark.read.parquet(idx_dir).collect())
    )
    _sh.rmtree(idx_dir)
    update_snapshot_bloom(spark, root, "o_custkey")
    full = sorted(map(tuple, spark.read.parquet(idx_dir).collect()))
    assert incr == full
    # composition: range (manifest stats) + point (bloom) in one call
    b = orders.agg(
        F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi")
    ).first()
    mid_lo = b.lo + (b.hi - b.lo) * 2 // 5
    mid_hi = b.lo + (b.hi - b.lo) * 3 // 5
    df3, plan3 = plan_snapshot_scan(
        spark, root,
        [Range("o_orderkey", int(mid_lo), int(mid_hi)), Eq("o_custkey", ck)],
    )
    exp3 = sorted(
        map(
            tuple,
            orders.where(
                F.col("o_orderkey").between(int(mid_lo), int(mid_hi))
                & (F.col("o_custkey") == ck)
            ).collect(),
        )
    )
    assert sorted(map(tuple, df3.collect())) == exp3
    names = [n for n, _ in plan3.steps]
    assert names == ["manifest:o_orderkey", "bloom:o_custkey"]


def test_planned_scan_through_deletion_vectors(spark, sf_dir, tmp_path):
    """plan_snapshot_scan(allow_dv=True): a MOR table gets pruned scans
    without compaction — files drop by manifest stats, vectors anti-join
    out of the kept files only, result equals the logical read."""
    from telemetry_parquet_spark.sources.scan_planner import Range
    from telemetry_parquet_spark.sources.snapshots import (
        delete_where_mor,
        plan_snapshot_scan,
    )

    root = str(tmp_path / "mordv")
    orders = _orders(spark, sf_dir)
    append(
        spark, root, orders.repartitionByRange(10, F.col("o_orderkey"))
    )
    delete_where_mor(spark, root, "o_orderpriority = '1-URGENT'")
    b = orders.agg(
        F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi")
    ).first()
    mid_lo = int(b.lo + (b.hi - b.lo) * 2 // 5)
    mid_hi = int(b.lo + (b.hi - b.lo) * 3 // 5)
    # default still refuses
    with pytest.raises(ValueError, match="deletion vectors"):
        plan_snapshot_scan(
            spark, root, [Range("o_orderkey", mid_lo, mid_hi)]
        )
    df, plan = plan_snapshot_scan(
        spark, root, [Range("o_orderkey", mid_lo, mid_hi)],
        require_pruning=True, allow_dv=True,
    )
    expected = sorted(
        map(
            tuple,
            orders.where(
                F.col("o_orderkey").between(mid_lo, mid_hi)
                & (F.col("o_orderpriority") != "1-URGENT")
            ).collect(),
        )
    )
    assert sorted(map(tuple, df.collect())) == expected
    assert plan.pruned_by("manifest:o_orderkey") >= 1


def test_planned_scan_time_travel_with_later_index(spark, sf_dir, tmp_path):
    """An index built at the HEAD serves a time-traveled planned scan of
    an older version: candidates intersect that version's manifest and
    files the index does not cover are kept — stale/forward coverage is
    exactness-safe in both directions."""
    from telemetry_parquet_spark.sources.scan_planner import Eq
    from telemetry_parquet_spark.sources.snapshots import (
        plan_snapshot_scan,
        update_snapshot_bloom,
    )

    root = str(tmp_path / "ttidx")
    orders = _orders(spark, sf_dir)
    append(
        spark, root,
        orders.where(F.col("o_orderkey") % 10 < 7)
        .repartitionByRange(6, F.col("o_orderkey")),
    )
    append(
        spark, root,
        orders.where(F.col("o_orderkey") % 10 >= 7)
        .repartitionByRange(2, F.col("o_orderkey")),
    )
    update_snapshot_bloom(spark, root, "o_orderkey")  # covers v2's files
    ok = int(orders.agg(F.min("o_orderkey")).first()[0])
    df, plan = plan_snapshot_scan(
        spark, root, [Eq("o_orderkey", ok)], version=1
    )
    expected = sorted(
        map(
            tuple,
            orders.where(
                (F.col("o_orderkey") == ok)
                & (F.col("o_orderkey") % 10 < 7)
            ).collect(),
        )
    )
    assert sorted(map(tuple, df.collect())) == expected
    assert plan.steps[0][0] == "bloom:o_orderkey"


def test_manifest_temporal_stats_prune_date_ranges(spark, sf_dir, tmp_path):
    """Commit-time stats now cover DATE/TIMESTAMP columns (epoch-ordinal
    encoding in the manifest): a time-range predicate — THE 100 TB
    predicate — prunes files with zero data I/O, and ISO-string or
    datetime predicate values both work."""
    import datetime as dt

    from telemetry_parquet_spark.sources.scan_planner import Range
    from telemetry_parquet_spark.sources.snapshots import (
        plan_snapshot_scan,
        read_manifest,
    )

    root = str(tmp_path / "tstats")
    orders = _orders(spark, sf_dir)
    append(
        spark, root, orders.repartitionByRange(10, F.col("o_orderdate"))
    )
    m = read_manifest(root, 1)
    assert m.get("stats_types", {}).get("o_orderdate") == "timestamp"
    some = next(iter(m["stats"].values()))
    assert isinstance(some["o_orderdate"][0], int)  # epoch-micros ordinal
    lo = dt.datetime(1997, 1, 1)
    hi = dt.datetime(1997, 12, 31, 23, 59, 59)
    df, plan = plan_snapshot_scan(
        spark, root, [Range("o_orderdate", lo, hi)], require_pruning=True
    )
    expected = sorted(
        map(tuple, orders.where(F.col("o_orderdate").between(lo, hi)).collect())
    )
    assert sorted(map(tuple, df.collect())) == expected
    assert plan.pruned_by("manifest:o_orderdate") >= 1
    # ISO-string bounds resolve identically
    df2, plan2 = plan_snapshot_scan(
        spark, root,
        [Range("o_orderdate", "1997-01-01T00:00:00", "1997-12-31T23:59:59")],
        require_pruning=True,
    )
    assert plan2.steps == plan.steps


def test_string_stat_truncation_bounds():
    """Iceberg round-up truncation: for ANY string, the truncated min
    stays a lower bound and the truncated max an upper bound."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from telemetry_parquet_spark.sources.snapshots import (
        _STR_STAT_MAX,
        _trunc_lower,
        _trunc_upper,
    )

    @given(st.text(min_size=0, max_size=120))
    @settings(max_examples=300, deadline=None)
    def check(s: str) -> None:
        lo, hi = _trunc_lower(s), _trunc_upper(s)
        assert lo <= s <= hi
        assert len(lo) <= _STR_STAT_MAX
        # the upper bound covers EVERY string sharing the prefix
        assert s + "zzzz" <= hi or len(s) <= _STR_STAT_MAX

    check()


def test_manifest_string_stats_truncated_and_exact(spark, sf_dir, tmp_path):
    """Long text columns get bounded manifest stats; an equality scan
    through the planner stays exact (conservative bounds keep the true
    file)."""
    from telemetry_parquet_spark.sources.scan_planner import Eq
    from telemetry_parquet_spark.sources.snapshots import (
        _STR_STAT_MAX,
        plan_snapshot_scan,
        read_manifest,
    )

    root = str(tmp_path / "strst")
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    append(spark, root, docs.repartitionByRange(6, F.col("doc_id")))
    m = read_manifest(root, 1)
    lens = [
        len(b)
        for st_ in m["stats"].values()
        if "text" in st_
        for b in st_["text"]
    ]
    assert lens and max(lens) <= _STR_STAT_MAX
    probe = docs.orderBy("doc_id").limit(1).first().text
    df, _plan = plan_snapshot_scan(spark, root, [Eq("text", probe)])
    assert sorted(map(tuple, df.collect())) == sorted(
        map(tuple, docs.where(F.col("text") == probe).collect())
    )


def test_snapshot_row_count_metadata_only(spark, sf_dir, tmp_path):
    """COUNT(*) from the manifest alone: exact per version across
    append -> COW delete -> compaction, exact under stacked deletion
    vectors (subtracted), and exact via the footer FALLBACK when a
    manifest predates per-file row counts."""
    import json as _json
    import os as _os

    from telemetry_parquet_spark.sources.snapshots import (
        append,
        compact_table,
        delete_where,
        delete_where_mor,
        read_snapshot,
        snapshot_row_count,
        _manifest_path,
        latest_version,
    )

    src = spark.read.parquet(_os.path.join(sf_dir, "orders.parquet"))
    root = str(tmp_path / "t")
    append(spark, root, src.where(F.col("o_orderkey") % 10 < 7))
    append(spark, root, src.where(F.col("o_orderkey") % 10 >= 7))
    delete_where(spark, root, "o_orderpriority = '1-URGENT'")
    compact_table(spark, root, target_bytes=1 << 30)
    for v in (1, 2, 3, 4):
        assert snapshot_row_count(root, v) == \
            read_snapshot(spark, root, v).count(), f"v{v}"

    # merge-on-read: stacked vectors subtract exactly
    mor = str(tmp_path / "m")
    append(spark, mor, src)
    delete_where_mor(spark, mor, "o_orderpriority = '1-URGENT'")
    delete_where_mor(spark, mor, "o_orderpriority = '2-HIGH'")
    for v in (1, 2, 3):
        assert snapshot_row_count(mor, v) == \
            read_snapshot(spark, mor, v).count(), f"mor v{v}"

    # legacy manifest (committed before row counts): footer fallback
    p = _manifest_path(root, latest_version(root))
    with open(p) as fh:
        m = _json.load(fh)
    m.pop("rows", None)
    with open(p, "w") as fh:
        _json.dump(m, fh)
    assert snapshot_row_count(root) == read_snapshot(spark, root).count()


def test_sql_count_star_metadata_fast_path(spark, sf_dir, tmp_path):
    """The SQL front door's whole-table COUNT(*) answers from metadata:
    value matches the scan, the plan reads NO files, version pins and
    aliases are honored."""
    import os as _os

    from telemetry_parquet_spark.sources.snapshots import append
    from telemetry_parquet_spark.sources.sql_front import engine_sql

    src = spark.read.parquet(_os.path.join(sf_dir, "orders.parquet"))
    root = str(tmp_path / "t")
    append(spark, root, src.where(F.col("o_orderkey") % 10 < 7))
    append(spark, root, src.where(F.col("o_orderkey") % 10 >= 7))

    out = engine_sql(spark, "SELECT COUNT(*) AS n FROM t", {"t": root})
    assert out.columns == ["n"]
    assert out.inputFiles() == []  # no scan anywhere in the plan
    assert out.first().n == src.count()
    v1 = engine_sql(
        spark, "SELECT COUNT(*) FROM t VERSION AS OF 1", {"t": root}
    )
    # unaliased terms carry SPARK'S native name — the same schema the
    # scan fallback would produce, so a layout change can't rename cols
    assert v1.columns == ["count(1)"]
    assert v1.first()[0] == src.where(F.col("o_orderkey") % 10 < 7).count()


def test_sql_minmax_metadata_fast_path(spark, sf_dir, tmp_path):
    """Whole-table MIN/MAX/COUNT over an integer column answers from
    manifest stats (no scan); unanswerable shapes — deletion vectors,
    string columns — fall through to the ordinary scan rewrite with the
    same values."""
    import os as _os

    from telemetry_parquet_spark.sources.snapshots import (
        append,
        delete_where_mor,
        snapshot_minmax,
    )
    from telemetry_parquet_spark.sources.sql_front import engine_sql

    src = spark.read.parquet(_os.path.join(sf_dir, "orders.parquet"))
    root = str(tmp_path / "t")
    append(spark, root, src.where(F.col("o_orderkey") % 10 < 7))
    append(spark, root, src.where(F.col("o_orderkey") % 10 >= 7))

    stmt = ("SELECT COUNT(*) AS n, MIN(o_orderkey) AS lo, "
            "MAX(o_orderkey) AS hi FROM t")
    fast = engine_sql(spark, stmt, {"t": root})
    assert fast.inputFiles() == []  # metadata answered the whole select
    row = fast.first()
    truth = src.agg(
        F.count("*").alias("n"), F.min("o_orderkey").alias("lo"),
        F.max("o_orderkey").alias("hi"),
    ).first()
    assert (row.n, row.lo, row.hi) == (truth.n, truth.lo, truth.hi)

    # string column: metadata refuses (truncated bounds), scan answers
    assert snapshot_minmax(root, "o_orderpriority") is None
    s = engine_sql(
        spark, "SELECT MIN(o_orderpriority) AS m FROM t", {"t": root}
    )
    assert s.inputFiles() != []  # fell through to the scan path
    assert s.first().m == src.agg(F.min("o_orderpriority")).first()[0]

    # deletion vectors: a vector may mask the extreme row -> refuse
    delete_where_mor(spark, root, "o_orderpriority = '1-URGENT'")
    assert snapshot_minmax(root, "o_orderkey") is None
    dv = engine_sql(
        spark, "SELECT MIN(o_orderkey) AS lo FROM t", {"t": root}
    )
    assert dv.inputFiles() != []


def test_snapshot_sum_metadata_only(spark, sf_dir, tmp_path):
    """SUM/COUNT(col) from metadata alone: exact through append, COW
    delete, compaction, MOR delete (vector sidecar subtraction) and MOR
    update (vector + fresh-file sums in one commit); conservative None
    for non-integer columns, temporal encodings, missing sums entries,
    and vectors without a sidecar."""
    import os as _os

    from telemetry_parquet_spark.sources.snapshots import (
        _DV_AGG_SUFFIX,
        append,
        compact_table,
        delete_where,
        delete_where_mor,
        read_manifest,
        read_snapshot,
        snapshot_sum,
        update_where_mor,
    )

    src = spark.read.parquet(_os.path.join(sf_dir, "orders.parquet"))
    root = str(tmp_path / "t")
    append(spark, root, src.where(F.col("o_orderkey") % 10 < 7))
    append(spark, root, src.where(F.col("o_orderkey") % 10 >= 7))
    delete_where(spark, root, "o_orderpriority = '1-URGENT'")
    compact_table(spark, root, target_bytes=1 << 30)
    delete_where_mor(spark, root, "o_orderpriority = '2-HIGH'")
    update_where_mor(
        spark, root, "o_orderstatus = 'F'", {"o_custkey": "o_custkey + 11"}
    )
    for v in (1, 2, 3, 4, 5, 6):
        got = snapshot_sum(root, "o_custkey", v)
        cur = read_snapshot(spark, root, v)
        exp = cur.agg(
            F.sum("o_custkey").alias("s"), F.count("o_custkey").alias("n")
        ).first()
        assert got == (exp.s, exp.n), f"v{v}: {got} != {(exp.s, exp.n)}"

    # non-integer / temporal / unknown columns: metadata refuses
    assert snapshot_sum(root, "o_orderstatus") is None
    assert snapshot_sum(root, "o_totalprice") is None  # double
    assert snapshot_sum(root, "o_orderdate") is None  # temporal ordinal
    assert snapshot_sum(root, "no_such_col") is None

    # a vector without its agg sidecar: refuse rather than guess
    m = read_manifest(root, 6)
    assert m.get("dv"), "expected outstanding vectors at v6"
    side = _os.path.join(root, m["dv"][0] + _DV_AGG_SUFFIX)
    _os.rename(side, side + ".bak")
    try:
        assert snapshot_sum(root, "o_custkey", 6) is None
    finally:
        _os.rename(side + ".bak", side)


def test_snapshot_groupby_metadata_guards(spark, sf_dir, tmp_path):
    """Clustered-key GROUP BY from the manifest: exact when every
    non-empty file is single-valued on the key; None (scan fallback) for
    straddling layouts, outstanding deletion vectors, non-integer sum
    columns, and all-NULL sum groups."""
    import os as _os

    from telemetry_parquet_spark.sources.snapshots import (
        append,
        delete_where_mor,
        snapshot_groupby_metadata,
    )

    src = spark.read.parquet(_os.path.join(sf_dir, "orders.parquet"))
    root = str(tmp_path / "g")
    for p in (
        "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
    ):
        append(
            spark, root,
            src.where(F.col("o_orderpriority") == p).repartition(2),
        )
    got = snapshot_groupby_metadata(root, "o_orderpriority", ["o_custkey"])
    exp = sorted(
        (r[0], r[1], r[2])
        for r in src.groupBy("o_orderpriority")
        .agg(F.count("*"), F.sum("o_custkey"))
        .collect()
    )
    assert got == exp

    # integer group key works too (single-valued by construction)
    ik = str(tmp_path / "ik")
    for k in (0, 1, 2):
        append(
            spark, ik,
            src.where(F.col("o_orderkey") % 3 == k)
            .withColumn("k3", F.lit(k).cast("long"))
            .repartition(1),
        )
    gk = snapshot_groupby_metadata(ik, "k3", [])
    assert [g[0] for g in gk] == [0, 1, 2]
    assert sum(g[1] for g in gk) == src.count()

    # straddling layout: files span keys -> None
    flat = str(tmp_path / "f")
    append(spark, flat, src.repartition(2))
    assert snapshot_groupby_metadata(flat, "o_orderpriority", []) is None

    # outstanding deletion vector -> None (can't attribute masked rows)
    delete_where_mor(spark, root, "o_orderstatus = 'F'")
    assert (
        snapshot_groupby_metadata(root, "o_orderpriority", []) is None
    )
    # ...but the pre-vector version still answers
    assert snapshot_groupby_metadata(
        root, "o_orderpriority", [], version=5
    ) == [(k, n) for k, n, _ in exp]

    # non-integer sum column -> None
    assert snapshot_groupby_metadata(
        root, "o_orderpriority", ["o_totalprice"], version=5
    ) is None


def test_sql_sum_and_groupby_metadata_fast_path(spark, sf_dir, tmp_path):
    """The SQL front door routes whole-table SUM/COUNT(col) and
    clustered-key GROUP BY to the manifest (no scan in the plan), and
    falls through to the ordinary scan rewrite — same values — for
    unanswerable shapes."""
    import os as _os

    from telemetry_parquet_spark.sources.snapshots import append
    from telemetry_parquet_spark.sources.sql_front import engine_sql

    src = spark.read.parquet(_os.path.join(sf_dir, "orders.parquet"))
    root = str(tmp_path / "t")
    for p in (
        "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
    ):
        append(
            spark, root,
            src.where(F.col("o_orderpriority") == p).repartition(2),
        )

    out = engine_sql(
        spark,
        "SELECT SUM(o_custkey) AS s, COUNT(o_custkey) AS n FROM t",
        {"t": root},
    )
    assert out.inputFiles() == []
    exp = src.agg(
        F.sum("o_custkey").alias("s"), F.count("o_custkey").alias("n")
    ).first()
    assert out.first() == (exp.s, exp.n)

    gb = engine_sql(
        spark,
        "SELECT o_orderpriority, COUNT(*) AS n, SUM(o_custkey) AS s "
        "FROM t GROUP BY o_orderpriority",
        {"t": root},
    )
    assert gb.inputFiles() == []
    expg = {
        r[0]: (r[1], r[2])
        for r in src.groupBy("o_orderpriority")
        .agg(F.count("*"), F.sum("o_custkey"))
        .collect()
    }
    for r in gb.collect():
        assert (r.n, r.s) == expg[r.o_orderpriority]

    # key-less GROUP BY shape: misses the fast-path regex, scans, correct
    dbl = engine_sql(spark, "SELECT SUM(o_custkey) AS s FROM t "
                            "GROUP BY o_orderstatus", {"t": root})
    assert dbl.count() == 3

    # SUM over a DOUBLE column: the type guard must force a scan (sums
    # are recorded for integer columns only) and the value must be the
    # scan's answer, not a misread from absent entries
    dsum = engine_sql(spark, "SELECT SUM(o_totalprice) AS s FROM t",
                      {"t": root})
    assert dsum.inputFiles(), "double SUM must fall through to a scan"
    assert abs(
        dsum.first().s - src.agg(F.sum("o_totalprice")).first()[0]
    ) < 1e-6

    # GROUP BY with a double SUM term: same guard on the grouped path
    gdbl = engine_sql(
        spark,
        "SELECT o_orderpriority, SUM(o_totalprice) AS s FROM t "
        "GROUP BY o_orderpriority",
        {"t": root},
    )
    assert gdbl.inputFiles(), "grouped double SUM must scan"
    assert gdbl.count() == 5


def test_snapshot_sum_through_wap_publish(spark, sf_dir, tmp_path):
    """Staged (write-audit-publish) MOR deletes/updates carry the same
    deletion-vector agg sidecar as direct ones — the vector is frozen at
    stage time and publication refuses conflicting rewrites, so metadata
    SUM keeps answering exactly after publish."""
    import os as _os

    from telemetry_parquet_spark.sources import snapshots as S

    src = spark.read.parquet(_os.path.join(sf_dir, "orders.parquet"))
    root = str(tmp_path / "t")
    S.append(spark, root, src)
    S.stage_delete_mor(spark, root, "o_orderpriority = '1-URGENT'", "w1")
    S.publish_staged(spark, root, "w1")
    got = S.snapshot_sum(root, "o_custkey")
    exp = (
        src.where("o_orderpriority <> '1-URGENT'")
        .agg(F.sum("o_custkey").alias("s"), F.count("o_custkey").alias("n"))
        .first()
    )
    assert got == (exp.s, exp.n)

    S.stage_update_mor(
        spark, root, "o_orderstatus = 'F'", {"o_custkey": "o_custkey + 3"},
        "w2",
    )
    S.publish_staged(spark, root, "w2")
    got2 = S.snapshot_sum(root, "o_custkey")
    cur = S.read_snapshot(spark, root)
    exp2 = cur.agg(
        F.sum("o_custkey").alias("s"), F.count("o_custkey").alias("n")
    ).first()
    assert got2 == (exp2.s, exp2.n)


def test_groupby_metadata_refuses_null_keys(spark, sf_dir, tmp_path):
    """Parquet footer min/max ignore NULLs, so a file holding
    ['A','A',NULL] looks single-valued on 'A' — attributing its full row
    count to group 'A' would silently drop the NULL group SQL reports.
    The manifest now records per-file footer null counts and the fold
    refuses any file whose key null count is nonzero (or unknown)."""
    import os as _os

    from telemetry_parquet_spark.sources.snapshots import (
        append,
        snapshot_groupby_metadata,
    )
    from telemetry_parquet_spark.sources.sql_front import engine_sql

    src = spark.read.parquet(_os.path.join(sf_dir, "orders.parquet"))
    root = str(tmp_path / "t")
    # one append per key, but key 'B' files carry NULL rows too
    a = src.limit(40).select(
        "o_orderkey", F.lit("A").alias("k")
    )
    b = src.limit(60).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 3 == 0, F.lit(None).cast("string"))
        .otherwise(F.lit("B"))
        .alias("k"),
    )
    append(spark, root, a.repartition(1))
    append(spark, root, b.repartition(1))
    assert snapshot_groupby_metadata(root, "k", []) is None
    # ...and the front door scans instead of mis-answering
    out = engine_sql(
        spark, "SELECT k, COUNT(*) AS n FROM t GROUP BY k", {"t": root}
    )
    assert out.inputFiles(), "NULL-key layout must scan"
    got = {r.k: r.n for r in out.collect()}
    exp = {r.k: r["count"] for r in a.unionAll(b).groupBy("k").count().collect()}
    assert got == exp  # includes the NULL group

    # a clean layout (no NULLs) still answers from metadata
    clean = str(tmp_path / "c")
    append(spark, clean, a.repartition(1))
    append(
        spark, clean,
        src.limit(60).select("o_orderkey", F.lit("B").alias("k"))
        .repartition(1),
    )
    assert snapshot_groupby_metadata(clean, "k", []) == [("A", 40), ("B", 60)]


def test_sql_avg_metadata_fast_path(spark, sf_dir, tmp_path):
    """Whole-table AVG over an integer column answers from the manifest
    sums (one double division of the two exact integers, no scan)."""
    import os as _os

    from telemetry_parquet_spark.sources.snapshots import (
        append,
        snapshot_sum,
    )
    from telemetry_parquet_spark.sources.sql_front import engine_sql

    src = spark.read.parquet(_os.path.join(sf_dir, "orders.parquet"))
    root = str(tmp_path / "t")
    append(spark, root, src.repartition(4))
    out = engine_sql(
        spark, "SELECT AVG(o_custkey) AS a, COUNT(*) AS n FROM t",
        {"t": root},
    )
    assert out.inputFiles() == []
    s, c = snapshot_sum(root, "o_custkey")
    row = out.first()
    assert row.a == float(s) / float(c) and row.n == src.count()
    # AVG over a non-integer column: scan fallback, not a misread
    dbl = engine_sql(spark, "SELECT AVG(o_totalprice) AS a FROM t",
                     {"t": root})
    assert dbl.inputFiles()


def test_tablesample_rows_manifest_planned(spark, sf_dir, tmp_path):
    """TABLESAMPLE (n ROWS): exactly n rows, scanning only the
    sorted-path file prefix whose recorded counts cover n; deterministic
    per manifest; full-read fallback under deletion vectors."""
    import os as _os

    from telemetry_parquet_spark.sources.snapshots import (
        append,
        delete_where_mor,
        read_manifest,
    )
    from telemetry_parquet_spark.sources.sql_front import engine_sql

    src = spark.read.parquet(_os.path.join(sf_dir, "orders.parquet"))
    root = str(tmp_path / "t")
    append(spark, root, src.repartition(8))
    m = read_manifest(root, 1)
    per_file = min(m["rows"][f] for f in m["files"] if m["rows"][f] > 0)
    n = max(1, per_file // 2)  # coverable by ONE file
    out = engine_sql(
        spark, f"SELECT * FROM t TABLESAMPLE ({n} ROWS)", {"t": root}
    )
    assert out.count() == n
    assert len(out.inputFiles()) < len(m["files"])  # prefix, not the table
    # deterministic: same manifest -> same rows
    again = engine_sql(
        spark, f"SELECT * FROM t TABLESAMPLE ({n} ROWS)", {"t": root}
    )
    assert sorted(map(tuple, out.collect())) == \
        sorted(map(tuple, again.collect()))
    # n beyond the table: every row, no error
    big = engine_sql(
        spark,
        f"SELECT * FROM t TABLESAMPLE ({src.count() * 2} ROWS)",
        {"t": root},
    )
    assert big.count() == src.count()
    # outstanding vectors: logical read fallback, still exactly n rows
    delete_where_mor(spark, root, "o_orderpriority = '1-URGENT'")
    dv = engine_sql(
        spark, f"SELECT * FROM t TABLESAMPLE ({n} ROWS)", {"t": root}
    )
    assert dv.count() == n
    assert dv.where("o_orderpriority = '1-URGENT'").count() == 0


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_snapshot_sum_random_mutation_sequences(spark, sf_dir, tmp_path, seed):
    """Property check: under a randomized mutation sequence (append /
    COW delete / MOR delete / MOR update / compact), metadata SUM either
    equals the scan at EVERY version or refuses — never a wrong answer.
    Three seeded sequences; deterministic, no runtime randomness."""
    import os as _os
    import random as _random

    from telemetry_parquet_spark.sources import snapshots as S

    rng = _random.Random(seed)
    src = spark.read.parquet(_os.path.join(sf_dir, "orders.parquet"))
    root = str(tmp_path / f"t{seed}")
    S.append(spark, root, src.where(F.col("o_orderkey") % 4 == 0))
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    for _ in range(4):
        op = rng.choice(["append", "cow_del", "mor_del", "mor_upd", "compact"])
        if op == "append":
            k = rng.randrange(1, 4)
            S.append(spark, root, src.where(F.col("o_orderkey") % 4 == k))
        elif op == "cow_del":
            try:
                S.delete_where(
                    spark, root, f"o_orderpriority = '{rng.choice(prios)}'"
                )
            except ValueError:
                S.compact_table(spark, root)  # outstanding DVs: materialize
        elif op == "mor_del":
            S.delete_where_mor(
                spark, root, f"o_orderpriority = '{rng.choice(prios)}'"
            )
        elif op == "mor_upd":
            S.update_where_mor(
                spark, root,
                f"o_orderstatus = '{rng.choice(['O', 'F', 'P'])}'",
                {"o_custkey": f"o_custkey + {rng.randrange(1, 100)}"},
            )
        else:
            S.compact_table(spark, root)
    for v in range(1, S.latest_version(root) + 1):
        got = S.snapshot_sum(root, "o_custkey", v)
        if got is None:
            continue  # refusal is always allowed; wrongness never
        exp = S.read_snapshot(spark, root, v).agg(
            F.sum("o_custkey").alias("s"), F.count("o_custkey").alias("n")
        ).first()
        assert got == (exp.s, exp.n), f"seed {seed} v{v}"


def test_stage_delete_on_empty_table_keeps_sums_answerable(
    spark, sf_dir, tmp_path
):
    """A staged MOR delete on an EMPTY table writes a vector that masks
    nothing; it must carry a zero sidecar so metadata SUM keeps
    answering after data arrives (a sidecar-less vector would force
    scans forever)."""
    import os as _os

    from pyspark.sql.types import StructType

    from telemetry_parquet_spark.sources import snapshots as S

    src = spark.read.parquet(_os.path.join(sf_dir, "orders.parquet"))
    root = str(tmp_path / "t")
    S.create_table(root, StructType.fromJson(
        __import__("json").loads(src.schema.json())
    ))
    S.stage_delete_mor(spark, root, "o_orderkey > 0", "w0")
    S.publish_staged(spark, root, "w0")
    S.append(spark, root, src)
    got = S.snapshot_sum(root, "o_custkey")
    exp = src.agg(
        F.sum("o_custkey").alias("s"), F.count("o_custkey").alias("n")
    ).first()
    assert got == (exp.s, exp.n), "zero sidecar must keep SUM metadata-only"


def test_groupby_metadata_composite_keys(spark, sf_dir, tmp_path):
    """Composite-key metadata GROUP BY: every file single-valued on ALL
    keys answers from the manifest; straddling any one key refuses."""
    import os as _os

    from telemetry_parquet_spark.sources.snapshots import (
        append,
        snapshot_groupby_metadata,
    )
    from telemetry_parquet_spark.sources.sql_front import engine_sql

    src = spark.read.parquet(_os.path.join(sf_dir, "orders.parquet"))
    root = str(tmp_path / "t")
    combos = [
        r
        for r in src.select("o_orderpriority", "o_orderstatus")
        .distinct()
        .collect()
    ]
    for r in sorted(combos):
        append(
            spark, root,
            src.where(
                (F.col("o_orderpriority") == r[0])
                & (F.col("o_orderstatus") == r[1])
            ).repartition(1),
        )
    got = snapshot_groupby_metadata(
        root, ["o_orderpriority", "o_orderstatus"], ["o_custkey"]
    )
    exp = sorted(
        (r[0], r[1], r[2], r[3])
        for r in src.groupBy("o_orderpriority", "o_orderstatus")
        .agg(F.count("*"), F.sum("o_custkey"))
        .collect()
    )
    assert got == exp

    out = engine_sql(
        spark,
        "SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n, "
        "SUM(o_custkey) AS s FROM t "
        "GROUP BY o_orderpriority, o_orderstatus",
        {"t": root},
    )
    assert out.inputFiles() == []
    assert sorted(map(tuple, out.collect())) == exp

    # the same table straddles on a FINER key: refuse -> scan
    assert snapshot_groupby_metadata(root, ["o_orderkey"], []) is None
    flat = engine_sql(
        spark,
        "SELECT o_orderpriority, o_orderkey, COUNT(*) AS n FROM t "
        "GROUP BY o_orderpriority, o_orderkey",
        {"t": root},
    )
    assert flat.inputFiles()  # scanned


def test_groupby_metadata_grouped_minmax(spark, sf_dir, tmp_path):
    """Per-group MIN/MAX of integer columns folds per-file stats within
    each key's files — exact because file stats are exact bounds; a
    non-integer MIN term falls back to a scan."""
    import os as _os

    from telemetry_parquet_spark.sources.snapshots import append
    from telemetry_parquet_spark.sources.sql_front import engine_sql

    src = spark.read.parquet(_os.path.join(sf_dir, "orders.parquet"))
    root = str(tmp_path / "t")
    for p in (
        "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
    ):
        append(
            spark, root,
            src.where(F.col("o_orderpriority") == p).repartition(2),
        )
    out = engine_sql(
        spark,
        "SELECT o_orderpriority, COUNT(*) AS n, MIN(o_orderkey) AS lo, "
        "MAX(o_orderkey) AS hi, SUM(o_custkey) AS s FROM t "
        "GROUP BY o_orderpriority",
        {"t": root},
    )
    assert out.inputFiles() == []
    exp = {
        r[0]: (r[1], r[2], r[3], r[4])
        for r in src.groupBy("o_orderpriority")
        .agg(
            F.count("*"), F.min("o_orderkey"), F.max("o_orderkey"),
            F.sum("o_custkey"),
        )
        .collect()
    }
    for r in out.collect():
        assert (r.n, r.lo, r.hi, r.s) == exp[r.o_orderpriority]

    # MIN over a string column: type guard -> scan, same values
    smin = engine_sql(
        spark,
        "SELECT o_orderpriority, MIN(o_orderstatus) AS m FROM t "
        "GROUP BY o_orderpriority",
        {"t": root},
    )
    assert smin.inputFiles()
    assert smin.count() == 5


def test_sql_filtered_agg_metadata_fast_path(spark, sf_dir, tmp_path):
    """WHERE key = literal with COUNT/SUM/MIN/MAX: on a clustered layout
    the fold includes only files single-valued at the probe value and
    excludes files whose stats rule it out — zero data I/O; straddling
    layouts, absent values with SUM terms, and non-clustered keys fall
    through to the scan with the same values."""
    import os as _os

    from telemetry_parquet_spark.sources.snapshots import (
        append,
        snapshot_filtered_agg,
    )
    from telemetry_parquet_spark.sources.sql_front import engine_sql

    src = spark.read.parquet(_os.path.join(sf_dir, "orders.parquet"))
    root = str(tmp_path / "t")
    for p in (
        "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
    ):
        append(
            spark, root,
            src.where(F.col("o_orderpriority") == p).repartition(2),
        )
    out = engine_sql(
        spark,
        "SELECT COUNT(*) AS n, SUM(o_custkey) AS s, "
        "MIN(o_orderkey) AS lo, MAX(o_orderkey) AS hi FROM t "
        "WHERE o_orderpriority = '2-HIGH'",
        {"t": root},
    )
    assert out.inputFiles() == []
    exp = (
        src.where("o_orderpriority = '2-HIGH'")
        .agg(
            F.count("*").alias("n"), F.sum("o_custkey").alias("s"),
            F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi"),
        )
        .first()
    )
    assert tuple(out.first()) == tuple(exp)

    # value outside every file: COUNT alone answers 0 from metadata
    zero = engine_sql(
        spark,
        "SELECT COUNT(*) AS n FROM t WHERE o_orderpriority = '9-NONE'",
        {"t": root},
    )
    assert zero.inputFiles() == [] and zero.first().n == 0
    # ...but with a SUM term SQL returns NULL -> scan answers
    assert snapshot_filtered_agg(
        root, "o_orderpriority", "9-NONE", ["o_custkey"]
    ) is None

    # non-clustered key (files straddle): scan fallback, same value
    flat = engine_sql(
        spark,
        "SELECT COUNT(*) AS n FROM t WHERE o_orderstatus = 'F'",
        {"t": root},
    )
    assert flat.inputFiles()
    assert flat.first().n == src.where("o_orderstatus = 'F'").count()

    # integer probe on an integer-clustered table
    ik = str(tmp_path / "ik")
    for k in (0, 1, 2):
        append(
            spark, ik,
            src.where(F.col("o_orderkey") % 3 == k)
            .withColumn("k3", F.lit(k).cast("long"))
            .repartition(1),
        )
    got = engine_sql(
        spark, "SELECT COUNT(*) AS n FROM t WHERE k3 = 1", {"t": ik}
    )
    assert got.inputFiles() == []
    assert got.first().n == src.where(F.col("o_orderkey") % 3 == 1).count()


def test_metadata_fast_paths_case_insensitive_and_null_key_files(
    spark, sf_dir, tmp_path
):
    """Spark SQL resolves identifiers case-insensitively; the metadata
    fast paths must too (a cased spelling is a missed fast path, never a
    wrong answer). And a file whose key is entirely NULL provably
    matches nothing under equality — it contributes zero instead of
    killing the WHERE fast path (the evolved-table case)."""
    import os as _os

    from telemetry_parquet_spark.sources.snapshots import (
        append,
        snapshot_filtered_agg,
        snapshot_groupby_metadata,
        snapshot_minmax,
        snapshot_sum,
    )
    from telemetry_parquet_spark.sources.sql_front import engine_sql

    src = spark.read.parquet(_os.path.join(sf_dir, "orders.parquet"))
    root = str(tmp_path / "t")
    for p in ("1-URGENT", "2-HIGH"):
        append(
            spark, root,
            src.where(F.col("o_orderpriority") == p).repartition(1),
        )
    # cased spellings resolve like Spark SQL would
    assert snapshot_minmax(root, "O_CUSTKEY") == \
        snapshot_minmax(root, "o_custkey")
    assert snapshot_sum(root, "O_CUSTKEY") == \
        snapshot_sum(root, "o_custkey")
    assert snapshot_groupby_metadata(root, ["O_ORDERPRIORITY"], []) == \
        snapshot_groupby_metadata(root, ["o_orderpriority"], [])
    out = engine_sql(
        spark,
        "SELECT COUNT(*) AS n FROM t WHERE O_ORDERPRIORITY = '2-HIGH'",
        {"t": root},
    )
    assert out.inputFiles() == []
    assert out.first().n == src.where(
        "o_orderpriority = '2-HIGH'"
    ).count()

    # an all-NULL-key file contributes 0 under equality, fast path lives
    nullfile = str(tmp_path / "n")
    append(
        spark, nullfile,
        src.where(F.col("o_orderpriority") == "1-URGENT").repartition(1),
    )
    append(
        spark, nullfile,
        src.where(F.col("o_orderpriority") == "2-HIGH")
        .withColumn(
            "o_orderpriority", F.lit(None).cast("string")
        )
        .repartition(1),
    )
    got = snapshot_filtered_agg(
        nullfile, "o_orderpriority", "1-URGENT", ["o_custkey"]
    )
    exp = (
        src.where("o_orderpriority = '1-URGENT'")
        .agg(F.count("*").alias("n"), F.sum("o_custkey").alias("s"))
        .first()
    )
    assert got == (exp.n, exp.s)


def test_filtered_agg_stays_metadata_only_through_mor_deletes(
    spark, sf_dir, tmp_path
):
    """DV-aware filtered aggregate: an included file is single-valued
    at the probe, so its vector-masked rows all matched — the per-file
    sidecar delta subtracts exactly for COUNT/SUM; MIN/MAX refuses when
    a vector touches an included file; deltas on excluded files are
    ignored."""
    import os as _os

    from telemetry_parquet_spark.sources.snapshots import (
        append,
        delete_where_mor,
        snapshot_filtered_agg,
    )

    src = spark.read.parquet(_os.path.join(sf_dir, "orders.parquet"))
    root = str(tmp_path / "dvagg")
    for p in ("1-URGENT", "2-HIGH", "3-MEDIUM"):
        append(
            spark, root,
            src.where(F.col("o_orderpriority") == p).repartition(2),
        )
    delete_where_mor(spark, root, "o_custkey % 5 = 2")
    live = src.where(
        "o_orderpriority in ('1-URGENT','2-HIGH','3-MEDIUM') "
        "and not (o_custkey % 5 = 2)"
    )
    got = snapshot_filtered_agg(
        root, "o_orderpriority", "2-HIGH", ["o_custkey"]
    )
    exp = live.where("o_orderpriority = '2-HIGH'").agg(
        F.count("*"), F.sum("o_custkey")
    ).first()
    assert got == (exp[0], exp[1])
    # second stacked vector still folds exactly
    delete_where_mor(spark, root, "o_custkey % 7 = 3")
    live2 = live.where("not (o_custkey % 7 = 3)")
    got2 = snapshot_filtered_agg(
        root, "o_orderpriority", "2-HIGH", ["o_custkey"]
    )
    exp2 = live2.where("o_orderpriority = '2-HIGH'").agg(
        F.count("*"), F.sum("o_custkey")
    ).first()
    assert got2 == (exp2[0], exp2[1])
    # MIN/MAX under a vector that touched the included files: refuse
    assert snapshot_filtered_agg(
        root, "o_orderpriority", "2-HIGH", minmax_cols=["o_orderkey"]
    ) is None


def test_landing_targets_agree(spark, tmp_path):
    """One DML core, three landing targets: the same append, MOR delete
    and MOR update committed directly or staged + published, and the
    same append and COW delete committed directly or on a branch merged
    by fast-forward, land identical rows and identical per-file
    ``rows``/``stats`` manifest entries."""
    from telemetry_parquet_spark.sources.branches import (
        branch_append,
        branch_delete_where,
        create_branch,
        merge_branch,
    )
    from telemetry_parquet_spark.sources.snapshots import (
        delete_where_mor,
        publish_staged,
        stage_append,
        stage_delete_mor,
        stage_update_mor,
        update_where_mor,
    )

    def rows(lo, hi):
        return spark.range(lo, hi, 1, 2).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).alias("g"),
            (F.col("id") * 10).alias("v"),
        )

    def landed(root):
        m = read_manifest(root, latest_version(root))
        entries = sorted(
            (m["rows"][f], sorted(m["stats"][f].items())) for f in m["files"]
        )
        return _multiset(read_snapshot(spark, root)), entries

    def fresh(name):
        root = str(tmp_path / name)
        append(spark, root, rows(0, 20))
        return root

    drop, bump = "g = 1 AND k < 15", "g = 2"
    direct = fresh("direct")
    append(spark, direct, rows(20, 30))
    delete_where_mor(spark, direct, drop)
    update_where_mor(spark, direct, bump, {"v": "v + 1"})
    staged = fresh("staged")
    stage_append(spark, staged, rows(20, 30), "a")
    publish_staged(spark, staged, "a")
    stage_delete_mor(spark, staged, drop, "d")
    publish_staged(spark, staged, "d")
    stage_update_mor(spark, staged, bump, {"v": "v + 1"}, "u")
    publish_staged(spark, staged, "u")
    assert landed(staged) == landed(direct)

    direct_cow = fresh("direct_cow")
    append(spark, direct_cow, rows(20, 30))
    delete_where(spark, direct_cow, drop)
    branched = fresh("branched")
    create_branch(branched, "b")
    branch_append(spark, branched, "b", rows(20, 30))
    branch_delete_where(spark, branched, "b", drop)
    merge_branch(spark, branched, "b")
    assert landed(branched) == landed(direct_cow)

"""UNIQUE-key (primary-key) constraints on the snapshot table: commit-
time enforcement with the existing-side probe bounded by manifest
key-range pruning."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from telemetry_parquet_spark.sources import snapshots as S


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("g")
    )


@pytest.fixture()
def table(spark, tmp_path):
    root = str(tmp_path / "t")
    # range layout on k -> per-file envelopes are disjoint, so the
    # collision probe can prune
    S.append(spark, root, _df(spark, 0, 1000).repartitionByRange(8, "k"))
    S.add_unique_constraint(spark, root, "pk", ["k"])
    return root


def test_append_disjoint_keys_ok_and_audited(spark, table):
    S.append(spark, table, _df(spark, 5000, 5100))
    m = S.read_manifest(table, S.latest_version(table))
    cand, total = m["unique_scan"]["pk"]
    assert cand == 0 and total == 8  # every file pruned: no probe scan
    assert m["unique_keys"] == {"pk": ["k"]}  # carried forward


def test_append_colliding_keys_refused_with_bounded_probe(spark, table):
    with pytest.raises(ValueError, match="collide with existing"):
        S.append(spark, table, _df(spark, 500, 505))
    # nothing committed
    assert S.read_snapshot(spark, table).count() == 1000


def test_probe_prunes_to_overlapping_region(spark, table):
    # keys inside one file's range but unused values: 1000..1010 overlap
    # nothing; 990..1010 straddles the last file only
    S.append(spark, table, _df(spark, 1000, 1010))
    m = S.read_manifest(table, S.latest_version(table))
    cand, total = m["unique_scan"]["pk"]
    assert total == 8 and cand <= 1


def test_internal_dups_and_null_keys_refused(spark, table):
    dup = spark.createDataFrame([(9999, 0), (9999, 1)], "k long, g long")
    with pytest.raises(ValueError, match="duplicate keys within"):
        S.append(spark, table, dup)
    withnull = spark.createDataFrame([(None, 0)], "k long, g long")
    with pytest.raises(ValueError, match="NULL key"):
        S.append(spark, table, withnull)


def test_add_constraint_validates_head(spark, tmp_path):
    root = str(tmp_path / "d")
    df = spark.createDataFrame([(1, 0), (1, 1)], "k long, g long")
    S.append(spark, root, df)
    with pytest.raises(ValueError, match="duplicate keys"):
        S.add_unique_constraint(spark, root, "pk", ["k"])


def test_composite_key_and_drop(spark, tmp_path):
    root = str(tmp_path / "c")
    S.append(spark, root, _df(spark, 0, 50))
    S.add_unique_constraint(spark, root, "pair", ["k", "g"])
    with pytest.raises(ValueError, match="collide"):
        S.append(spark, root, _df(spark, 0, 1))
    # same k, different g: composite key allows it
    ok = spark.createDataFrame([(0, 99)], "k long, g long")
    S.append(spark, root, ok)
    S.drop_unique_constraint(root, "pair")
    S.append(spark, root, _df(spark, 0, 1))  # constraint gone
    assert S.read_snapshot(spark, root).count() == 52


def test_update_mor_refuses_key_change_merge_upserts(spark, table):
    with pytest.raises(ValueError, match="UNIQUE key 'pk'"):
        S.update_where_mor(spark, table, "k = 5", {"k": "k + 10000"})
    S.update_where_mor(spark, table, "k = 5", {"g": F.lit(77)})
    assert (
        S.read_snapshot(spark, table).where("k = 5").first().g == 77
    )
    # merge_into stays the sanctioned upsert path under a unique key
    src = spark.createDataFrame([(5, 55), (777777, 1)], "k long, g long")
    # materialize DVs before COW merge
    S.compact_table(spark, table, target_bytes=64 * 1024 * 1024)
    S.merge_into(spark, table, src, ["k"])
    got = S.read_snapshot(spark, table)
    assert got.where("k = 5").first().g == 55
    assert got.where("k = 777777").count() == 1


def test_overwrite_checks_internal_uniqueness_only(spark, table):
    dup = spark.createDataFrame([(1, 0), (1, 1)], "k long, g long")
    with pytest.raises(ValueError, match="duplicate keys within"):
        S.overwrite(spark, table, dup)
    # replacing the table with fresh unique keys is fine (no parent probe)
    S.overwrite(spark, table, _df(spark, 0, 10))
    assert S.read_snapshot(spark, table).count() == 10


def test_branch_and_wap_enforce_unique_keys(spark, table, tmp_path):
    """Branches inherit the UNIQUE key at fork; WAP publish probes the
    publish-time head; rebase-merge probes keys main gained meanwhile."""
    from telemetry_parquet_spark.sources.branches import (
        branch_append,
        create_branch,
        merge_branch,
    )

    create_branch(table, "dev")
    with pytest.raises(ValueError, match="collide"):
        branch_append(spark, table, "dev", _df(spark, 500, 505))
    branch_append(spark, table, "dev", _df(spark, 8000, 8010))
    # main independently takes keys the branch ALSO wants to merge later
    S.append(spark, table, _df(spark, 8005, 8006).select(
        (F.col("k") * 0 + 9000).alias("k"), "g"))
    # rebase ok: 8000..8010 vs main's 0..1000 + 9000
    v = merge_branch(spark, table, "dev")
    assert S.read_snapshot(spark, table).where("k >= 8000").count() == 11
    # the rebased merge records its UNIQUE audit, as a rebased publish does
    cand, total = S.read_manifest(table, v)["unique_scan"]["pk"]
    assert 0 <= cand < total  # recorded, and the probe was pruned

    # a second branch whose rows collide with what main gained meanwhile:
    # fork FIRST, then main takes the same key the branch appended
    create_branch(table, "dev2")
    branch_append(spark, table, "dev2", _df(spark, 30000, 30001))
    S.append(spark, table, _df(spark, 30000, 30001))  # main takes the key
    with pytest.raises(ValueError, match="collide"):
        merge_branch(spark, table, "dev2")

    # WAP: stage is unchecked against future heads; publish probes
    S.stage_append(spark, table, _df(spark, 500, 501), "w1")
    with pytest.raises(ValueError, match="collide"):
        S.publish_staged(spark, table, "w1")


def test_sql_ddl_surface(spark, tmp_path):
    """ALTER TABLE ADD COLUMN / ADD CONSTRAINT CHECK|UNIQUE / DROP
    CONSTRAINT and CREATE/DROP TAG through the SQL front door."""
    from telemetry_parquet_spark.sources.sql_front import engine_sql

    root = str(tmp_path / "sqlddl")
    S.append(spark, root, _df(spark, 0, 20))
    t = {"t": root}
    r = engine_sql(spark, "ALTER TABLE t ADD COLUMN note STRING", tables=t)
    assert r.first().action == "add-column:note"
    head = S.read_snapshot(spark, root)
    assert "note" in head.columns and head.where("note IS NULL").count() == 20

    engine_sql(
        spark, "ALTER TABLE t ADD CONSTRAINT pos CHECK (k >= 0)", tables=t
    )
    engine_sql(
        spark, "ALTER TABLE t ADD CONSTRAINT pk UNIQUE (k)", tables=t
    )
    m = S.read_manifest(root, S.latest_version(root))
    assert m["constraints"] == {"pos": "k >= 0"}
    assert m["unique_keys"] == {"pk": ["k"]}
    bad = spark.createDataFrame([(5, 0, None)], "k long, g long, note string")
    with pytest.raises(ValueError, match="collide"):
        S.append(spark, root, bad)

    engine_sql(spark, "ALTER TABLE t DROP CONSTRAINT pk", tables=t)
    S.append(spark, root, bad)  # unique gone, CHECK still enforced
    m = S.read_manifest(root, S.latest_version(root))
    assert "unique_keys" not in m and m["constraints"] == {"pos": "k >= 0"}

    engine_sql(spark, "CREATE TAG v1.0 ON t", tables=t)
    assert engine_sql(
        spark, "SELECT COUNT(*) AS n FROM t VERSION AS OF 'v1.0'", tables=t
    ).first().n == 21
    engine_sql(spark, "DROP TAG v1.0 ON t", tables=t)
    assert S.list_tags(root) == {}


def test_metadata_commits_keep_deletion_vectors(spark, tmp_path):
    """DDL commits on a MOR table must carry outstanding DVs — dropping
    them would resurrect deleted rows."""
    root = str(tmp_path / "mor_ddl")
    S.append(spark, root, _df(spark, 0, 30))
    S.delete_where_mor(spark, root, "k < 10")
    assert S.read_snapshot(spark, root).count() == 20
    S.add_check_constraint(spark, root, "pos", "k >= 0")
    S.alter_add_column(root, "note", "string")
    S.add_unique_constraint(spark, root, "pk", ["k"])
    S.drop_unique_constraint(root, "pk")
    S.drop_check_constraint(root, "pos")
    # every DDL commit above kept the DV in force
    assert S.read_snapshot(spark, root).count() == 20
    m = S.read_manifest(root, S.latest_version(root))
    assert m.get("dv"), "deletion vectors lost by a metadata commit"

"""Stats-driven join planning (sources/join_planner.py): post-prune byte
estimates from manifest sizes, broadcast decision + physical-plan proof,
join-type build-side legality, and the require_broadcast raise."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from telemetry_parquet_spark.sources import snapshots as S
from telemetry_parquet_spark.sources.join_planner import (
    JoinPlan,
    plan_join,
    planned_bytes,
)
from telemetry_parquet_spark.sources.scan_planner import Range


@pytest.fixture()
def pair(spark, tmp_path):
    """A range-laid-out dim (16 files on k) + a fact table, as snapshots."""
    dim_root = str(tmp_path / "dim")
    fact_root = str(tmp_path / "fact")
    dim = spark.range(0, 1600).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
    )
    S.append(spark, dim_root, dim.repartitionByRange(16, "k"))
    fact = spark.range(0, 20000).select(
        (F.col("id") % 1600).alias("fk"), F.col("id").alias("val")
    )
    S.append(spark, fact_root, fact.repartition(4))
    return dim_root, fact_root


def test_manifest_records_sizes_and_planned_bytes_matches_disk(spark, pair):
    dim_root, _ = pair
    m = S.read_manifest(dim_root, S.latest_version(dim_root))
    assert set(m["sizes"]) == set(m["files"])
    for f, n in m["sizes"].items():
        assert n == os.path.getsize(os.path.join(dim_root, f))
    df, plan = S.plan_snapshot_scan(spark, dim_root, [Range("k", 0, 99)])
    est = planned_bytes(dim_root, plan)
    assert est == sum(os.path.getsize(f) for f in plan.files)
    assert est < sum(m["sizes"].values())  # pruning shrank the estimate


def test_pruning_enables_broadcast_and_plan_shows_it(spark, pair):
    dim_root, fact_root = pair
    full = sum(S.read_manifest(dim_root, 1)["sizes"].values())
    # threshold below the FULL dim size: only the pruned scan fits
    joined, plan = plan_join(
        spark, dim_root, fact_root, on=[("k", "fk")],
        left_predicates=[Range("k", 0, 99)],
        broadcast_threshold=full // 2,
        require_broadcast=True, require_pruning="left",
    )
    assert plan.broadcast == "left"
    assert plan.left_bytes <= full // 2 < full
    assert "BroadcastHashJoin" in joined._jdf.queryExecution().executedPlan().toString()
    got = joined.groupBy("grp").agg(F.count("*").alias("n")).collect()
    dim = S.read_snapshot(spark, dim_root).where("k <= 99")
    fact = S.read_snapshot(spark, fact_root)
    want = (
        dim.join(fact, dim["k"] == fact["fk"])
        .groupBy("grp")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_no_side_fits_falls_back_to_shuffle_join(spark, pair):
    dim_root, fact_root = pair
    # isolate the PLANNER's decision from Catalyst's own size estimate
    # (which happily broadcasts these tiny test tables on its own)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined, plan = plan_join(
            spark, dim_root, fact_root, on=[("k", "fk")],
            broadcast_threshold=1,
        )
        assert plan.broadcast is None
        s = joined._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in s
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    with pytest.raises(RuntimeError, match="no side fits"):
        plan_join(
            spark, dim_root, fact_root, on=[("k", "fk")],
            broadcast_threshold=1, require_broadcast=True,
        )


def test_outer_join_build_side_legality(spark, pair):
    dim_root, fact_root = pair
    # LEFT join: the preserved (left) side must never broadcast, even
    # when it is the smaller side
    joined, plan = plan_join(
        spark, dim_root, fact_root, on=[("k", "fk")], how="left",
        left_predicates=[Range("k", 0, 99)],
        broadcast_threshold=10 << 30,
    )
    assert plan.broadcast == "right"
    # full outer: nothing broadcastable
    _, plan = plan_join(
        spark, dim_root, fact_root, on=[("k", "fk")], how="full",
        broadcast_threshold=10 << 30,
    )
    assert plan.broadcast is None
    # left outer row semantics survive the decision
    rows = joined.where(F.col("fk").isNull()).count()
    assert rows == 0  # every dim k in [0,99] has fact matches


def test_smaller_side_wins_when_both_fit(spark, pair):
    dim_root, fact_root = pair
    joined, plan = plan_join(
        spark, dim_root, fact_root, on=[("k", "fk")],
        broadcast_threshold=10 << 30,
    )
    assert plan.broadcast == ("left" if plan.left_bytes <= plan.right_bytes else "right")
    assert isinstance(plan, JoinPlan)


@pytest.fixture()
def bucketed_pair(spark, tmp_path):
    """orders-like fact + cust-like dim, both bucket(8) on the join key
    and compacted so EVERY file carries a tuple."""
    from telemetry_parquet_spark.sources.partition_spec import (
        PartitionField,
        set_partition_spec,
    )

    la, rb = str(tmp_path / "fact"), str(tmp_path / "dim")
    fact = spark.range(0, 2000).select(
        F.col("id").alias("okey"),
        (F.col("id") % 97).alias("cust"),
        (F.col("id") % 13).alias("price"),
    )
    dim = spark.range(0, 97).select(
        F.col("id").alias("ckey"), (F.col("id") % 5).alias("nation")
    )
    S.append(spark, la, fact.where("okey < 1000"))  # pre-spec files
    set_partition_spec(la, [PartitionField("cust", "bucket", 8)])
    S.append(spark, la, fact.where("okey >= 1000"))
    S.compact_table(spark, la, target_bytes=1 << 26)  # migrate to spec
    S.append(spark, rb, dim)
    set_partition_spec(rb, [PartitionField("ckey", "bucket", 8)])
    S.compact_table(spark, rb, target_bytes=1 << 26)
    return la, rb, fact, dim


def test_bucket_join_matches_plain_join_with_no_shuffle(
    spark, bucketed_pair
):
    """The storage-partitioned join: per-bucket pairs, all broadcast,
    physical plan holds n BroadcastHashJoins and ZERO shuffle exchanges
    — and the answer equals the ordinary join's."""
    from telemetry_parquet_spark.sources.join_planner import (
        plan_bucket_join,
    )

    la, rb, fact, dim = bucketed_pair
    joined, plan = plan_bucket_join(
        spark, la, rb, ("cust", "ckey"), require_broadcast=True
    )
    assert plan.n_buckets == 8
    # both sides populate every bucket: all 8 pair up, none skipped
    assert (len(plan.pairs), plan.skipped_buckets) == (8, 0)
    assert all(choice is not None for *_, choice in plan.pairs)
    got = sorted(tuple(r) for r in joined.collect())
    exp = sorted(
        tuple(r)
        for r in fact.join(dim, fact.cust == dim.ckey, "inner").collect()
    )
    assert got == exp
    p = joined._jdf.queryExecution().executedPlan().toString()
    final = p.split("== Initial Plan ==")[0]  # AQE prints both sections
    assert "SortMergeJoin" not in final
    assert final.count("BroadcastHashJoin") == len(plan.pairs)
    assert "Exchange" not in final.replace("BroadcastExchange", "")


def test_bucket_join_refuses_untupled_and_mixed_width(spark, tmp_path):
    from telemetry_parquet_spark.sources.join_planner import (
        plan_bucket_join,
    )
    from telemetry_parquet_spark.sources.partition_spec import (
        PartitionField,
        set_partition_spec,
    )

    la, rb = str(tmp_path / "a"), str(tmp_path / "b")
    df = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    S.append(spark, la, df)  # never tupled
    S.append(spark, rb, df)
    # BOTH sides untupled: migration is the answer, raise
    with pytest.raises(ValueError, match="no bucket"):
        plan_bucket_join(spark, la, rb, ("k", "k"))
    # width mismatch between two FULLY tupled sides still raises
    set_partition_spec(rb, [PartitionField("k", "bucket", 8)])
    S.compact_table(spark, rb, target_bytes=1 << 26)
    set_partition_spec(la, [PartitionField("k", "bucket", 4)])
    S.compact_table(spark, la, target_bytes=1 << 26)
    with pytest.raises(ValueError, match="width mismatch"):
        plan_bucket_join(spark, la, rb, ("k", "k"))


def test_bucket_join_drops_null_key_files_inner(spark, tmp_path):
    from telemetry_parquet_spark.sources.join_planner import (
        plan_bucket_join,
    )
    from telemetry_parquet_spark.sources.partition_spec import (
        PartitionField,
        set_partition_spec,
    )

    la, rb = str(tmp_path / "a"), str(tmp_path / "b")
    left = spark.range(0, 60).select(
        F.when(F.col("id") % 5 == 0, F.lit(None))
        .otherwise(F.col("id") % 9)
        .alias("k"),
        F.col("id").alias("v"),
    )
    right = spark.range(0, 9).select(
        F.col("id").alias("k2"), (F.col("id") * 10).alias("w")
    )
    S.append(spark, la, left)
    set_partition_spec(la, [PartitionField("k", "bucket", 4)])
    S.compact_table(spark, la, target_bytes=1 << 26)
    S.append(spark, rb, right)
    set_partition_spec(rb, [PartitionField("k2", "bucket", 4)])
    S.compact_table(spark, rb, target_bytes=1 << 26)
    joined, plan = plan_bucket_join(spark, la, rb, ("k", "k2"))
    assert plan.dropped_null_files >= 1
    got = sorted(tuple(r) for r in joined.collect())
    exp = sorted(
        tuple(r)
        for r in left.join(right, left.k == right.k2, "inner").collect()
    )
    assert got == exp


def test_bucket_semi_and_anti_join_match_spark(spark, tmp_path):
    """left_semi/left_anti over bucket-aligned tables: NULL-key left
    files drop for semi but PASS THROUGH for anti (NULL matches
    nothing), and a left bucket with no right files is anti-unmatched
    straight from the manifest."""
    from telemetry_parquet_spark.sources.join_planner import (
        plan_bucket_join,
    )
    from telemetry_parquet_spark.sources.partition_spec import (
        PartitionField,
        set_partition_spec,
    )

    la, rb = str(tmp_path / "a"), str(tmp_path / "b")
    left = spark.range(0, 80).select(
        F.when(F.col("id") % 8 == 0, F.lit(None))
        .otherwise(F.col("id") % 11)
        .alias("k"),
        F.col("id").alias("v"),
    )
    # right holds only a SUBSET of keys: some left buckets go unmatched
    right = spark.range(0, 5).select(
        (F.col("id") * 2).alias("k2"), (F.col("id") * 10).alias("w")
    )
    S.append(spark, la, left)
    set_partition_spec(la, [PartitionField("k", "bucket", 4)])
    S.compact_table(spark, la, target_bytes=1 << 26)
    S.append(spark, rb, right)
    set_partition_spec(rb, [PartitionField("k2", "bucket", 4)])
    S.compact_table(spark, rb, target_bytes=1 << 26)

    semi, splan = plan_bucket_join(spark, la, rb, ("k", "k2"), "left_semi")
    assert splan.dropped_null_files >= 1 and splan.passthrough_files == 0
    assert sorted(tuple(r) for r in semi.collect()) == sorted(
        tuple(r)
        for r in left.join(right, left.k == right.k2, "left_semi").collect()
    )
    assert semi.columns == left.columns

    anti, aplan = plan_bucket_join(spark, la, rb, ("k", "k2"), "left_anti")
    assert aplan.passthrough_files >= 1  # NULL-key file bypassed the join
    assert sorted(
        (r.k if r.k is not None else -1, r.v) for r in anti.collect()
    ) == sorted(
        (r.k if r.k is not None else -1, r.v)
        for r in left.join(
            right, left.k == right.k2, "left_anti"
        ).collect()
    )
    with pytest.raises(ValueError, match="unsupported join type"):
        plan_bucket_join(spark, la, rb, ("k", "k2"), "full_outer")


def test_bucket_join_composes_with_predicate_pruning(
    spark, bucketed_pair
):
    """left/right predicates run the full scan-pruning stack per side
    before bucket pairing, and the residual re-applies: the answer is
    exactly filter-then-join, the anti variant turns a pruned-empty
    right bucket into a manifest passthrough."""
    from telemetry_parquet_spark.sources.join_planner import (
        plan_bucket_join,
    )
    from telemetry_parquet_spark.sources.scan_planner import Eq, Range

    la, rb, fact, dim = bucketed_pair
    joined, plan = plan_bucket_join(
        spark, la, rb, ("cust", "ckey"),
        left_predicates=[Range("price", 3, 5)],
        right_predicates=[Eq("nation", 2)],
    )
    exp = (
        fact.where("price between 3 and 5")
        .join(dim.where("nation = 2"), F.col("cust") == F.col("ckey"))
    )
    assert sorted(tuple(r) for r in joined.collect()) == sorted(
        tuple(r) for r in exp.collect()
    )
    # an Eq on the RIGHT bucket key prunes right buckets -> anti
    # passthrough for every other left bucket, straight from manifests
    anti, aplan = plan_bucket_join(
        spark, la, rb, ("cust", "ckey"), "left_anti",
        right_predicates=[Eq("ckey", 42)],
    )
    assert aplan.passthrough_files >= 7  # 7 of 8 left buckets bypass
    exp_anti = fact.join(
        dim.where("ckey = 42"), F.col("cust") == F.col("ckey"),
        "left_anti",
    )
    assert sorted(tuple(r) for r in anti.collect()) == sorted(
        tuple(r) for r in exp_anti.collect()
    )


def test_bucket_join_same_key_name_and_collision_guard(spark, tmp_path):
    """Same-named join keys work via the USING form (one key column in
    the output); a shared NON-key column raises loudly instead of
    producing an ambiguous union; a zero-file side returns the correct
    empty/passthrough answer instead of a width-mismatch error."""
    from telemetry_parquet_spark.sources.join_planner import (
        plan_bucket_join,
    )
    from telemetry_parquet_spark.sources.partition_spec import (
        PartitionField,
        set_partition_spec,
    )
    from telemetry_parquet_spark.sources.snapshots import create_table

    la, rb = str(tmp_path / "a"), str(tmp_path / "b")
    left = spark.range(0, 200).select(
        (F.col("id") % 9).alias("k"), F.col("id").alias("v")
    )
    right = spark.range(0, 9).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("w")
    )
    S.append(spark, la, left)
    set_partition_spec(la, [PartitionField("k", "bucket", 4)])
    S.compact_table(spark, la, target_bytes=1 << 26)
    S.append(spark, rb, right)
    set_partition_spec(rb, [PartitionField("k", "bucket", 4)])
    S.compact_table(spark, rb, target_bytes=1 << 26)

    joined, plan = plan_bucket_join(spark, la, rb, ("k", "k"))
    assert joined.columns.count("k") == 1  # USING form dedupes the key
    exp = left.join(right, on=["k"], how="inner")
    assert sorted(tuple(r) for r in joined.collect()) == sorted(
        tuple(r) for r in exp.collect()
    )
    # shared non-key column: loud refusal under inner
    rb2 = str(tmp_path / "b2")
    S.append(spark, rb2, right.withColumnRenamed("w", "v"))
    set_partition_spec(rb2, [PartitionField("k", "bucket", 4)])
    S.compact_table(spark, rb2, target_bytes=1 << 26)
    with pytest.raises(ValueError, match="ambiguous"):
        plan_bucket_join(spark, la, rb2, ("k", "k"))
    # semi/anti output only left columns: the shared name is fine there
    semi, _ = plan_bucket_join(spark, la, rb2, ("k", "k"), "left_semi")
    assert semi.columns == left.columns
    # zero-file right side: empty inner, full-left anti passthrough
    empty = str(tmp_path / "empty")
    create_table(empty, right.schema)
    set_partition_spec(empty, [PartitionField("k", "bucket", 4)])
    inner0, p0 = plan_bucket_join(spark, la, empty, ("k", "k"))
    assert inner0.count() == 0
    anti0, pa = plan_bucket_join(spark, la, empty, ("k", "k"), "left_anti")
    assert pa.passthrough_files >= 1
    assert anti0.count() == left.count()


def test_version_resolved_once_per_side(spark, bucketed_pair, monkeypatch):
    """Regression: the bucket index and the pruning scan must read the
    SAME manifest version. Before the fix, _side_prune re-resolved
    latest_version, so a commit landing between the two reads silently
    dropped files from the join. Pin the invariant: with version=None,
    each side resolves latest_version exactly ONCE."""
    from telemetry_parquet_spark.sources.join_planner import (
        plan_bucket_join,
        plan_join,
    )

    la, rb, fact, dim = bucketed_pair
    calls: dict[str, int] = {}
    orig = S.latest_version

    def counting(root):
        calls[root] = calls.get(root, 0) + 1
        return orig(root)

    monkeypatch.setattr(S, "latest_version", counting)
    joined, plan = plan_bucket_join(
        spark, la, rb, ("cust", "ckey"),
        left_predicates=[Range("price", 0, 6)],
        right_predicates=[Range("nation", 0, 3)],
    )
    assert calls == {la: 1, rb: 1}
    exp = (
        fact.where("price between 0 and 6")
        .join(dim.where("nation between 0 and 3"),
              F.col("cust") == F.col("ckey"), "inner")
    )
    assert sorted(map(tuple, joined.collect())) == sorted(
        map(tuple, exp.collect())
    )
    calls.clear()
    joined2, _ = plan_join(
        spark, la, rb, [("cust", "ckey")],
        left_predicates=[Range("price", 0, 6)],
        right_predicates=[Range("nation", 0, 3)],
    )
    assert calls == {la: 1, rb: 1}
    assert joined2.count() == exp.count()


def test_one_side_bucketed_join_stages_unbucketed_side(
    spark, bucketed_pair, tmp_path
):
    """The dominant 100 TB regime: bucketed fact joins an UNBUCKETED
    dim too big to broadcast whole. The planner shuffles ONLY the dim
    into the fact's bucket layout (exactly one exchange, on the staged
    side) and runs the per-bucket broadcast plan — the final join plan
    carries zero non-broadcast exchanges."""
    from telemetry_parquet_spark.sources.join_planner import (
        plan_bucket_join,
    )

    la, _, fact, dim = bucketed_pair
    rb = str(tmp_path / "plain_dim")
    S.append(spark, rb, dim)  # never tupled
    joined, plan = plan_bucket_join(
        spark, la, rb, ("cust", "ckey"), require_broadcast=True
    )
    assert plan.staged_side == "right"
    assert plan.n_buckets == 8 and len(plan.pairs) == 8
    # the staging frame paid exactly ONE exchange (the repartition)
    stage = plan.staging_plan.split("== Initial Plan ==")[0]
    assert stage.replace("BroadcastExchange", "").count("Exchange") == 1
    got = sorted(tuple(r) for r in joined.collect())
    exp = sorted(
        tuple(r)
        for r in fact.join(dim, fact.cust == dim.ckey, "inner").collect()
    )
    assert got == exp
    final = joined._jdf.queryExecution().executedPlan().toString()
    final = final.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" not in final
    assert "Exchange" not in final.replace("BroadcastExchange", "")


def test_one_side_staging_prunes_before_shuffle(spark, bucketed_pair,
                                                tmp_path):
    """Predicates on the staged side filter BEFORE the shuffle, and the
    result equals filter-then-join exactly."""
    from telemetry_parquet_spark.sources.join_planner import (
        plan_bucket_join,
    )

    la, _, fact, dim = bucketed_pair
    rb = str(tmp_path / "plain_dim2")
    S.append(spark, rb, dim)
    joined, plan = plan_bucket_join(
        spark, la, rb, ("cust", "ckey"),
        left_predicates=[Range("price", 0, 5)],
        right_predicates=[Range("nation", 1, 3)],
    )
    assert plan.staged_side == "right"
    exp = (
        fact.where("price between 0 and 5")
        .join(dim.where("nation between 1 and 3"),
              F.col("cust") == F.col("ckey"), "inner")
    )
    assert sorted(map(tuple, joined.collect())) == sorted(
        map(tuple, exp.collect())
    )


def test_left_outer_bucket_join_two_side_and_staged(spark, tmp_path):
    """left_outer legality: unmatched left rows (empty right buckets,
    NULL keys) pass through with typed-NULL right columns, matching
    Spark's own left_outer — in both the two-side-bucketed and the
    staged regimes."""
    from telemetry_parquet_spark.sources.join_planner import (
        plan_bucket_join,
    )
    from telemetry_parquet_spark.sources.partition_spec import (
        PartitionField,
        set_partition_spec,
    )

    la, rb, rb2 = (str(tmp_path / x) for x in ("f", "d", "d2"))
    fact = spark.range(0, 400).select(
        F.col("id").alias("okey"),
        F.when(F.col("id") % 19 == 0, None)
        .otherwise(F.col("id") % 37).alias("cust"),
        (F.col("id") % 11).alias("price"),
    )
    dim = spark.range(0, 12).select(  # covers only cust 0..11
        F.col("id").alias("ckey"), (F.col("id") * 2).alias("w")
    )
    S.append(spark, la, fact)
    set_partition_spec(la, [PartitionField("cust", "bucket", 4)])
    S.compact_table(spark, la, target_bytes=1 << 26)
    S.append(spark, rb, dim)
    set_partition_spec(rb, [PartitionField("ckey", "bucket", 4)])
    S.compact_table(spark, rb, target_bytes=1 << 26)
    S.append(spark, rb2, dim)  # unbucketed twin

    exp = sorted(
        map(tuple, fact.join(
            dim, fact.cust == dim.ckey, "left_outer"
        ).collect())
    )
    for right, expect_staged in ((rb, None), (rb2, "right")):
        joined, plan = plan_bucket_join(
            spark, la, right, ("cust", "ckey"), how="left_outer"
        )
        assert plan.staged_side == expect_staged
        assert sorted(map(tuple, joined.collect())) == exp
        final = joined._jdf.queryExecution().executedPlan().toString()
        final = final.split("== Initial Plan ==")[0]
        assert "Exchange" not in final.replace("BroadcastExchange", "")
    # NULL-key left files passed through, not dropped
    assert plan.passthrough_files > 0


def test_staged_left_side_semi_anti(spark, tmp_path):
    """Staging works on the LEFT side too, and semi/anti semantics
    survive it (right side stays the bucketed blocklist)."""
    from telemetry_parquet_spark.sources.join_planner import (
        plan_bucket_join,
    )
    from telemetry_parquet_spark.sources.partition_spec import (
        PartitionField,
        set_partition_spec,
    )

    la, rb = str(tmp_path / "events"), str(tmp_path / "block")
    ev = spark.range(0, 300).select(
        F.col("id").alias("k"), (F.col("id") % 23).alias("u")
    )
    block = spark.range(0, 23).where("id % 3 = 0").select(
        F.col("id").alias("bu")
    )
    S.append(spark, la, ev)  # unbucketed left
    S.append(spark, rb, block)
    set_partition_spec(rb, [PartitionField("bu", "bucket", 4)])
    S.compact_table(spark, rb, target_bytes=1 << 26)
    for how, sql_how in (("left_semi", "left_semi"),
                         ("left_anti", "left_anti")):
        joined, plan = plan_bucket_join(
            spark, la, rb, ("u", "bu"), how=how
        )
        assert plan.staged_side == "left"
        exp = sorted(
            map(tuple, ev.join(block, ev.u == block.bu, sql_how)
                .collect())
        )
        assert sorted(map(tuple, joined.collect())) == exp


def test_dpp_join_prunes_fact_by_dim_bucket_set(spark, tmp_path):
    """Manifest-side dynamic partition pruning: the filtered dim's
    DISTINCT key buckets (≤ n ints on the driver, never the keys)
    select the fact files; the answer equals plain filter-then-join."""
    from telemetry_parquet_spark.sources.join_planner import plan_dpp_join
    from telemetry_parquet_spark.sources.partition_spec import (
        PartitionField,
        set_partition_spec,
    )

    fa, di = str(tmp_path / "fact"), str(tmp_path / "dim")
    fact = spark.range(0, 3000).select(
        F.col("id").alias("okey"),
        (F.col("id") % 200).alias("cust"),
        (F.col("id") % 17).alias("price"),
    )
    dim = spark.range(0, 200).select(
        F.col("id").alias("ckey"), (F.col("id") % 25).alias("nation")
    )
    S.append(spark, fa, fact)
    set_partition_spec(fa, [PartitionField("cust", "bucket", 8)])
    S.compact_table(spark, fa, target_bytes=1 << 26)
    S.append(spark, di, dim)

    joined, plan = plan_dpp_join(
        spark, fa, di, ("cust", "ckey"),
        dim_predicates=[Range("nation", 3, 3)],  # 8 of 200 dim keys
        require_pruning=True,
    )
    assert plan.n_buckets == 8 and 0 < plan.live_buckets < 8
    assert plan.fact_files_kept < plan.fact_files_total
    assert plan.broadcast_dim
    exp = fact.join(
        dim.where("nation = 3"), fact.cust == dim.ckey, "inner"
    )
    assert sorted(map(tuple, joined.collect())) == sorted(
        map(tuple, exp.collect())
    )
    # fact-side predicates compose (stats prune + residual re-applied)
    joined2, plan2 = plan_dpp_join(
        spark, fa, di, ("cust", "ckey"),
        dim_predicates=[Range("nation", 3, 3)],
        fact_predicates=[Range("price", 0, 4)],
    )
    exp2 = fact.where("price between 0 and 4").join(
        dim.where("nation = 3"), fact.cust == dim.ckey, "inner"
    )
    assert sorted(map(tuple, joined2.collect())) == sorted(
        map(tuple, exp2.collect())
    )


def test_dpp_join_guards(spark, tmp_path):
    from telemetry_parquet_spark.sources.join_planner import plan_dpp_join
    from telemetry_parquet_spark.sources.partition_spec import (
        PartitionField,
        set_partition_spec,
    )

    fa, di = str(tmp_path / "f2"), str(tmp_path / "d2")
    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") % 9).alias("v")
    )
    S.append(spark, fa, df)
    S.append(spark, di, df.select(F.col("k").alias("dk"),
                                  F.col("v").alias("w")))
    # unpartitioned fact: loud error, not a silent full scan
    with pytest.raises(ValueError, match="no\\s+field on"):
        plan_dpp_join(spark, fa, di, ("k", "dk"))
    set_partition_spec(fa, [PartitionField("k", "bucket", 4)])
    S.compact_table(spark, fa, target_bytes=1 << 26)
    # unfiltered dim touches every bucket -> require_pruning raises
    with pytest.raises(ValueError, match="every live partition"):
        plan_dpp_join(
            spark, fa, di, ("k", "dk"), require_pruning=True
        )
    # but without the flag the join is still exact
    joined, plan = plan_dpp_join(spark, fa, di, ("k", "dk"))
    assert plan.live_buckets == 4
    assert joined.count() == 100


def test_dpp_join_on_day_transform(spark, tmp_path):
    """Temporal DPP: a dim of DATES decides which day(ts) fact
    partitions can match — the live set is the dim's distinct epoch
    days, never its rows."""
    from telemetry_parquet_spark.sources.join_planner import plan_dpp_join
    from telemetry_parquet_spark.sources.partition_spec import (
        PartitionField,
        set_partition_spec,
    )
    from telemetry_parquet_spark.sources.snapshots import create_table

    fa, di = str(tmp_path / "fday"), str(tmp_path / "dday")
    fact = spark.range(0, 2000).select(
        F.col("id").alias("k"),
        F.date_add(
            F.lit("2024-03-01").cast("date"), (F.col("id") % 20).cast("int")
        ).alias("d"),
        (F.col("id") % 7).alias("v"),
    )
    dim = spark.createDataFrame(
        [("2024-03-05", 1), ("2024-03-11", 2), ("2024-03-11", 3)],
        "ds string, tag int",
    ).select(F.col("ds").cast("date").alias("dd"), "tag")
    create_table(fa, fact.schema)
    set_partition_spec(fa, [PartitionField("d", "day")])
    S.append(spark, fa, fact)
    S.append(spark, di, dim)
    joined, plan = plan_dpp_join(
        spark, fa, di, ("d", "dd"), require_pruning=True
    )
    assert plan.n_buckets == 0 and plan.live_buckets == 2
    assert plan.fact_files_kept == 2  # one file per day tuple
    exp = fact.join(dim, fact.d == dim.dd, "inner")
    assert sorted(map(tuple, joined.collect())) == sorted(
        map(tuple, exp.collect())
    )


def test_dpp_rejects_cross_typed_keys_and_identity_transform(
    spark, tmp_path
):
    """Review regressions: cross-kind join keys raise instead of
    silently mis-pruning via a dim-typed live set; the identity
    transform prunes exactly (live set = the dim's filtered keys)."""
    import telemetry_parquet_spark.sources.join_planner as JP
    from telemetry_parquet_spark.sources.partition_spec import (
        PartitionField,
        set_partition_spec,
    )

    fa, di = str(tmp_path / "fx"), str(tmp_path / "dx")
    fact = spark.range(0, 200).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("v")
    )
    S.append(spark, fa, fact)
    set_partition_spec(fa, [PartitionField("k", "bucket", 4)])
    S.compact_table(spark, fa, target_bytes=1 << 26)
    # string-typed dim key vs bigint fact key: loud error
    S.append(spark, di, spark.range(0, 50).select(
        F.col("id").cast("string").alias("dk")
    ))
    with pytest.raises(ValueError, match="types disagree"):
        JP.plan_dpp_join(spark, fa, di, ("k", "dk"))
    # identity-transform DPP with a compatible int dim: exact + engaged
    di2 = str(tmp_path / "dy")
    S.append(spark, di2, spark.range(0, 50).select(F.col("id").alias("dk")))
    fa2 = str(tmp_path / "fid")
    S.append(spark, fa2, fact.select(F.col("k"), F.col("v")))
    set_partition_spec(fa2, [PartitionField("k", "identity")])
    S.compact_table(spark, fa2, target_bytes=1 << 26)
    joined, plan = JP.plan_dpp_join(
        spark, fa2, di2, ("k", "dk"),
        dim_predicates=[Range("dk", 0, 9)], require_pruning=True,
    )
    assert plan.live_buckets == 10 and plan.n_buckets == 0
    exp = fact.join(
        spark.range(0, 50).select(F.col("id").alias("dk"))
        .where("dk between 0 and 9"),
        F.col("k") == F.col("dk"), "inner",
    )
    assert sorted(map(tuple, joined.collect())) == sorted(
        map(tuple, exp.collect())
    )


def test_partial_tupling_raises_instead_of_staging(spark, tmp_path):
    """A side whose CURRENT spec intends bucketing but has untupled
    files gets the loud compact_table guidance, never a silent
    whole-side staging rewrite."""
    from telemetry_parquet_spark.sources.join_planner import (
        plan_bucket_join,
    )
    from telemetry_parquet_spark.sources.partition_spec import (
        PartitionField,
        set_partition_spec,
    )

    la, rb = str(tmp_path / "pa"), str(tmp_path / "pb")
    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("v")
    )
    S.append(spark, la, df.where("k < 50"))  # pre-spec, untupled
    set_partition_spec(la, [PartitionField("k", "bucket", 4)])
    S.append(spark, la, df.where("k >= 50"))  # tupled; NO compact
    S.append(spark, rb, df.select(F.col("k").alias("rk"),
                                  F.col("v").alias("w")))
    set_partition_spec(rb, [PartitionField("rk", "bucket", 4)])
    S.compact_table(spark, rb, target_bytes=1 << 26)
    with pytest.raises(ValueError, match="compact_table"):
        plan_bucket_join(spark, la, rb, ("k", "rk"))


def test_staging_layout_is_reused_across_calls(spark, tmp_path):
    """The staged bucket layout lands under the session warehouse keyed
    by (root, version, key, n, predicates): a second identical join
    reuses it (no second scratch dir), and a version bump re-stages."""
    import glob as _glob
    import os as _os

    from telemetry_parquet_spark.sources.join_planner import (
        plan_bucket_join,
    )
    from telemetry_parquet_spark.sources.partition_spec import (
        PartitionField,
        set_partition_spec,
    )

    la, rb = str(tmp_path / "ra"), str(tmp_path / "rrb")
    fact = spark.range(0, 300).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("v")
    )
    dim = spark.range(0, 5).select(F.col("id").alias("dk"),
                                   (F.col("id") * 2).alias("w"))
    S.append(spark, la, fact)
    set_partition_spec(la, [PartitionField("v", "bucket", 4)])
    S.compact_table(spark, la, target_bytes=1 << 26)
    S.append(spark, rb, dim)
    wh = spark.conf.get("spark.sql.warehouse.dir")
    if wh.startswith("file:"):
        wh = wh[len("file:"):]

    def stage_dirs():
        return set(_glob.glob(_os.path.join(wh, "bucket_stage_*")))

    before = stage_dirs()
    j1, p1 = plan_bucket_join(spark, la, rb, ("v", "dk"))
    after1 = stage_dirs()
    assert len(after1 - before) == 1  # one fresh staged layout
    n1 = j1.count()
    j2, p2 = plan_bucket_join(spark, la, rb, ("v", "dk"))
    assert stage_dirs() == after1  # REUSED, not re-staged
    assert j2.count() == n1 == 300
    S.append(spark, rb, spark.createDataFrame([(99, 0)], "dk long, w long"))
    j3, _ = plan_bucket_join(spark, la, rb, ("v", "dk"))
    assert len(stage_dirs() - after1) == 1  # new version -> new layout
    assert j3.count() == 300  # dk=99 matches no v in 0..4


def test_staging_rebuilt_table_gets_fresh_layout(spark, tmp_path):
    """A table deleted and rebuilt at the same path, to the same version,
    with other rows is a different table: the join re-stages it instead
    of reusing the old table's staged rows, and joins the new rows."""
    import glob as _glob
    import os as _os
    import shutil as _shutil

    from telemetry_parquet_spark.sources.join_planner import (
        plan_bucket_join,
    )
    from telemetry_parquet_spark.sources.partition_spec import (
        PartitionField,
        set_partition_spec,
    )

    la, rb = str(tmp_path / "fa"), str(tmp_path / "rebuilt")
    fact = spark.range(0, 300).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("v")
    )
    S.append(spark, la, fact)
    set_partition_spec(la, [PartitionField("v", "bucket", 4)])
    S.compact_table(spark, la, target_bytes=1 << 26)
    v1 = S.append(spark, rb, spark.createDataFrame(
        [(0, 10), (1, 11)], "dk long, w long"))
    wh = spark.conf.get("spark.sql.warehouse.dir")
    if wh.startswith("file:"):
        wh = wh[len("file:"):]

    def stage_dirs():
        return set(_glob.glob(_os.path.join(wh, "bucket_stage_*")))

    before = stage_dirs()
    j1, _ = plan_bucket_join(spark, la, rb, ("v", "dk"))
    assert sorted(set((r.v, r.w) for r in j1.collect())) == [(0, 10), (1, 11)]
    after1 = stage_dirs()
    _shutil.rmtree(rb)
    v = S.append(spark, rb, spark.createDataFrame(
        [(2, 22), (3, 33), (4, 44)], "dk long, w long"))
    assert v == v1  # same path, same version, other rows
    j2, _ = plan_bucket_join(spark, la, rb, ("v", "dk"))
    assert len(stage_dirs() - after1) == 1  # re-staged, not reused
    assert len(after1 - before) == 1
    got = sorted(set((r.v, r.w) for r in j2.collect()))
    assert got == [(2, 22), (3, 33), (4, 44)]
    assert j2.count() == 180  # 60 fact rows per v in 2..4


def _mk_bucketed(spark, root, df, fields):
    from telemetry_parquet_spark.sources.partition_spec import (
        PartitionField,
        set_partition_spec,
    )

    S.append(spark, root, df)
    set_partition_spec(
        root, [PartitionField(c, "bucket", n) for c, n in fields]
    )
    S.compact_table(spark, root, target_bytes=1 << 26)


def test_composite_bucket_join_two_side(spark, tmp_path):
    """Both sides tupled on (k1, k2): pairing runs on the bucket TUPLE
    (8*4 composite buckets), answers match the plain two-key join, and
    no side stages."""
    from telemetry_parquet_spark.sources.join_planner import (
        plan_bucket_join,
    )

    la, rb = str(tmp_path / "ca"), str(tmp_path / "cb")
    left = spark.range(0, 500).select(
        (F.col("id") % 50).alias("k1"), (F.col("id") % 7).alias("k2"),
        F.col("id").alias("v"))
    right = spark.range(0, 300).select(
        (F.col("id") % 40).alias("rk1"), (F.col("id") % 7).alias("rk2"),
        (F.col("id") * 10).alias("w"))
    _mk_bucketed(spark, la, left, [("k1", 8), ("k2", 4)])
    _mk_bucketed(spark, rb, right, [("rk1", 8), ("rk2", 4)])
    joined, plan = plan_bucket_join(
        spark, la, rb, [("k1", "rk1"), ("k2", "rk2")]
    )
    want = left.join(
        right, (left.k1 == right.rk1) & (left.k2 == right.rk2)
    )
    assert plan.staged_side is None and plan.n_buckets == 32
    agg = lambda df: tuple(  # noqa: E731
        df.agg(F.count("*"), F.sum("v"), F.sum("w")).first()
    )
    assert agg(joined) == agg(want)
    # composite anti: manifest passthrough + per-bucket anti agree too
    anti, aplan = plan_bucket_join(
        spark, la, rb, [("k1", "rk1"), ("k2", "rk2")], "left_anti"
    )
    want_anti = left.join(
        right, (left.k1 == right.rk1) & (left.k2 == right.rk2),
        "left_anti",
    ).count()
    assert anti.count() == want_anti


def test_composite_one_side_stages_on_all_fields(spark, tmp_path):
    """Unbucketed right side stages into the left's FULL (8, 4) tuple
    layout — one exchange, composite alignment afterwards."""
    from telemetry_parquet_spark.sources.join_planner import (
        plan_bucket_join,
    )

    la, rc = str(tmp_path / "sa"), str(tmp_path / "sc")
    left = spark.range(0, 500).select(
        (F.col("id") % 50).alias("k1"), (F.col("id") % 7).alias("k2"),
        F.col("id").alias("v"))
    right = spark.range(0, 300).select(
        (F.col("id") % 40).alias("rk1"), (F.col("id") % 7).alias("rk2"),
        (F.col("id") * 10).alias("w"))
    _mk_bucketed(spark, la, left, [("k1", 8), ("k2", 4)])
    S.append(spark, rc, right)  # never tupled
    joined, plan = plan_bucket_join(
        spark, la, rc, [("k1", "rk1"), ("k2", "rk2")]
    )
    assert plan.staged_side == "right" and plan.n_buckets == 32
    want = left.join(
        right, (left.k1 == right.rk1) & (left.k2 == right.rk2)
    ).count()
    assert joined.count() == want


def test_composite_refusal_matrix(spark, tmp_path):
    """Mixed per-field widths: a field whose widths disagree drops from
    the pairing (coarser but correct); when EVERY common field
    disagrees, or the sides are bucketed on disjoint fields, the join
    refuses loudly with migration guidance."""
    from telemetry_parquet_spark.sources.join_planner import (
        plan_bucket_join,
    )

    left = spark.range(0, 500).select(
        (F.col("id") % 50).alias("k1"), (F.col("id") % 7).alias("k2"),
        F.col("id").alias("v"))
    right = spark.range(0, 300).select(
        (F.col("id") % 40).alias("rk1"), (F.col("id") % 7).alias("rk2"),
        (F.col("id") * 10).alias("w"))
    la = str(tmp_path / "ma")
    _mk_bucketed(spark, la, left, [("k1", 8), ("k2", 4)])
    want = left.join(
        right, (left.k1 == right.rk1) & (left.k2 == right.rk2)
    ).count()

    # partial width mismatch -> aligns on the surviving field only
    rp = str(tmp_path / "mp")
    _mk_bucketed(spark, rp, right, [("rk1", 8), ("rk2", 2)])
    joined, plan = plan_bucket_join(
        spark, la, rp, [("k1", "rk1"), ("k2", "rk2")]
    )
    assert plan.staged_side is None and plan.n_buckets == 8
    assert joined.count() == want

    # width mismatch on every field -> loud refusal
    rw = str(tmp_path / "mw")
    _mk_bucketed(spark, rw, right, [("rk1", 5), ("rk2", 2)])
    with pytest.raises(ValueError, match="width mismatch"):
        plan_bucket_join(spark, la, rw, [("k1", "rk1"), ("k2", "rk2")])

    # disjoint bucketed fields -> loud refusal
    rd = str(tmp_path / "md")
    _mk_bucketed(spark, rd, right, [("rk2", 4)])
    ld = str(tmp_path / "ml")
    _mk_bucketed(spark, ld, left, [("k1", 8)])
    with pytest.raises(ValueError, match="DISJOINT"):
        plan_bucket_join(spark, ld, rd, [("k1", "rk1"), ("k2", "rk2")])

    # spec-intended-but-untupled key still raises compact_table guidance
    lp = str(tmp_path / "mi")
    from telemetry_parquet_spark.sources.partition_spec import (
        PartitionField,
        set_partition_spec,
    )

    S.append(spark, lp, left)  # pre-spec, untupled
    set_partition_spec(lp, [PartitionField("k2", "bucket", 4)])
    S.append(spark, lp, left)  # tupled on k2; NO compact
    rb = str(tmp_path / "mr")
    _mk_bucketed(spark, rb, right, [("rk1", 8), ("rk2", 4)])
    with pytest.raises(ValueError, match="compact_table"):
        plan_bucket_join(spark, lp, rb, [("k1", "rk1"), ("k2", "rk2")])


def test_dpp_semi_and_legality_matrix(spark, tmp_path):
    """left_semi DPP prunes fact files exactly like inner (a semi keeps
    only matching fact rows) and matches Spark's own semi join;
    anti/outer joins raise by construction — they must preserve the
    rows/files the prune removes."""
    from telemetry_parquet_spark.sources.join_planner import plan_dpp_join
    from telemetry_parquet_spark.sources.partition_spec import (
        PartitionField,
        set_partition_spec,
    )
    from telemetry_parquet_spark.sources.scan_planner import Eq

    froot, droot = str(tmp_path / "f"), str(tmp_path / "d")
    fact = spark.range(0, 5000).select(
        (F.col("id") % 100).alias("fk"), F.col("id").alias("val"))
    dim = spark.range(0, 100).select(
        F.col("id").alias("dk"), (F.col("id") % 10).alias("grp"))
    S.append(spark, froot, fact)
    set_partition_spec(froot, [PartitionField("fk", "bucket", 8)])
    S.compact_table(spark, froot, target_bytes=1 << 26)
    S.append(spark, droot, dim)

    semi, plan = plan_dpp_join(
        spark, froot, droot, ("fk", "dk"), how="left_semi",
        dim_predicates=[Eq("dk", 7)], require_pruning=True,
    )
    want = fact.join(dim.where("dk = 7"), fact.fk == dim.dk, "left_semi")
    assert sorted(tuple(r) for r in semi.collect()) == sorted(
        tuple(r) for r in want.collect()
    )
    assert plan.how == "left_semi"
    assert plan.fact_files_kept < plan.fact_files_total
    assert set(semi.columns) == {"fk", "val"}  # fact schema only
    # synonyms accepted (DataFrame.join parity)
    for ok in ("semi", "LEFT SEMI", "leftsemi"):
        _, p = plan_dpp_join(
            spark, froot, droot, ("fk", "dk"), how=ok,
            dim_predicates=[Eq("dk", 7)],
        )
        assert p.how == "left_semi"
    # illegal types raise with the preservation rationale
    for bad in ("left_anti", "anti", "left_outer", "left", "full",
                "right_outer", "cross"):
        with pytest.raises(ValueError, match="cannot compose"):
            plan_dpp_join(spark, froot, droot, ("fk", "dk"), how=bad)


def test_stage_eviction_grace_and_tmp_safety(spark, tmp_path):
    """Eviction removes only SAME-table, older-than-head, hour-stale
    layouts; fresh layouts (lazy frames may still read them) and
    in-flight .tmp- writer dirs are never candidates."""
    import glob as _glob
    import json as _json
    import os as _os
    import time as _time

    from telemetry_parquet_spark.sources.join_planner import (
        plan_bucket_join,
    )
    from telemetry_parquet_spark.sources.partition_spec import (
        PartitionField,
        set_partition_spec,
    )

    la, rb = str(tmp_path / "ea"), str(tmp_path / "eb")
    left = spark.range(0, 100).select(
        (F.col("id") % 10).alias("k"), F.col("id").alias("v"))
    _mk_bucketed(spark, la, left, [("k", 4)])
    S.append(spark, rb, spark.range(0, 50).select(
        (F.col("id") % 10).alias("rk"), (F.col("id") * 2).alias("w")))
    wh = spark.conf.get("spark.sql.warehouse.dir")
    if wh.startswith("file:"):
        wh = wh[len("file:"):]

    def stage_dirs():
        return set(_glob.glob(_os.path.join(wh, "bucket_stage_*")))

    before = stage_dirs()
    plan_bucket_join(spark, la, rb, ("k", "rk"))
    (d1,) = stage_dirs() - before
    # decoys: a FRESH in-flight tmp dir (a live writer — must survive)
    # and an HOUR-OLD one (a crash leftover — must be reclaimed)
    tmp_fresh = _os.path.join(wh, "bucket_stage_deadbeef.tmp-x")
    tmp_stale = _os.path.join(wh, "bucket_stage_cafebabe.tmp-y")
    for d in (tmp_fresh, tmp_stale):
        _os.makedirs(d, exist_ok=True)
        with open(_os.path.join(d, "_stage_meta.json"), "w") as fh:
            _json.dump({"root": _os.path.abspath(rb), "version": 0}, fh)
    _os.utime(tmp_stale, (0, 0))
    # advance the dim head; d1 is now stale-by-version but FRESH
    S.append(spark, rb, spark.createDataFrame([(99, 0)], "rk long, w long"))
    plan_bucket_join(spark, la, rb, ("k", "rk"))
    assert _os.path.isdir(d1), "fresh layout evicted within the grace"
    assert _os.path.isdir(tmp_fresh), "live writer tmp dir evicted"
    assert not _os.path.isdir(tmp_stale), "crashed tmp leftover kept"
    # REUSE refreshes mtime (the grace measures time since LAST USE):
    # backdate d1, reuse it at its own version (same fingerprint), and
    # the touch must bring it back inside the grace
    old = _time.time() - 7200
    _os.utime(d1, (old, old))
    plan_bucket_join(spark, la, rb, ("k", "rk"), right_version=1)
    assert _time.time() - _os.path.getmtime(d1) < 3600, (
        "reuse did not refresh the layout's mtime"
    )
    # a backdated, UNUSED, superseded layout is evicted by the next
    # staging pass
    _os.utime(d1, (old, old))
    S.append(spark, rb, spark.createDataFrame([(98, 0)], "rk long, w long"))
    plan_bucket_join(spark, la, rb, ("k", "rk"))
    assert not _os.path.isdir(d1), "hour-stale superseded layout kept"
    assert _os.path.isdir(tmp_fresh)
    import shutil as _shutil

    _shutil.rmtree(tmp_fresh, ignore_errors=True)


def test_stage_eviction_tombstone_and_loud_vanish(spark, tmp_path):
    """Eviction is rename-to-tombstone (atomic) + rmtree of the
    tombstone: crashed tombstones are reclaimed after the grace like
    crashed .tmp- dirs, and a layout that vanishes mid-read fails
    loudly (meta gone) instead of flowing into a silently-empty join."""
    import glob as _glob
    import json as _json
    import os as _os

    import pytest as _pytest

    from telemetry_parquet_spark.sources.join_planner import (
        plan_bucket_join,
    )

    la, rb = str(tmp_path / "ta"), str(tmp_path / "tb")
    left = spark.range(0, 40).select(
        (F.col("id") % 5).alias("k"), F.col("id").alias("v"))
    _mk_bucketed(spark, la, left, [("k", 4)])
    S.append(spark, rb, spark.range(0, 20).select(
        (F.col("id") % 5).alias("rk"), (F.col("id") * 2).alias("w")))
    wh = spark.conf.get("spark.sql.warehouse.dir")
    if wh.startswith("file:"):
        wh = wh[len("file:"):]
    # crashed-evictor tombstones: hour-old reclaimed, fresh kept
    tomb_stale = _os.path.join(wh, "bucket_stage_feed.tomb-a")
    tomb_fresh = _os.path.join(wh, "bucket_stage_f00d.tomb-b")
    for d in (tomb_stale, tomb_fresh):
        _os.makedirs(d, exist_ok=True)
    _os.utime(tomb_stale, (0, 0))
    before = set(_glob.glob(_os.path.join(wh, "bucket_stage_*")))
    plan_bucket_join(spark, la, rb, ("k", "rk"))
    assert not _os.path.isdir(tomb_stale), "crashed tombstone kept"
    assert _os.path.isdir(tomb_fresh), "fresh tombstone reclaimed early"
    (d1,) = (
        set(_glob.glob(_os.path.join(wh, "bucket_stage_*")))
        - before - {tomb_stale}
    )
    # concurrent-eviction simulation: the meta file vanishes under a
    # reuser that already resolved the path -> loud RuntimeError
    _os.remove(_os.path.join(d1, "_stage_meta.json"))
    with _pytest.raises(RuntimeError, match="disappeared while"):
        plan_bucket_join(spark, la, rb, ("k", "rk"))
    import shutil as _shutil

    for d in (tomb_fresh, d1):
        _shutil.rmtree(d, ignore_errors=True)


def test_bucket_pair_over_broadcast_threshold_degrades_unhinted(
    spark, tmp_path
):
    """A bucket pair whose BOTH sides exceed the broadcast threshold
    degrades to an UNHINTED per-bucket join (Catalyst picks the
    strategy) — but stays per-bucket: the physical plan must contain no
    key-based Exchange (the files are already co-located by layout; a
    global repartition sneaking in would defeat the storage-partitioned
    join), and require_broadcast raises NAMING the offending bucket and
    its byte sizes."""
    la, rb = str(tmp_path / "oa"), str(tmp_path / "ob")
    left = spark.range(0, 4000).select(
        (F.col("id") % 4).alias("k"), F.col("id").alias("v"))
    right = spark.range(0, 4000).select(
        (F.col("id") % 4).alias("rk"), (F.col("id") * 2).alias("w"))
    _mk_bucketed(spark, la, left, [("k", 4)])
    _mk_bucketed(spark, rb, right, [("rk", 4)])
    from telemetry_parquet_spark.sources.join_planner import (
        plan_bucket_join,
    )

    # threshold below any real file size: every pair is over-threshold
    df, plan = plan_bucket_join(
        spark, la, rb, ("k", "rk"), broadcast_threshold=1
    )
    assert all(choice is None for _, _, _, choice in plan.pairs)
    assert df.count() == left.join(
        right, F.col("k") == F.col("rk")).count()
    phys = df._jdf.queryExecution().executedPlan().toString()
    # per-bucket promise: no key-hash Exchange (AQE may inject empty-
    # relation artifacts, but never a hashpartitioning on the join key)
    assert "hashpartitioning(k" not in phys
    assert "hashpartitioning(rk" not in phys
    # the degradation is per-PAIR: with a threshold that fits one
    # side, the hint returns
    df2, plan2 = plan_bucket_join(
        spark, la, rb, ("k", "rk"), broadcast_threshold=1 << 26
    )
    assert all(choice is not None for _, _, _, choice in plan2.pairs)
    # require_broadcast raises, naming bucket and sizes
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match=r"bucket .* fits no broadcast"):
        plan_bucket_join(
            spark, la, rb, ("k", "rk"), broadcast_threshold=1,
            require_broadcast=True,
        )
    try:
        plan_bucket_join(
            spark, la, rb, ("k", "rk"), broadcast_threshold=1,
            require_broadcast=True,
        )
    except RuntimeError as e:
        msg = str(e)
        assert "left=" in msg and "right=" in msg and "threshold=1 B" in msg

"""Plan audit: one summary row per headline query from the PHYSICAL plan.

Generates the evidence table in PLANS.md — shuffle-exchange count, join
strategies chosen, whether filter pushdown reached a scan, and parquet
columns actually read (column-pruning proof). Run as a module:

    python -m telemetry_parquet_spark.plans.audit [sf_dir] > PLANS.md

Streaming queries and driver-materializing operators execute eagerly when
built, so static plan introspection would re-run them; the audit instead
RUNS each one once under a job group and reports MEASURED runtime counts
(jobs / stages run / tasks from the status tracker; streaming
queries add their replay's micro-batch, input-row, and state-store
metrics). Their per-stage physical shapes are additionally asserted in
dedicated tests.
"""

from __future__ import annotations

import re
import sys

from telemetry_parquet_spark.plans.explain import formatted_plan

# Queries whose builder runs the pipeline (streaming replay, iterative
# algorithms with checkpoints, KMeans fits, eager localCheckpoints —
# lm_perplexity_score and ts_hypertable_rollup checkpoint mid-build, so a
# "static" audit of them would both run corpus-sized jobs AND show a
# truncated ExistingRDD scan): plan introspection would re-execute them, so
# the audit RUNS them once under a job group and reports MEASURED runtime
# counts (jobs / stages run / tasks) from the status tracker;
# streaming queries report their own progress metrics (micro-batches, rows,
# state-store rows) since their jobs run on the stream-execution thread
# outside the job group.
_EAGER = re.compile(
    r"^(stream_|graph_pagerank|graph_label_prop|sim_ivf|dd_minhash"
    r"|dd_simhash|dd_embedding|lm_|ts_hypertable_rollup|bm25_indexed"
    r"|dd_ngram|dd_duplicate|dd_incremental|mm_image|ml_als|ml_kmeans"
    r"|bpe_|encode_bpe|skip_bloom|scan_planned)"
)


def runtime_row(spark, name: str, fn, sf_dir: str) -> str:
    """Execute an eager query under a job group and return a measured
    runtime summary: job count, the stages that ran tasks, and their
    completed tasks. Stages a job lists but skips (their shuffle output
    already exists) are not counted: under AQE how many of those a job
    lists depends on timing, so counting them made the same code read
    69 or 73 stages on ``graph_label_prop`` from run to run. Streaming
    queries additionally report the replay's own progress metrics.

    The query runs once untimed OUTSIDE the job group first: some
    builders fill a cache under ``spark-warehouse/`` on their first run
    (``skipping.materialize_cached``), so without the warm-up the counts
    would depend on whether the checkout ran the audit before."""
    fn(spark, sf_dir).count()
    sc = spark.sparkContext
    group = f"plan-audit-{name}"
    sc.setJobGroup(group, name, False)
    try:
        fn(spark, sf_dir).count()
    finally:
        # Clear EVERY local property setJobGroup set, not just the group
        # id — a stale spark.job.description would otherwise tag later
        # queries run on this thread.
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    stages: set[int] = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    ran = [
        st
        for st in map(tracker.getStageInfo, stages)
        if st is not None and st.numCompletedTasks > 0
    ]
    summary = (
        f"runtime-measured: {len(job_ids)} jobs, {len(ran)} stages run, "
        f"{sum(st.numCompletedTasks for st in ran)} tasks"
    )
    if name.startswith("stream_"):
        from telemetry_parquet_spark.streaming import pipelines

        prog = pipelines.LAST_RUN_PROGRESS
        batches = len(prog)
        rows_in = sum(int(p.get("numInputRows", 0) or 0) for p in prog)
        # numRowsTotal is a point-in-time total — read the LAST report,
        # don't sum across batches
        state_rows = sum(
            int(op.get("numRowsTotal", 0) or 0)
            for op in ((prog[-1].get("stateOperators") if prog else None) or [])
        )
        summary += (
            f"; stream replay: {batches} micro-batches, {rows_in} input "
            f"rows, {state_rows} state rows"
        )
    return summary


def audit_row(name: str, df) -> dict:
    plan = formatted_plan(df)
    scans = len(re.findall(r"Scan parquet", plan))
    pushed = len(re.findall(r"PushedFilters: \[[^\]]", plan))
    cols = set()
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        for part in m.group(1).split(","):
            nm = part.split(":")[0].strip()
            if nm:
                cols.add(nm)
    return {
        "query": name,
        "shuffles": len(re.findall(r"^\(\d+\) Exchange\b", plan, re.MULTILINE)),
        "broadcast_joins": len(re.findall(r"BroadcastHashJoin", plan)),
        "sortmerge_joins": len(re.findall(r"SortMergeJoin", plan)),
        "nested_loop": len(
            re.findall(r"BroadcastNestedLoopJoin|CartesianProduct", plan)
        ),
        "scans": scans,
        "scans_with_pushdown": pushed,
        "read_cols": len(cols),
    }


def main(sf_dir: str = "/root/testdata/sf0.01") -> None:
    import bench
    from telemetry_parquet_spark.queries import all_queries
    from telemetry_parquet_spark.session import get_session

    spark = get_session("plan-audit")
    queries = all_queries()
    print("# PLANS — physical-plan audit of the bench headline set")
    print()
    print(f"Generated by `python -m telemetry_parquet_spark.plans.audit` at {sf_dir}.")
    print("Shuffles = shuffle Exchanges (broadcast exchanges excluded);")
    print("pushdown = scans whose PushedFilters is non-empty; read_cols =")
    print("distinct parquet columns in ReadSchema (column-pruning proof).")
    print()
    print("| query | shuffles | bcast joins | sortmerge | nested-loop | scans | w/ pushdown | read cols |")
    print("|---|---|---|---|---|---|---|---|")
    for name in bench.HEADLINE:
        if _EAGER.match(name):
            summary = runtime_row(spark, name, queries[name], sf_dir)
            print(f"| {name} | — | — | — | — | — | — | {summary} |")
            continue
        row = audit_row(name, queries[name](spark, sf_dir))
        print(
            f"| {row['query']} | {row['shuffles']} | {row['broadcast_joins']} "
            f"| {row['sortmerge_joins']} | {row['nested_loop']} | {row['scans']} "
            f"| {row['scans_with_pushdown']} | {row['read_cols']} |"
        )
    print()
    print("Notes:")
    print("- `sim_brute_force_topk`'s nested-loop joins are the 1-row query")
    print("  vector broadcast-crossed onto the corpus (BuildRight of a single")
    print("  filtered row) — the canonical attach-the-query-point shape, not a")
    print("  data-sized cartesian; `tests/test_plans.py` asserts the range join")
    print("  never plans nested-loop over data-sized sides.")
    print("- `corpus_global_order` shows 0 scans because the audited plan reads")
    print("  the localCheckpoint of the range layout (the scan happened when the")
    print("  checkpoint materialized).")
    print("- `vocab_heavy_hitters`'s nested-loop joins are the 1-row")
    print("  error-bound aggregate broadcast-crossed onto the k-row top-k —")
    print("  the same attach-a-scalar shape as the query-vector broadcast,")
    print("  never data-sized.")
    print("- `snapshot_partition_rollup`'s all-zero row is the point: the")
    print("  daily GROUP BY is manifest math (createDataFrame of per-tuple")
    print("  folds) — no scan, no shuffle (inputFiles()-raise-proven).")
    print("- `snapshot_bucket_join`'s joins are ALL broadcast (0 sort-merge):")
    print("  per-bucket file pairs from the manifests; its one shuffle is the")
    print("  final nationkey aggregation, not the join.")
    print("- `footer_stats_lineitem`'s all-zero row is the point: COUNT/MIN/MAX")
    print("  answered from parquet footer statistics — no scan, no shuffle, no")
    print("  row reads (plan-asserted; the query raises if pushdown disengages).")
    print("- `theta_audience_overlap`'s shuffle/nested-loop counts all operate")
    print("  on SKETCH-SIZED tables (k rows per group, 160 rows total here):")
    print("  the inequality pair joins and per-pair set ops never touch the")
    print("  corpus — the only corpus-sized work is the one distinct + top-k")
    print("  window inside the sketch build (first two exchanges).")
    print("- `rolling_weekly_active`'s nested-loop is the broadcast day-spine")
    print("  range join (spine is calendar-sized), the documented exact shape;")
    print("  the HLL column is the approximate at-scale sibling.")
    print("- `graph_triangle_count` persists its edge + oriented relations")
    print("  (each has 3 consumers); the static plan prints the cached")
    print("  subtree once PER REFERENCE, so its shuffle/scan counts here are")
    print("  the textual multiplicity — at runtime every InMemoryRelation")
    print("  materializes exactly once (measured: persist cut sf0.1 wall")
    print("  time 8.7 s → 5.5 s). Same for `bm25_topk_docs`'s persisted")
    print("  doc-length relation (4.0 s → 1.9 s).")
    print("- `layout_zorder_keys` shows two broadcast hash joins feeding the")
    print("  interleave projection — the fact scan never exchanges; the only")
    print("  single-partition windows in the plan run over the DISTINCT-value")
    print("  histograms (domain-sized, the documented vocab-sized-state")
    print("  pattern), not rows; its nested-loops are the 1-row")
    print("  total-count attach-a-scalar crossJoins, one per dimension.")
    print("  `cluster_zorder_adaptive` adds exactly one RangePartitioning")
    print("  exchange: the write layout itself.")
    print("- `ts_hypertable_rollup`'s three grouping levels cost ONE")
    print("  corpus-sized exchange (the hour agg); the day and week aggs")
    print("  re-shuffle only the bucket-sized localCheckpointed relations.")
    print("- AQE may rewrite sort-merge joins to broadcast at runtime; counts")
    print("  here are the static plans (AQE improves, never worsens them).")
    spark.stop()


if __name__ == "__main__":
    main(*(sys.argv[1:2] or []))

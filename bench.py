#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Output contract: one ``query_time`` line per query as it completes, then
three trailing JSON lines, in this order:

1. the full record {"metric", "value", "unit", "queries", "sf", "protocol",
   ...}, also written to BENCH_full.json;
2. ``per_query_top``: the largest-first subset of per-query timings that
   fits a bounded byte budget (``per_query_top_line``);
3. a COMPACT summary {"metric", "value", "unit", "sf"} (no per-query dict,
   always < 200 bytes) as the LAST line.

A bounded stdout tail-capture window therefore always holds a parseable
summary and a per-query record, however large the headline set grows.

Timing protocol: each query is executed with a count() action (full
pipeline, no driver-side result materialization beyond the aggregate) after
session warm-up; per-query time is the MIN over adaptive repeats (3 runs
for sub-2 s queries by best-so-far, else 2 — every query gets a second run
so a cold first run never decides the tier) with cached/persisted
blocks cleared between every run. Min-of-N removes the session-residue
drift the r07 verdict measured (1.17x uniform slowdown of the r06-common
cohort inside the longer r07 session, worst on sub-second queries): the
minimum approximates the steady-state fresh-session time each round, making
BENCH_r{N} records comparable across rounds without fresh-process-per-query
cost. SPARK_GRAFT_BENCH_REPEATS=N forces a flat min-of-N.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: one per operator family — scan/filter/project, join+agg,
# multi-join, window, sessionization, map-agg, explode fan-out, dedup
# families, similarity. Keep this list stable across rounds for comparable
# BENCH_r{N}.json history.
HEADLINE = [
    "events_flatten",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q18_large_volume_customers",
    "w1_latest_order_per_customer",
    "w2_running_order_total",
    "w4_rank_suite",
    "sessionize_events",
    "a4_map_sum",
    "a5_search_counts_pivot",
    "x1_token_explode",
    "asof_last_purchase_before_view",
    "range_clicks_after_purchase",
    "dd_exact_dedup_groups",
    "dd_minhash_near_dup_pairs",
    "dd_ngram_jaccard_pairs",
    "tfidf_top_terms",
    "sim_brute_force_topk",
    "embedding_centroids",
    "a7_hll_distinct_users",
    "stream_tumbling_hourly",
    "q8_market_share",
    "q13_customer_distribution",
    "q21_waiting_suppliers",
    "mm_decoded_features",
    "stat_moments_by_flag",
    # round 2 additions: track both ANN families (VERDICT r1 §8); the IVF
    # slot held sim_ivf_probe_topk (deleted) before sim_ivf_det_topk, so
    # BENCH history breaks at that row
    "dd_simhash_near_dup_pairs",
    "sim_ivf_det_topk",
    # round 3 additions: bloom incremental dedup, sequence packing, weighted
    # mixing, image near-dup
    "dd_incremental_bloom",
    "pack_sequences",
    "mix_sampled_corpus",
    "mm_image_near_dup",
    # round 5 additions: boilerplate rewrite (corpus-sized regroup),
    # vocabulary build (token-keyed agg), distributed global sort index,
    # fixed-point PageRank (iterative), token-id encoding (broadcast lookup)
    "bp_boilerplate_removal",
    "vocab_table",
    "corpus_global_order",
    "graph_pagerank",
    "encode_token_ids",
    # round 6 additions: BPE merge learning (iterative, 16 sequential
    # barriers — the tokenizer-path flagship) and subword encoding
    # (vocab-side merge application + double broadcast join)
    "bpe_learn_merges",
    "encode_bpe_ids",
    "vocab_heavy_hitters",
    "cms_sketch_counts",
    # bigram LM: train is a token-pair count agg; score re-joins the corpus
    # bigrams to the model tables (the most join-heavy corpus query)
    "lm_perplexity_score",
    # SemDeDup: broadcast seed-assign + within-cell self-join prune
    "dd_semantic_prune",
    # PQ compression + table-lookup scoring (the ANN storage path)
    "sim_pq_adc_topk",
    # daily-increment near-dup: two-sided band join + Jaccard verify
    "dd_incremental_near_dup",
    # composed curation chain (dedup -> quality -> cap)
    "corpus_e2e_curation",
    # round 7 additions: the consumer-analytics pack (VERDICT r6 §5) —
    # funnel = chained co-partitioned min-aggs, retention = cohort self-join,
    # WAU = broadcast day-spine range join, basket = order-keyed self-join,
    # footer stats = zero-row-read metadata aggregate — plus batched BPE
    # (same oracle as bpe_learn_merges; bench shows the round-trip saving)
    "funnel_conversion",
    "retention_cohorts",
    "rolling_weekly_active",
    "basket_part_pairs",
    "footer_stats_lineitem",
    "bpe_learn_merges_batched",
    # blocked fuzzy entity resolution (block-key self-join + codegen
    # levenshtein verify — the never-all-pairs record-linkage shape)
    "er_fuzzy_customer_pairs",
    # KMV/theta audience-overlap matrix (distinct-sketch set algebra:
    # corpus touched once by the sketch build, pairwise set ops run on
    # k-rows-per-group tables)
    "theta_audience_overlap",
    # day-spine gap fill + interpolation (one key shuffle shared by the
    # spine join and both ignore-null window scans)
    "ts_gap_fill_interpolate",
    # two-proportion experiment readout (distinct + co-partitioned join +
    # 1-row broadcast)
    "ab_test_zscores",
    # degree-oriented triangle counting (edge derivation = order-keyed
    # self-join, wedge join bounded O(m^1.5) by orientation — never Σ deg²)
    "graph_triangle_count",
    # BM25 ranked retrieval (broadcast query-term prune + 1-row stats
    # broadcast + order-independent integer-sum scoring)
    "bm25_topk_docs",
    # batch KNN join / KNN-graph (broadcast query batch × corpus scan,
    # linear in the corpus; per-query rank window)
    "sim_knn_graph",
    # full-corpus KNN graph via signature-bucket equi-join (Σ|bucket|²,
    # never corpus²) — the corpus-sized-batch scale path, exactly oracled
    "sim_knn_graph_lsh",
    # hourly OHLC bars: one map-side-combinable agg, min_by/max_by carry a
    # single pair per bar through the partials — and its streaming sibling
    # (watermark + window + availableNow, bars-sized state)
    "ts_ohlc_bars",
    "stream_ohlc_bars",
    # synchronous label propagation (4 iterations of co-partitioned
    # vote-join + packed-argmax agg — the third exactly-oracled iterative
    # algorithm after PageRank and BPE)
    "graph_label_prop",
    # multi-probe LSH KNN graph (finer buckets + Hamming-1 probe ball;
    # 7x query-side shuffle, corpus untouched)
    "sim_knn_graph_lsh_probe",
    # Misra-Gries heavy hitters as bounded streaming state (k counters
    # per key forever, exact-regime gated)
    "stream_heavy_hitters",
    # round 8: multi-table OR-amplified LSH KNN graph (8 tables x 8 bits —
    # the best recall-per-candidate point on the measured frontier;
    # SCALE.md)
    "sim_knn_graph_lsh_tables",
    # round 8: BM25 served from the materialized inverted index (postings
    # bucketed+sorted by token, isin pushdown) — the index is pre-built in
    # warm-up so this row measures per-query SERVING cost; compare with
    # bm25_topk_docs (scan-time tokenize) for the per-query saving
    "bm25_indexed_topk",
    # z-order layout keys: two domain-sized broadcast joins + codegen
    # Morton interleave — the fact scan never exchanges
    "layout_zorder_keys",
    # hypertable rollup cascade: hour agg is the only corpus-sized work;
    # day/week re-aggregate the bucket relations (associative DECIMAL sums)
    "ts_hypertable_rollup",
    # deterministic HLL estimate (register build = map-side-combinable max,
    # shuffle <= 2^p rows per group; estimate arithmetic register-sized) —
    # the exactly-oracled sibling of a7_hll_distinct_users
    "hll_det_distinct_users",
    # integer-exact Lloyd's k-means (4 iterations; per iteration ONE
    # map-only literal-array assignment + one k*dim-row shuffle — the
    # fourth exactly-oracled iterative algorithm)
    "ml_kmeans_assignments",
    # Bloom file-skipping point lookup (per-file bitmaps on a non-layout
    # column; probe = k-row broadcast join; reads ONLY candidate files —
    # raises unless pruning engaged). Layout build is fingerprint-cached,
    # so this row measures index build + probe + pruned scan.
    "skip_bloom_point_lookup",
    # round 9: k=256 Lloyd assignment via the int64 numpy-matmul
    # pandas_udf (bit-identical to the codegen fold, without its k-term
    # recompile cost — the hundreds-of-cells IVF training path)
    "ml_kmeans_k256_assignments",
    # round 9: unified scan planner — min/max stats prune the date range,
    # per-file Bloom bitmaps prune the custkey point predicate, one scan
    # reads only the doubly-surviving files (raises unless BOTH pruned)
    "scan_planned_mixed_predicates",
    # round 9: z-order payoff through the planner — TWO range predicates
    # each pruning via per-file min/max (per-predicate accounting), only
    # possible because the Morton layout keeps both envelopes tight
    "scan_planned_zorder_ranges",
    # round 9: the n-column generalization — stride-3 Morton layout,
    # THREE half-domain ranges each pruning via per-file min/max
    "scan_planned_zorder3_ranges",
    # round 9: dense batch KNN — one integer matmul per corpus Arrow
    # batch, per-partition top-k trim, k*n_queries*partitions-row shuffle
    "sim_matmul_batch_topk",
    # round 9: versioned snapshot table — append/append/delete/compact
    # commit chain + four time-travel reads (warehouse-cached build, so
    # steady-state cost is the manifest-pinned reads)
    "snapshot_time_travel",
    # round 9: copy-on-write MERGE INTO — one key semi-join to find
    # affected files, rewrite only those, carry the rest by reference
    "snapshot_merge_upsert",
    # round 9: OPTIMIZE ZORDER as a snapshot commit + manifest-pinned
    # planner scan with per-predicate pruning proofs
    "snapshot_zorder_planned",
    # round 9: CDC changes feed over non-shared manifest files — raises
    # unless the compaction diff cancels to empty
    "snapshot_changes_feed",
    # round 9: incremental materialized-view maintenance over the CDC
    # feed — refresh cost per commit's change volume, hash-equal to
    # direct re-aggregation
    "snapshot_incremental_view",
    # round 9: SQL front door — cross-version join via VERSION AS OF
    # rewritten onto manifest-pinned temp views, one Catalyst plan
    "snapshot_sql_cross_version",
    # round 9: write-audit-publish staged commits — stage invisible to
    # readers, audit on the staged rows only, metadata-only publish
    # rebased onto the moved head (raise-proven invisibility/rebase)
    "snapshot_wap_publish",
    # round 9: MERGE with add-column schema evolution — source-only
    # columns widen the table metadata-only in the same commit
    "snapshot_merge_evolve",
    # round 9: persisted IVF index table — k=256 matmul train, cell-
    # partitioned postings, frozen-quantizer incremental append,
    # partition-pruned probe (raise-proven), exact int64 rescore
    "sim_ivf_persisted_topk",
    # round 9: snapshot secondary Bloom index — incremental maintenance
    # on append, composed with manifest min/max stats in one planner
    # call, both prunings raise-proven
    "snapshot_bloom_planned",
    # round 9: merge-on-read deletes — deletion vectors committed
    # instead of file rewrites (raise-proven), anti-joined at read,
    # materialized by compaction
    "snapshot_mor_delete",
    # round 9: merge-on-read UPDATE — DV mask + appended copies in one
    # commit, row count conserved, compaction folds
    "snapshot_mor_update",
    # round 9: commit-time manifest column stats — range scan pruned
    # from the manifest alone, zero plan-time data I/O (raise-proven)
    "snapshot_stats_pruned_scan",
    # round 9 (late): MV rewrite (view-sized answer incl. staleness check),
    # stats-driven prune-then-broadcast join, branch rebase-merge chain
    "mv_rewrite_rollup",
    "snapshot_join_planned",
    "snapshot_branch_merge",
    # round 9 (late): multi-table transaction + cross-table consistent
    # reads through the catalog commit log (pinned-resolver joins), and
    # the exactly-once multi-table streaming fan-out
    "catalog_txn_consistent_read",
    "stream_catalog_txn_fanout",
    # round 9 (late): incrementally-maintained fact-join-dim rollup view
    "jv_star_rollup",
    # round 10: branch head joined to catalog-pinned tables in ONE SQL
    # statement (branch + catalog + SQL-front resolvers, one Catalyst plan)
    "catalog_sql_branch_join",
    # round 10: DSIR fixed-point importance selection — two corpus passes
    # (bucket stats, per-doc integer score) + a 256-row broadcast
    "dsir_importance_select",
    # round 10: metadata-only COUNT(*) — manifest row counts, DV
    # subtraction, zero data I/O (steady-state cost = manifest reads)
    "snapshot_metadata_count",
    # round 10: MIN/MAX/COUNT pushdown to manifest stats in one front-door
    # statement (no-scan raise-proven)
    "snapshot_metadata_minmax",
    # round 10: SUM/COUNT(col) from per-file manifest sums minus
    # deletion-vector sidecar deltas — zero data I/O through a MOR chain
    "snapshot_metadata_sum",
    # round 10: clustered-key GROUP BY folded from the manifest (the hive
    # directory-layout rollup recovered from file stats, no-scan raise)
    "snapshot_metadata_groupby",
    # round 10: partition-spec evolution — metadata-only re-key, per-file
    # tuples, bucket point lookup keeps 1/8 of spec files (raise-proven)
    "snapshot_partition_evolution",
    # round 10: storage-partitioned join — per-bucket file pairs from the
    # manifests, per-bucket broadcast, zero join shuffles (raise-proven)
    "snapshot_bucket_join",
    # round 10: partitions-metadata daily rollup — COUNT/SUM per day
    # tuple folded from the manifest, zero data I/O (raise-proven)
    "snapshot_partition_rollup",
    # round 11: per-tuple rollup THROUGH outstanding MOR deletes — each
    # vector's per-file sidecar delta attributed to its tuple (no-scan
    # raise-proven)
    "snapshot_rollup_mor",
    # round 11: hour(ts) hidden partitioning — 6-hour window reads
    # ~6/720ths of the files (require_pruning raise-proven)
    "snapshot_hour_prune",
    # round 11: one-side storage-partitioned LEFT OUTER join — the
    # unbucketed dim shuffles ONCE into the fact's bucket layout
    # (single-exchange staging plan asserted in-query)
    "snapshot_bucket_join_oneside",
    # round 11: manifest-side dynamic partition pruning — the filtered
    # dim's <= n distinct key buckets select the fact files; stats
    # cannot serve this (bucket layout scrambles the key envelope)
    "snapshot_dpp_join",
    # round 11: DV-aware filtered metadata aggregate — COUNT/SUM at one
    # cluster value through MOR deletes, zero data I/O (raise-proven)
    "snapshot_filtered_mor",
    # round 12: conditional MERGE clauses — clause-aware COW detection
    # (only files where a matched row FIRES a clause rewrite)
    "snapshot_merge_conditional",
    # round 12: composite-key bucket join — (orderkey, linenumber)
    # tuple pairing across 32 composite buckets, zero join shuffles
    "snapshot_bucket_join_composite",
    # round 12: left_semi DPP — the allowlist filter with manifest-side
    # fact-file pruning (require_pruning raise-proven)
    "snapshot_dpp_semi",
    # round 12: star-join DPP through the SQL front door (probe +
    # EXPLAIN route raise-proven)
    "snapshot_dpp_sql",
    # round 12: equality deletes — metadata-only key-set delete, scope
    # rule + CDC + compaction interplay raise-proven in the chain
    "snapshot_mor_equality_delete",
    # round 13: MERGE WHEN NOT MATCHED BY SOURCE — the set-difference
    # clause family; detection flips to an all-files anti-join pass
    "snapshot_merge_by_source",
    # round 13: SQL DELETE routed to metadata-only equality deletes
    # (declared columns; EXPLAIN + manifest-identity raise-proven)
    "snapshot_delete_eq_sql",
    # round 13: persisted IVF-PQ — ADC probe over cell-pruned CODES,
    # exact rescore of only the ADC survivors (both scans raise-proven)
    "sim_ivfpq_persisted_topk",
]


def futex_wakeup_us(n: int = 15000, budget_s: float = 0.5) -> float:
    """Two-thread event ping-pong: pure scheduler wakeup latency, no Spark.

    r14 (ADVICE r13): bounded by ELAPSED TIME, not a fixed round-trip
    count — at the degraded wakeups this probe exists to flag (575 us -
    4.6 ms measured in r13), 15000 fixed round-trips took 9-69 s, twice
    per bench, slowing calibration most on exactly the hosts it guards
    against. Stop after ~budget_s and divide by completed iterations."""
    import threading as _threading

    e1, e2 = _threading.Event(), _threading.Event()
    state = {"stop": False}

    def _echo() -> None:
        while True:
            e1.wait()
            e1.clear()
            if state["stop"]:
                return
            e2.set()

    t = _threading.Thread(target=_echo)
    t.start()
    done = 0
    t0 = time.perf_counter()
    for _ in range(n):
        e1.set()
        e2.wait()
        e2.clear()
        done += 1
        if time.perf_counter() - t0 > budget_s:
            break
    elapsed = time.perf_counter() - t0
    state["stop"] = True
    e1.set()
    t.join()
    if not done:  # n <= 0: no round-trip ran, nothing to average
        return 0.0
    return elapsed / done * 1e6


def per_query_top_line(
    timings: dict[str, float], sf, byte_budget: int = 1780
) -> str:
    """One COMPACT per-query record sized to survive the driver's bounded
    stdout tail capture (r14 measurement fix, VERDICT r13 item 1a).

    The driver stores/parses only the LAST ~2000 characters of bench
    stdout; the full per-query dict (119 names) is ~3.5 KB and can never
    fit, which is why PERF_r13 came back with ``per_query: {}`` — the
    full-record line outgrew the capture and the comparator starved.
    This line carries the LARGEST-first subset of per-query timings that
    fits in ``byte_budget`` bytes (largest first because those are the
    queries any perf comparison is about; the tie-break on name keeps
    the selection deterministic). The FULL dict still rides the
    headline_queries_total record line and BENCH_full.json — entries are
    only ever ADDED to the stdout contract, never removed."""
    base: dict = {
        "metric": "per_query_top",
        "unit": "sec",
        "sf": sf,
        "n_total": len(timings),
        "queries": {},
    }
    line = json.dumps(base, separators=(",", ":"))
    picked: dict[str, float] = {}
    for name, sec in sorted(timings.items(), key=lambda kv: (-kv[1], kv[0])):
        # +6 ≈ ","  + 2 quotes + ":" per entry beyond the name/value bytes
        cost = len(name) + len(json.dumps(sec)) + 6
        if len(line) + cost > byte_budget:
            break
        picked[name] = sec
        base["queries"] = picked
        line = json.dumps(base, separators=(",", ":"))
    return line


def needs_another_run(
    runs: int, target: int, best: float, worst: float, cap: int = 4
) -> bool:
    """Adaptive-repeat decision (extracted for testability).

    Base protocol: run until ``runs >= target`` (min-of-3 for sub-2 s
    queries, else min-of-2; a flat override sets target directly).

    r13 jitter guard: on a degraded virtualized host (see the r13
    host-pathology note: multi-second vCPU wakeup / writeback stalls),
    a single stalled run can still decide a min-of-2 entry — observed
    identical-code spreads of 2.5-37 s on one query. When the repeats
    DISAGREE by more than 3× (a tail-stall signature, not a code
    property), buy one more run, bounded by ``cap`` so a permanently
    degraded host terminates. min-of-N is monotone in N, so extra runs
    can only sharpen the recorded number, never flatter it."""
    if runs < target:
        return True
    if runs >= cap:
        return False
    return worst / best > 3.0


def calibration_gate(label: str, pre: dict, post: dict) -> str | None:
    """Steady-host gate for the cross-round record. The ``uncontended``
    label is the protocol record verdicts compare round over round; r12
    showed that a drifting host (idle numpy probes 3.25-4.04 s vs the
    3.1-3.2 s steady reference) can park ×2-×3.6 outliers on UNCHANGED
    code in that record, poisoning the comparison. Instead of
    documenting drift in prose, refuse to persist an ``uncontended``
    entry whose pre- or post-loop numpy probe drifts >15% from the
    steady reference (env SPARK_GRAFT_STEADY_NUMPY_S, default the
    measured 3.15 s for this host class) — the record must be re-taken
    on a steady host. Contended/driver-window labels are exempt (they
    exist to record contention); SPARK_GRAFT_BENCH_FORCE=1 bypasses
    with the reason stamped into the entry. Returns the refusal reason
    or None (ok)."""
    if not label.startswith("uncontended"):
        return None
    try:
        steady = float(os.environ.get("SPARK_GRAFT_STEADY_NUMPY_S", "3.15"))
    except ValueError:
        print(
            "calibration_gate: malformed SPARK_GRAFT_STEADY_NUMPY_S — "
            "numpy gate falling back to 3.15",
            file=sys.stderr,
        )
        steady = 3.15
    for tag, cal in (("pre", pre), ("post", post)):
        got = cal["numpy_matmul_s"]
        drift = got / steady - 1.0
        if abs(drift) > 0.15:
            return (
                f"{tag}-loop numpy probe {got:.3f}s drifts "
                f"{drift:+.0%} from steady {steady:.2f}s (band ±15%)"
            )
    # r13: scheduler/scratch degradation gate (opt-in: only when the
    # steady shuffle-probe reference for this host class is pinned via
    # env — the probe is recorded in every record regardless). A host
    # whose single-thread probes are steady can still run Spark 2-10×
    # slow when vCPU wakeups or local-dir writes degrade; refuse the
    # cross-round record rather than park phantom outliers on it.
    steady_sh = os.environ.get("SPARK_GRAFT_STEADY_SHUFFLE_S")
    if steady_sh:
        # r14 (ADVICE r13): a malformed env value must not crash the gate
        # AFTER the full bench loop already ran — warn and skip this check
        try:
            ref = float(steady_sh)
        except ValueError:
            print(
                "calibration_gate: malformed SPARK_GRAFT_STEADY_SHUFFLE_S "
                f"{steady_sh!r} — shuffle-probe gate disabled",
                file=sys.stderr,
            )
            return None
        for tag, cal in (("pre", pre), ("post", post)):
            got = cal.get("spark_shuffle_probe_s")
            if got is None:
                continue
            if got / ref - 1.0 > 0.5:
                return (
                    f"{tag}-loop shuffle probe {got:.3f}s is "
                    f"{got / ref:.2f}× the steady {ref:.2f}s "
                    "(scheduler/scratch-dir degradation; band +50%)"
                )
    return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from telemetry_parquet_spark.queries import all_queries
    from telemetry_parquet_spark.session import get_session

    spark = get_session("tps-bench")
    queries = all_queries()

    # warm up the JVM (codegen/JIT), the parquet file-index/footer caches,
    # AND the Arrow Python-worker pool (mapInPandas/pandas_udf queries
    # otherwise pay ~8 s of worker spawn on their first run) so per-query
    # timings measure steady-state execution, not one-time session costs
    spark.range(1_000_000).count()
    spark.range(32_000).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).count()
    from telemetry_parquet_spark.sources.tables import TABLE_NAMES, load_table

    for t in TABLE_NAMES:
        load_table(spark, sf_dir, t).limit(1).count()

    # Pre-build the BM25 inverted index (fingerprint-guarded, so this is a
    # no-op when the warehouse already holds a current build): the
    # bm25_indexed_topk row measures per-query serving against the index,
    # not the one-time tokenize — that cost is bm25_topk_docs' row.
    from telemetry_parquet_spark.datapipe.retrieval import ensure_bm25_index

    ensure_bm25_index(spark, sf_dir)

    def _calibrate() -> dict:
        """Fixed reference workloads, reported with every record so
        cross-round comparisons can normalize out HOST speed changes
        (round 10 measured a uniform ~1.24× inflation vs the round-9
        record on untouched queries — per-core frequency / co-tenancy,
        not code; see BENCH_full.json host_note_r10). Two constants:
        a single-thread numpy int64 matmul (pure per-core speed) and a
        32-partition JVM codegen sum (whole-session throughput). Both
        are min-of-3 of workloads that never change between rounds.

        r13 addition (measurement-bug fix, documented in
        OPTIMIZATION_r13.md): two probes for the degradation mode the
        first two CANNOT see. A virtualized host under co-tenant load
        can keep single-thread compute at full speed while thread
        WAKEUPS (futex/park paths — every Spark stage barrier and task
        completion) and SCRATCH-DIR I/O (every shuffle write) run 4-10×
        slow with multi-second tail stalls; measured on 2026-08-18:
        numpy probe 1.00× of steady while shuffle-heavy queries ran
        2-10× slow with idle CPU. ``futex_wakeup_us`` is a two-thread
        event ping-pong (pure scheduler wakeup latency, no Spark);
        ``spark_shuffle_probe_s`` is a fixed small shuffle that actually
        writes/reads spark.local.dir through a 64-task wave. Steady
        idle-host references for this host class: ~15-60 us and
        ~0.5-0.9 s; a multiple of those flags records whose per-query
        numbers are scheduler/scratch-bound, not code-bound."""
        import numpy as _np

        a = (_np.arange(512 * 512, dtype=_np.int64) % 97).reshape(512, 512)
        t_np = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            for _ in range(8):
                (a @ a).sum()
            t_np = min(t_np, time.perf_counter() - t0)
        t_jvm = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            spark.range(0, 200_000_000, 1, 32).selectExpr(
                "sum(id * 3 + 1)"
            ).collect()
            t_jvm = min(t_jvm, time.perf_counter() - t0)
        t_sh = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            spark.range(0, 2_000_000, 1, 32).repartition(
                64, "id"
            ).selectExpr("sum(id)").collect()
            t_sh = min(t_sh, time.perf_counter() - t0)
        return {
            "numpy_matmul_s": round(t_np, 4),
            "jvm_codegen_sum_s": round(t_jvm, 4),
            "futex_wakeup_us": round(futex_wakeup_us(), 1),
            "spark_shuffle_probe_s": round(t_sh, 4),
        }

    calibration = _calibrate()

    def _clear_session_residue() -> None:
        """Drop blocks left behind by the previous query so every timing
        starts from the same session state. Checkpoint-heavy queries
        (pagerank, triangles, BM25, the dedup families) pin their
        localCheckpoint/persist blocks in executor memory for the session
        lifetime, and the headline set now runs 68 queries in one session.
        Measured on the 47-query round-6 common set inside the 68-query
        session: 78.4 s without the hook vs 74.0 s with it (the remaining
        delta vs the 60.4 s round-6 record is cross-VM variance — an
        isolated fresh-process q1 reproduces the round-6 0.70 s exactly)."""
        from telemetry_parquet_spark.session import clear_cached_relations

        clear_cached_relations(spark)

    # Adaptive repeats: every query gets at least 2 runs — the first run can
    # pay cold codegen/footer costs that have nothing to do with the plan
    # (measured: dd_ngram_jaccard_pairs 10.4 s cold, 2.9 s warm — tiering on
    # the FIRST run misclassified it as heavy and recorded the cold number).
    # Sub-2 s queries (by best-so-far, re-tiered after each run) get
    # min-of-3: they showed the worst relative residue drift in r07
    # (w4 0.17->0.25 s). Override with SPARK_GRAFT_BENCH_REPEATS=N for a
    # flat protocol.
    flat = os.environ.get("SPARK_GRAFT_BENCH_REPEATS")
    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = queries[name]
        best = float("inf")
        worst = 0.0
        runs = 0
        while True:
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            took = time.perf_counter() - t0
            best = min(best, took)
            worst = max(worst, took)
            _clear_session_residue()
            runs += 1
            if flat is not None:
                # a flat override IS the protocol — no jitter guard
                target = cap = int(flat)
            else:
                target, cap = (3 if best < 2.0 else 2), 4
            if not needs_another_run(runs, target, best, worst, cap):
                break
        timings[name] = round(best, 3)
        # r14: one greppable line per query as it completes — a reader
        # with the FULL stdout (not just a bounded tail) can reconstruct
        # every per-query timing even if the record lines truncate
        print(
            json.dumps(
                {"metric": "query_time", "name": name, "sec": timings[name]},
                separators=(",", ":"),
            ),
            flush=True,
        )

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "protocol": (f"flat min-of-{flat}" if flat is not None else
                     "adaptive min-of-3/<2s else min-of-2, re-tiered on"
                     " best, +1 repeat (cap 4) when repeats spread >3x")
                    + ", residue-cleared between runs"
                    + ", calibration = fixed host-speed reference workloads"
                      " (normalize cross-round records by their ratio)",
        # r14 (ADVICE r13): stamp the effective scratch dir so cross-round
        # readers can separate environment (tmpfs vs disk shuffle files)
        # from code — the r13 tmpfs change alone measured ~0.85x geomean
        "local_dir": spark.conf.get("spark.local.dir", "<spark-default>"),
        "calibration": calibration,
    }
    calibration_post = _calibrate()
    out["calibration_post"] = calibration_post
    # Full record: one line on stdout + a file copy (survives any tail
    # window). Compact summary LAST so a bounded tail always parses.
    # BENCH_full.json holds BOTH isolation regimes side by side, labeled
    # ({"contended": ..., "uncontended": ...}), so the driver-window run
    # (other sessions active — the default label) and the min-of-N
    # protocol run (SPARK_GRAFT_BENCH_LABEL=uncontended) never clobber
    # each other and cross-round comparisons are self-describing. Runs at
    # a non-default sf land under "<label>_sf<sf>" and never touch the
    # sf0.1 headline records.
    label = os.environ.get("SPARK_GRAFT_BENCH_LABEL", "contended")
    if out["sf"] != 0.1:
        label = f"{label}_sf{sf}"
    refusal = calibration_gate(label, calibration, calibration_post)
    forced = os.environ.get("SPARK_GRAFT_BENCH_FORCE") == "1"
    if refusal and forced:
        # stamp BEFORE printing: the stdout record is what BENCH_r{N}
        # tails and cross-round verdicts parse — a forced drift must be
        # visible there, not only in BENCH_full.json
        out["calibration_forced_past_gate"] = refusal
        refusal = None
    print(json.dumps(out))
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_full.json"
    )
    full: dict = {"contended": None, "uncontended": None}
    try:
        with open(full_path) as f:
            prev = json.load(f)
        if isinstance(prev, dict) and "contended" in prev:
            full = prev
    except (OSError, ValueError):
        pass
    if refusal:
        print(json.dumps({"calibration_gate": "REFUSED", "label": label,
                          "reason": refusal}), file=sys.stderr)
    else:
        full[label] = out
        with open(full_path, "w") as f:
            json.dump(full, f, indent=1)
    # r14: a per-query record SIZED FOR the driver's bounded (~2000 char)
    # stdout tail — the largest-first subset that fits, so the tail window
    # always holds (a) this parseable per-query line and (b) the compact
    # summary below. The full record above is unchanged (all queries kept).
    print(per_query_top_line(timings, out["sf"]))
    print(json.dumps({k: out[k] for k in ("metric", "value", "unit", "sf")}))
    spark.stop()


if __name__ == "__main__":
    main()

"""Unified predicate-driven scan planner — ONE entry point composing the
three file-skipping mechanisms this engine grew separately:

1. **Per-file min/max stats** (range + equality predicates) — the
   relational analog of parquet footer / Delta file statistics: one build
   scan produces a (file_path, min_c, max_c, ...) manifest, and a range
   predicate keeps only files whose [min, max] interval intersects it.
   This is the mechanism a z-order rewrite (sources/layout.py) makes
   effective on MULTIPLE columns at once — tighter per-file envelopes,
   more files pruned — and what ``writers.py::footer_stats`` exposes for
   whole-table aggregates.
2. **Per-file Bloom index** (equality on high-cardinality, non-layout
   columns; sources/skipping.py) — point predicates the min/max envelope
   cannot help with because the key smears across the layout.
3. **Exact residual filter** — every predicate is re-applied to the rows
   of the kept files, so the planned scan returns EXACTLY the full-scan
   answer (min/max pruning is conservative; Bloom has no false
   negatives). Correctness never depends on the pruning.

``plan_scan`` intersects the mechanisms' file lists (each mechanism only
ever REMOVES files) and returns both the pruned DataFrame and a
``ScanPlan`` recording how many files each mechanism eliminated — with
``require_each_pruning`` callers RAISE unless every mechanism they wired
actually skipped files (the footer_stats discipline: a green driver row
proves the composition engaged, not just that the answer matched).

Scale: the stats manifest is n_files × (2 × n_cols) values and the Bloom
index n_files × bits/64 words — both built in one scan with map-side
combine, both driver-collectable ONLY as file lists (which IS the object
any planner materializes; at 10^6+ files, partition the manifest by table
partition and prune partitions first). The data itself is read once,
post-prune, with the residual filter pushed down into the parquet scan.

Reference parity: the reference enumerates day-partition directories by
hand (S1; telemetry-batch-view partitioning.scala lineage) — a single
hard-wired layout dimension. This planner generalizes that to arbitrary
predicate-driven composition, net-new engine surface.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from telemetry_parquet_spark.sources.skipping import (
    NUM_BITS,
    NUM_HASHES,
    bloom_probe_files,
)
from telemetry_parquet_spark.sources.tables import read_parquet


@dataclass(frozen=True)
class Range:
    """col BETWEEN lo AND hi (inclusive). Open ends via lo=None/hi=None."""

    col: str
    lo: object = None
    hi: object = None


@dataclass(frozen=True)
class Eq:
    """col = value."""

    col: str
    value: object = None


@dataclass(frozen=True)
class In:
    """col IN (values) — the IN-list point-lookup shape. Min/max keeps a
    file if ANY value lands in its envelope; Bloom keeps the UNION of the
    per-value candidate sets (both conservative, so the residual filter
    stays exact)."""

    col: str
    values: tuple = ()


@dataclass
class ScanPlan:
    """What the planner did — one entry per mechanism, in application
    order, plus the final file list the scan will read."""

    total_files: int
    steps: list[tuple[str, int]] = field(default_factory=list)
    files: list[str] = field(default_factory=list)

    def pruned_by(self, mechanism: str) -> int:
        """Files removed by ``mechanism``, summed over EVERY step it ran
        (two predicates on one column produce two same-named steps;
        returning only the first under-reported the mechanism)."""
        prev, total, seen = self.total_files, 0, False
        for name, kept in self.steps:
            if name == mechanism:
                total += prev - kept
                seen = True
            prev = kept
        if not seen:
            raise KeyError(mechanism)
        return total


def build_minmax_file_stats(files_df: DataFrame, cols: list[str]) -> DataFrame:
    """(file_path, min_<c>, max_<c>, ...) per data file — one scan, map-side
    combinable. ``files_df`` must come straight from a file-source read so
    ``_metadata`` resolves. All-NULL columns yield NULL min/max, which the
    pruner treats as 'unknown: keep'."""
    aggs = []
    for c in cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    return files_df.groupBy(
        F.col("_metadata.file_path").alias("file_path")
    ).agg(*aggs)


def _minmax_keep(row, pred) -> bool:
    mn, mx = row[f"min_{pred.col}"], row[f"max_{pred.col}"]
    if mn is None or mx is None:  # no stats -> unknown -> keep
        return True
    try:
        if isinstance(pred, In):
            return any(mn <= v <= mx for v in pred.values)
        lo, hi = (
            (pred.lo, pred.hi)
            if isinstance(pred, Range)
            else (pred.value, pred.value)
        )
        if lo is not None and mx < lo:
            return False
        if hi is not None and mn > hi:
            return False
    except TypeError:
        # cross-typed literal (e.g. Eq(int_col, "42")): Python ordering
        # is undefined where Spark's residual comparison coerces — the
        # envelope cannot DECIDE, so it must keep, never crash or prune
        return True
    return True


def _predicate_expr(pred):
    if isinstance(pred, Eq):
        return F.col(pred.col) == F.lit(pred.value)
    if isinstance(pred, In):
        return F.col(pred.col).isin(*pred.values)
    e = F.lit(True)
    if pred.lo is not None:
        e = e & (F.col(pred.col) >= F.lit(pred.lo))
    if pred.hi is not None:
        e = e & (F.col(pred.col) <= F.lit(pred.hi))
    return e


def plan_scan(
    spark: SparkSession,
    data_path: str | list[str],
    predicates: list,
    stats: DataFrame | None = None,
    bloom_indexes: dict[str, DataFrame] | None = None,
    num_bits: int = NUM_BITS,
    num_hashes: int = NUM_HASHES,
    require_each_pruning: bool = False,
    schema: StructType | None = None,
) -> tuple[DataFrame, ScanPlan]:
    """Compose min/max + Bloom pruning for ``predicates`` over the parquet
    table at ``data_path`` — a directory OR an explicit file list (e.g. a
    snapshot version's manifest, ``snapshots.py::snapshot_files``);
    return (pruned-and-filtered DataFrame, plan).

    ``stats`` routes every predicate whose column it covers through
    min/max envelope pruning; ``bloom_indexes[col]`` routes ``Eq`` and
    ``In`` predicates on ``col`` through the per-file Bloom index (each
    probe resolves coverage and candidates in ONE job via
    ``bloom_probe_files``, IN lists included). Mechanisms
    only remove files, so their composition is order-free; the residual
    filter guarantees exactness regardless. With ``require_each_pruning``
    each wired mechanism must skip >= 1 file or the planner RAISES.
    ``schema`` is the table's recorded schema (a snapshot manifest's),
    when the caller has one; otherwise ``read_parquet`` supplies it."""
    paths = data_path if isinstance(data_path, list) else [data_path]
    reader = read_parquet(spark, paths, schema)
    schema = reader.schema
    # enumerate files from the reader's file index (driver-side, O(files)
    # metadata ops) — the previous `_metadata.file_path` distinct+collect
    # was a full ROW scan of the table just to list its files, a
    # data-sized job at 100 TB for a files-sized answer. inputFiles()
    # renders the file scheme as file:/// while _metadata (the stats and
    # Bloom index key) renders file:/ — normalize to the _metadata form.
    all_files = [
        "file:/" + u[len("file:///"):] if u.startswith("file:///") else u
        for u in set(reader.inputFiles())
    ]
    plan = ScanPlan(total_files=len(all_files))
    kept = sorted(all_files)

    if stats is not None:
        stat_cols = {f.name for f in stats.schema.fields}
        covered = [
            p
            for p in predicates
            if f"min_{p.col}" in stat_cols and f"max_{p.col}" in stat_cols
        ]
        if covered:
            rows = {r.file_path: r for r in stats.collect()}
            # one accounting step PER predicate, so a multi-column layout
            # (e.g. z-order) can PROVE both dimensions pruned
            for p in covered:
                kept = [
                    f
                    for f in kept
                    if f not in rows or _minmax_keep(rows[f], p)
                ]
                plan.steps.append((f"minmax:{p.col}", len(kept)))

    for col, index in (bloom_indexes or {}).items():
        # each probe resolves coverage AND candidates in ONE pass over
        # the index (bloom_probe_files) — the previous shape executed the
        # whole index-build pipeline once for the coverage set and again
        # per probe. Files the index has never seen (appended after the
        # last update_file_bloom_index) are KEPT unconditionally — the
        # min/max stage applies the same stale-coverage rule; dropping
        # them would silently lose matching rows. The probe value is
        # rendered to string by SPARK (F.lit + cast), matching the build
        # side's cast(key AS string) — a Python str() could differ and a
        # representation mismatch would be a Bloom FALSE NEGATIVE.
        for p in predicates:
            if isinstance(p, Eq) and p.col == col:
                vals = spark.range(1).select(
                    F.lit(p.value).cast("string").alias("__val")
                )
            elif isinstance(p, In) and p.col == col:
                if not p.values:
                    # IN () matches nothing: drop every indexed file,
                    # keep only never-indexed ones (coverage rule)
                    indexed = {
                        r.file_path
                        for r in index.select("file_path")
                        .distinct()
                        .collect()
                    }
                    kept = [f for f in kept if f not in indexed]
                    plan.steps.append((f"bloom:{col}", len(kept)))
                    continue
                vals = spark.createDataFrame(
                    [(v,) for v in p.values], ["__raw"]
                ).select(F.col("__raw").cast("string").alias("__val"))
            else:
                continue
            indexed_l, cands_l = bloom_probe_files(
                index, vals, num_bits, num_hashes
            )
            indexed, cands = set(indexed_l), set(cands_l)
            kept = [
                f for f in kept if f not in indexed or f in cands
            ]
            plan.steps.append((f"bloom:{col}", len(kept)))

    plan.files = kept
    if require_each_pruning:
        prev = plan.total_files
        for name, n in plan.steps:
            if n >= prev:
                raise RuntimeError(
                    f"scan planner: {name} pruned nothing ({n}/{prev} files)"
                )
            prev = n

    residual = None
    for p in predicates:
        e = _predicate_expr(p)
        residual = e if residual is None else residual & e
    if not kept:
        empty = spark.createDataFrame([], schema)
        return (empty if residual is None else empty.where(residual)), plan
    df = spark.read.schema(schema).parquet(*kept)
    return (df if residual is None else df.where(residual)), plan

"""Bloom-filter FILE-SKIPPING index — the point-predicate half of data
skipping (min/max footer stats + z-order layouts cover range predicates;
see sources/layout.py and writers.py::footer_stats).

A 100 TB table laid out by date (or any clustering key) gives point
lookups on OTHER columns no pruning at all: a customer's orders are
smeared across every date file and min/max stats on a high-cardinality
unsorted column span its whole domain. This index stores one small Bloom
bitmap PER FILE over the lookup column; a probe checks its ``num_hashes``
bits against each file's bitmap relationally and reads only the
might-contain files. No false negatives (by construction), so the pruned
scan returns exactly the full-scan result — driver-gated by
``skip_bloom_point_lookup``, whose builder RAISES if pruning did not
engage (the footer_stats discipline: a green row proves files were
skipped, not just that the answer matched).

Scale: the build is ONE scan of the table folding (file, word) bit-masks
through a map-side-combinable ``bit_or`` — the shuffle carries at most
``n_files x num_bits/64`` rows (per-file bitmaps, never per-key rows); at
100k files and 2^16-bit filters that is ~10^8 64-bit words ≈ 1 GB of
index for the whole table, mergeable per-partition on append. The probe
is a k-row broadcast join against the index and the file list it emits is
driver-sized by nature — it IS the scan's file list, the same thing any
planner materializes. Sizing: fpp ≈ (1 - e^(-k·n/m))^k with n keys per
file, m bits, k hashes — the 2^16/5 defaults give <1% at ~5k keys/file;
callers scale ``num_bits`` with rows-per-file.

Reference parity: the reference has no skipping index at all (S2 scans
enumerate day partitions only); this is net-new engine surface alongside
the z-order layout family.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from telemetry_parquet_spark.datapipe.bloom import _positions, _word_and_mask
from telemetry_parquet_spark.sources.tables import read_parquet

NUM_BITS = 1 << 16
NUM_HASHES = 5


def build_file_bloom_index(
    files_df: DataFrame,
    key_col: str,
    num_bits: int = NUM_BITS,
    num_hashes: int = NUM_HASHES,
) -> DataFrame:
    """(file_path, word_idx, bits): one Bloom bitmap per input file over
    ``key_col``. ``files_df`` must come straight from a file-source read so
    the ``_metadata`` column resolves."""
    pos = files_df.select(
        F.col("_metadata.file_path").alias("file_path"),
        F.explode(
            _positions(F.col(key_col).cast("string"), num_bits, num_hashes)
        ).alias("__pos"),
    )
    word, mask = _word_and_mask(F.col("__pos"))
    return (
        pos.select("file_path", word.alias("word_idx"), mask.alias("__mask"))
        .groupBy("file_path", "word_idx")
        .agg(F.bit_or("__mask").alias("bits"))
    )


def bloom_candidate_files(
    index: DataFrame,
    value,
    num_bits: int = NUM_BITS,
    num_hashes: int = NUM_HASHES,
) -> list[str]:
    """Files that MIGHT contain ``value``: every probe word's bits must be
    set. The probe is ``num_hashes`` rows; the returned list is the pruned
    scan's file list (driver-sized by nature)."""
    spark = index.sparkSession
    word, mask = _word_and_mask(F.col("__pos"))
    probe = (
        spark.range(1)
        .select(
            F.explode(
                # hash the SPARK string form of the value — the build
                # side hashed cast(key AS string), and Python str() can
                # differ (True vs 'true', 1e20 vs '1.0E20'): a
                # representation mismatch would be a Bloom FALSE
                # NEGATIVE, i.e. silently missing rows
                _positions(
                    F.lit(value).cast("string"), num_bits, num_hashes
                )
            ).alias("__pos")
        )
        .select(word.alias("word_idx"), mask.alias("__mask"))
        .groupBy("word_idx")
        .agg(F.bit_or("__mask").alias("need"))
    )
    n_words = probe.count()  # <= num_hashes
    hits = (
        index.join(F.broadcast(probe), "word_idx")
        .where(F.col("bits").bitwiseAND(F.col("need")) == F.col("need"))
        .groupBy("file_path")
        .agg(F.count("*").alias("n_ok"))
        .where(F.col("n_ok") == n_words)
    )
    return [r.file_path for r in hits.select("file_path").collect()]


def bloom_candidate_files_any(
    index: DataFrame,
    values,
    num_bits: int = NUM_BITS,
    num_hashes: int = NUM_HASHES,
) -> list[str]:
    """Files that MIGHT contain ANY of ``values`` (the IN-list probe) in
    ONE job: the probe relation is len(values) × num_hashes rows, a file
    qualifies when every probe word of at least one value matches. Equals
    the union of per-value ``bloom_candidate_files`` results without a
    driver loop over values."""
    spark = index.sparkSession
    values = list(values)
    if not values:
        return []  # IN () matches nothing — and createDataFrame([])
        # cannot infer a schema anyway
    vals = spark.createDataFrame(
        [(v,) for v in values], ["__raw"]
    ).select(F.col("__raw").cast("string").alias("__val"))
    word, mask = _word_and_mask(F.col("__pos"))
    probe = (
        vals.select(
            "__val",
            F.explode(
                _positions(F.col("__val"), num_bits, num_hashes)
            ).alias("__pos"),
        )
        .select("__val", word.alias("word_idx"), mask.alias("__mask"))
        .groupBy("__val", "word_idx")
        .agg(F.bit_or("__mask").alias("need"))
    )
    need_counts = probe.groupBy("__val").agg(F.count("*").alias("n_need"))
    hits = (
        index.join(F.broadcast(probe), "word_idx")
        .where(F.col("bits").bitwiseAND(F.col("need")) == F.col("need"))
        .groupBy("file_path", "__val")
        .agg(F.count("*").alias("n_ok"))
        .join(F.broadcast(need_counts), "__val")
        .where(F.col("n_ok") == F.col("n_need"))
        .select("file_path")
        .distinct()
    )
    return [r.file_path for r in hits.collect()]


def bloom_probe_files(
    index: DataFrame,
    vals: DataFrame,
    num_bits: int = NUM_BITS,
    num_hashes: int = NUM_HASHES,
) -> tuple[list[str], list[str]]:
    """(indexed files, candidate files) in ONE pass over the index.

    ``vals`` is a one-column ``__val`` string DataFrame of probe values
    (the caller controls the exact value→string rendering — it must match
    the build side's ``cast(key AS string)``). A LEFT join keeps every
    index row, so the same aggregation that scores candidates (every
    probe word of at least one value matched) also enumerates coverage —
    the planner previously paid one full index-build execution for the
    coverage set and another for the probe."""
    word, mask = _word_and_mask(F.col("__pos"))
    probe = (
        vals.select(
            "__val",
            F.explode(
                _positions(F.col("__val"), num_bits, num_hashes)
            ).alias("__pos"),
        )
        .select("__val", word.alias("word_idx"), mask.alias("__mask"))
        .groupBy("__val", "word_idx")
        .agg(F.bit_or("__mask").alias("need"))
    )
    need_counts = probe.groupBy("__val").agg(F.count("*").alias("n_need"))
    per_val = (
        index.join(F.broadcast(probe), "word_idx", "left")
        .groupBy("file_path", "__val")
        .agg(
            F.sum(
                F.when(
                    F.col("bits").bitwiseAND(F.col("need")) == F.col("need"),
                    1,
                ).otherwise(0)
            ).alias("n_ok")
        )
        .join(F.broadcast(need_counts), "__val", "left")
    )
    rows = (
        per_val.groupBy("file_path")
        .agg(
            F.max(
                F.when(F.col("n_ok") == F.col("n_need"), 1).otherwise(0)
            ).alias("__qual")
        )
        .collect()
    )
    indexed = [r.file_path for r in rows]
    cands = [r.file_path for r in rows if r["__qual"] == 1]
    return indexed, cands


def pruned_point_lookup(
    spark: SparkSession,
    data_path: str,
    index: DataFrame,
    key_col: str,
    value,
    num_bits: int = NUM_BITS,
    num_hashes: int = NUM_HASHES,
    require_pruning: bool = False,
) -> DataFrame:
    """Read only the candidate files and filter exactly. Equals the
    full-scan filter because Bloom filters have no false negatives. With
    ``require_pruning`` the lookup RAISES unless at least one file was
    skipped — callers that claim skipping engaged get proof, not hope."""
    reader = read_parquet(spark, data_path)
    schema = reader.schema
    cands = bloom_candidate_files(index, value, num_bits, num_hashes)
    if require_pruning:
        # count files from the reader's file index (driver-side) — the
        # previous `_metadata.file_path` distinct().count() was a full
        # row scan of the table for a files-sized answer
        n_total = len(set(reader.inputFiles()))
        if len(cands) >= n_total:
            raise RuntimeError(
                f"bloom index pruned nothing: {len(cands)}/{n_total} files"
            )
    if not cands:
        return spark.createDataFrame([], schema)
    return (
        spark.read.schema(schema)
        .parquet(*cands)
        .where(F.col(key_col) == F.lit(value))
    )


def update_file_bloom_index(
    spark: SparkSession,
    data_path: str,
    existing: DataFrame | None,
    key_col: str,
    num_bits: int = NUM_BITS,
    num_hashes: int = NUM_HASHES,
) -> DataFrame:
    """Incrementally maintain the per-file Bloom index as files land:
    scan ONLY files not yet covered by ``existing`` and union their
    bitmaps in. Per-file bitmaps are independent, so append never touches
    an existing file's rows — the update cost is one scan of the NEW
    bytes plus an n_new_files × bits/64-row shuffle, regardless of table
    size (the lifecycle analog of ``append_bm25_partition``). Equality
    with a from-scratch rebuild is pytest-gated
    (tests/test_skipping.py). Immutable files assumed (the parquet
    contract); a rewritten path must drop its index rows first."""
    if existing is None:
        return build_file_bloom_index(
            read_parquet(spark, data_path), key_col, num_bits, num_hashes
        )
    all_files = sorted(
        r.file_path
        for r in read_parquet(spark, data_path)
        .select(F.col("_metadata.file_path").alias("file_path"))
        .distinct()
        .collect()
    )
    known = {
        r.file_path for r in existing.select("file_path").distinct().collect()
    }
    new_paths = [f for f in all_files if f not in known]
    if not new_paths:
        return existing
    schema = read_parquet(spark, data_path).schema
    fresh = build_file_bloom_index(
        spark.read.schema(schema).parquet(*new_paths),
        key_col,
        num_bits,
        num_hashes,
    )
    return existing.unionByName(fresh)


def materialize_cached(
    spark: SparkSession, src_path: str, name: str, write_fn
) -> str:
    """Fingerprint-guarded warehouse materialization: ``write_fn(out)``
    runs only when the source bytes changed since the cached build (the
    ensure_bm25_index discipline — a stale warehouse can never serve
    regenerated testdata). Shared by every derived-layout builder."""
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    if wh.startswith("file:"):
        wh = wh[len("file:"):]
    out = os.path.join(wh, name)
    if os.path.isfile(src_path):
        parts = [src_path]
    else:
        # RECURSIVE walk: partitioned sources change inside subdirs
        # whose own mtime/size may not move — a shallow listing could
        # serve a stale cache for regenerated nested part files
        parts = sorted(
            os.path.join(dp, f)
            for dp, dns, fns in os.walk(src_path)
            for f in fns
            if not f.startswith(("_", "."))
        )
    if not parts:
        raise ValueError(
            f"materialize_cached: no data files under {src_path!r}"
        )
    st = [os.stat(p) for p in parts]
    fp = f"{src_path}|{sum(s.st_size for s in st)}|{max(s.st_mtime_ns for s in st)}"
    meta = os.path.join(out, "_FINGERPRINT.json")
    if os.path.exists(meta):
        with open(meta) as fh:
            if json.load(fh).get("fingerprint") == fp:
                return out
        shutil.rmtree(out, ignore_errors=True)
    elif os.path.isdir(out):
        # a build that crashed between write_fn and the fingerprint dump
        # leaves a partial dir with no meta: without this cleanup every
        # retry wedges on error-if-exists writes inside write_fn
        shutil.rmtree(out, ignore_errors=True)
    write_fn(out)
    with open(meta, "w") as fh:
        json.dump({"fingerprint": fp}, fh)
    return out


def ensure_split_dataset(
    spark: SparkSession,
    src_path: str,
    name: str,
    layout_col: str,
    n_files: int = 32,
) -> str:
    """Materialize ``src_path`` re-laid-out into ``n_files`` range files on
    ``layout_col`` (the realistic shape: clustered by one key, point-probed
    on another) under the session warehouse; fingerprint-reuse across
    calls."""

    def write(out: str) -> None:
        (
            read_parquet(spark, src_path)
            .repartitionByRange(n_files, F.col(layout_col))
            .write.mode("overwrite")
            .parquet(out)
        )

    return materialize_cached(spark, src_path, name, write)

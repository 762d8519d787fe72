"""Versioned snapshot table: commit-log manifests, time travel,
copy-on-write delete, compaction-as-a-version, vacuum.

The lifecycle layer the rest of the table-service family plugs into.
``compaction.py`` rewrites files, ``skipping.py`` indexes them,
``scan_planner.py`` prunes them — but none of those answers the question a
100 TB table asks every minute: *which files ARE the table right now, and
which files were the table yesterday?* This module answers it the way the
public table formats (Iceberg's snapshot list, Delta's commit log) do:

- The table is a directory of IMMUTABLE parquet data files plus a
  ``_manifests/`` commit log. Manifest ``v{N}.json`` lists the data files
  that make up version N (sorted, relative paths), the stored schema, and
  the action that produced it.
- Every mutation — ``append``, ``delete_where``, ``compact_table`` —
  writes NEW data files and then commits a NEW manifest. Data files are
  never edited or removed by a commit, so **readers of any existing
  version are never disturbed**: time travel is just "read the file list
  of manifest N".
- Commits are atomic via ``O_CREAT|O_EXCL`` on the manifest file: two
  writers racing to commit version N+1 cannot both succeed (optimistic
  concurrency — the loser retries against the new head). On an object
  store this is the atomic-put-if-absent the formats build on.
- ``vacuum`` is the ONLY destructive operation: it deletes data files no
  retained manifest references, after which expired versions are
  unreadable by design.
- Deletes come in BOTH standard strategies: copy-on-write
  (``delete_where`` — affected files rewritten) and merge-on-read
  (``delete_where_mor`` — a deletion vector of (file, pos) commits and
  reads anti-join it out; ``compact_table`` materializes outstanding
  vectors; COW mutators refuse to run over them).

One DML core, three landing targets. Each write capability has exactly
one private implementation: ``_append_files`` validates an appended batch
and writes its files (spec-aware under a partition spec); ``_mor_write``
computes a merge-on-read match (deletion vector, its agg sidecar and, for
updates, the updated copies); ``_cow_delete`` finds the affected files
and rewrites them; ``_write_manifest`` builds the manifest body (stats,
sizes, rows, sums, nulls, partition tuples, spec) over the one ``O_EXCL``
writer ``_write_json_excl``; ``_land_append`` is the append-rebase rule;
``_read_logical`` is the logical read. A public mutator only chooses
where its result lands: a numbered version (``_commit``), a staged
``wap-<id>`` manifest (``_stage``), or a branch manifest
(``branches._branch_commit``).

Scale: a manifest is file-list-sized (the object every table format
materializes — at 10^6+ files Iceberg splits it into avro manifest
files per partition; the JSON here is the same structure one level
smaller). All row-sized work (append write, delete rewrite, compaction
rewrite) is distributed; the driver only ever handles file LISTS.
``delete_where`` is copy-on-write at file granularity: one distributed
scan finds the affected files (groupBy ``_metadata.file_path`` over the
predicate), untouched files carry over by reference, and only affected
files are rewritten without the matching rows.

Reference parity: the reference's S7/S12 lineage manages per-day
directory swaps by hand (utils/package.scala:149-153 era) — one
hard-wired "version" dimension with no history. This generalizes it to
arbitrary versioned commits with time travel, net-new engine surface.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from telemetry_parquet_spark.sources.tables import read_parquet

_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(root, _MANIFEST_DIR, f"v{version:06d}.json")


def _list_versions(root: str) -> list[int]:
    mdir = os.path.join(root, _MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return []
    out = []
    for name in os.listdir(mdir):
        if name.startswith("v") and name.endswith(".json"):
            out.append(int(name[1:-5]))
    return sorted(out)


def latest_version(root: str) -> int:
    """Head of the commit log. Raises if the table does not exist."""
    versions = _list_versions(root)
    if not versions:
        raise FileNotFoundError(f"no snapshot table at {root}")
    return versions[-1]


def read_manifest(root: str, version: int) -> dict:
    with open(_manifest_path(root, version)) as f:
        return json.load(f)


def history(root: str) -> list[dict]:
    """The commit log, oldest first — one dict per version with its
    action, parent and file count (time-travel catalog)."""
    out = []
    for v in _list_versions(root):
        m = read_manifest(root, v)
        out.append(
            {
                "version": m["version"],
                "action": m["action"],
                "parent": m["parent"],
                "n_files": len(m["files"]),
            }
        )
    return out


_STR_STAT_MAX = 32


def _trunc_lower(s: str, n: int = _STR_STAT_MAX) -> str:
    """Lower-bound truncation for a string MIN stat: a prefix is
    lexicographically <= the full string, so it stays a valid lower
    bound."""
    return s[:n]


def _trunc_upper(s: str, n: int = _STR_STAT_MAX) -> str:
    """Upper-bound truncation for a string MAX stat (Iceberg's round-up
    rule): truncate to ``n`` chars and increment the last incrementable
    character, so the result is lexicographically >= EVERY string with
    the original prefix. If no character can be incremented, the full
    string is kept — truncating downward would prune incorrectly."""
    if len(s) <= n:
        return s
    head = s[:n]
    for i in range(n - 1, -1, -1):
        cp = ord(head[i])
        if cp < 0x10FFFF:
            return head[:i] + chr(cp + 1)
    return s


def _encode_temporal(v):
    """JSON-encodable ordinal for footer temporal stats: DATE → epoch
    days, TIMESTAMP (parquet stats are tz-naive UTC) → epoch micros.
    Integer encodings compare exactly, so `_minmax_keep` needs no
    temporal special-casing once both sides are encoded."""
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        return int(
            (v.replace(tzinfo=None) - _dt.datetime(1970, 1, 1))
            .total_seconds() * 1_000_000
        )
    if isinstance(v, _dt.date):
        return (v - _dt.date(1970, 1, 1)).days
    return None


def _manifest_keep(m: dict, preds: list, encoded: bool = False):
    """The one manifest-stat prune: ``keep(f)`` is False only when some
    planner predicate (``Range``/``Eq``/``In``) in ``preds`` misses file
    ``f``'s recorded [min, max] for its column — zero data or footer
    I/O. A file or column without a stat is kept (unknown). Predicate
    values are first put in the manifest's encoding unless ``encoded``
    says they already are (``_key_probe`` ranges): temporal columns are
    stored as integer ordinals (see _file_footer_stats), and a temporal
    value may be a date/datetime object or an ISO string. Shared by the
    pruned scan, the COW delete's ``scan_predicates``, the MERGE
    key-range prune and the UNIQUE collision probe."""
    import dataclasses
    import datetime as _dt

    from telemetry_parquet_spark.sources.scan_planner import (
        Eq,
        In,
        Range,
        _minmax_keep,
    )

    stats = m.get("stats", {})
    kinds = m.get("stats_types", {})

    def _enc(kind: str | None, val):
        if val is None or kind not in ("date", "timestamp"):
            return val
        if isinstance(val, str):
            val = (
                _dt.datetime.fromisoformat(val)
                if kind == "timestamp"
                else _dt.date.fromisoformat(val)
            )
        if kind == "timestamp" and not isinstance(val, _dt.datetime):
            val = _dt.datetime(val.year, val.month, val.day)
        return _encode_temporal(val)

    def _conv(p):
        if encoded:
            return p
        kind = kinds.get(p.col)
        if isinstance(p, Range):
            return dataclasses.replace(
                p, lo=_enc(kind, p.lo), hi=_enc(kind, p.hi)
            )
        if isinstance(p, Eq):
            return dataclasses.replace(p, value=_enc(kind, p.value))
        if isinstance(p, In):
            return dataclasses.replace(
                p, values=tuple(_enc(kind, v) for v in p.values)
            )
        return p

    conv = [_conv(p) for p in preds]

    def keep(f: str) -> bool:
        st = stats.get(f, {})
        for p in conv:
            if p.col not in st:
                continue  # no stats -> unknown -> keep
            mn, mx = st[p.col]
            row = {f"min_{p.col}": mn, f"max_{p.col}": mx}
            if not _minmax_keep(row, p):
                return False
        return True

    return keep


def _file_footer_stats(path: str) -> tuple[dict, dict, dict, int]:
    """Per-column [min, max], per-column NULL counts, AND the exact row
    count from the parquet footer of ONE file — row-group stats folded.
    Plain JSON types (int / float / str / bool)
    are stored as-is; DATE/TIMESTAMP columns are stored as integer
    ordinals (epoch days / epoch micros) with their kind recorded in the
    returned types dict so the planner can encode predicate values the
    same way. Binary and other non-orderable columns are skipped — the
    planner treats a missing stat as 'unknown: keep'. Null counts are a
    separate dict (a column can carry a null count without min/max and
    vice versa; a row group without a written null_count drops the
    column from the dict — readers treat missing as unknown). Long
    strings are bounded to ``_STR_STAT_MAX`` chars the safe way
    (Iceberg's rule): MIN truncates to a prefix (still a lower bound),
    MAX truncates and rounds the last character UP (still an upper
    bound) — manifests stay small on text columns, pruning stays
    conservative.

    Compatibility caveat: manifests written before the partial-row-group
    invalidation rule carry whatever this function computed THEN, and
    carried files reuse parent entries — a pre-rule manifest built from
    foreign files with partially-disabled statistics could hold
    partial bounds. Spark-written parquet always carries full chunk
    statistics, so every manifest this engine itself produced is sound;
    tables ingesting foreign pre-rule files should ``compact_table``
    once (the rewrite recomputes stats under the current rule)."""
    import datetime as _dt

    import pyarrow.parquet as pq

    out: dict[str, list] = {}
    types: dict[str, str] = {}
    nulls: dict[str, int] = {}
    no_nullcount: set[str] = set()
    no_minmax: set[str] = set()  # a rg with VALUES but no bounds poisons
    # the whole file's fold: partial bounds are not bounds (a pruner
    # would skip files whose unstated row group holds matching rows),
    # and a partial null total would defeat the GROUP BY NULL-key guard
    md = pq.ParquetFile(path).metadata
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            st = col.statistics
            if st is None:
                # statistics absent entirely: both totals unknown
                no_minmax.add(name)
                no_nullcount.add(name)
                nulls.pop(name, None)
                continue
            if st.null_count is not None and name not in no_nullcount:
                nulls[name] = nulls.get(name, 0) + int(st.null_count)
            else:
                # one unset row group makes the file's total unknown
                no_nullcount.add(name)
                nulls.pop(name, None)
            if not st.has_min_max:
                # bounds-less chunk: only safe to keep the fold when the
                # chunk provably holds NO values (all-NULL) — otherwise
                # the file's folded min/max would not be true bounds.
                # Compare against the chunk's num_values, NOT the row
                # group's row count: for repeated (list) leaf columns
                # num_values counts leaf slots, so null_count == num_rows
                # could still leave real values unstated
                if st.null_count is None or int(st.null_count) < int(
                    col.num_values
                ):
                    no_minmax.add(name)
                continue
            mn, mx = st.min, st.max
            if isinstance(mn, _dt.date) or isinstance(mn, _dt.datetime):
                types[name] = (
                    "timestamp" if isinstance(mn, _dt.datetime) else "date"
                )
                mn, mx = _encode_temporal(mn), _encode_temporal(mx)
            elif not all(
                isinstance(v, (int, float, str, bool)) for v in (mn, mx)
            ):
                continue
            if name in out:
                out[name] = [min(out[name][0], mn), max(out[name][1], mx)]
            else:
                out[name] = [mn, mx]
    for name in no_minmax:
        out.pop(name, None)
    for name, (mn, mx) in out.items():
        if isinstance(mn, str):  # bound manifest size on long strings
            out[name] = [_trunc_lower(mn), _trunc_upper(mx)]
    return out, types, nulls, md.num_rows


def _file_column_sums(path: str) -> dict[str, list]:
    """Per-column ``[sum, n_nonnull]`` for every INTEGER column of ONE
    data file — the commit-time aggregate stat behind metadata-only
    SUM/AVG/COUNT(col) (``snapshot_sum``). Unlike min/max, parquet
    footers don't carry sums, so this reads the integer columns of the
    file once; commits only ever do it for FRESH files (carried files
    reuse the parent manifest's entry), so the cost is ∝ new data per
    commit — the same order as having written the file. Bool, float,
    temporal, string and nested columns are skipped: SUM over them is
    either invalid SQL or inexact across engines, and a missing entry
    makes readers fall back to a scan."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    import pyarrow as pa

    pf = pq.ParquetFile(path)
    cols = [
        f.name for f in pf.schema_arrow
        if pa.types.is_integer(f.type)
    ]
    if not cols:
        return {}
    t = pf.read(columns=cols)
    out = {}
    for c in cols:
        arr = t.column(c)
        n = len(arr) - arr.null_count
        s = pc.sum(arr).as_py()
        out[c] = [int(s) if s is not None else 0, int(n)]
    return out


def _stats_from_parent_manifest(
    root: str, files: list[str], pm: dict
) -> tuple[dict, dict, dict, dict, dict, dict]:
    """Per-file manifest entries for ``files``, reusing the parent
    manifest ``pm`` (a version or a branch commit) for carried files.
    Returns (stats, types, sizes, rows, sums, nulls); ``rows`` records each
    file's exact footer row count so COUNT(*) answers from the manifest
    alone (``snapshot_row_count``); ``sums`` records each file's integer
    column [sum, n_nonnull] so SUM/AVG/COUNT(col) do too
    (``snapshot_sum``). Carried files reuse the parent's entry; a parent
    committed before row counts / sums existed simply lacks the entry,
    and readers fall back (footer read for counts, full scan for sums —
    never a wrong answer)."""
    parent_stats = pm.get("stats", {})
    types = dict(pm.get("stats_types", {}))
    parent_sizes = pm.get("sizes", {})
    parent_rows = pm.get("rows", {})
    parent_sums = pm.get("sums", {})
    parent_nulls = pm.get("nulls", {})
    stats, sizes, rows, sums, nulls = {}, {}, {}, {}, {}
    fresh = [f for f in files if f not in parent_stats]

    def _read_one(f: str):
        """Footer stats + column sums of one FRESH file — runs on a
        thread pool (pyarrow releases the GIL on reads, so a commit
        rewriting many files scans them concurrently; the result dicts
        are assembled on the calling thread, deterministically)."""
        try:
            st, t, nl, n = _file_footer_stats(os.path.join(root, f))
        except Exception:
            return f, {}, {}, None, None, None
        try:
            sm = _file_column_sums(os.path.join(root, f))
        except Exception:
            sm = None  # no sums entry -> snapshot_sum falls back
        return f, st, t, nl, n, sm

    if len(fresh) > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(8, len(fresh))) as ex:
            fresh_read = list(ex.map(_read_one, fresh))
    else:
        fresh_read = [_read_one(f) for f in fresh]
    by_name = {r[0]: r for r in fresh_read}

    for f in files:
        if f in parent_stats:
            stats[f] = parent_stats[f]
            if f in parent_rows:
                rows[f] = parent_rows[f]
            if f in parent_sums:
                sums[f] = parent_sums[f]
            if f in parent_nulls:
                nulls[f] = parent_nulls[f]
        else:
            _, st, t, nl, n, sm = by_name[f]
            stats[f] = st
            types.update(t)
            if n is not None:
                rows[f], nulls[f] = n, nl
            if sm is not None:
                sums[f] = sm
        try:
            sizes[f] = parent_sizes.get(f) or os.path.getsize(
                os.path.join(root, f)
            )
        except OSError:
            pass  # no size -> join planner falls back to getsize/skip
    return stats, types, sizes, rows, sums, nulls


def _write_json_excl(path: str, obj: dict) -> None:
    """Create ``path`` holding ``obj`` as JSON, failing if it exists: the
    one ``O_CREAT|O_EXCL`` writer behind version, tag, staged and branch
    manifests — the atomic put-if-absent every commit linearizes on."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    with os.fdopen(fd, "w") as f:
        json.dump(obj, f)


def _write_manifest(
    root: str,
    path: str,
    header: dict,
    files: list[str],
    schema_json: str,
    pm: dict,
    extra: dict | None = None,
) -> None:
    """Write one commit manifest — a numbered version or a branch commit
    — at ``path``: ``header`` (the target's own keys and the action), the
    sorted file list and schema, the per-file body derived from the
    parent manifest ``pm``, then ``extra``. Every commit records per-file
    column min/max (``stats``) so the planner can prune from the
    manifest alone.

    Partition-spec metadata (partition_spec.py) is TABLE-level and
    rides every commit implicitly: the current spec + spec history are
    copied from the parent (an ``extra`` entry — from
    ``set_partition_spec`` — wins), and carried files keep their
    recorded partition tuples exactly like their stats entries; an
    ``extra["partitions"]`` entry adds the tuples of freshly written
    files; files a commit rewrites (COW, compaction) simply lose theirs
    and fall back to min/max pruning."""
    import time as _time

    extra = dict(extra or {})
    stats, stats_types, sizes, rows, sums, nulls = (
        _stats_from_parent_manifest(root, files, pm)
    )
    in_commit = set(files)
    partitions = {
        f: e for f, e in (pm.get("partitions") or {}).items()
        if f in in_commit
    }
    partitions.update(extra.pop("partitions", None) or {})
    _write_json_excl(path, {
        **header,
        "files": sorted(files),
        "schema": schema_json,
        "committed_at": _time.time(),
        "stats": stats,
        "sizes": sizes,
        "rows": rows,
        "sums": sums,
        "nulls": nulls,
        **({"stats_types": stats_types} if stats_types else {}),
        **({"partitions": partitions} if partitions else {}),
        **{k: pm[k] for k in ("partition_spec", "specs") if k in pm},
        **extra,
    })


def _commit(root: str, action: str, files: list[str], schema_json: str,
            parent: int | None, extra: dict | None = None) -> int:
    """Atomically write the next numbered version. ``O_EXCL`` makes the
    commit the linearization point: if another writer took this version
    number first, the open fails and the caller retries against the new
    head. ``extra`` rides application metadata into the manifest
    atomically — e.g. the streaming sink's (stream, batch_id)
    idempotence stamp."""
    version = 0 if parent is None else parent + 1
    pm = {}
    if parent is not None:
        try:
            pm = read_manifest(root, parent)
        except FileNotFoundError:
            pass
    _write_manifest(
        root, _manifest_path(root, version),
        {"version": version, "parent": parent, "action": action},
        files, schema_json, pm, extra,
    )
    return version


def _write_commit_files(df: DataFrame, root: str, version_tag: str) -> list[str]:
    """Write ``df`` as immutable part files under a WRITER-private
    directory and return their table-relative paths. The directory name
    carries a per-attempt random token so two optimistic writers racing
    for the same next version never collide at the data write — the
    manifest's ``O_EXCL`` stays the ONLY linearization point, and the
    loser's files are orphans in an uncommitted directory (invisible to
    readers, since manifests reference files by path, and reclaimed by
    vacuum). A crashed write leaves the same kind of orphan."""
    import uuid as _uuid

    out_dir = os.path.join(
        root, _DATA_DIR, f"{version_tag}-{_uuid.uuid4().hex[:8]}"
    )
    df.write.mode("error").parquet(out_dir)
    rel = []
    for dirpath, _, names in os.walk(out_dir):
        for name in names:
            if name.endswith(".parquet"):
                full = os.path.join(dirpath, name)
                rel.append(os.path.relpath(full, root))
    return rel


def _write_files(
    df: DataFrame, root: str, tag: str, spec: dict | None, **layout
) -> tuple[list[str], dict]:
    """Write ``df`` under ``tag``: ``_write_commit_files``, or the
    spec-aware writer (``partition_spec.write_partitioned_files``, which
    ``layout`` z-order options pass through to) when the table carries a
    partition spec. Returns (rel files, {rel file: partition tuple})."""
    if not spec:
        return _write_commit_files(df, root, tag), {}
    from telemetry_parquet_spark.sources.partition_spec import (
        write_partitioned_files,
    )

    return write_partitioned_files(df, root, tag, spec, **layout)


def create_table(root: str, schema: StructType) -> int:
    """Commit the empty v0 so ``read_snapshot`` of a fresh table returns
    an empty, correctly-typed DataFrame."""
    return _commit(root, "create", [], schema.json(), parent=None)


def _carry_meta(m: dict) -> dict:
    """Table-level metadata every commit must propagate from its parent
    (currently: CHECK constraints, UNIQUE keys, and dropped-column
    tombstones — cleared only by a full compaction rewrite)."""
    out = {}
    if m.get("constraints"):
        out["constraints"] = m["constraints"]
    if m.get("unique_keys"):
        out["unique_keys"] = m["unique_keys"]
    if m.get("dropped_cols"):
        out["dropped_cols"] = m["dropped_cols"]
    if m.get("eq_delete_cols"):
        out["eq_delete_cols"] = m["eq_delete_cols"]
    return out


def _validate_constraints(df: DataFrame, constraints: dict) -> None:
    """SQL CHECK semantics: a row violates a constraint only when the
    expression is FALSE (NULL passes). One limit(1) probe per constraint
    over the NEW rows only — existing data was validated when the
    constraint was added."""
    for name, expr in (constraints or {}).items():
        bad = df.where(
            ~F.coalesce(F.expr(expr), F.lit(True))
        ).limit(1).count()
        if bad:
            raise ValueError(
                f"CHECK constraint '{name}' ({expr}) violated by new rows; "
                "nothing committed"
            )


def _check_column_types(
    df: DataFrame, table_schema: StructType, op: str
) -> None:
    """Common columns must carry the table's exact types. A name-only
    check would let a type-mismatched batch COMMIT its parquet files
    under the stored schema — the commit succeeds and every later read
    of the head fails at scan time ('Parquet column cannot be
    converted'), which is a poisoned table, not an error the writer
    sees. Nullability is not compared (parquet doesn't enforce it)."""
    from pyspark.sql.types import TimestampNTZType, TimestampType

    def _same(a, b) -> bool:
        if a == b:
            return True
        # TIMESTAMP vs TIMESTAMP_NTZ: both encode int64 micros in
        # parquet and the engine pins the session to UTC (session.py /
        # load_table), where their wall-clock values coincide — the
        # events.parquet duality the whole repo already handles
        ts = (TimestampType(), TimestampNTZType())
        return a in ts and b in ts

    want = {f.name: f.dataType for f in table_schema.fields}
    bad = [
        (f.name, str(f.dataType), str(want[f.name]))
        for f in df.schema.fields
        if f.name in want and not _same(f.dataType, want[f.name])
    ]
    if bad:
        detail = "; ".join(
            f"{n}: batch {b} vs table {t}" for n, b, t in bad
        )
        raise ValueError(
            f"{op}: column type mismatch against the table schema "
            f"({detail}); cast the batch before committing"
        )


def _validate_unique(
    spark: SparkSession, root: str, m: dict, df: DataFrame
) -> dict:
    """UNIQUE-key (primary-key) enforcement for an append: the batch must
    be duplicate-free internally, non-null on every key column, and
    disjoint from the parent's keys. The NULL, duplicate and key-range
    questions share one observed pass over the batch (``_key_probe``);
    the existing-side probe then reads ONLY the parent files whose
    manifest key-range envelope intersects the batch's own key range —
    a pruned left-semi probe — so on a key-clustered layout the whole
    check costs ∝ the overlapping region, never the table (the
    merge-detection discipline). Returns the per-key pruning audit that
    rides into the commit manifest."""
    audit: dict[str, list[int]] = {}
    for name, cols in (m.get("unique_keys") or {}).items():
        keys = df.select(*cols)
        probe = _key_probe(keys, list(cols))
        if probe["null"]:
            raise ValueError(
                f"UNIQUE constraint '{name}' ({cols}): NULL key in new "
                "rows; nothing committed"
            )
        if probe["dup"]:
            raise ValueError(
                f"UNIQUE constraint '{name}' ({cols}): duplicate keys "
                "within the new rows; nothing committed"
            )
        if not m.get("files"):
            audit[name] = [0, 0]
            continue
        if probe["empty"]:
            # empty batch (all-null keys were already rejected): nothing
            # to collide
            audit[name] = [0, len(m["files"])]
            continue
        keep = _manifest_keep(m, probe["ranges"], encoded=True)
        candidates = [f for f in m["files"] if keep(f)]
        audit[name] = [len(candidates), len(m["files"])]
        if not candidates:
            continue
        schema = StructType.fromJson(json.loads(m["schema"]))
        # the probe must see the LOGICAL table: a key masked by an
        # outstanding deletion vector is absent, and treating it as
        # existing would falsely reject a legitimate re-insert
        existing = _read_logical(
            spark, root, candidates, schema, m.get("dv"), m.get("eq")
        ).select(*cols)
        if (
            existing.join(keys.distinct(), on=list(cols), how="left_semi")
            .limit(1).count()
        ):
            raise ValueError(
                f"UNIQUE constraint '{name}' ({cols}): new rows collide "
                "with existing keys; nothing committed (use merge_into "
                "to upsert)"
            )
    return {"unique_scan": audit} if audit else {}


def _append_files(
    spark: SparkSession,
    root: str,
    m: dict,
    df: DataFrame,
    tag: str,
    op: str,
    allow_evolution: bool | None = None,
    unique: bool = True,
) -> tuple[list[str], dict, str, dict]:
    """Validate an appended batch against manifest ``m`` (a version or a
    branch head), then write it under ``tag``. Checks run before a byte
    is written: column types, the column set, CHECK constraints over the
    new rows and — with ``unique`` — the UNIQUE-key probe.
    ``allow_evolution`` (None where the caller offers no evolution)
    widens the schema to the union of columns; old files are never
    rewritten, so they surface the new columns as NULL. Files are laid
    out by ``m``'s partition spec, so staged and branch files keep their
    tuples through publication and merges. Returns (new files, their
    partition tuples, the schema json to commit, the ``unique_scan``
    audit)."""
    table_schema = StructType.fromJson(json.loads(m["schema"]))
    table_cols = [f.name for f in table_schema.fields]
    schema_json = m["schema"]
    _check_column_types(df, table_schema, op)
    if set(df.columns) != set(table_cols):
        if not allow_evolution:
            side = "branch" if "branch" in m else "table"
            hint = (
                "" if allow_evolution is None
                else "; pass allow_evolution=True to add columns"
            )
            raise ValueError(
                f"{op}: schema mismatch (df={sorted(df.columns)}, "
                f"{side}={sorted(table_cols)}){hint}"
            )
        evolved = StructType(list(table_schema.fields))
        for f_ in df.schema.fields:
            if f_.name not in set(table_cols):
                evolved.add(f_)
        for c in table_cols:
            if c not in set(df.columns):
                df = df.withColumn(
                    c, F.lit(None).cast(table_schema[c].dataType)
                )
        df = df.select(*[f.name for f in evolved.fields])
        schema_json = evolved.json()
    _validate_constraints(df, m.get("constraints"))
    audit = _validate_unique(spark, root, m, df) if unique else {}
    new, parts = _write_files(df, root, tag, m.get("partition_spec"))
    return new, parts, schema_json, audit


def _rel_path(root_abs: str, p: str) -> str:
    """Driver-side twin of ``_rel_file_expr``: one place owns the
    file-URI-to-table-relative mapping, so a future URI-scheme fix
    cannot drift between the COW detection paths and the scan exprs."""
    if p.startswith("file:"):  # file:///abs/path -> /abs/path
        p = "/" + p[5:].lstrip("/")
    return os.path.relpath(p, root_abs)


def _rel_file_expr(root: str, col: str = "_metadata.file_path"):
    """Column expr turning ``col`` (``file:/abs/…`` or plain
    ``/abs/…``) into a table-relative path, matching the manifest's
    file list and the deletion-vector ``file`` column."""
    abs_prefix = os.path.abspath(root) + "/"
    uri_prefix = "file:" + abs_prefix
    fp = F.col(col)
    big = F.lit(1 << 20)
    return (
        F.when(
            fp.startswith(uri_prefix),
            fp.substr(F.lit(len(uri_prefix) + 1), big),
        )
        .when(
            fp.startswith(abs_prefix),
            fp.substr(F.lit(len(abs_prefix) + 1), big),
        )
        .otherwise(fp)
    )


def _observe(df: DataFrame, *aggs) -> dict:
    """Run ``df`` once through the ``noop`` sink and return the observed
    aggregates ``aggs`` (by alias): one pass, nothing collected row by
    row. Only idempotent aggregates (``min``, ``max``, ``collect_set``)
    may be observed here — a retried task then cannot change the
    answer, where an observed count or sum could double. On an empty
    (or zero-partition) input ``min``/``max`` are None and a set is
    empty."""
    from pyspark.sql import Observation

    obs = Observation()
    df.observe(obs, *aggs).write.format("noop").mode("overwrite").save()
    return obs.get


def _touched_files(root: str, paths: DataFrame) -> set[str]:
    """Table-relative paths of the data files named in ``paths``' one
    column (``_metadata.file_path`` values): the find-affected-files
    pass of the COW mutators, as one observed ``collect_set``
    (driver-sized: one entry per affected FILE) instead of a
    distinct-and-collect."""
    root_abs = os.path.abspath(root)
    col = F.col(paths.columns[0])
    got = _observe(paths, F.collect_set(col).alias("files"))
    return {_rel_path(root_abs, p) for p in got["files"]}


def _key_probe(df: DataFrame, keys: list[str]) -> dict:
    """One observed pass over ``df.groupBy(keys).count()`` answering
    every question a commit asks of its new rows' keys: ``empty`` (no
    rows), ``null`` (some key column is NULL), ``dup`` (some key tuple
    occurs twice) and ``ranges`` — each key's [min, max] as a planner
    ``Range`` already in the manifest's stat encoding (DATE -> epoch
    days, TIMESTAMP -> epoch micros, computed by Spark so no Python time
    zone enters), for ``_manifest_keep(..., encoded=True)``. A key type
    the manifest does not store comparably (TIMESTAMP_NTZ, decimal,
    nested) gets no range: keep. Empty input: no null, no dup, ranges
    open at both ends."""
    from pyspark.sql.types import DateType, TimestampType

    from telemetry_parquet_spark.sources.scan_planner import Range

    types = {f.name: f.dataType for f in df.schema.fields}

    def _ordinal(k: str):
        t = types[k]
        if isinstance(t, DateType):
            return F.unix_date(F.col(k))
        if isinstance(t, TimestampType):
            return F.unix_micros(F.col(k))
        if t.typeName() in (
            "long", "integer", "short", "byte", "double", "float",
            "string", "boolean",
        ):
            return F.col(k)
        return None

    any_null = None
    for k in keys:
        e = F.col(k).isNull()
        any_null = e if any_null is None else any_null | e
    ords = {k: _ordinal(k) for k in keys}
    bounded = [k for k in keys if ords[k] is not None]
    got = _observe(
        df.groupBy(*keys).agg(F.count(F.lit(1)).alias("__n")),
        F.max(F.col("__n")).alias("__maxn"),
        F.max(any_null).alias("__null"),
        *[F.min(ords[k]).alias(f"__lo{i}") for i, k in enumerate(bounded)],
        *[F.max(ords[k]).alias(f"__hi{i}") for i, k in enumerate(bounded)],
    )
    return {
        "empty": got["__maxn"] is None,
        "null": bool(got["__null"]),
        "dup": (got["__maxn"] or 0) > 1,
        "ranges": [
            Range(k, got[f"__lo{i}"], got[f"__hi{i}"])
            for i, k in enumerate(bounded)
        ],
    }


# every deletion-vector file's layout: the (__file, __pos) pair
# ``_mor_write`` selects as (file, pos); reads pass it, so no read infers it
DV_SCHEMA = "file string, pos long"


def _scan_with_pos(
    spark: SparkSession,
    root: str,
    files: list[str],
    schema: StructType,
    dv: list[str],
) -> DataFrame:
    """Read ``files`` with row positions (``__file``, ``__pos`` from the
    parquet ``_metadata`` pseudo-column) and the deletion vectors in
    ``dv`` APPLIED (left_anti on (file, pos) — DV side is
    deleted-row-count-sized, so the join broadcasts under AQE for
    typical delete volumes). Position columns survive for callers that
    stack further DVs (``delete_where_mor``)."""
    df = spark.read.schema(schema).parquet(
        *[os.path.join(root, f) for f in files]
    ).select(
        "*",
        _rel_file_expr(root).alias("__file"),
        F.col("_metadata.row_index").alias("__pos"),
    )
    if dv:
        dv_df = read_parquet(
            spark, [os.path.join(root, d) for d in dv], DV_SCHEMA
        )
        df = df.join(
            dv_df,
            on=(df["__file"] == dv_df["file"])
            & (df["__pos"] == dv_df["pos"]),
            how="left_anti",
        )
    return df


def _read_logical(
    spark: SparkSession,
    root: str,
    files: list[str],
    schema: StructType,
    dv: list[str] | None,
    eq: list[dict] | None,
    keep_pos: bool = False,
) -> DataFrame:
    """``files`` under the FULL merge-on-read contract: position
    deletion vectors anti-joined out, then each EQUALITY delete's key
    set anti-joined out of exactly the files in its commit-time scope
    (``applies_to`` — rows appended after the delete are untouched, the
    Iceberg v2 sequence rule made explicit). Scopes are grouped by
    signature so each file is read ONCE: because COW mutators refuse
    under outstanding deletes, scopes between eq commits only ever
    nest, so there are at most len(eq)+1 groups. Each eq key set
    broadcasts (delete-batch-sized by design). ``keep_pos`` keeps the
    ``__file``/``__pos`` columns for callers that stack further
    vectors. The one logical read: heads, staged and branch views, the
    UNIQUE probe and the MOR match all go through here. With no dv/eq
    it is a plain scan; an empty ``files`` list is an empty frame."""
    cols = [f.name for f in schema.fields]
    out_cols = cols + (["__file", "__pos"] if keep_pos else [])
    if not files:
        empty = spark.createDataFrame([], schema)
        return empty.select(
            "*",
            F.lit(None).cast("string").alias("__file"),
            F.lit(None).cast("long").alias("__pos"),
        ) if keep_pos else empty
    eq = eq or []

    def _base(grp: list[str]) -> DataFrame:
        if dv or keep_pos:
            return _scan_with_pos(spark, root, grp, schema, dv or [])
        return spark.read.schema(schema).parquet(
            *[os.path.join(root, f) for f in grp]
        )

    if not eq:
        return _base(files).select(*out_cols) if (dv or keep_pos) else (
            _base(files)
        )
    scopes = [set(e.get("applies_to") or []) for e in eq]
    sig: dict[tuple, list[str]] = {}
    for f in files:
        key = tuple(i for i, s in enumerate(scopes) if f in s)
        sig.setdefault(key, []).append(f)
    parts = []
    for key in sorted(sig):
        df = _base(sig[key])
        for i in key:
            key_schema = StructType([schema[c] for c in eq[i]["cols"]])
            vals = read_parquet(
                spark, os.path.join(root, eq[i]["file"]), key_schema
            ).dropDuplicates()
            df = df.join(
                F.broadcast(vals), on=list(eq[i]["cols"]), how="left_anti"
            )
        parts.append(df.select(*out_cols))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def read_snapshot(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """The table AS OF ``version`` (default: head). Reads exactly the
    manifest's file list under the stored schema — concurrent commits
    cannot change what this returns. Merge-on-read: if the manifest
    carries deletion vectors (``delete_where_mor``) or equality deletes
    (``delete_eq``), the masked rows are anti-joined out at read time.
    ``version`` may be a tag name (``create_tag``)."""
    if isinstance(version, str):
        version = resolve_ref(root, version)
    v = latest_version(root) if version is None else version
    m = read_manifest(root, v)
    schema = StructType.fromJson(json.loads(m["schema"]))
    return _read_logical(
        spark, root, m["files"], schema, m.get("dv"), m.get("eq")
    )


def snapshot_row_count(root: str, version: int | str | None = None) -> int:
    """Exact COUNT(*) of a snapshot version from METADATA alone — no
    Spark job, no data-page I/O. Commits record each data file's footer
    row count in the manifest (``rows``, carried by reference like
    column stats), so the count of a 100 TB table is a manifest read;
    a file committed before row counts existed (or whose entry was
    dropped) falls back to ONE parquet footer read — still metadata.

    Merge-on-read versions subtract the deletion vectors' position
    counts: each DV masks positions that were VISIBLE when it committed
    (``delete_where_mor`` / ``update_where_mor`` compute matches post
    earlier vectors, and merges refuse overlapping vectors), so vectors
    never double-count a row. DV files' counts come from their footers
    (vector files are tiny by design). ``version`` may be a tag name."""
    import pyarrow.parquet as pq

    if isinstance(version, str):
        version = resolve_ref(root, version)
    v = latest_version(root) if version is None else version
    m = read_manifest(root, v)
    rows = m.get("rows", {})

    def _count(rel: str) -> int:
        n = rows.get(rel)
        if n is None:
            n = pq.ParquetFile(os.path.join(root, rel)).metadata.num_rows
        return int(n)

    total = sum(_count(f) for f in m["files"])
    for dvf in m.get("dv", []) or []:
        total -= int(
            pq.ParquetFile(os.path.join(root, dvf)).metadata.num_rows
        )
    # equality deletes record their exact logical matched count at
    # commit time (delete_eq) — stacked vectors never overlap, so the
    # subtraction stays a pure metadata read
    for e in m.get("eq", []) or []:
        total -= int(e["matched"])
    return total


def _canon_col(schema: StructType, name: str) -> str | None:
    """Resolve ``name`` against the schema the way Spark SQL does —
    case-insensitively — returning the CANONICAL field name (stats /
    sums / nulls dicts key by it), or None when absent. Exact match
    wins; otherwise a unique case-insensitive match."""
    names = [f.name for f in schema.fields]
    if name in names:
        return name
    low = [n for n in names if n.lower() == name.lower()]
    return low[0] if len(low) == 1 else None


def snapshot_minmax(
    root: str, col: str, version: int | str | None = None,
    _manifest: dict | None = None,
) -> tuple | None:
    """Exact global (MIN, MAX) of an INTEGER column from manifest stats
    alone, or ``None`` when metadata cannot answer exactly — the caller
    falls back to a scan. Answerable iff: no outstanding deletion
    vectors (a vector may mask the extreme row), every data file carries
    a stat for the column (file stats are exact bounds of file
    contents, so the fold over files is the exact global extreme), the
    schema types the column integral (float stats are NaN-hazardous
    across engines; string stats are TRUNCATED bounds by design), and
    the column is not a temporal-ordinal encoding. The Iceberg-style
    aggregate pushdown to metadata. ``_manifest`` lets per-column
    callers (DESCRIBE STATS) reuse an already-loaded manifest instead of
    re-parsing it per column."""
    if _manifest is not None:
        m = _manifest
    else:
        if isinstance(version, str):
            version = resolve_ref(root, version)
        v = latest_version(root) if version is None else version
        m = read_manifest(root, v)
    if m.get("dv") or m.get("eq") or not m["files"]:
        return None
    schema = StructType.fromJson(json.loads(m["schema"]))
    col = _canon_col(schema, col)
    if col is None or col in (m.get("stats_types") or {}):
        return None
    if schema[col].dataType.typeName() not in (
        "long", "integer", "short", "byte"
    ):
        return None
    stats = m.get("stats", {})
    lo = hi = None
    for f in m["files"]:
        st = stats.get(f, {}).get(col)
        if not st:
            return None  # a file without the stat -> metadata can't answer
        mn, mx = st
        if not (isinstance(mn, int) and isinstance(mx, int)):
            return None
        lo = mn if lo is None else min(lo, mn)
        hi = mx if hi is None else max(hi, mx)
    return lo, hi


_DV_AGG_SUFFIX = ".agg.json"


def _write_dv_agg_sidecar(
    spark: SparkSession,
    root: str,
    dv_files: list[str],
    matched: DataFrame,
    schema: StructType,
) -> None:
    """Record the aggregate of the rows a deletion vector masks, as a
    JSON SIDECAR next to the vector file — BOTH the table total and a
    PER-SOURCE-FILE breakdown:

    - ``total``: {col: [sum, n_nonnull]} per integer column — what
      ``snapshot_sum`` subtracts for whole-table SUM/AVG/COUNT(col).
    - ``per_file``: {rel_file: {"n": deleted_rows,
      "sums": {col: [sum, n_nonnull]}}} — what
      ``snapshot_groupby_partition`` uses to attribute each vector's
      deleted rows to their file's PARTITION TUPLE, keeping the
      per-tuple rollup a manifest read through MOR deletes/updates.

    Keyed by the DV file's own immutable path, the delta needs NO carry
    logic: wherever a manifest references the vector, readers find the
    sidecar and subtract. Cost: one extra groupBy(__file) pass over the
    matched rows at delete time (column-pruned to the integer columns),
    the standard stats-maintenance trade; the total is folded from the
    per-file rows driver-side (group count = file count, driver-sized).
    Written only when the vector is a single file (it always is:
    ``repartition(1)``); a missing sidecar is never wrong — readers fall
    back to a scan."""
    if len(dv_files) != 1:
        return
    cols = [
        f.name for f in schema.fields
        if f.dataType.typeName() in ("long", "integer", "short", "byte")
    ]
    per_rows = matched.groupBy("__file").agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.sum(F.col(c).cast("long")).alias(f"s_{c}") for c in cols],
        *[F.count(F.col(c)).alias(f"n_{c}") for c in cols],
    ).collect()
    per_file = {
        r["__file"]: {
            "n": int(r["__n"]),
            "sums": {
                c: [
                    int(r[f"s_{c}"]) if r[f"s_{c}"] is not None else 0,
                    int(r[f"n_{c}"]),
                ]
                for c in cols
            },
        }
        for r in per_rows
    }
    total = {
        c: [
            sum(e["sums"][c][0] for e in per_file.values()),
            sum(e["sums"][c][1] for e in per_file.values()),
        ]
        for c in cols
    }
    with open(
        os.path.join(root, dv_files[0] + _DV_AGG_SUFFIX), "w"
    ) as f:
        json.dump({"_fmt": 2, "total": total, "per_file": per_file}, f)


def _read_dv_agg_sidecar(root: str, dv_file: str) -> dict | None:
    """Normalized sidecar: {"total": {col: [s, n]}, "per_file": ... or
    None}. Pre-format-2 sidecars (flat {col: [s, n]}) normalize with
    per_file=None — the per-tuple rollup falls back to a scan for them,
    the global sum keeps working."""
    try:
        with open(os.path.join(root, dv_file + _DV_AGG_SUFFIX)) as f:
            d = json.load(f)
    except (OSError, ValueError):
        return None  # pre-feature or foreign vector -> caller falls back
    if isinstance(d.get("_fmt"), int):
        return {"total": d["total"], "per_file": d.get("per_file")}
    return {"total": d, "per_file": None}


def snapshot_sum(
    root: str, col: str, version: int | str | None = None,
    _manifest: dict | None = None,
) -> tuple[int, int] | None:
    """Exact global ``(SUM(col), COUNT(col))`` of an INTEGER column from
    METADATA alone, or ``None`` when metadata cannot answer exactly (the
    caller falls back to a scan — never a wrong answer). Commits record
    each fresh file's per-column [sum, n_nonnull] (``sums`` in the
    manifest, carried by reference like min/max stats), and merge-on-read
    deletes/updates record the DELETED rows' aggregate as a sidecar next
    to their deletion vector — so the fold here is
    Σ file sums − Σ vector deltas, exact because vectors never overlap by
    construction. SUM of a 100 TB table is a manifest read plus one tiny
    JSON per outstanding vector. Answerable iff the schema types the
    column integral, it is not a temporal-ordinal encoding, every data
    file carries a sums entry and every vector a sidecar. ``version``
    may be a tag name; ``_manifest`` reuses an already-loaded manifest
    (the DESCRIBE STATS path)."""
    if _manifest is not None:
        m = _manifest
    else:
        if isinstance(version, str):
            version = resolve_ref(root, version)
        v = latest_version(root) if version is None else version
        m = read_manifest(root, v)
    if not m["files"] or m.get("eq"):
        # zero rows: SUM is NULL, the scan says so. Outstanding
        # EQUALITY deletes: what they mask per column is unknown until
        # read time — refuse to the scan, never guess.
        return None
    schema = StructType.fromJson(json.loads(m["schema"]))
    col = _canon_col(schema, col)
    if col is None or col in (m.get("stats_types") or {}):
        return None
    if schema[col].dataType.typeName() not in (
        "long", "integer", "short", "byte"
    ):
        return None
    sums = m.get("sums", {})
    total_s = total_n = 0
    for f in m["files"]:
        ent = sums.get(f, {}).get(col)
        if ent is None:
            return None  # a file without the stat -> metadata can't answer
        total_s += int(ent[0])
        total_n += int(ent[1])
    for dvf in m.get("dv", []) or []:
        agg = _read_dv_agg_sidecar(root, dvf)
        ent = (agg or {}).get("total", {}).get(col)
        if ent is None:
            return None
        total_s -= int(ent[0])
        total_n -= int(ent[1])
    if total_n == 0:
        return None  # all-NULL column: SQL SUM is NULL; scan answers
    return total_s, total_n


def snapshot_filtered_agg(
    root: str,
    key: str,
    value,
    sum_cols: list[str] | None = None,
    version: int | str | None = None,
    minmax_cols: list[str] | None = None,
) -> tuple | None:
    """COUNT(*) (+ integer SUMs / MIN/MAXs) over ``WHERE key = value``
    from the manifest alone, or ``None`` when metadata cannot answer
    exactly — predicate pushdown all the way to metadata. Per file:

    - ``value`` outside the file's [min, max] stats → contributes 0
      (safe under string truncation: stored MIN is a lower bound and
      stored MAX a rounded-UP upper bound, so strict exclusion holds);
    - single-valued at ``value`` (min == max == value) with a recorded
      ZERO key null count → fully included (equality never matches
      NULLs, so a NULL-key row would inflate the file's row count);
    - anything else (straddling file covering ``value``, missing stats,
      unknown/nonzero nulls) → refuse.

    Outstanding deletion vectors stay metadata-only for COUNT/SUM: an
    INCLUDED file is single-valued at the probe, so every row a vector
    masks in it also matched — each vector's per-file sidecar delta
    (``_write_dv_agg_sidecar``) subtracts exactly; deltas on EXCLUDED
    files never counted and are ignored. MIN/MAX refuses when a vector
    touches an included file (a deleted extreme row would falsify the
    footer envelope); pre-format sidecars (no breakdown) refuse.

    On a key-clustered layout — one file set per day, say — "count
    yesterday's rows / sum yesterday's revenue" is a manifest fold, the
    query every 100 TB ingest pipeline runs hourly. Returns
    (n_rows, *sums, *(min, max) pairs); refuses when a SUM/MIN/MAX term
    is requested and NO file is included (SQL returns NULL there)."""
    if isinstance(version, str):
        version = resolve_ref(root, version)
    v = latest_version(root) if version is None else version
    m = read_manifest(root, v)
    if not m["files"] or m.get("eq"):
        # outstanding EQUALITY deletes: what they mask per included
        # file is unknown until read time — refuse to the scan
        return None
    schema = StructType.fromJson(json.loads(m["schema"]))
    key = _canon_col(schema, key)
    if key is None or key in (m.get("stats_types") or {}):
        return None
    key_kind = schema[key].dataType.typeName()
    if key_kind in ("long", "integer", "short", "byte"):
        if not isinstance(value, int):
            return None
    elif key_kind == "string":
        if not isinstance(value, str):
            return None
    else:
        return None
    sum_cols = [_canon_col(schema, c) for c in sum_cols or []]
    minmax_cols = [_canon_col(schema, c) for c in minmax_cols or []]
    # NOTE: the type guards and per-file sum/min-max accumulation below
    # mirror snapshot_groupby_metadata's — the folds differ only in
    # straddle handling (exclude-by-range here vs refuse there); a
    # change to the stats/sums contract must be applied to BOTH
    for c in list(sum_cols) + list(minmax_cols):
        if c is None:
            return None
        if schema[c].dataType.typeName() not in (
            "long", "integer", "short", "byte"
        ):
            return None
        if c in (m.get("stats_types") or {}):
            return None
    stats, rows, sums = m.get("stats", {}), m.get("rows", {}), \
        m.get("sums", {})
    nulls = m.get("nulls", {})
    nsc, nmm = len(sum_cols or []), len(minmax_cols or [])
    total = [0] + [0] * (2 * nsc) + [None] * (2 * nmm)
    included = 0
    included_files: set[str] = set()
    for f in m["files"]:
        n = rows.get(f)
        if n is None:
            return None
        if n == 0:
            continue
        fst = stats.get(f, {})
        st = fst.get(key)
        if not st:
            # no min/max stat — but a file whose key is entirely NULL
            # (null count == row count) provably matches NOTHING under
            # equality: contribute 0 instead of killing the fast path
            # (the all-NULL-ingest / ALTER TABLE evolution case)
            if nulls.get(f, {}).get(key) == int(n):
                continue
            return None  # genuinely unknown: can't even exclude
        if value < st[0] or value > st[1]:
            continue  # provably no matching rows
        if st[0] != st[1] or st[0] != value:
            return None  # file straddles the probe value
        if nulls.get(f, {}).get(key) != 0:
            return None  # NULL-key rows would inflate the count
        included += 1
        included_files.add(f)
        total[0] += int(n)
        fsums = sums.get(f, {})
        for i, c in enumerate(sum_cols or []):
            ent = fsums.get(c)
            if ent is None:
                return None
            total[1 + i] += int(ent[0])
            total[1 + nsc + i] += int(ent[1])
        for i, c in enumerate(minmax_cols or []):
            cst = fst.get(c)
            if not cst or not all(isinstance(x, int) for x in cst):
                return None
            lo, hi = 1 + 2 * nsc + 2 * i, 1 + 2 * nsc + 2 * i + 1
            total[lo] = cst[0] if total[lo] is None else min(
                total[lo], cst[0]
            )
            total[hi] = cst[1] if total[hi] is None else max(
                total[hi], cst[1]
            )
    for dvf in m.get("dv") or []:
        agg = _read_dv_agg_sidecar(root, dvf)
        if agg is None or agg.get("per_file") is None:
            return None  # no per-file breakdown -> scan fallback
        for f, delta in agg["per_file"].items():
            if f not in included_files:
                continue  # excluded file: its masked rows never counted
            dn = int(delta["n"])
            if dn == 0:
                continue
            if nmm:
                # a deleted row may have BEEN the min/max; the footer
                # envelope cannot answer post-delete extremes
                return None
            total[0] -= dn
            for i, c in enumerate(sum_cols or []):
                ent = (delta.get("sums") or {}).get(c)
                if ent is None:
                    return None
                total[1 + i] -= int(ent[0])
                total[1 + nsc + i] -= int(ent[1])
    if total[0] <= 0 and (nsc or nmm):
        return None  # SUM/MIN/MAX over zero rows is NULL; scan answers
    if (nsc or nmm) and included == 0:
        return None
    if any(total[1 + nsc + i] == 0 for i in range(nsc)) and included:
        return None  # an all-NULL SUM column: SQL says NULL
    return (
        total[0],
        *total[1:1 + nsc],
        *total[1 + 2 * nsc: 1 + 2 * nsc + 2 * nmm],
    )


def sample_rows(
    spark: SparkSession,
    root: str,
    n: int,
    version: int | str | None = None,
) -> DataFrame:
    """A deterministic ``n``-row sample planned from the MANIFEST: walk
    the version's files in sorted-path order, using their recorded row
    counts, and scan only the PREFIX whose counts cover ``n`` — sampling
    10k rows from a 100 TB table reads a handful of files, not the
    table. The row set is a pure function of the manifest (same version
    ⇒ same rows), which is what a debugging or schema-inference sample
    wants; it is NOT a uniform random sample — for statistics use the
    engine's hash-based samplers (datapipe/scrub.py). Falls back to a
    full logical read under outstanding deletion vectors (a masked file's
    usable row count is below its footer count, so prefix planning could
    under-deliver)."""
    import pyarrow.parquet as pq

    if isinstance(version, str):
        version = resolve_ref(root, version)
    v = latest_version(root) if version is None else version
    m = read_manifest(root, v)
    schema = StructType.fromJson(json.loads(m["schema"]))
    if not m["files"]:
        return spark.createDataFrame([], schema)
    if m.get("dv") or m.get("eq"):
        return read_snapshot(spark, root, v).limit(n)
    rows = m.get("rows", {})
    picked, covered = [], 0
    for f in sorted(m["files"]):
        cnt = rows.get(f)
        if cnt is None:  # pre-row-count manifest: one footer read
            cnt = pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
        if cnt == 0:
            continue
        picked.append(f)
        covered += int(cnt)
        if covered >= n:
            break
    return (
        spark.read.schema(schema)
        .parquet(*[os.path.join(root, f) for f in picked])
        .limit(n)
    )


def snapshot_groupby_metadata(
    root: str,
    key: str | list[str],
    sum_cols: list[str] | None = None,
    version: int | str | None = None,
    minmax_cols: list[str] | None = None,
) -> list[tuple] | None:
    """``GROUP BY key(s)`` with COUNT(*) (+ optional integer SUMs)
    answered from the manifest alone, or ``None`` when metadata cannot
    answer exactly. ``key`` may be one column or a list (composite
    rollup). Answerable iff the layout CLUSTERS every key — each
    non-empty data file single-valued on each of them (footer min ==
    max, the property a partitioned or key-sorted write produces) —
    there are no outstanding deletion vectors (a vector can't be
    attributed to a key group without reading it), every file carries a
    row count, a ZERO null count per key (footer min/max ignore NULLs,
    so min == max alone would misattribute NULL-key rows), sums entries
    for the requested SUM columns, and string keys are shorter than the
    stat truncation bound (a truncated min/max pair can't prove
    single-valuedness; ``_file_footer_stats`` rounds the truncated MAX
    up, so truncation always shows as min != max — conservative). The
    metadata GROUP BY a hive-partitioned table gets from its directory
    layout, recovered here from file stats so ANY clustered layout
    (e.g. a z-order rewrite) qualifies. ``minmax_cols`` adds per-group
    MIN/MAX of INTEGER columns — exact because file stats are exact
    bounds of file contents, so the per-group fold over that group's
    files is the group extreme (a file whose column is all-NULL carries
    no stat and the fold refuses — SQL's NULL-ignoring MIN over an
    all-NULL group would be NULL, which the fold can't express). Rows
    come back sorted by the key tuple; each row is
    (*keys, n_rows, *sums, *(min_c, max_c) pairs)."""
    keys = [key] if isinstance(key, str) else list(key)
    if not keys:
        return None
    if isinstance(version, str):
        version = resolve_ref(root, version)
    v = latest_version(root) if version is None else version
    m = read_manifest(root, v)
    if m.get("dv") or m.get("eq") or not m["files"]:
        return None
    schema = StructType.fromJson(json.loads(m["schema"]))
    keys = [_canon_col(schema, k) for k in keys]
    sum_cols = [_canon_col(schema, c) for c in sum_cols or []]
    minmax_cols = [_canon_col(schema, c) for c in minmax_cols or []]
    for k in keys:
        if k is None or k in (m.get("stats_types") or {}):
            return None
        if schema[k].dataType.typeName() not in (
            "string", "long", "integer", "short", "byte"
        ):
            return None
    for c in list(sum_cols) + list(minmax_cols):
        if c is None or c in (m.get("stats_types") or {}):
            return None
        if schema[c].dataType.typeName() not in (
            "long", "integer", "short", "byte"
        ):
            return None
    stats, rows, sums = m.get("stats", {}), m.get("rows", {}), \
        m.get("sums", {})
    nulls = m.get("nulls", {})
    nsc = len(sum_cols or [])
    nmm = len(minmax_cols or [])
    groups: dict = {}
    for f in m["files"]:
        n = rows.get(f)
        if n is None:
            return None
        if n == 0:
            continue  # empty file: no rows to attribute
        fst = stats.get(f, {})
        fnulls = nulls.get(f, {})
        fsums = sums.get(f, {})
        kv = []
        for k in keys:
            st = fst.get(k)
            if not st or st[0] != st[1]:
                return None  # straddles this key (or truncated/missing)
            if fnulls.get(k) != 0:
                return None  # NULL-key rows (or unknown): can't attribute
            kv.append(st[0])
        g = groups.setdefault(
            tuple(kv), [0] + [0] * (2 * nsc) + [None] * (2 * nmm)
        )
        g[0] += int(n)
        for i, c in enumerate(sum_cols or []):
            ent = fsums.get(c)
            if ent is None:
                return None
            g[1 + i] += int(ent[0])
            g[1 + nsc + i] += int(ent[1])  # n_nonnull, for the NULL edge
        for i, c in enumerate(minmax_cols or []):
            st = fst.get(c)
            if not st or not all(isinstance(x, int) for x in st):
                return None  # no stat (e.g. all-NULL chunk) -> refuse
            lo, hi = 1 + 2 * nsc + 2 * i, 1 + 2 * nsc + 2 * i + 1
            g[lo] = st[0] if g[lo] is None else min(g[lo], st[0])
            g[hi] = st[1] if g[hi] is None else max(g[hi], st[1])
    for g in groups.values():
        if any(g[1 + nsc + i] == 0 for i in range(nsc)):
            return None  # an all-NULL group: SQL SUM is NULL; scan answers
    return [
        (*k, groups[k][0], *groups[k][1:1 + nsc],
         *groups[k][1 + 2 * nsc: 1 + 2 * nsc + 2 * nmm])
        for k in sorted(groups)
    ]


def append(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    extra: dict | None = None,
    allow_evolution: bool = False,
) -> int:
    """Commit ``df``'s rows as a new version: new data files + (parent's
    files ∪ new files). Parent files carry over BY REFERENCE — an append
    never rewrites a byte of existing data.

    With ``allow_evolution`` the committed schema becomes the union of
    the table's and ``df``'s columns (add-column evolution): old data
    files are NEVER rewritten — ``read_snapshot`` reads every file under
    the manifest schema, so pre-evolution files surface the new columns
    as NULL (the metadata-only ALTER TABLE ADD COLUMN of the table
    formats). Without it, a column-set mismatch is a loud error — schema
    drift in a pipeline should never commit silently.

    Under a partition spec (partition_spec.py::set_partition_spec) the
    new files are laid out by the spec's transforms and the manifest
    records each file's exact partition tuple; appends before the spec
    (and rewrite commits) stay as-is and prune by min/max stats."""
    try:
        parent = latest_version(root)
    except FileNotFoundError:
        parent = create_table(root, df.schema)
    m = read_manifest(root, parent)
    new, parts, schema_json, audit = _append_files(
        spark, root, m, df, f"c{parent + 1:06d}", "append", allow_evolution
    )
    meta = {**_carry_meta(m), **audit}
    if m.get("dv"):  # outstanding deletion vectors stay in force
        meta["dv"] = m["dv"]
    if m.get("eq"):  # appended files are outside every eq scope
        meta["eq"] = m["eq"]
    return _commit(
        root, "append", m["files"] + new, schema_json, parent,
        {**meta, "partitions": parts, **(extra or {})},
    )


def _require_no_dv(m: dict, op: str) -> None:
    """The COW mutators rewrite files from their RAW bytes; doing that
    under outstanding deletion vectors would resurrect deleted rows.
    Scoping contract (documented, loud): materialize DVs first with
    ``compact_table`` — which reads through ``read_snapshot`` and so
    folds them in — then mutate."""
    if m.get("dv"):
        raise ValueError(
            f"{op}: table has outstanding deletion vectors "
            f"({len(m['dv'])} dv files); run compact_table to "
            "materialize them first"
        )
    if m.get("eq"):
        raise ValueError(
            f"{op}: table has outstanding equality deletes "
            f"({len(m['eq'])} key sets); run compact_table to "
            "materialize them first"
        )


def _mor_write(
    spark: SparkSession,
    root: str,
    m: dict,
    predicate,
    tag: str,
    op: str,
    assignments: dict[str, object] | None = None,
) -> tuple[list[str], list[str], dict]:
    """The merge-on-read match against manifest ``m``'s LOGICAL view
    (its vectors and equality deletes applied, so positions never
    duplicate across vectors; NULL predicate = no match, SQL semantics).
    Writes the deletion vector of matched (file, pos) and its agg
    sidecar. With ``assignments`` (column -> Column or SQL expression
    string, cast to the column's type) it also writes the matched rows'
    updated copies, spec-aware and checked against the CHECK
    constraints before anything is written. A delete's vector lands
    under ``tag``; an update's copies under ``tag`` and its vector under
    ``tag + "dv"``. Returns (vector files, copy files, copy tuples)."""
    schema = StructType.fromJson(json.loads(m["schema"]))
    cols = [f.name for f in schema.fields]
    if assignments is not None:
        bad = set(assignments) - set(cols)
        if bad:
            raise ValueError(f"{op}: unknown columns {sorted(bad)}")
        for uname, ucols in (m.get("unique_keys") or {}).items():
            touched = set(assignments) & set(ucols)
            if touched:
                raise ValueError(
                    f"{op}: SET touches UNIQUE key '{uname}' "
                    f"columns {sorted(touched)}; use merge_into for key "
                    "changes"
                )
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    matched = _read_logical(
        spark, root, m["files"], schema, m.get("dv"), m.get("eq"),
        keep_pos=True,
    ).where(F.coalesce(pred, F.lit(False)))
    dv_rows = matched.select(
        F.col("__file").alias("file"), F.col("__pos").alias("pos")
    )
    dv_tag = tag if assignments is None else tag + "dv"
    if assignments is not None:
        updated = matched.select(
            *[
                (
                    F.expr(assignments[c]).cast(schema[c].dataType).alias(c)
                    if isinstance(assignments.get(c), str)
                    else assignments[c].cast(schema[c].dataType).alias(c)
                    if c in assignments
                    else F.col(c)
                )
                for c in cols
            ]
        )
        _validate_constraints(updated, m.get("constraints"))
    # repartition (not coalesce): the detection scan stays parallel and
    # only the matched POSITIONS shuffle to one writer. One DV file per
    # commit — a delete big enough for that to matter is better served
    # by the COW path (the formats make the same size-based call).
    new_dv = _write_commit_files(dv_rows.repartition(1), root, dv_tag)
    _write_dv_agg_sidecar(spark, root, new_dv, matched, schema)
    if assignments is None:
        return new_dv, [], {}
    # the updated copies carry tuples too (derived from their NEW
    # values), so the DV-aware partition rollup and the bucket join stay
    # engaged through MOR updates
    new_files, parts = _write_files(
        updated, root, tag, m.get("partition_spec")
    )
    return new_dv, new_files, parts


def delete_where_mor(
    spark: SparkSession,
    root: str,
    predicate,
) -> int:
    """MERGE-ON-READ delete: instead of rewriting affected files (the
    ``delete_where`` copy-on-write path), commit a DELETION VECTOR — a
    parquet file of (file, pos) row positions — and leave every data
    file untouched. ``read_snapshot`` anti-joins the DV out at read
    time; ``compact_table`` materializes outstanding DVs into a clean
    rewrite (it reads through ``read_snapshot``). The write cost of a
    delete drops from rewriting every affected FILE to writing the
    deleted POSITIONS — the Iceberg v2 position-delete / Delta deletion-
    vector trade: cheaper writes, a (DV-sized) anti-join at read.

    DVs stack: a second MOR delete appends its own vector (computed on
    the LOGICAL view, so positions never duplicate across vectors).
    Appends carry DVs forward (they reference only pre-existing files);
    COW mutators refuse to run until DVs are materialized
    (``_require_no_dv``). NULL predicate = no match, SQL semantics."""
    parent = latest_version(root)
    m = read_manifest(root, parent)
    meta = {**_carry_meta(m), **({"dv": m["dv"]} if m.get("dv") else {}),
        **({"eq": m["eq"]} if m.get("eq") else {})}
    if not m["files"]:
        return _commit(
            root, "delete-mor", [], m["schema"], parent, meta
        )
    new_dv, _, _ = _mor_write(
        spark, root, m, predicate, f"dv{parent + 1:06d}", "delete_where_mor"
    )
    return _commit(
        root, "delete-mor", m["files"], m["schema"], parent,
        {**meta, "dv": meta.get("dv", []) + new_dv},
    )


def update_where_mor(
    spark: SparkSession,
    root: str,
    predicate,
    assignments: dict[str, object],
) -> int:
    """MERGE-ON-READ update: one commit that (a) masks the matched rows
    with a deletion vector and (b) appends their updated copies as new
    files — ``UPDATE t SET col = expr WHERE pred`` without rewriting any
    existing file. ``assignments`` maps column name -> Column or SQL
    expression string (evaluated per matched row). Write cost = matched
    positions + matched-row copies; the standard MOR-update encoding
    (delete vector + data file), materialized away by ``compact_table``.
    CDC sees it through the generic DV-delta machinery as delete+insert
    per updated row. NULL predicate = no match, SQL semantics."""
    parent = latest_version(root)
    m = read_manifest(root, parent)
    if not m["files"]:
        return _commit(
            root, "update-mor", [], m["schema"], parent, _carry_meta(m)
        )
    new_dv, new_files, parts = _mor_write(
        spark, root, m, predicate, f"u{parent + 1:06d}", "update_where_mor",
        assignments,
    )
    meta = {
        **_carry_meta(m),
        **({"eq": m["eq"]} if m.get("eq") else {}),
        "dv": m.get("dv", []) + new_dv,
        "partitions": parts,
    }
    return _commit(
        root, "update-mor", m["files"] + new_files, m["schema"], parent,
        meta,
    )


def delete_eq(
    spark: SparkSession,
    root: str,
    values: DataFrame,
) -> int:
    """EQUALITY delete — the other half of the Iceberg v2 delete
    contract (position deletes are ``delete_where_mor``): "delete every
    row whose key equals one of these values" committed as METADATA —
    a tiny parquet file of key tuples plus the list of data files it
    applies to — with NO detection scan at write time. The read side
    (``_read_logical``) anti-joins each key set out of exactly its
    scoped files; rows appended AFTER the delete are untouched (the
    Iceberg sequence-number rule, made explicit as ``applies_to``).

    Write cost is O(keys) — at 100 TB, deleting one user's rows from a
    key-scattered table costs one small file write, where a position
    delete would pay a full detection scan and a COW delete a region
    rewrite. The read-side anti-join broadcasts (key batches are small
    by design); ``compact_table`` materializes outstanding equality
    deletes exactly like position vectors.

    ``values``: a DataFrame whose columns are the equality columns
    (a subset of the table schema, exact type match); NULL key values
    are refused loudly (SQL equality never matches NULL — a NULL tuple
    could silently delete nothing while looking committed).

    The commit records the delete's exact LOGICAL matched-row count
    (one semi-join job — the only scan this path pays, and it keeps
    ``snapshot_row_count`` a pure metadata read). Stacked deletes never
    double-count: each count is computed on the logical view with every
    earlier vector applied. Metadata aggregates (min/max, sums,
    partition rollups) REFUSE to the scan under outstanding equality
    deletes rather than guess."""
    parent = latest_version(root)
    m = read_manifest(root, parent)
    schema = StructType.fromJson(json.loads(m["schema"]))
    cols = list(values.columns)
    if not cols:
        raise ValueError("delete_eq: no equality columns")
    for c in cols:
        if _canon_col(schema, c) != c:
            raise ValueError(
                f"delete_eq: column {c!r} is not a table column "
                "(exact-case match required — the read-side anti-join "
                "binds by name)"
            )
    _check_column_types(values, schema, "delete_eq")
    any_null = F.col(cols[0]).isNull()
    for c in cols[1:]:
        any_null = any_null | F.col(c).isNull()
    null_keys = values.where(any_null).limit(1).count()
    if null_keys:
        raise ValueError(
            "delete_eq: NULL key values are refused (SQL equality never "
            "matches NULL — the tuple would silently delete nothing)"
        )
    meta = {
        **_carry_meta(m),
        **({"dv": m["dv"]} if m.get("dv") else {}),
        **({"eq": m["eq"]} if m.get("eq") else {}),
    }
    if not m["files"]:
        return _commit(root, "delete-eq", [], m["schema"], parent, meta)
    vals = values.dropDuplicates()
    if not vals.limit(1).count():
        # An empty key set (e.g. a GDPR batch that filtered to zero rows)
        # deletes nothing — committing a degenerate eq entry would flip
        # the whole table into eq-refusal mode (metadata aggregates
        # refuse, COW mutators raise) until a full compaction. Return
        # the parent version untouched instead: a no-op delete must not
        # degrade the table's operational mode.
        return parent
    eq_files = _write_commit_files(
        vals.repartition(1), root, f"eq{parent + 1:06d}"
    )
    matched = (
        _read_logical(
            spark, root, m["files"], schema, m.get("dv"), m.get("eq")
        )
        .join(F.broadcast(vals), on=cols, how="left_semi")
        .count()
    )
    entry = {
        "file": eq_files[0],
        "cols": cols,
        "applies_to": list(m["files"]),
        "matched": int(matched),
    }
    return _commit(
        root, "delete-eq", m["files"], m["schema"], parent,
        {**meta, "eq": meta.get("eq", []) + [entry]},
    )


def overwrite(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    extra: dict | None = None,
) -> int:
    """INSERT OVERWRITE as a commit: the new version's file list is ONLY
    ``df``'s freshly written files — no parent file carries over. The
    parent version stays fully readable (its files are untouched until
    vacuum), so an overwrite is as time-travel-safe as an append. This is
    the full-state-replace primitive materialized views need: the
    streaming IVM loop (streaming/ivm.py) commits each refreshed view
    state as one atomic overwrite version. Creates the table if absent."""
    meta = {}
    spec = None
    try:
        parent = latest_version(root)
        m = read_manifest(root, parent)
        spec = m.get("partition_spec")
        _validate_constraints(df, m.get("constraints"))
        meta = _carry_meta(m)
        # a full-state replace leaves no old bytes: dropped-column
        # tombstones are moot (same rule as compact_table's full
        # rewrite) — carrying them would force a pointless compaction
        # before a re-add
        meta.pop("dropped_cols", None)
        # overwrite replaces the table: only INTERNAL uniqueness applies
        _validate_unique(spark, root, {**m, "files": []}, df)
    except FileNotFoundError:
        parent = create_table(root, df.schema)
    if spec:
        # overwrite replaces the SCHEMA too — data missing a spec column
        # must not silently orphan the spec
        lowered = {c.lower() for c in df.columns}
        missing = [
            f["col"] for f in spec["fields"]
            if f["col"].lower() not in lowered
        ]
        if missing:
            raise ValueError(
                f"overwrite: partition-spec columns {missing} absent from "
                "the new data; drop_partition_spec first"
            )
    new, parts = _write_files(df, root, f"c{parent + 1:06d}", spec)
    return _commit(
        root, "overwrite", new, df.schema.json(), parent,
        {**meta, "partitions": parts, **(extra or {})},
    )


def _cow_delete(
    spark: SparkSession,
    root: str,
    m: dict,
    predicate,
    tag: str,
    op: str,
    scan_predicates: list | None = None,
) -> tuple[list[str], int]:
    """Copy-on-write delete over manifest ``m``'s files (a version or a
    branch head): one distributed scan finds the files holding a match
    (NULL predicate = no match); the rest carry over by reference, and
    only the affected files are read again and rewritten under ``tag``
    without the matching rows. ``scan_predicates`` first prune the
    detection scan by the manifest's per-file min/max stats
    (``delete_where``'s contract). Returns (the new file list, candidate
    files scanned)."""
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    hit = F.coalesce(pred, F.lit(False))
    schema = StructType.fromJson(json.loads(m["schema"]))
    candidates = list(m["files"])
    if scan_predicates:
        keep = _manifest_keep(m, scan_predicates)
        candidates = [f for f in candidates if keep(f)]
    if not candidates:
        return list(m["files"]), 0
    scan = spark.read.schema(schema).parquet(
        *[os.path.join(root, f) for f in candidates]
    )
    affected = _touched_files(
        root, scan.where(hit).select("_metadata.file_path")
    )
    carried = [f for f in m["files"] if f not in affected]
    rewrite = [f for f in m["files"] if f in affected]
    if affected and not rewrite:
        raise RuntimeError(
            f"{op}: scan found matches in {sorted(affected)[:3]} "
            "but none resolved to a manifest file — path normalization bug, "
            "refusing to commit a no-op delete"
        )
    if not rewrite:
        return carried, len(candidates)
    kept_rows = (
        spark.read.schema(schema)
        .parquet(*[os.path.join(root, f) for f in rewrite])
        .where(~hit)
    )
    return (
        carried + _write_commit_files(kept_rows, root, tag),
        len(candidates),
    )


def delete_where(
    spark: SparkSession,
    root: str,
    predicate,
    scan_predicates: list | None = None,
) -> int:
    """Copy-on-write delete at file granularity: files with NO matching
    row carry over by reference; files WITH matches are rewritten without
    the matching rows (NULL predicate = no match, SQL DELETE semantics).
    One distributed scan finds the affected files; only their rows are
    read again for the rewrite.

    ``scan_predicates`` (planner ``Range``/``Eq``/``In`` objects) bounds
    even that detection scan: per-file min/max stats prune the candidate
    set first, so on a z-ordered/partitioned layout the WHOLE delete —
    detection and rewrite — costs ∝ the affected region, never the table.
    CONTRACT: every delete-predicate match must satisfy the scan
    predicates (they describe where matches can live); a file pruned by
    them is treated as match-free. The commit records the pruning
    (``scan_candidates``/``scanned``) for audit."""
    parent = latest_version(root)
    m = read_manifest(root, parent)
    _require_no_dv(m, "delete_where")
    if not m["files"]:
        return _commit(root, "delete", [], m["schema"], parent, _carry_meta(m))
    files, n_candidates = _cow_delete(
        spark, root, m, predicate, f"c{parent + 1:06d}", "delete_where",
        scan_predicates,
    )
    return _commit(
        root, "delete", files, m["schema"], parent,
        {**_carry_meta(m), "scan_candidates": n_candidates,
         "scanned": len(m["files"])},
    )


def _merge_candidates(
    m: dict,
    source: DataFrame,
    keys: list[str],
    op: str,
    prune_by_key_range: bool,
) -> list[str]:
    """The one source-key probe of both MERGE paths, so the check and
    the prune can never diverge between them. One observed pass
    (``_key_probe``) refuses duplicate source keys (the standard MERGE
    cardinality rule) and yields the source's key envelope; with
    ``prune_by_key_range`` the files whose manifest key stats miss that
    envelope are dropped from the detection scan — exact with no caller
    contract, since a file whose envelope misses every source key
    cannot hold a match. Returns the candidate files."""
    probe = _key_probe(source.select(*keys), list(keys))
    if probe["dup"]:
        raise ValueError(f"{op}: source has duplicate merge keys")
    if not prune_by_key_range:
        return list(m["files"])
    keep = _manifest_keep(m, probe["ranges"], encoded=True)
    return [f for f in m["files"] if keep(f)]


def merge_into(
    spark: SparkSession,
    root: str,
    source: DataFrame,
    keys: list[str],
    prune_by_key_range: bool = True,
    allow_evolution: bool = False,
) -> int:
    """MERGE INTO head USING ``source`` ON ``keys`` — WHEN MATCHED UPDATE
    ALL, WHEN NOT MATCHED INSERT ALL — as one copy-on-write commit.

    File-granular COW, the lakehouse-format mechanic: ONE distributed
    semi-join on the keys finds the files holding matched rows; those
    files are rewritten as (their rows MINUS matched) ∪ (ALL source
    rows) — each source row either updates a matched target row or is an
    insert, so the union is exactly the merged content of the affected
    region — and every untouched file carries over by reference. This is
    ``operators/merge.py::merge_upsert``'s logical semantics lifted onto
    the commit log: same anti-join ∪ source shape, but the rewrite
    touches only affected files instead of the whole table, and history
    keeps the pre-merge version readable.

    ``prune_by_key_range`` (default on) bounds even the detection
    semi-join: the SOURCE's own key min/max intersected with the
    manifest's per-file key stats prunes the files scanned for matches
    — derived from the data, so it needs no caller contract and is
    always exact (a file whose key envelope misses every source key
    cannot hold a match). On a key-clustered layout the whole merge
    costs ∝ the source's key range. The commit records
    ``scan_candidates``/``scanned`` for audit.

    Contract: ``source`` has the table's columns and at most one row per
    key (the standard MERGE cardinality rule — two source rows for one
    target key would make the update ambiguous; enforced with a loud
    error). The duplicate check and the key envelope share one observed
    pass over the source's keys (``_merge_candidates``), and the
    affected files come from one observed pass over the semi-join."""
    parent = latest_version(root)
    m = read_manifest(root, parent)
    _require_no_dv(m, "merge_into")
    schema = StructType.fromJson(json.loads(m["schema"]))
    tbl_cols = {f.name for f in schema.fields}
    schema_json_out = m["schema"]
    if set(source.columns) != tbl_cols:
        # Add-column MERGE evolution (opt-in): source-only columns join
        # the table schema; no existing file is rewritten for it — old
        # files surface the new columns as NULL under the manifest
        # schema, exactly like append's allow_evolution. Source must
        # still cover every existing column (WHEN MATCHED UPDATE ALL
        # with a partial source would be ambiguous — loud error).
        if not (allow_evolution and set(source.columns) > tbl_cols):
            raise ValueError(
                f"merge_into: source columns {sorted(source.columns)} != "
                f"table columns {sorted(f.name for f in schema.fields)}"
                + ("" if allow_evolution
                   else "; pass allow_evolution=True to add columns")
            )
        evolved = StructType(list(schema.fields))
        for f_ in source.schema.fields:
            if f_.name not in tbl_cols:
                evolved.add(f_)
        schema_json_out = evolved.json()
    else:
        evolved = schema
    source = source.select(*[f.name for f in evolved.fields])
    _check_column_types(source, schema, "merge_into")
    _validate_constraints(source, m.get("constraints"))
    candidates = _merge_candidates(
        m, source, keys, "merge_into", prune_by_key_range
    )
    if not m["files"]:
        new = _write_commit_files(source, root, f"c{parent + 1:06d}")
        return _commit(
            root, "merge", new, schema_json_out, parent, _carry_meta(m)
        )
    affected = set()
    if candidates:
        scan = spark.read.schema(schema).parquet(
            *[os.path.join(root, f) for f in candidates]
        )
        affected = _touched_files(
            root,
            scan.select(
                F.col("_metadata.file_path").alias("file_path"), *keys
            )
            .join(source.select(*keys), on=keys, how="left_semi")
            .select("file_path"),
        )
    carried = [f for f in m["files"] if f not in affected]
    rewrite = [f for f in m["files"] if f in affected]
    if affected and not rewrite:
        raise RuntimeError(
            "merge_into: matched files did not resolve to manifest entries"
        )
    region = (
        spark.read.schema(schema)
        .parquet(*[os.path.join(root, f) for f in rewrite])
        if rewrite
        else spark.createDataFrame([], schema)
    )
    merged = region.join(source.select(*keys), on=keys, how="left_anti")
    for f_ in evolved.fields:  # null-fill evolved columns in the region
        if f_.name not in tbl_cols:
            merged = merged.withColumn(
                f_.name, F.lit(None).cast(f_.dataType)
            )
    merged = merged.select(*source.columns).unionByName(source)
    uniq_meta: dict = {}
    if m.get("unique_keys"):
        # the rewritten region ∪ source must hold the UNIQUE contract
        # internally AND against the carried files: a merge keyed on
        # non-unique-key columns can otherwise insert colliding keys
        # that a plain append would have rejected
        uniq_meta = _validate_unique(
            spark, root, {**m, "files": carried}, merged
        )
    new = _write_commit_files(merged, root, f"c{parent + 1:06d}")
    return _commit(
        root, "merge", carried + new, schema_json_out, parent,
        {**_carry_meta(m), **uniq_meta,
         "scan_candidates": len(candidates),
         "scanned": len(m["files"])},
    )


def _merge_decision(matched_clauses: list) -> "Column":
    """The ``__dec`` expression for one (target ``t``) × (source ``s``)
    joined row: the index of the FIRST matched clause whose condition
    holds (SQL MERGE's first-match-wins clause order), or -1 when no
    clause fires — the row carries unchanged. Conditions are SQL strings
    over the aliases ``t`` (target) and ``s`` (source); a NULL condition
    value means not-satisfied (SQL three-valued logic), and a None
    condition means unconditional. Unmatched rows (NULL ``__s_matched``
    marker after the left join) are always -1."""
    chain = None
    for i, (_action, cond) in enumerate(matched_clauses):
        c = (
            F.lit(True)
            if cond is None
            else F.coalesce(
                F.expr(cond) if isinstance(cond, str) else cond,
                F.lit(False),
            )
        )
        chain = (
            F.when(c, F.lit(i)) if chain is None else chain.when(c, F.lit(i))
        )
    if chain is None:
        return F.lit(-1)
    return F.when(
        F.coalesce(F.col("__s_matched"), F.lit(False)),
        chain.otherwise(F.lit(-1)),
    ).otherwise(F.lit(-1))


def _by_source_decision(by_source_clauses: list) -> "Column":
    """The ``__bs`` expression: index of the FIRST not-matched-BY-SOURCE
    clause whose condition holds, for target rows with NO source match
    (NULL ``__s_matched`` after the left join); matched rows are always
    -1. Conditions are SQL strings over alias ``t`` only (there is no
    source row — per the SQL standard ``s.*`` is out of scope; here it
    would evaluate to NULL → not-satisfied). None = unconditional."""
    chain = None
    for i, clause in enumerate(by_source_clauses):
        cond = clause[1]
        c = (
            F.lit(True)
            if cond is None
            else F.coalesce(
                F.expr(cond) if isinstance(cond, str) else cond,
                F.lit(False),
            )
        )
        chain = (
            F.when(c, F.lit(i)) if chain is None else chain.when(c, F.lit(i))
        )
    if chain is None:
        return F.lit(-1)
    return F.when(
        F.col("__s_matched").isNull(), chain.otherwise(F.lit(-1))
    ).otherwise(F.lit(-1))


def merge_into_conditional(
    spark: SparkSession,
    root: str,
    source: DataFrame,
    keys: list[str],
    matched_clauses: list[tuple[str, str | None]],
    not_matched_insert: bool = True,
    insert_condition: str | None = None,
    prune_by_key_range: bool = True,
    by_source_clauses: list | None = None,
) -> int:
    """MERGE INTO with per-clause conditions — the general SQL MERGE
    shape the unconditional ``merge_into`` refuses — as one file-granular
    copy-on-write commit. The reference's dedup-upsert lineage
    (``PioneerOnlineNewsDedupe.scala:114-121``, keep-newest-by-timestamp
    over a composite key) is exactly a ``WHEN MATCHED AND s.ts > t.ts
    THEN UPDATE`` merge.

    ``matched_clauses`` is an ORDERED list of ``(action, condition)``
    with action ``'update'`` (UPDATE SET * — the source row replaces the
    target row) or ``'delete'``; condition is a SQL string over aliases
    ``t`` (target row) and ``s`` (matched source row) or None for
    unconditional. Per the SQL standard the FIRST satisfied clause wins;
    a matched row satisfying none carries unchanged.
    ``not_matched_insert``/``insert_condition``: WHEN NOT MATCHED [AND
    cond] THEN INSERT * — the condition sees source columns (alias
    ``s``).

    ``by_source_clauses``: ordered WHEN NOT MATCHED BY SOURCE clauses —
    target rows whose key has NO source match (the set-difference side
    of MERGE; the canonical "sync table to snapshot" shape, and the
    set-difference analog of the reference's dedup-prune lineage:
    ``PioneerOnlineNewsDedupe.scala:114-121`` drops stale prior-state
    rows absent from the fresh batch). Each entry is ``('delete',
    cond)`` or ``('update', cond, assignments)`` where ``assignments``
    maps target column → SQL expression over alias ``t`` ONLY (there is
    no source row; per the SQL standard ``s.*`` is out of scope —
    references to it evaluate to NULL here). First satisfied clause
    wins; an unmatched target row satisfying none carries unchanged.

    BY-SOURCE flips the DETECTION shape: key-range pruning is valid
    only for matched clauses (files OUTSIDE the source key envelope are
    precisely the ones full of BY-SOURCE candidates), so a second
    detection pass anti-joins every file's keys against the source and
    marks files holding a firing unmatched row. That pass scans all
    files' key columns once — inherent to the operator's semantics
    (every file may hold stale rows), but it ships only (file, keys)
    through the join and rewrites only firing files.

    Scale shape (the part naive row-level MERGE gets wrong at 100 TB):

    - detection is CLAUSE-AWARE — a file rewrites only when some matched
      row actually FIRES a clause, so a merge whose condition rarely
      holds (keep-newest with mostly-stale sources) rewrites almost
      nothing even when every key matches;
    - ``prune_by_key_range`` bounds the detection join by the source's
      own key envelope vs the manifest's per-file min/max (files
      outside the envelope cannot hold a match — exact, no caller
      contract);
    - untouched files carry by reference; the pre-merge version stays
      readable (time travel).

    Contract: ``source`` has exactly the table's columns (no evolution
    on the conditional path — loud error) and at most one row per key
    (standard MERGE cardinality rule)."""
    for action, _ in matched_clauses:
        if action not in ("update", "delete"):
            raise ValueError(
                f"merge_into_conditional: unknown matched action "
                f"{action!r} (update / delete)"
            )
    bs_clauses = list(by_source_clauses or [])
    for clause in bs_clauses:
        action = clause[0]
        if action == "delete":
            if len(clause) != 2:
                raise ValueError(
                    "merge_into_conditional: BY SOURCE delete clause is "
                    "('delete', cond)"
                )
        elif action == "update":
            if len(clause) != 3 or not isinstance(clause[2], dict) \
                    or not clause[2]:
                raise ValueError(
                    "merge_into_conditional: BY SOURCE update clause is "
                    "('update', cond, {col: sql_expr}) with at least "
                    "one assignment"
                )
        else:
            raise ValueError(
                f"merge_into_conditional: unknown BY SOURCE action "
                f"{action!r} (update / delete)"
            )
    if not matched_clauses and not not_matched_insert and not bs_clauses:
        raise ValueError(
            "merge_into_conditional: no clauses at all — nothing to do"
        )
    parent = latest_version(root)
    m = read_manifest(root, parent)
    _require_no_dv(m, "merge_into_conditional")
    schema = StructType.fromJson(json.loads(m["schema"]))
    tbl_cols = [f.name for f in schema.fields]
    if set(source.columns) != set(tbl_cols):
        raise ValueError(
            f"merge_into_conditional: source columns "
            f"{sorted(source.columns)} != table columns {sorted(tbl_cols)}"
        )
    source = source.select(*tbl_cols)
    for clause in bs_clauses:
        if clause[0] == "update":
            for c in clause[2]:
                if c not in tbl_cols:
                    raise ValueError(
                        f"merge_into_conditional: BY SOURCE update "
                        f"assigns unknown column {c!r}"
                    )
    _check_column_types(source, schema, "merge_into_conditional")
    _validate_constraints(source, m.get("constraints"))
    candidates = _merge_candidates(
        m, source, keys, "merge_into_conditional", prune_by_key_range
    )
    audit_base = {"matched_clauses": [a for a, _ in matched_clauses],
                  "insert": bool(not_matched_insert),
                  **({"by_source_clauses": [c[0] for c in bs_clauses]}
                     if bs_clauses else {})}
    if not m["files"]:
        ins = source
        if not_matched_insert and insert_condition is not None:
            ins = ins.alias("s").where(
                F.coalesce(F.expr(insert_condition), F.lit(False))
            )
        if not not_matched_insert:
            ins = spark.createDataFrame([], schema)
        new = _write_commit_files(ins, root, f"c{parent + 1:06d}")
        return _commit(root, "merge", new, m["schema"], parent,
                       {**_carry_meta(m), **audit_base})
    srcm = source.withColumn("__s_matched", F.lit(True))

    def _key_cond():
        cond = None
        for k in keys:
            e = F.col(f"t.{k}") == F.col(f"s.{k}")
            cond = e if cond is None else cond & e
        return cond

    # clause-aware detection: only files where a matched row FIRES a
    # clause need rewriting (an inner join — unmatched rows can't fire)
    affected: set = set()
    if candidates and matched_clauses:
        cand_scan = spark.read.schema(schema).parquet(
            *[os.path.join(root, f) for f in candidates]
        ).select(F.col("_metadata.file_path").alias("__fp"), *tbl_cols)
        det = (
            cand_scan.alias("t")
            .join(srcm.alias("s"), _key_cond(), "inner")
            .select(
                F.col("t.__fp").alias("__fp"),
                _merge_decision(matched_clauses).alias("__dec"),
            )
            .where(F.col("__dec") != -1)
        )
        affected = _touched_files(root, det.select("__fp"))
    if bs_clauses:
        # BY-SOURCE detection: key-range pruning is INVALID here (files
        # outside the source envelope are exactly the BY-SOURCE-rich
        # ones), so anti-join EVERY file's keys against the source and
        # keep files holding an unmatched row that fires some clause.
        # Conditions are over alias ``t`` only — a source reference
        # fails loudly at analysis (no ``s`` in scope on this path).
        bs_fire = None
        for clause in bs_clauses:
            cond = clause[1]
            c = (
                F.lit(True)
                if cond is None
                else F.coalesce(
                    F.expr(cond) if isinstance(cond, str) else cond,
                    F.lit(False),
                )
            )
            bs_fire = c if bs_fire is None else (bs_fire | c)
        all_scan = spark.read.schema(schema).parquet(
            *[os.path.join(root, f) for f in m["files"]]
        ).select(F.col("_metadata.file_path").alias("__fp"), *tbl_cols)
        bs_det = (
            all_scan
            .join(source.select(*keys), keys, "left_anti")
            .alias("t")
            .where(bs_fire)
        )
        affected |= _touched_files(root, bs_det.select("__fp"))
    carried = [f for f in m["files"] if f not in affected]
    rewrite = [f for f in m["files"] if f in affected]
    if affected and not rewrite:
        raise RuntimeError(
            "merge_into_conditional: fired files did not resolve to "
            "manifest entries — path normalization bug, refusing"
        )

    upd_idx = [i for i, (a, _) in enumerate(matched_clauses)
               if a == "update"]
    del_idx = [i for i, (a, _) in enumerate(matched_clauses)
               if a == "delete"]
    bs_upd = [(i, clause[2]) for i, clause in enumerate(bs_clauses)
              if clause[0] == "update"]
    bs_del_idx = [i for i, clause in enumerate(bs_clauses)
                  if clause[0] == "delete"]
    parts: list[DataFrame] = []
    if rewrite:
        region = spark.read.schema(schema).parquet(
            *[os.path.join(root, f) for f in rewrite]
        )
        j = (
            region.alias("t")
            .join(srcm.alias("s"), _key_cond(), "left_outer")
            .select(
                _merge_decision(matched_clauses).alias("__dec"),
                _by_source_decision(bs_clauses).alias("__bs"),
                *[F.col(f"t.{c}").alias(f"__t_{c}") for c in tbl_cols],
                *[F.col(f"s.{c}").alias(f"__s_{c}") for c in tbl_cols],
                # BY-SOURCE update assignments are SQL over alias ``t``
                # — evaluate them HERE, while the alias is in scope;
                # cast to the declared column type (MERGE never evolves
                # the table schema on the conditional path)
                *[
                    F.expr(assign[c]).cast(schema[c].dataType)
                    .alias(f"__bsu_{i}_{c}")
                    for i, assign in bs_upd
                    for c in assign
                ],
            )
        )
        if del_idx:
            j = j.where(~F.col("__dec").isin(del_idx))
        if bs_del_idx:
            j = j.where(~F.col("__bs").isin(bs_del_idx))
        is_upd = (
            F.col("__dec").isin(upd_idx) if upd_idx else F.lit(False)
        )

        def _out_col(c: str) -> "Column":
            chain = F.when(is_upd, F.col(f"__s_{c}"))
            for i, assign in bs_upd:
                if c in assign:
                    chain = chain.when(
                        F.col("__bs") == i, F.col(f"__bsu_{i}_{c}")
                    )
            return chain.otherwise(F.col(f"__t_{c}")).alias(c)

        parts.append(j.select(*[_out_col(c) for c in tbl_cols]))
    if not_matched_insert:
        # a source row key-matching ANY target row is matched, never an
        # insert — anti-join against every candidate file's keys (files
        # outside the source's key envelope cannot hold its keys)
        if candidates:
            tgt_keys = spark.read.schema(schema).parquet(
                *[os.path.join(root, f) for f in candidates]
            ).select(*keys)
            ins = source.join(tgt_keys, on=keys, how="left_anti")
        else:
            ins = source
        if insert_condition is not None:
            ins = ins.alias("s").where(
                F.coalesce(F.expr(insert_condition), F.lit(False))
            )
        parts.append(ins.select(*tbl_cols))
    audit = {
        **_carry_meta(m), **audit_base,
        "scan_candidates": len(candidates),
        "scanned": len(m["files"]),
    }
    if not parts:
        return _commit(root, "merge", carried, m["schema"], parent, audit)
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    uniq_meta: dict = {}
    if m.get("unique_keys"):
        uniq_meta = _validate_unique(
            spark, root, {**m, "files": carried}, merged
        )
    new = _write_commit_files(merged, root, f"c{parent + 1:06d}")
    return _commit(
        root, "merge", carried + new, m["schema"], parent,
        {**audit, **uniq_meta},
    )


def compact_table(
    spark: SparkSession,
    root: str,
    target_bytes: int,
    zorder_cols: list[str] | None = None,
    bits: int = 8,
    n_files: int | None = None,
) -> int:
    """Commit a compacted LAYOUT of the head version: identical row
    multiset, fewer files (~``target_bytes`` each, next-fit over the
    manifest's byte sizes; ``n_files`` overrides the byte-derived count).
    Old versions keep reading the old files — compaction behind the write
    frontier never disturbs a reader.

    With ``zorder_cols`` this is OPTIMIZE ZORDER: rows are laid out along
    the stride-n Morton curve of those columns
    (``layout.py::cluster_zorder`` — equal-frequency buckets, fact
    table never shuffles for its bucket keys) via ONE range shuffle, so
    every column's per-file min/max envelope tightens at once and a
    subsequent ``plan_snapshot_scan`` prunes on all of them — the layout
    service and the table format composed."""
    parent = latest_version(root)
    m = read_manifest(root, parent)
    if not m["files"]:
        return _commit(root, "compact", [], m["schema"], parent, _carry_meta(m))
    if n_files is None:
        sizes = m.get("sizes") or {}
        # the manifest already carries per-file bytes — one stat round
        # trip per file on an object store is pure waste; getsize only
        # backfills pre-stats manifests — skipped entirely under a spec,
        # whose per-tuple layout ignores n_files/target_bytes
        total = 0 if m.get("partition_spec") else sum(
            sizes.get(f) or os.path.getsize(os.path.join(root, f))
            for f in m["files"]
        )
        n_files = max(1, -(-total // int(target_bytes)))
    rows = read_snapshot(spark, root, parent)
    meta = _carry_meta(m)
    # a full rewrite physically sheds dropped columns: clear tombstones
    meta.pop("dropped_cols", None)
    spec = m.get("partition_spec")
    if spec:
        # under a spec, compaction = rewrite the WHOLE state to the
        # CURRENT spec's canonical layout (one file per partition tuple)
        # — tuples survive maintenance, pre-spec and rewrite-orphaned
        # files get tuples for the first time, and earlier-spec files
        # migrate. This is the table formats' rewrite-data-files;
        # per-tuple file sizing is a spec-design choice, so
        # target_bytes/n_files do not apply on this path. With
        # ``zorder_cols`` rows are z-sorted WITHIN each tuple's file
        # (per-partition OPTIMIZE ZORDER: tuple pruning picks files,
        # tightened row-group stats prune inside them).
        new, parts = _write_files(
            rows, root, f"c{parent + 1:06d}", spec,
            zorder_cols=zorder_cols, bits=bits,
        )
        return _commit(
            root,
            "compact-spec-zorder" if zorder_cols else "compact-spec",
            new, m["schema"], parent,
            {**meta, "partitions": parts},
        )
    if zorder_cols:
        from telemetry_parquet_spark.sources.layout import cluster_zorder

        rows = cluster_zorder(rows, zorder_cols, n_files, bits)
        action = "compact-zorder"
    else:
        rows = rows.repartition(n_files)
        action = "compact"
    new = _write_commit_files(rows, root, f"c{parent + 1:06d}")
    return _commit(root, action, new, m["schema"], parent, meta)


def compact_where(
    spark: SparkSession,
    root: str,
    scan_predicates: list,
    target_bytes: int,
    zorder_cols: list[str] | None = None,
    bits: int = 8,
) -> int:
    """Region-scoped OPTIMIZE: compact (optionally z-order) ONLY the
    files whose manifest stats envelope intersects ``scan_predicates``
    (planner ``Range``/``Eq``/``In``); every other file carries by
    reference. The maintenance analog of the planner's pruned scan — on
    a partitioned/clustered layout, compacting yesterday's hot region
    costs ∝ that region, never the table. Identical row multiset by
    construction (stats pruning is conservative: a file that COULD hold
    matching rows is included in the rewrite verbatim, rows are never
    filtered)."""
    parent = latest_version(root)
    m = read_manifest(root, parent)
    _require_no_dv(m, "compact_where")
    if not m["files"]:
        return _commit(
            root, "compact-where", [], m["schema"], parent, _carry_meta(m)
        )
    _, plan = plan_snapshot_scan(spark, root, scan_predicates, parent)
    region = {os.path.relpath(f, root) for f in plan.files}
    carried = [f for f in m["files"] if f not in region]
    if not region:
        return _commit(
            root, "compact-where", carried, m["schema"], parent,
            {**_carry_meta(m), "region_files": 0},
        )
    schema = StructType.fromJson(json.loads(m["schema"]))
    rows = spark.read.schema(schema).parquet(
        *[os.path.join(root, f) for f in sorted(region)]
    )
    spec = m.get("partition_spec")
    if spec:
        # region rewrite under a spec: the rewritten files come back
        # re-tupled under the CURRENT spec (compact_table's
        # rewrite-data-files rule, scoped to the region; zorder_cols
        # z-sort WITHIN each tuple's file); carried files keep their
        # entries through _commit
        new, parts = _write_files(
            rows, root, f"c{parent + 1:06d}", spec,
            zorder_cols=zorder_cols, bits=bits,
        )
        extra = {"partitions": parts}
    else:
        sizes = m.get("sizes") or {}
        total = sum(
            sizes.get(f) or os.path.getsize(os.path.join(root, f))
            for f in region
        )
        n_files = max(1, -(-total // int(target_bytes)))
        if zorder_cols:
            from telemetry_parquet_spark.sources.layout import cluster_zorder

            rows = cluster_zorder(rows, zorder_cols, n_files, bits)
        else:
            rows = rows.repartition(n_files)
        new = _write_commit_files(rows, root, f"c{parent + 1:06d}")
        extra = {}
    return _commit(
        root, "compact-where", carried + new, m["schema"], parent,
        {**_carry_meta(m), "region_files": len(region), **extra},
    )


def alter_drop_column(root: str, name: str) -> int:
    """ALTER TABLE DROP COLUMN as a PURE metadata commit: the manifest
    schema narrows; no data file is rewritten (parquet readers project by
    name, so the physical column simply stops being read — the bytes are
    reclaimed at the next compaction rewrite). Refuses when a CHECK
    constraint or UNIQUE key references the column."""
    parent = latest_version(root)
    m = read_manifest(root, parent)
    schema = StructType.fromJson(json.loads(m["schema"]))
    if name not in {f.name for f in schema.fields}:
        raise ValueError(f"no column '{name}'")
    if len(schema.fields) == 1:
        raise ValueError("cannot drop the last column")
    import re as _re

    for cname, expr in (m.get("constraints") or {}).items():
        if _re.search(rf"\b{_re.escape(name)}\b", expr):
            raise ValueError(
                f"column '{name}' is referenced by CHECK constraint "
                f"'{cname}'; drop the constraint first"
            )
    for uname, ucols in (m.get("unique_keys") or {}).items():
        if name in ucols:
            raise ValueError(
                f"column '{name}' is part of UNIQUE key '{uname}'; drop "
                "the constraint first"
            )
    spec = m.get("partition_spec")
    if spec and any(
        fd["col"].lower() == name.lower() for fd in spec["fields"]
    ):
        # without this, every later append/overwrite/compact dies inside
        # validate_spec with a generic "column not in table schema"
        raise ValueError(
            f"column '{name}' is referenced by the current partition "
            "spec; DROP PARTITION SPEC first"
        )
    for e in m.get("eq", []) or []:
        if name in e["cols"]:
            # dropping an eq key column would make EVERY later read
            # (and the materializing compaction) fail resolving the
            # anti-join key — a bricked table, not a metadata nicety
            raise ValueError(
                f"column '{name}' is a key of an outstanding equality "
                "delete; run compact_table to materialize it first"
            )
    narrowed = StructType(
        [f for f in schema.fields if f.name != name]
    )
    meta = {**_carry_meta(m), **({"dv": m["dv"]} if m.get("dv") else {}),
        **({"eq": m["eq"]} if m.get("eq") else {})}
    # tombstone: the physical bytes survive in old files, so re-adding
    # the same name is refused until a full compaction rewrites them
    meta["dropped_cols"] = sorted(
        set(m.get("dropped_cols", [])) | {name}
    )
    # the eq-delete-capability declaration is safe to PRUNE (unlike the
    # outstanding-eq refusal above): leaving the dropped name declared
    # would keep advertising the metadata-delete route over a column
    # that no longer resolves
    if name in (meta.get("eq_delete_cols") or []):
        kept = [c for c in meta["eq_delete_cols"] if c != name]
        if kept:
            meta["eq_delete_cols"] = kept
        else:
            meta.pop("eq_delete_cols", None)
    return _commit(
        root, "drop-column", m["files"], narrowed.json(), parent, meta
    )


def version_as_of(root: str, ts: float) -> int:
    """AS OF TIMESTAMP: the newest version committed at or before ``ts``
    (commit times are stamped into manifests at the linearization point).
    Raises if the table did not exist yet at ``ts``."""
    best = None
    for v in _list_versions(root):
        if read_manifest(root, v)["committed_at"] <= ts:
            best = v
    if best is None:
        raise FileNotFoundError(
            f"no version of {root} existed at timestamp {ts}"
        )
    return best


def commit_with_retry(fn, retries: int = 3):
    """Run a mutator under optimistic concurrency: on a commit conflict
    (another writer took the version number — ``FileExistsError`` from
    the O_EXCL linearization point) re-invoke ``fn`` so it re-reads the
    new head and re-derives its commit against it. ``fn`` must be a
    closure over (spark, root, …) that performs ONE mutator call; its
    work before the commit is recomputed per attempt by design — that is
    what makes the retry correct against the moved head."""
    for attempt in range(retries + 1):
        try:
            return fn()
        except FileExistsError:
            if attempt == retries:
                raise
    raise AssertionError("unreachable")


def set_eq_delete_cols(root: str, cols: list[str]) -> int:
    """Declare which columns SQL ``DELETE`` may route to METADATA-ONLY
    equality deletes (``delete_eq``) instead of a copy-on-write rewrite
    — the Iceberg-v2 ``identifier-fields`` analog. A pure metadata
    commit; the declaration is carried by every later commit (including
    compaction — it is a capability, not delete state). The SQL front
    door routes ``DELETE FROM t WHERE <conjunction of col = lit /
    col IN (…)>`` through ``delete_eq`` only when every referenced
    column is declared here; anything else keeps the COW path. Declare
    the columns GDPR-ish point deletes key on (user/account ids) — the
    read-side anti-join broadcasts the key batches, so they should be
    selective. An empty list clears the declaration.

    OPERATIONAL INTERPLAY (declaring is consenting to it): a routed
    DELETE commits an OUTSTANDING equality-delete key set, and while
    any is outstanding every COW mutator (copy-on-write DELETE/UPDATE,
    MERGE, staging, branching) REFUSES loudly until ``compact_table``
    materializes the vectors — the same contract as calling
    ``delete_eq`` directly. Tables that interleave point deletes with
    COW DML should schedule compaction between them (the refusal
    message says exactly that); EXPLAIN DELETE reports the route
    before anything commits."""
    parent = latest_version(root)
    m = read_manifest(root, parent)
    schema = StructType.fromJson(json.loads(m["schema"]))
    canon = []
    for c in cols:
        cc = _canon_col(schema, c)
        if cc is None:
            raise ValueError(
                f"set_eq_delete_cols: column {c!r} not in table schema"
            )
        canon.append(cc)
    if len(set(canon)) != len(canon):
        raise ValueError("set_eq_delete_cols: duplicate columns")
    meta = {
        **_carry_meta(m),
        **({"dv": m["dv"]} if m.get("dv") else {}),
        **({"eq": m["eq"]} if m.get("eq") else {}),
    }
    if canon:
        meta["eq_delete_cols"] = canon
    else:
        meta.pop("eq_delete_cols", None)
    return _commit(
        root, "set-eq-delete-cols", m["files"], m["schema"], parent, meta
    )


def add_check_constraint(
    spark: SparkSession, root: str, name: str, expr: str
) -> int:
    """ALTER TABLE ADD CONSTRAINT CHECK(expr) as a metadata commit: the
    HEAD data is validated once (a constraint must hold when added —
    Delta's rule), then every later ``append``/``merge_into`` validates
    only its NEW rows before committing. NULL evaluates as satisfied
    (SQL CHECK semantics)."""
    parent = latest_version(root)
    m = read_manifest(root, parent)
    constraints = dict(m.get("constraints") or {})
    if name in constraints:
        raise ValueError(f"constraint '{name}' already exists")
    _validate_constraints(
        read_snapshot(spark, root, parent), {name: expr}
    )
    constraints[name] = expr
    return _commit(
        root, "add-constraint", m["files"], m["schema"], parent,
        {
            **_carry_meta(m),
            "constraints": constraints,
            # a metadata commit must keep outstanding DVs in force —
            # dropping them would resurrect MOR-deleted rows
            **({"dv": m["dv"]} if m.get("dv") else {}),
        **({"eq": m["eq"]} if m.get("eq") else {}),
        },
    )


def alter_add_column(root: str, name: str, dtype: str) -> int:
    """ALTER TABLE ADD COLUMN as a PURE metadata commit: the manifest's
    schema widens, not one data file is touched — ``read_snapshot``
    reads every file under the manifest schema, so existing rows surface
    the new column as NULL (the same mechanism as ``append``'s
    add-column evolution, without needing any new data)."""
    from pyspark.sql.types import _parse_datatype_string

    parent = latest_version(root)
    m = read_manifest(root, parent)
    schema = StructType.fromJson(json.loads(m["schema"]))
    if name in {f.name for f in schema.fields}:
        raise ValueError(f"column '{name}' already exists")
    if name in m.get("dropped_cols", []):
        raise ValueError(
            f"column '{name}' was previously dropped and its physical "
            "bytes survive in old files; compact_table first to rewrite "
            "them, then re-add"
        )
    schema.add(name, _parse_datatype_string(dtype), True)
    return _commit(
        root, "add-column", m["files"], schema.json(), parent,
        {**_carry_meta(m), **({"dv": m["dv"]} if m.get("dv") else {}),
        **({"eq": m["eq"]} if m.get("eq") else {})},
    )


def add_unique_constraint(
    spark: SparkSession, root: str, name: str, cols: list[str]
) -> int:
    """ALTER TABLE ADD CONSTRAINT UNIQUE(cols) as a metadata commit —
    primary-key semantics: keys must be non-null and distinct. The HEAD
    data is validated once here; every later ``append`` validates its
    batch internally AND probes the parent for collisions with the scan
    bounded by manifest key-range pruning (see ``_validate_unique`` —
    cost ∝ the overlapping key region on a key-clustered layout, never
    the table). ``merge_into`` remains the upsert path; ``update_where_mor``
    refuses to SET a key column."""
    parent = latest_version(root)
    m = read_manifest(root, parent)
    uniques = dict(m.get("unique_keys") or {})
    if name in uniques:
        raise ValueError(f"unique constraint '{name}' already exists")
    head = read_snapshot(spark, root, parent)
    probe = {**m, "files": [], "unique_keys": {name: list(cols)}}
    _validate_unique(spark, root, probe, head)
    uniques[name] = list(cols)
    return _commit(
        root, "add-unique", m["files"], m["schema"], parent,
        {
            **_carry_meta(m),
            "unique_keys": uniques,
            **({"dv": m["dv"]} if m.get("dv") else {}),
        **({"eq": m["eq"]} if m.get("eq") else {}),
        },
    )


def drop_unique_constraint(root: str, name: str) -> int:
    """Remove a UNIQUE constraint (metadata-only commit)."""
    parent = latest_version(root)
    m = read_manifest(root, parent)
    uniques = dict(m.get("unique_keys") or {})
    if name not in uniques:
        raise ValueError(f"no unique constraint '{name}'")
    del uniques[name]
    meta = {**_carry_meta(m), **({"dv": m["dv"]} if m.get("dv") else {}),
        **({"eq": m["eq"]} if m.get("eq") else {})}
    meta.pop("unique_keys", None)
    if uniques:
        meta["unique_keys"] = uniques
    return _commit(
        root, "drop-unique", m["files"], m["schema"], parent, meta
    )


def drop_check_constraint(root: str, name: str) -> int:
    """Metadata-only commit removing a CHECK constraint."""
    parent = latest_version(root)
    m = read_manifest(root, parent)
    constraints = dict(m.get("constraints") or {})
    if name not in constraints:
        raise KeyError(name)
    del constraints[name]
    extra = {**_carry_meta(m), **({"dv": m["dv"]} if m.get("dv") else {}),
        **({"eq": m["eq"]} if m.get("eq") else {})}
    extra.pop("constraints", None)
    if constraints:
        extra["constraints"] = constraints
    return _commit(
        root, "drop-constraint", m["files"], m["schema"], parent, extra
    )


def restore_table(root: str, version: int) -> int:
    """RESTORE TABLE TO VERSION AS OF — rollback as a new commit: the
    head becomes ``version``'s exact state (files, schema, constraints)
    but HISTORY IS PRESERVED — the bad versions stay readable for
    forensics until vacuum expires them. Metadata-only: no data moves."""
    target = read_manifest(root, version)
    parent = latest_version(root)
    return _commit(
        root, "restore", target["files"], target["schema"], parent,
        {
            **_carry_meta(target),
            **({"dv": target["dv"]} if target.get("dv") else {}),
            **({"eq": target["eq"]} if target.get("eq") else {}),
            "restored_from": version,
        },
    )


def table_changes(
    spark: SparkSession, root: str, from_version: int, to_version: int
) -> DataFrame:
    """CDC between two versions: the head-schema rows with a ``_change``
    column ('insert' = in ``to`` but not ``from``, 'delete' = in ``from``
    but not ``to``, multiset semantics). Computed ONLY over the files the
    versions do NOT share — carried-by-reference files cancel exactly,
    so an append diffs only its new files and a pure re-layout
    (compaction, restore) diffs its rewritten region and yields EMPTY.
    An update (COW merge) appears as delete + insert, the standard
    changes-feed encoding.

    Merge-on-read deletes widen the affected region: a DV delta (vector
    files one manifest has and the other hasn't) re-includes exactly the
    data files those vectors reference — the diff then compares each
    side's LOGICAL rows (its own DVs applied) over that region, so a MOR
    delete feeds precisely the newly-deleted rows and a compaction that
    materializes DVs still cancels to empty. Cost stays file-granular:
    non-shared files plus DV-referenced files, never the table. Building
    the feed fires no job: the DV-referenced files come from the
    vectors' agg sidecars (a vector without one is scanned), and the
    diff is one lazy aggregate over both sides."""
    mf = read_manifest(root, from_version)
    mt = read_manifest(root, to_version)
    schema = StructType.fromJson(json.loads(mt["schema"]))
    f_only = [f for f in mf["files"] if f not in set(mt["files"])]
    t_only = [f for f in mt["files"] if f not in set(mf["files"])]

    dv_f, dv_t = mf.get("dv", []), mt.get("dv", [])
    dv_delta = [d for d in dv_t if d not in set(dv_f)] + [
        d for d in dv_f if d not in set(dv_t)
    ]
    # the data files a DV delta touches come from each vector's agg
    # sidecar (``per_file`` keys: exactly the files it masks rows of);
    # only a vector without a format-2 sidecar is scanned for them
    dv_touched: set[str] = set()
    unlisted = []
    for d in dv_delta:
        side = _read_dv_agg_sidecar(root, d)
        if side is None or side["per_file"] is None:
            unlisted.append(d)
        else:
            dv_touched.update(side["per_file"])
    if unlisted:
        dv_touched |= {
            r.file
            for r in read_parquet(
                spark, [os.path.join(root, d) for d in unlisted], DV_SCHEMA
            )
            .select("file")
            .distinct()
            .collect()  # driver-sized: one row per DV-affected FILE
        }
    # EQUALITY-delete deltas widen the region the same way: an eq entry
    # one side has and the other hasn't re-includes exactly its scoped
    # files; each side's logical rows then apply its OWN eq masks, so a
    # delete-eq commit feeds precisely the newly-masked rows and a
    # compaction that materializes eq deletes still cancels to empty.
    eq_f, eq_t = mf.get("eq", []) or [], mt.get("eq", []) or []
    f_ids = {e["file"] for e in eq_f}
    t_ids = {e["file"] for e in eq_t}
    for e in eq_f + eq_t:
        if e["file"] in (f_ids ^ t_ids):
            dv_touched.update(e["applies_to"])

    def _side(all_files: list[str], only: list[str], dv: list[str],
              eq: list[dict]):
        files = sorted(
            set(only) | (dv_touched & set(all_files))
        )
        return _read_logical(spark, root, files, schema, dv, eq)

    # the multiset diff as ONE aggregate (the plan Spark's own
    # RewriteExceptAll builds, once instead of once per direction):
    # each side counts +1 (new) / -1 (old) per row, equal rows net out,
    # and a row with net n != 0 is replicated |n| times as an insert
    # (n > 0) or a delete (n < 0)
    cols = [f.name for f in schema.fields]
    old = _side(mf["files"], f_only, dv_f, eq_f)
    new = _side(mt["files"], t_only, dv_t, eq_t)
    net = (
        new.select(*cols, F.lit(1).alias("__n"))
        .unionByName(old.select(*cols, F.lit(-1).alias("__n")))
        .groupBy(*cols)
        .agg(F.sum("__n").alias("__n"))
        .where(F.col("__n") != 0)
    )
    return net.select(
        *cols,
        F.when(F.col("__n") > 0, F.lit("insert"))
        .otherwise(F.lit("delete"))
        .alias("_change"),
        F.explode(
            F.array_repeat(F.lit(0), F.abs(F.col("__n")).cast("int"))
        ).alias("__rep"),
    ).drop("__rep")


def refresh_view_incremental(
    state: DataFrame,
    changes: DataFrame,
    group_cols: list[str],
    sum_col: str,
    sum_alias: str = "sum_val",
    cnt_alias: str = "n_rows",
) -> DataFrame:
    """Incremental materialized-view maintenance for a grouped
    SUM/COUNT view over the CDC feed: ``state`` is the view as of
    version A (``group_cols…, cnt_alias, sum_alias``), ``changes`` is
    ``table_changes(A, B)``, and the result is the view as of B — inserts
    add, deletes subtract, groups whose count reaches zero disappear.
    Because ``table_changes`` diffs only non-shared files, the refresh
    cost is ∝ the commit's change volume, never the table: the
    incremental-view-maintenance contract a commit log exists to enable.
    Exactness: the caller supplies ``sum_col`` pre-cast to DECIMAL/int so
    partial sums are associative — increments then compose bit-equal to a
    direct re-aggregation (driver-gated by snapshot_incremental_view)."""
    sign = F.when(F.col("_change") == F.lit("insert"), F.lit(1)).otherwise(
        F.lit(-1)
    )
    delta = changes.groupBy(*group_cols).agg(
        F.sum(sign).alias("__d_cnt"),
        F.sum(F.col(sum_col) * sign).alias("__d_sum"),
    )
    zero_sum = F.lit(0).cast(delta.schema["__d_sum"].dataType)
    merged = state.join(delta, on=group_cols, how="full_outer").select(
        *group_cols,
        (
            F.coalesce(F.col(cnt_alias), F.lit(0))
            + F.coalesce(F.col("__d_cnt"), F.lit(0))
        ).alias(cnt_alias),
        (
            F.coalesce(F.col(sum_alias), zero_sum)
            + F.coalesce(F.col("__d_sum"), zero_sum)
        )
        # decimal addition widens per refresh; pin the state's type so
        # successive view versions keep one cross-readable schema
        .cast(state.schema[sum_alias].dataType)
        .alias(sum_alias),
    )
    return merged.where(F.col(cnt_alias) > 0)


def snapshot_files(root: str, version: int | None = None) -> list[str]:
    """Absolute paths of the data files that ARE the table at
    ``version`` — the file list the scan planner consumes. Refuses a
    version with outstanding deletion vectors: a raw-file read would
    resurrect MOR-deleted rows (materialize with ``compact_table``, or
    read logically via ``read_snapshot``)."""
    v = latest_version(root) if version is None else version
    m = read_manifest(root, v)
    _require_no_dv(m, "snapshot_files")
    return [os.path.join(root, f) for f in m["files"]]


def snapshot_schema(root: str, version: int | None = None) -> StructType:
    """The schema recorded in ``version``'s manifest (default: head) —
    what a raw read of ``snapshot_files`` returns, with no inference."""
    v = latest_version(root) if version is None else version
    return StructType.fromJson(json.loads(read_manifest(root, v)["schema"]))


_TAG_DIR = "_tags"


def _tag_path(root: str, name: str) -> str:
    # same validation discipline as _staged_path: a name with a path
    # separator would write/delete OUTSIDE _tags/ (and list_tags would
    # never see it, so the pin would silently not protect anything)
    if not name or "/" in name or name.startswith("."):
        raise ValueError(f"invalid tag name {name!r}")
    return os.path.join(root, _TAG_DIR, f"{name}.json")


def create_tag(root: str, name: str, version: int | None = None) -> int:
    """Named immutable ref: pin ``version`` (default head) under
    ``name``. Atomic via ``O_EXCL`` — a tag can never be silently
    retargeted (delete + recreate is the explicit path). Tagged versions
    are PINNED against ``vacuum``: their manifests and files stay live
    regardless of the retention window — the audit/reproducibility use
    tags exist for (training-data snapshots, release pins)."""
    import time as _time

    v = latest_version(root) if version is None else version
    read_manifest(root, v)  # must exist
    _write_json_excl(
        _tag_path(root, name),
        {"name": name, "version": v, "created_at": _time.time()},
    )
    return v


def list_tags(root: str) -> dict[str, int]:
    """name -> pinned version, every tag on the table."""
    tdir = os.path.join(root, _TAG_DIR)
    if not os.path.isdir(tdir):
        return {}
    out = {}
    for n in sorted(os.listdir(tdir)):
        if n.endswith(".json"):
            with open(os.path.join(tdir, n)) as f:
                t = json.load(f)
            out[t["name"]] = t["version"]
    return out


def delete_tag(root: str, name: str) -> None:
    """Drop the pin; the version becomes vacuumable again."""
    os.remove(_tag_path(root, name))


def resolve_ref(root: str, ref: int | str) -> int:
    """A version number, or a tag name -> its pinned version."""
    if isinstance(ref, int):
        return ref
    tags = list_tags(root)
    if ref not in tags:
        raise KeyError(f"unknown tag {ref!r} on {root}")
    return tags[ref]


_WAP_PREFIX = "wap-"


def _staged_path(root: str, wap_id: str) -> str:
    if not wap_id or "/" in wap_id:
        raise ValueError(f"invalid wap_id {wap_id!r}")
    return os.path.join(root, _MANIFEST_DIR, f"{_WAP_PREFIX}{wap_id}.json")


def read_staged_manifest(root: str, wap_id: str) -> dict:
    p = _staged_path(root, wap_id)
    if not os.path.exists(p):
        raise KeyError(f"no staged commit {wap_id!r} on {root}")
    with open(p) as f:
        return json.load(f)


def list_staged(root: str) -> list[str]:
    """wap_ids of every staged (written, unpublished) commit."""
    mdir = os.path.join(root, _MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return []
    return sorted(
        n[len(_WAP_PREFIX):-5]
        for n in os.listdir(mdir)
        if n.startswith(_WAP_PREFIX) and n.endswith(".json")
    )


def _stage(
    root: str, wap_id: str, action: str, parent: int, m: dict, **fields
) -> str:
    """Land a write as a staged ``wap-<id>`` manifest against version
    ``parent`` (manifest ``m``): no numbered version exists, so no reader
    sees it until ``publish_staged``. Everything listed under
    ``new_files`` stays vacuum-pinned until published or discarded."""
    import time as _time

    _write_json_excl(_staged_path(root, wap_id), {
        "wap_id": wap_id,
        "action": action,
        "parent": parent,
        **fields,
        "schema": m["schema"],
        "staged_at": _time.time(),
    })
    return wap_id


def stage_append(
    spark: SparkSession, root: str, df: DataFrame, wap_id: str
) -> str:
    """WRITE of write-audit-publish: commit ``df``'s rows as a STAGED
    append — data files land and a ``wap-<id>`` manifest records them,
    but no numbered version is created, so every reader (head reads,
    time travel, SQL front door, CDC) is guaranteed not to see the rows
    until ``publish_staged``. The Iceberg staged-snapshot / audit-branch
    pattern: the pipeline writes, an audit job reads ONLY the staged
    view, and publication is a later metadata-only decision. Staged data
    files are pinned against ``vacuum`` until published or discarded.
    CHECK constraints validate at stage time (fail fast); richer audits
    run at publish."""
    parent = latest_version(root)
    m = read_manifest(root, parent)
    # UNIQUE keys are probed at publish, against the publish-time head
    new, parts, _, _ = _append_files(
        spark, root, m, df, f"{_WAP_PREFIX}{wap_id}", "stage_append",
        unique=False,
    )
    return _stage(
        root, wap_id, "wap-append", parent, m,
        new_files=sorted(new), **({"partitions": parts} if parts else {}),
    )


def stage_delete_mor(
    spark: SparkSession, root: str, predicate, wap_id: str
) -> str:
    """Stage a MERGE-ON-READ delete the way ``stage_append`` stages an
    append: the deletion vector (file, pos over the CURRENT logical
    view) is computed and written now, but no numbered version exists —
    every reader still sees the rows until ``publish_staged``. The
    multi-table-transaction delete primitive: matched positions are
    frozen at stage time, so the published commit deletes exactly the
    rows the transaction saw (publication refuses if a conflicting
    writer rewrote or MOR-deleted underneath — appends commute, they
    only add files the vector never references). Staged DV files are
    vacuum-pinned until published or discarded."""
    parent = latest_version(root)
    m = read_manifest(root, parent)
    if m.get("eq"):
        raise ValueError(
            "stage_delete_mor: outstanding equality deletes — "
            "compact_table to materialize them before staging"
        )
    # the vector is frozen at stage time (publication refuses
    # conflicting rewrites, appends commute), so its agg sidecar stays
    # exact through publish. On an empty table it masks nothing but
    # still rides forward, with a ZERO sidecar.
    new_dv, _, _ = _mor_write(
        spark, root, m, predicate, f"{_WAP_PREFIX}{wap_id}",
        "stage_delete_mor",
    )
    return _stage(
        root, wap_id, "wap-delete-mor", parent, m,
        new_files=sorted(new_dv),  # key shared with appends so
        base_files=m["files"],     # vacuum pins them uniformly
        base_dv=m.get("dv", []),
    )


def stage_update_mor(
    spark: SparkSession,
    root: str,
    predicate,
    assignments: dict[str, object],
    wap_id: str,
) -> str:
    """Stage a MERGE-ON-READ update (``update_where_mor``'s deletion-
    vector mask + updated copies) without creating a version: matched
    positions AND the rewritten copies freeze at stage time, invisible
    to every reader until ``publish_staged``. Same commute contract as
    the staged delete — publication rebases over appends, refuses
    rewrites and concurrent vectors. Completes the transactional DML
    triangle: a CatalogTransaction can insert, update, and delete across
    tables in one atomic catalog commit."""
    parent = latest_version(root)
    m = read_manifest(root, parent)
    if m.get("eq"):
        raise ValueError(
            "stage_update_mor: outstanding equality deletes — "
            "compact_table to materialize them before staging"
        )
    if not m["files"]:
        raise ValueError("stage_update_mor: table has no data")
    new_dv, new_files, parts = _mor_write(
        spark, root, m, predicate, f"{_WAP_PREFIX}{wap_id}",
        "stage_update_mor", assignments,
    )
    return _stage(
        root, wap_id, "wap-update-mor", parent, m,
        # vacuum pins everything under "new_files"; the vector subset is
        # recorded separately for publish
        new_files=sorted(new_files) + sorted(new_dv),
        data_files=sorted(new_files),
        dv_files=sorted(new_dv),
        **({"partitions": parts} if parts else {}),
        base_files=m["files"],
        base_dv=m.get("dv", []),
    )


def read_staged(
    spark: SparkSession, root: str, wap_id: str
) -> DataFrame:
    """AUDIT view of write-audit-publish: the table AS IF the staged
    commit were published on its stage-time parent — parent files plus
    staged files (parent deletion vectors applied), or, for a staged
    MOR delete/update, the parent with the staged vector masked out
    (plus the updated copies). This is what quality gates validate
    before anyone else can observe the change."""
    s = read_staged_manifest(root, wap_id)
    m = read_manifest(root, s["parent"])
    schema = StructType.fromJson(json.loads(s["schema"]))
    files, dv = m["files"], list(m.get("dv") or [])
    if s.get("action") == "wap-delete-mor":
        dv += s["new_files"]
    elif s.get("action") == "wap-update-mor":
        files, dv = files + s["data_files"], dv + s["dv_files"]
    else:
        # staged files postdate every eq scope: _read_logical applies
        # each key set to its scoped files only
        files = files + s["new_files"]
    return _read_logical(spark, root, files, schema, dv, m.get("eq"))


def _land_append(
    spark: SparkSession,
    root: str,
    action: str,
    head: int,
    mh: dict,
    base: int,
    added: list[str],
    schema_json: str,
    new_rows: DataFrame | None,
    extra: dict,
    stale_schema: str,
) -> int:
    """Commit files appended against version ``base`` onto the current
    ``head`` (manifest ``mh``): the append-rebase rule WAP publish and
    branch merges share. When the head moved past ``base`` the append is
    REBASED — new files commute with any interleaved commit (Iceberg's
    cherry-pick rule) — provided the schema is unchanged (else
    ``stale_schema`` is raised) and ``new_rows`` pass the CURRENT head's
    CHECK constraints, which may have changed meanwhile. ``new_rows``
    are probed against the head's UNIQUE keys and the audit rides into
    the commit. Outstanding vectors and equality deletes stay in force
    (the added files postdate every eq scope)."""
    extra = {**_carry_meta(mh), **extra}
    if head != base:
        if mh["schema"] != schema_json:
            raise ValueError(stale_schema)
        if new_rows is not None:
            _validate_constraints(new_rows, mh.get("constraints"))
        extra["rebased_from"] = base
    if new_rows is not None:
        extra.update(_validate_unique(spark, root, mh, new_rows))
    if mh.get("dv"):
        extra["dv"] = mh["dv"]
    if mh.get("eq"):
        extra["eq"] = mh["eq"]
    return _commit(
        root, action, mh["files"] + added, mh["schema"], head, extra
    )


def publish_staged(
    spark: SparkSession,
    root: str,
    wap_id: str,
    audits: list | None = None,
    extra: dict | None = None,
) -> int:
    """PUBLISH of write-audit-publish: run ``audits`` (callables taking
    the staged-new-rows DataFrame; raise to veto) and then make the
    staged files a numbered version — a METADATA-ONLY commit, no data
    moves. If the head advanced past the stage-time parent the append is
    REBASED onto the current head (an append's new files commute with
    other commits — Iceberg's cherry-pick rule for wap snapshots); new
    rows are re-validated against the CURRENT head's constraints, which
    may have changed since staging. The staged manifest is consumed on
    success; a second publish of the same id raises (exactly-once).
    ``extra`` rides application metadata into the publish commit
    atomically (e.g. the multi-table streaming sink's (stream, batch_id)
    stamp)."""
    s = read_staged_manifest(root, wap_id)
    # Crash-replay idempotence: a crash BETWEEN the publish commit and
    # the staged-manifest removal leaves both artifacts; a naive retry
    # would commit the staged files a second time (each row doubled, or
    # a DV applied twice). The publish commit carries its wap_id, so a
    # retry recognizes it, consumes the leftover stage, and returns the
    # already-committed version — exactly-once under any crash window.
    for v in range(latest_version(root), s["parent"], -1):
        try:
            prev = read_manifest(root, v)
        except FileNotFoundError:
            break  # vacuumed below this point
        if prev.get("wap_id") == wap_id:
            os.remove(_staged_path(root, wap_id))
            return v
    if s.get("action") in ("wap-delete-mor", "wap-update-mor"):
        return _publish_staged_mor(
            spark, root, wap_id, s, audits, caller_extra=extra
        )
    schema = StructType.fromJson(json.loads(s["schema"]))
    new_rows = _read_logical(spark, root, s["new_files"], schema, None, None)
    for audit in audits or []:
        audit(new_rows)
    head = latest_version(root)
    v = _land_append(
        spark, root, "wap-publish", head, read_manifest(root, head),
        s["parent"], s["new_files"], s["schema"], new_rows,
        {
            "wap_id": wap_id,
            **(extra or {}),
            # spec-staged tuples survive publication
            **({"partitions": s["partitions"]} if s.get("partitions") else {}),
        },
        f"publish_staged: head schema changed since {wap_id!r} was staged; "
        "re-stage against the current head",
    )
    os.remove(_staged_path(root, wap_id))
    return v


def _publish_staged_mor(
    spark: SparkSession,
    root: str,
    wap_id: str,
    s: dict,
    audits: list | None,
    caller_extra: dict | None = None,
) -> int:
    """PUBLISH of a staged MOR delete or update: metadata-only — the
    staged deletion vector joins the head's DV list (an update also adds
    its updated-copy files). Commute rule (the DV analog of the append
    cherry-pick): the vector's positions were frozen against the
    stage-time logical view, so publication REBASES over later appends
    (they only add files the vector never references) but REFUSES if any
    stage-time file was rewritten away (COW/compact — positions now
    point into vanished files) or if another deletion vector landed
    since staging (two overlapping vectors would make the CDC feed
    double-count the row). ``audits`` receive the TO-BE-DELETED rows
    (delete) / the UPDATED COPIES (update). Exactly-once: the staged
    manifest is consumed."""
    is_update = s["action"] == "wap-update-mor"
    dv_files = s["dv_files"] if is_update else s["new_files"]
    data_files = s["data_files"] if is_update else []
    schema = StructType.fromJson(json.loads(s["schema"]))
    copies = _read_logical(spark, root, data_files, schema, None, None)
    head = latest_version(root)
    mh = read_manifest(root, head)
    if head != s["parent"]:
        missing = set(s["base_files"]) - set(mh["files"])
        if missing:
            raise ValueError(
                f"publish_staged: {len(missing)} stage-time files were "
                f"rewritten since {wap_id!r} was staged (compaction or "
                "copy-on-write); the frozen positions no longer resolve "
                "— re-stage against the current head"
            )
        if mh.get("eq"):
            raise ValueError(
                f"publish_staged: an equality delete landed since "
                f"{wap_id!r} was staged — the frozen positions may "
                "overlap its masks; re-stage against the current head"
            )
        if (mh.get("dv") or []) != (s["base_dv"] or []):
            raise ValueError(
                f"publish_staged: deletion vectors changed since "
                f"{wap_id!r} was staged; overlapping vectors would "
                "corrupt the CDC feed — re-stage"
            )
        if is_update:  # constraints may have tightened since staging
            _validate_constraints(copies, mh.get("constraints"))
    if audits:
        if is_update:
            subject = copies
        else:
            doomed_pos = read_parquet(
                spark, [os.path.join(root, f) for f in dv_files], DV_SCHEMA
            )
            scan = _read_logical(
                spark, root, s["base_files"], schema, s["base_dv"], None,
                keep_pos=True,
            )
            subject = scan.join(
                doomed_pos,
                on=(scan["__file"] == doomed_pos["file"])
                & (scan["__pos"] == doomed_pos["pos"]),
                how="left_semi",
            ).select(*[f.name for f in schema.fields])
        for audit in audits:
            audit(subject)
    extra = {
        **_carry_meta(mh),
        "wap_id": wap_id,
        "dv": (mh.get("dv") or []) + dv_files,
        **({"rebased_from": s["parent"]} if head != s["parent"] else {}),
        # spec-staged updated copies land with their stage-time tuples
        **({"partitions": s["partitions"]} if s.get("partitions") else {}),
        **(caller_extra or {}),  # e.g. (stream, batch_id) stamps
    }
    v = _commit(
        root,
        "wap-publish-update" if is_update else "wap-publish-delete",
        mh["files"] + data_files,
        mh["schema"],
        head,
        extra,
    )
    os.remove(_staged_path(root, wap_id))
    return v


def discard_staged(root: str, wap_id: str) -> None:
    """Drop a staged commit without publishing. Metadata-only: the
    staged data files become unreferenced orphans, reclaimed by the next
    ``vacuum`` (they are pinned only while the staged manifest exists)."""
    os.remove(_staged_path(root, wap_id))


_INDEX_DIR = "_indexes"


def _bloom_dir(root: str, key_col: str) -> str:
    return os.path.join(root, _INDEX_DIR, f"bloom_{key_col}")


def update_snapshot_bloom(
    spark: SparkSession,
    root: str,
    key_col: str,
    num_bits: int | None = None,
    num_hashes: int | None = None,
    version: int | None = None,
) -> int:
    """Build or incrementally extend the table's per-file Bloom index
    over ``key_col`` — the SECONDARY-INDEX lifecycle on the commit log:
    only manifest files not yet covered are scanned (per-file bitmaps
    are independent, so append maintenance costs one pass over the NEW
    bytes), and the index lives under the table at ``_indexes/`` with
    RELATIVE file paths. Returns the number of files newly indexed.
    Staleness is safe by construction: ``plan_snapshot_scan`` keeps any
    manifest file the index does not cover, and candidate lists are
    intersected with the manifest, so compaction/vacuum orphan rows
    never resurrect or drop data."""
    from telemetry_parquet_spark.sources.skipping import (
        NUM_BITS,
        NUM_HASHES,
        build_file_bloom_index,
    )

    v = latest_version(root) if version is None else version
    m = read_manifest(root, v)
    _require_no_dv(m, "update_snapshot_bloom")
    idx_dir = _bloom_dir(root, key_col)
    meta_path = os.path.join(idx_dir, "_BLOOM_META.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        if (num_bits, num_hashes) not in (
            (None, None),
            (meta["num_bits"], meta["num_hashes"]),
        ):
            raise ValueError(
                "update_snapshot_bloom: sizing differs from the existing "
                "index; drop the index directory to resize"
            )
        num_bits, num_hashes = meta["num_bits"], meta["num_hashes"]
        covered = {
            r.file_path
            for r in read_parquet(spark, idx_dir)
            .select("file_path")
            .distinct()
            .collect()
        }
    else:
        num_bits = NUM_BITS if num_bits is None else num_bits
        num_hashes = NUM_HASHES if num_hashes is None else num_hashes
        covered = set()
    new = [f for f in m["files"] if f not in covered]
    if not new:
        return 0
    schema = StructType.fromJson(json.loads(m["schema"]))
    fresh = build_file_bloom_index(
        spark.read.schema(schema).parquet(
            *[os.path.join(root, f) for f in new]
        ),
        key_col,
        num_bits,
        num_hashes,
    )
    rel = _rel_file_expr(root, col="file_path")
    fresh.withColumn("file_path", rel).write.mode("append").parquet(idx_dir)
    if not os.path.exists(meta_path):
        with open(meta_path, "w") as f:
            json.dump(
                {
                    "key_col": key_col,
                    "num_bits": num_bits,
                    "num_hashes": num_hashes,
                },
                f,
            )
    return len(new)


def plan_snapshot_scan(
    spark: SparkSession,
    root: str,
    predicates: list,
    version: int | None = None,
    require_pruning: bool = False,
    allow_dv: bool = False,
):
    """Predicate-driven pruned read of a snapshot version using the
    manifest's commit-time column stats — and, for point predicates on a
    column with a ``update_snapshot_bloom`` index, the table's Bloom
    file index — zero data or footer I/O at planning time (the
    table-format promise: planning cost ∝ the file LIST plus the
    index-sized probe, the first data byte read is already post-prune).
    Files written under a partition spec (partition_spec.py) are pruned
    FIRST by their recorded partition tuple under the spec that wrote
    them — the pass that serves shapes min/max stats cannot (a
    ``bucket(n)`` point lookup keeps exactly 1/n of the spec-written
    files); the step appears as ``spec:<col>`` only when it removed a
    file, so ``require_pruning`` keeps its per-step meaning.
    Returns (DataFrame, ScanPlan). Per-predicate pruning accounting as
    in ``scan_planner.plan_scan``; with ``require_pruning`` every
    predicate must skip at least one file or this RAISES. Files the
    Bloom index does not cover (landed after the last index update) are
    KEPT unconditionally and candidates intersect the manifest, so a
    stale index can never drop or resurrect rows. The residual filter is
    re-applied (and pushed into the parquet scan), so the result is
    EXACTLY the full-scan answer regardless of stats/index coverage.

    Merge-on-read versions: by default outstanding deletion vectors and
    equality deletes are refused (raw-file scan); with ``allow_dv`` the
    pruned read goes through the logical scan instead — pruning still
    drops whole files from the manifest list (a vector masks rows, it
    never ADDS any, so a file skipped by stats/Bloom stays skippable)
    and position vectors + scoped equality key sets are anti-joined out
    of the kept files only. The MOR table gets planned scans without
    waiting for compaction."""
    from telemetry_parquet_spark.sources.partition_spec import keep_file
    from telemetry_parquet_spark.sources.scan_planner import (
        Eq,
        In,
        ScanPlan,
        _predicate_expr,
    )

    v = latest_version(root) if version is None else version
    m = read_manifest(root, v)
    if not allow_dv:
        _require_no_dv(m, "plan_snapshot_scan")
    schema = StructType.fromJson(json.loads(m["schema"]))
    kept = sorted(m["files"])
    plan = ScanPlan(total_files=len(kept))

    partitions = m.get("partitions") or {}
    specs = m.get("specs") or {}
    for p in predicates:
        # spec-tuple pass first; when it prunes, it ACCOUNTS for this
        # predicate, and the stats/Bloom pass that follows only appends
        # its step if it pruned further (require_pruning stays
        # per-step: a bucket-pruned predicate must not fail because the
        # one surviving bucket file's min/max can't shrink more)
        spec_pruned = False
        if partitions:
            pruned_kept = [
                f for f in kept
                if f not in partitions
                or keep_file(partitions[f], specs, p, schema)
            ]
            if len(pruned_kept) != len(kept):
                kept = pruned_kept
                plan.steps.append((f"spec:{p.col}", len(kept)))
                spec_pruned = True
        idx_dir = _bloom_dir(root, p.col)
        if isinstance(p, (Eq, In)) and os.path.isdir(idx_dir):
            from telemetry_parquet_spark.sources.skipping import (
                bloom_candidate_files_any,
            )

            with open(os.path.join(idx_dir, "_BLOOM_META.json")) as f:
                bm = json.load(f)
            index = read_parquet(spark, idx_dir)
            covered = {
                r.file_path
                for r in index.select("file_path").distinct().collect()
            }
            values = [p.value] if isinstance(p, Eq) else list(p.values)
            cands = set(
                bloom_candidate_files_any(
                    index, values, bm["num_bits"], bm["num_hashes"]
                )
            )
            bloom_kept = [f for f in kept if f not in covered or f in cands]
            if len(bloom_kept) != len(kept) or not spec_pruned:
                plan.steps.append((f"bloom:{p.col}", len(bloom_kept)))
            kept = bloom_kept
            continue

        keep = _manifest_keep(m, [p])
        stats_kept = [f for f in kept if keep(f)]
        if len(stats_kept) != len(kept) or not spec_pruned:
            plan.steps.append((f"manifest:{p.col}", len(stats_kept)))
        kept = stats_kept
    plan.files = [os.path.join(root, f) for f in kept]
    if require_pruning:
        prev = plan.total_files
        for name, n in plan.steps:
            if n >= prev:
                raise RuntimeError(
                    f"plan_snapshot_scan: {name} pruned nothing "
                    f"({n}/{prev} files)"
                )
            prev = n
    residual = None
    for p in predicates:
        e = _predicate_expr(p)
        residual = e if residual is None else residual & e
    df = _read_logical(spark, root, kept, schema, m.get("dv"), m.get("eq"))
    return (df if residual is None else df.where(residual)), plan


def vacuum(
    root: str,
    keep_last: int = 1,
    retain_since: float | None = None,
    keep_versions: set[int] | None = None,
    orphan_grace_s: float = 3600.0,
) -> list[str]:
    """Delete data files referenced by NO retained manifest (the last
    ``keep_last`` versions plus every TAGGED version are retained; with
    ``retain_since`` every version committed at or after that epoch
    second is ALSO retained — Delta's RETAIN-hours shape, resolved
    against the commit timestamps the manifests already carry;
    ``keep_versions`` pins explicit extra versions — the hook catalog
    snapshots use so their cross-table pins stay readable) and drop
    the expired manifests.

    Files referenced by NO manifest at all (crashed or IN-FLIGHT
    writers) are reclaimed only once older than ``orphan_grace_s``
    (Delta's retention-hours rule for uncommitted files): with no age
    gate, vacuum racing a writer between its data write and its manifest
    O_EXCL would delete files the imminent commit references —
    committing a version that can never be read. Files referenced only
    by EXPIRED manifests were durably committed and are reclaimed
    immediately. The only destructive operation in the module;
    everything else is append-only."""
    versions = _list_versions(root)
    keep = set(versions[-keep_last:])
    keep.update(  # tagged versions are pinned regardless of retention
        v for v in list_tags(root).values() if v in set(versions)
    )
    if keep_versions:
        keep.update(v for v in keep_versions if v in set(versions))
    if retain_since is not None:
        keep.update(
            v
            for v in versions
            if read_manifest(root, v).get("committed_at", 0.0)
            >= retain_since
        )
    live: set[str] = set()
    for v in keep:
        m = read_manifest(root, v)
        live.update(m["files"])
        live.update(m.get("dv", []))  # deletion vectors are data too
        live.update(e["file"] for e in m.get("eq", []) or [])
    ever: set[str] = set()  # referenced by ANY manifest = was committed
    for v in versions:
        m = read_manifest(root, v)
        ever.update(m["files"])
        ever.update(m.get("dv", []))
        ever.update(e["file"] for e in m.get("eq", []) or [])
    for wap_id in list_staged(root):  # staged-but-unpublished commits are
        live.update(read_staged_manifest(root, wap_id)["new_files"])  # pinned
    from telemetry_parquet_spark.sources.branches import branch_live_files

    live.update(branch_live_files(root))  # live branches pin their files
    import time as _time

    now = _time.time()
    removed = []
    data_root = os.path.join(root, _DATA_DIR)
    for dirpath, _, names in os.walk(data_root):
        for name in names:
            full = os.path.join(dirpath, name)
            rel = os.path.relpath(full, root)
            if rel in live or not name.endswith(".parquet"):
                continue
            if rel not in ever:  # true orphan: maybe an IN-FLIGHT writer
                try:
                    if now - os.path.getmtime(full) < orphan_grace_s:
                        continue
                except OSError:
                    continue
            os.remove(full)
            removed.append(rel)
            try:  # a deletion vector's agg sidecar dies with its vector
                os.remove(full + _DV_AGG_SUFFIX)
            except OSError:
                pass
    for v in versions:
        if v not in keep:
            os.remove(_manifest_path(root, v))
    # drop now-empty commit directories so the data dir mirrors the log
    if os.path.isdir(data_root):
        for name in os.listdir(data_root):
            d = os.path.join(data_root, name)
            if os.path.isdir(d) and not any(
                files for _, _, files in os.walk(d)
            ):
                shutil.rmtree(d)
    return sorted(removed)

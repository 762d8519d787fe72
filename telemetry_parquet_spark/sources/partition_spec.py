"""Partition-spec evolution for the versioned snapshot table.

The table formats' signature layout feature (Iceberg's "hidden
partitioning" + spec evolution; the reference's era solved the same
problem by hand with per-day directory layouts and
``ParquetFile.scala``-style path conventions — see reference
``views/package.scala`` day-key partitioning, whose semantics S7/F5
already cover): a table carries a *partition spec* — a list of
(column, transform) fields — as TABLE METADATA. Writers lay new files
out by the transformed values; the manifest records each file's exact
partition tuple AND the spec it was written under. Changing the spec is
a metadata-only commit: **no existing file is rewritten**, and the
planner prunes every file under the spec that governed its write.

Why this beats min/max stats alone — and why it is the 100 TB shape:

- ``bucket(n, col)``: a point lookup on a high-cardinality key keeps
  exactly 1/n of the spec-written files. Min/max stats can NEVER serve
  this (a hash bucket's raw-key envelope spans the whole domain), and
  the existing Bloom file index answers it only probabilistically with
  an index-maintenance pass per commit; the partition tuple is free at
  write time and exact forever.
- ``day(ts)``: time-range pruning that stays exact under append-order
  churn, without trusting value clustering.
- Spec EVOLUTION means yesterday's 100 TB stays valid when the keying
  changes: old files prune by their old spec (or min/max stats), new
  files by the new one — query semantics never change, because the
  residual predicate is always re-applied (pruning is conservative
  file dropping, never row selection).

Transforms (kept deliberately small and bit-reproducible on BOTH the
JVM write side and the Python plan side):

- ``identity``  — the column value itself (int-family or string).
- ``day``       — days since 1970-01-01 of a date/timestamp column.
- ``hour``      — hours since 1970-01-01T00:00 of a timestamp column
  (``days_since_epoch * 24 + hour_of_day``, calendar-derived on both
  sides so the write/plan parity never touches epoch arithmetic).
- ``month``     — months since 1970-01 of a date/timestamp column
  (``(year - 1970) * 12 + month - 1``).
- ``year``      — years since 1970 of a date/timestamp column.
- ``bucket(n)`` — ``crc32(utf8(cast(col AS STRING))) % n``. Spark's
  ``F.crc32`` and Python's ``zlib.crc32`` are the same CRC-32, so the
  planner hashes predicate literals without a JVM round-trip
  (functions/hashing.py already relies on this bit-compat).
- ``truncate(n)`` — first ``n`` characters of a string column.

All temporal transforms are MONOTONE in the column value, so Range
predicates prune on them exactly like ``day``.

Manifest keys (all carried across commits by ``snapshots._commit``):

- ``partition_spec``: the CURRENT spec ``{"spec_id": k, "fields": […]}``.
- ``specs``: every spec ever set, ``{str(spec_id): fields}`` — files
  reference their spec by id, so evolution never rewrites metadata.
- ``partitions``: ``{rel_file: {"spec_id": k, "values": [...]}}`` —
  per-file tuples for files written by a spec-aware append, overwrite,
  or compaction (``compact_table``/``compact_where`` under a spec
  rewrite to the CURRENT spec's canonical one-file-per-tuple layout —
  the table formats' rewrite-data-files — so tuples survive
  maintenance and pre-spec files gain them). Files without an entry
  (pre-spec files, COW delete rewrites) are simply kept by the spec
  pass and pruned by min/max stats as before: absence degrades
  pruning, never correctness.

Timezone contract (temporal transforms: ``day``/``hour``/``month``/
``year``): the WRITE side evaluates the transform with Spark functions
that interpret a TIMESTAMP column under ``spark.sql.session.timeZone``,
while the PLAN side converts predicate literals with timezone-naive
``datetime.fromisoformat``. The two agree iff the planning process runs
under the same timezone the files were written under — the repo's
session factory pins ``spark.sql.session.timeZone=UTC`` and naive ISO
literals therefore mean UTC everywhere. Offset-AWARE literals are
converted to the wall clock of the ACTUAL ``spark.sql.session.timeZone``
(resolved from the active session, memoized per session — see
``_session_zone``), so a deployment that overrides the session timezone
still prunes aware literals correctly. The remaining contract is for
NAIVE literals only: they mean "session-zone wall clock", so DO NOT
change the session timezone between writing and planning (DATE columns
are unaffected — no timezone enters either side); a dropped file is
never rescued by the residual filter.

NULL tuples: Spark's hive layout writes BOTH a NULL transformed value
and an EMPTY-STRING one to ``__HIVE_DEFAULT_PARTITION__``, so for
string-output transforms (string identity, truncate) a None tuple
means "every row's value is NULL **or** ''". Pruning accounts for it:
SQL comparisons never match NULL, so a None-tuple file drops unless
the predicate could match ``''`` (evaluated by re-running the decision
with pv=''); for int-output transforms (day, bucket, int identity) ''
is impossible and None means all-NULL, which drops outright. The
partition rollup REFUSES (scan fallback) on a None value of a
string-output field — it cannot split the '' rows from the NULL rows.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import urllib.parse
import zlib
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from telemetry_parquet_spark.sources.scan_planner import Eq, In, Range

_EPOCH = _dt.date(1970, 1, 1)
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
_INT_TYPES = {"byte", "short", "integer", "long"}
_TRANSFORMS = (
    "identity", "day", "hour", "month", "year", "bucket", "truncate"
)
_TEMPORAL_TYPES = ("date", "timestamp", "timestamp_ntz")
# temporal transforms are monotone in the column value -> Range prunes
_MONOTONE = ("identity", "day", "hour", "month", "year")


@dataclass(frozen=True)
class PartitionField:
    """One spec field: ``transform(col)`` (``n`` for bucket/truncate)."""

    col: str
    transform: str = "identity"
    n: int | None = None

    def to_json(self) -> dict:
        d = {"col": self.col, "transform": self.transform}
        if self.n is not None:
            d["n"] = self.n
        return d

    @staticmethod
    def from_json(d: dict) -> "PartitionField":
        t = d.get("transform", "identity")
        n = d.get("n")
        if t not in ("bucket", "truncate"):
            # a STORED spec may carry a legacy n=... on temporal/identity
            # transforms (committed through the previously-permissive SQL
            # parser, e.g. day(8, ts)); the argument never influenced the
            # written layout, so normalize instead of hard-failing every
            # subsequent spec-aware write. validate_spec stays strict for
            # newly-authored specs.
            n = None
        return PartitionField(d["col"], t, n)


def _zone_cache():
    import weakref

    global _ZONE_CACHE
    if _ZONE_CACHE is None:
        _ZONE_CACHE = weakref.WeakKeyDictionary()
    return _ZONE_CACHE


_ZONE_CACHE = None


def _session_zone() -> _dt.tzinfo:
    """tzinfo of ``spark.sql.session.timeZone`` for the ACTIVE session —
    the zone Spark's cast interprets an offset-bearing timestamp literal
    under, so the plan side must read the wall clock in the same zone.
    The PARSE is memoized per session OBJECT via a WeakKeyDictionary,
    but the conf STRING is re-read on every plan invocation (one py4j
    call per plan, not one per pruned file) and the memo is invalidated
    when the string changed — a runtime ``spark.conf.set`` of the
    session timezone before the next plan is picked up instead of
    silently pruning under the stale zone. (The module contract still
    forbids flipping the zone between write and plan — that hazard is
    about data written under a different zone, which no memo policy can
    fix.) Raises ValueError when no session is active or the zone id
    cannot be resolved — the callers' undecidable-literal discipline
    turns that into KEEP."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        raise ValueError("no active SparkSession: timezone undecidable")
    name = spark.conf.get("spark.sql.session.timeZone") or "UTC"
    cache = _zone_cache()
    try:
        cached = cache.get(spark)
    except TypeError:  # un-weakref-able/unhashable session: no memo
        cache = None
        cached = None
    if cached is not None and cached[0] == name:
        return cached[1]
    tz = _parse_zone(name)
    if cache is not None:
        cache[spark] = (name, tz)
    return tz


def _parse_zone(name: str) -> _dt.tzinfo:
    """A Spark/Java zone id → Python tzinfo: 'Z'/'UTC'/'GMT', fixed
    offsets ('+02:00', 'UTC+02:00', 'GMT-8'), or region ids via
    zoneinfo. Unresolvable ids raise ValueError (→ keep)."""
    s = name.strip()
    if s.upper() in ("Z", "UTC", "GMT", "UT", "ETC/UTC", "ETC/GMT"):
        return _dt.timezone.utc
    body = s
    for p in ("UTC", "GMT", "UT"):
        if body.upper().startswith(p) and len(body) > len(p):
            body = body[len(p):]
            break
    if body and body[0] in "+-":
        sign = -1 if body[0] == "-" else 1
        hhmm = body[1:]
        if ":" in hhmm:
            hh, _, mm = hhmm.partition(":")
        else:
            hh, mm = (hhmm[:2], hhmm[2:]) if len(hhmm) > 2 else (hhmm, "0")
        return _dt.timezone(
            sign * _dt.timedelta(hours=int(hh), minutes=int(mm or 0))
        )
    try:
        import zoneinfo

        return zoneinfo.ZoneInfo(s)
    except Exception as exc:  # KeyError / ZoneInfoNotFoundError
        raise ValueError(f"unresolvable session timezone {name!r}") from exc


def _simple_type(schema: StructType, col: str) -> str:
    for f in schema.fields:
        if f.name.lower() == col.lower():
            return f.dataType.typeName()
    raise ValueError(f"partition spec: column {col!r} not in table schema")


def validate_spec(schema: StructType, fields: list[PartitionField]) -> None:
    """Loud, write-time validation — a spec that can't be pruned
    bit-reproducibly on the plan side must never be committed."""
    if not fields:
        raise ValueError("partition spec: at least one field required")
    for f in fields:
        t = _simple_type(schema, f.col)
        if f.transform not in _TRANSFORMS:
            raise ValueError(f"partition spec: unknown transform "
                             f"{f.transform!r}")
        if f.transform in ("bucket", "truncate") and (f.n or 0) < 1:
            raise ValueError(f"partition spec: {f.transform} needs n >= 1")
        if f.transform not in ("bucket", "truncate") and f.n is not None:
            raise ValueError(
                f"partition spec: {f.transform} takes no n argument"
            )
        if f.transform == "identity" and t not in _INT_TYPES | {"string"}:
            raise ValueError(
                f"partition spec: identity({f.col}) needs an int-family or "
                f"string column, got {t} (use day() for temporals)")
        if f.transform in ("day", "month", "year") and t not in (
            _TEMPORAL_TYPES
        ):
            raise ValueError(
                f"partition spec: {f.transform}({f.col}) needs "
                f"date/timestamp, got {t}")
        if f.transform == "hour" and t not in ("timestamp",
                                               "timestamp_ntz"):
            raise ValueError(
                f"partition spec: hour({f.col}) needs a timestamp column, "
                f"got {t} (a date has no hour — use day())")
        if f.transform == "bucket" and t not in _INT_TYPES | {"string"}:
            raise ValueError(
                f"partition spec: bucket({f.col}) needs an int-family or "
                f"string column, got {t} (float casts are not "
                "bit-reproducible across engines)")
        if f.transform == "truncate" and t != "string":
            raise ValueError(
                f"partition spec: truncate({f.col}) needs a string column, "
                f"got {t}")


def spark_transform(f: PartitionField) -> Column:
    """The JVM write-side expression of one spec field."""
    c = F.col(f.col)
    if f.transform == "identity":
        return c
    if f.transform == "day":
        return F.datediff(c.cast("date"), F.lit("1970-01-01").cast("date"))
    if f.transform == "hour":
        return (
            F.datediff(c.cast("date"), F.lit("1970-01-01").cast("date"))
            * F.lit(24)
            + F.hour(c)
        ).cast("int")
    if f.transform == "month":
        return (
            (F.year(c) - F.lit(1970)) * F.lit(12) + F.month(c) - F.lit(1)
        ).cast("int")
    if f.transform == "year":
        return (F.year(c) - F.lit(1970)).cast("int")
    if f.transform == "bucket":
        return F.pmod(
            F.crc32(c.cast("string").cast("binary")), F.lit(f.n)
        ).cast("int")
    if f.transform == "truncate":
        return F.substring(c, 1, f.n)
    raise ValueError(f.transform)


def partition_value(f: PartitionField, v):
    """Python plan-side twin of ``spark_transform`` applied to a
    predicate LITERAL — must agree bit-for-bit with the write side."""
    if v is None:
        return None
    if f.transform == "identity":
        return v
    if f.transform in ("day", "hour", "month", "year"):
        if isinstance(v, str):
            v = (_dt.datetime.fromisoformat(v)
                 if len(v) > 10 else _dt.date.fromisoformat(v))
        if isinstance(v, _dt.datetime) and v.tzinfo is not None:
            # an offset-bearing literal ('…+02:00'): Spark's cast honors
            # the offset, so reading the AWARE wall-clock fields here
            # would mis-prune near period boundaries. Convert to the
            # ACTUAL session timezone (resolved from
            # spark.sql.session.timeZone — the factory pins UTC, but a
            # deployment override must not silently mis-prune) and
            # compare wall clocks there. An unresolvable zone raises →
            # the callers keep the file.
            v = v.astimezone(_session_zone()).replace(tzinfo=None)
        if f.transform == "hour":
            # a bare date literal means midnight: hour-of-day 0
            h = v.hour if isinstance(v, _dt.datetime) else 0
            d = v.date() if isinstance(v, _dt.datetime) else v
            return (d - _EPOCH).days * 24 + h
        if f.transform == "month":
            return (v.year - 1970) * 12 + v.month - 1
        if f.transform == "year":
            return v.year - 1970
        if isinstance(v, _dt.datetime):
            v = v.date()
        return (v - _EPOCH).days
    if f.transform == "bucket":
        # int/str literals only: bucket columns are validated int/string,
        # and str(42.0) = "42.0" hashes differently from the rows' "42"
        # while Spark's residual coerces 42.0 == 42 — a float literal
        # must stay undecidable (raise -> keep), never mis-bucket
        if not isinstance(v, (int, str)) or isinstance(v, bool):
            raise ValueError(f"bucket: undecidable literal {v!r}")
        return zlib.crc32(str(v).encode("utf-8")) % f.n
    if f.transform == "truncate":
        if not isinstance(v, str):
            raise ValueError(f"truncate: undecidable literal {v!r}")
        return v[: f.n]
    raise ValueError(f.transform)


def decode_path_value(f: PartitionField, schema: StructType, raw: str):
    """One hive path segment value → the typed partition value recorded
    in the manifest (Spark %-escapes special path chars; ``unquote``
    reverses it and leaves unescaped text alone)."""
    if raw == _HIVE_NULL:
        return None
    s = urllib.parse.unquote(raw)
    if f.transform in ("day", "hour", "month", "year", "bucket"):
        return int(s)
    if f.transform == "truncate":
        return s
    # identity: typed by the source column (validated int-family|string)
    return int(s) if _simple_type(schema, f.col) in _INT_TYPES else s


def _same_kind(a, b) -> bool:
    """True when Python ``==``/``<`` on (a, b) means what SQL means:
    both strings or both non-bool numbers. A cross-kind pair (int
    literal vs string partition value) is UNDECIDABLE here — Python
    would say ``42 != "42"`` while Spark's residual comparison coerces
    and may match — so callers must keep, never prune."""
    if isinstance(a, str) and isinstance(b, str):
        return True
    return (
        isinstance(a, (int, float)) and not isinstance(a, bool)
        and isinstance(b, (int, float)) and not isinstance(b, bool)
    )


def _string_output(f: PartitionField, schema: StructType | None) -> bool:
    """Whether the transform's output is a string — the transforms whose
    '' value lands in the hive NULL directory alongside true NULLs."""
    if f.transform == "truncate":
        return True
    if f.transform == "identity":
        if schema is None:
            return True  # unknown column type -> assume possibly-string
        try:
            return _simple_type(schema, f.col) not in _INT_TYPES
        except ValueError:
            return True
    return False  # day, bucket -> int output; '' impossible


def keep_file(entry: dict, specs: dict, pred,
              schema: StructType | None = None) -> bool:
    """Conservative spec-pruning verdict for ONE file under ONE
    predicate: False only when the file's recorded tuple PROVES no row
    can satisfy the predicate. Unknown spec ids, columns outside the
    spec, transform/predicate shapes we can't decide, and cross-typed
    literals all KEEP — the residual filter stays exact either way.

    A None tuple value means all rows are NULL — or, for string-output
    transforms, NULL-or-'' (Spark's hive layout writes both to the
    default partition): NULL never satisfies a comparison, so the file
    drops unless the predicate could match '' (decided by re-running
    with pv='')."""
    fields = specs.get(str(entry.get("spec_id")))
    if not fields:
        return True
    values = entry.get("values") or []
    for i, fd in enumerate(fields):
        if i >= len(values):
            break
        f = PartitionField.from_json(fd)
        if f.col.lower() != pred.col.lower():
            continue
        pv = values[i]
        if pv is None and _string_output(f, schema):
            # the file may hold ''-valued rows: prune only if '' itself
            # would be pruned under this predicate
            pv = ""
        try:
            if isinstance(pred, Eq):
                if pv is None:
                    return False
                tv = partition_value(f, pred.value)
                return True if not _same_kind(pv, tv) else pv == tv
            if isinstance(pred, In):
                if pv is None:
                    return False
                tvs = {partition_value(f, v) for v in pred.values}
                if any(not _same_kind(pv, tv) for tv in tvs):
                    return True  # an undecidable member might match
                return pv in tvs
            if isinstance(pred, Range) and f.transform in _MONOTONE:
                # monotone transforms only: bucket scrambles order and a
                # truncate prefix-range needs care we don't attempt
                if pv is None:
                    return False
                lo = (partition_value(f, pred.lo)
                      if pred.lo is not None else None)
                hi = (partition_value(f, pred.hi)
                      if pred.hi is not None else None)
                if lo is not None and pv < lo:
                    return False
                if hi is not None and pv > hi:
                    return False
                return True
        except (TypeError, ValueError, AttributeError):
            return True  # undecidable literal -> keep
    return True


def set_partition_spec(root: str, fields: list[PartitionField]) -> int:
    """Metadata-only commit: the table's NEXT spec. Existing files are
    untouched and keep pruning under the spec that wrote them."""
    from telemetry_parquet_spark.sources import snapshots as S

    parent = S.latest_version(root)
    m = S.read_manifest(root, parent)
    schema = StructType.fromJson(json.loads(m["schema"]))
    validate_spec(schema, fields)
    specs = dict(m.get("specs") or {})
    spec_id = 1 + max((int(k) for k in specs), default=0)
    specs[str(spec_id)] = [f.to_json() for f in fields]
    return S._commit(
        root, "set-spec", m["files"], m["schema"], parent,
        {
            **S._carry_meta(m),
            **({"dv": m["dv"]} if m.get("dv") else {}),
            **({"eq": m["eq"]} if m.get("eq") else {}),
            "partition_spec": {"spec_id": spec_id,
                               "fields": specs[str(spec_id)]},
            "specs": specs,
        },
    )


def current_spec(root: str, version: int | None = None) -> dict | None:
    from telemetry_parquet_spark.sources import snapshots as S

    v = S.latest_version(root) if version is None else version
    return S.read_manifest(root, v).get("partition_spec")


def write_partitioned_files(
    df: DataFrame,
    root: str,
    version_tag: str,
    spec: dict,
    zorder_cols: list[str] | None = None,
    bits: int = 8,
) -> tuple[list[str], dict]:
    """Spec-aware twin of ``snapshots._write_commit_files``: ONE job
    writes hive-layout files keyed by the DERIVED ``__pt_i`` columns
    (``partitionBy`` strips only those, so data files stay
    self-contained and every existing reader works unchanged), then the
    walk parses each file's partition tuple from its path — zero extra
    data I/O. Returns (rel_files, {rel_file: partitions entry}).

    ``zorder_cols`` z-orders WITHIN each partition tuple (Delta's
    OPTIMIZE ZORDER applied per partition): rows of one tuple's file
    land z-sorted, so parquet ROW-GROUP stats tighten on the z-columns
    and in-file pushdown composes with the tuple pruning — partition
    pruning picks the files, z-order prunes inside them.

    Same writer-private-directory race discipline as the unpartitioned
    writer: the manifest's ``O_EXCL`` stays the only linearization
    point, a losing racer's files are unreferenced orphans."""
    import uuid as _uuid

    from telemetry_parquet_spark.sources.snapshots import _DATA_DIR

    fields = [PartitionField.from_json(d) for d in spec["fields"]]
    validate_spec(df.schema, fields)
    pt_cols = [f"__pt_{i}" for i in range(len(fields))]
    out_dir = os.path.join(
        root, _DATA_DIR, f"{version_tag}-{_uuid.uuid4().hex[:8]}"
    )
    staged = df.select(
        "*",
        *[spark_transform(f).alias(c) for f, c in zip(fields, pt_cols)],
    )
    if zorder_cols:
        from telemetry_parquet_spark.sources.layout import zorder_key

        # the sort leads with the partition columns: partitionBy's
        # writer requires task rows ordered by them and would insert
        # its OWN sort otherwise, destroying the zval order
        staged = (
            zorder_key(staged, zorder_cols, bits)
            .repartition(*[F.col(c) for c in pt_cols])
            .sortWithinPartitions(*pt_cols, "zval")
            .drop("zval")
        )
    else:
        staged = staged.repartition(*[F.col(c) for c in pt_cols])
    staged.write.partitionBy(*pt_cols).mode("error").parquet(out_dir)
    rel, parts = [], {}
    for dirpath, _, names in os.walk(out_dir):
        for name in names:
            if not name.endswith(".parquet"):
                continue
            full = os.path.join(dirpath, name)
            r = os.path.relpath(full, root)
            seg = {}
            for piece in os.path.relpath(dirpath, out_dir).split(os.sep):
                if "=" in piece:
                    k, _, raw = piece.partition("=")
                    seg[k] = raw
            values = [
                decode_path_value(f, df.schema, seg[c])
                for f, c in zip(fields, pt_cols)
            ]
            rel.append(r)
            parts[r] = {"spec_id": spec["spec_id"], "values": values}
    return rel, parts


def drop_partition_spec(root: str) -> int:
    """Metadata-only commit clearing the CURRENT spec: new writes go
    back to the unpartitioned writer. The spec HISTORY stays — existing
    files keep their tuples and keep pruning under the spec that wrote
    them (dropping a spec must not degrade yesterday's layout)."""
    from telemetry_parquet_spark.sources import snapshots as S

    parent = S.latest_version(root)
    m = S.read_manifest(root, parent)
    return S._commit(
        root, "drop-spec", m["files"], m["schema"], parent,
        {
            **S._carry_meta(m),
            **({"dv": m["dv"]} if m.get("dv") else {}),
            **({"eq": m["eq"]} if m.get("eq") else {}),
            "partition_spec": None,
        },
    )


def snapshot_groupby_partition(
    root: str,
    version: int | None = None,
    agg_cols: tuple[str, ...] = (),
) -> tuple[list[dict], dict] | None:
    """GROUP BY the partition tuple answered from the MANIFEST alone —
    the hive/Iceberg `partitions` metadata table, exact: per-tuple
    ``COUNT(*)`` folds the per-file footer row counts commits already
    record, and per-tuple ``SUM/COUNT(int col)`` folds the per-file
    ``[sum, n_nonnull]`` entries (``snapshot_sum``'s stats, grouped). A
    daily event count over a ``day(ts)``-partitioned 100 TB table is a
    manifest read — zero data I/O, cost ∝ file count.

    Returns ``(spec_fields, {tuple: {"n_rows", "sum": {col: int},
    "count": {col: int}}})`` or ``None`` when metadata cannot answer
    exactly (caller falls back to a scan — never a wrong answer):
    any untupled file, files from MIXED specs (their tuples group
    different things), a missing row count or sums entry, or a
    non-integer / temporal-encoded agg column.

    Outstanding deletion vectors stay metadata-only: each vector's agg
    sidecar records a PER-SOURCE-FILE breakdown of the rows it masks
    (``snapshots._write_dv_agg_sidecar``), and since every source file
    carries a partition tuple, the per-tuple rollup subtracts each
    delta from its file's group — per-tuple COUNT/SUM through MOR
    deletes/updates without reading a data file. Refuses (scan
    fallback) on a pre-format-2 sidecar (no breakdown), a missing
    sidecar, or a delta for an untupled/unknown file. A group fully
    emptied by deletes is dropped — SQL's GROUP BY over the surviving
    rows would not emit it.

    A group whose agg count is 0 is reported with sum 0 / count 0 —
    SQL's per-group ``SUM`` would be NULL there; callers converting to
    SQL results must map it (the scan fallback is always available)."""
    from telemetry_parquet_spark.sources import snapshots as S

    v = S.latest_version(root) if version is None else version
    m = S.read_manifest(root, v)
    files = m["files"]
    parts = m.get("partitions") or {}
    if not files or set(parts) != set(files) or m.get("eq"):
        # outstanding EQUALITY deletes: their per-tuple masks are
        # unknown until read time — refuse to the scan
        return None
    spec_ids = {e["spec_id"] for e in parts.values()}
    if len(spec_ids) != 1:
        return None
    fields = (m.get("specs") or {}).get(str(next(iter(spec_ids))))
    if not fields:
        return None
    schema = StructType.fromJson(json.loads(m["schema"]))
    canon = []
    for c in agg_cols:
        cc = S._canon_col(schema, c)
        if (
            cc is None
            or cc in (m.get("stats_types") or {})
            or schema[cc].dataType.typeName()
            not in ("long", "integer", "short", "byte")
        ):
            return None
        canon.append(cc)
    rows, sums = m.get("rows", {}), m.get("sums", {})
    field_objs = [PartitionField.from_json(d) for d in fields]
    out: dict = {}
    for f in files:
        if f not in rows:
            return None
        key = tuple(parts[f]["values"])
        for fo, v in zip(field_objs, key):
            if v is None and _string_output(fo, schema):
                # the hive NULL dir merges '' and NULL for string-output
                # transforms: this group cannot be split exactly
                return None
        g = out.setdefault(
            key,
            {
                "n_rows": 0,
                "sum": {c: 0 for c in canon},
                "count": {c: 0 for c in canon},
            },
        )
        g["n_rows"] += int(rows[f])
        for c in canon:
            ent = sums.get(f, {}).get(c)
            if ent is None:
                return None
            g["sum"][c] += int(ent[0])
            g["count"][c] += int(ent[1])
    for dvf in m.get("dv") or []:
        agg = S._read_dv_agg_sidecar(root, dvf)
        if agg is None or agg.get("per_file") is None:
            return None  # no per-file breakdown -> scan fallback
        for f, delta in agg["per_file"].items():
            # parts covers exactly the live files (checked above), so a
            # delta for any other file is unattributable
            if f not in parts:
                return None  # -> scan fallback
            g = out[tuple(parts[f]["values"])]
            g["n_rows"] -= int(delta["n"])
            for c in canon:
                ent = (delta.get("sums") or {}).get(c)
                if ent is None:
                    return None
                g["sum"][c] -= int(ent[0])
                g["count"][c] -= int(ent[1])
    # a group fully emptied by deletes is not a group at all in SQL
    out = {k: g for k, g in out.items() if g["n_rows"] > 0}
    return fields, out

"""Stats-driven join planning over snapshot tables: prune FIRST, then
pick the join strategy from what survived — all from manifest metadata,
zero data I/O before the decision.

Catalyst's own broadcast decision sees static table-level sizes (or waits for
AQE's runtime stats after a shuffle has already been planned). A table
format can do better at plan time: commits record per-file byte sizes
alongside column min/max (``snapshots.py::_stats_from_parent_manifest``), so after
``plan_snapshot_scan`` prunes each side's file list the planner knows the
PHYSICAL bytes the join will actually read. A dimension table that is
10 GB raw but 40 MB after predicate pruning broadcast-joins; the same
table unpruned shuffles. That post-prune re-decision is the piece the
static optimizer cannot make and AQE only makes after paying the first
shuffle.

Decision rule: among the sides the join type allows as build side
(either for inner; only the non-preserved side for outer/semi/anti), the
smaller post-prune side broadcasts iff its planned bytes ≤ threshold —
applied as an explicit ``F.broadcast`` hint so the physical plan carries
BroadcastHashJoin (pytest plan-asserted). Otherwise the join is left to
Catalyst/AQE (sort-merge with runtime skew handling). The returned
``JoinPlan`` records both sides' planned bytes, each scan's per-predicate
pruning steps, and the decision — ``require_broadcast`` RAISES when no
broadcast was chosen, the require_pruning proof discipline: a green
driver row proves the stats-driven decision ENGAGED.

Scale: planning cost is file-list-sized (two manifest reads). The bytes
estimate is exact physical file size, not a cardinality guess — it can
only over-estimate the broadcast payload (the residual filter drops more
rows), so a "fits" decision never broadcasts more bytes than planned.
Missing size entries (pre-upgrade manifests) fall back to one driver-side
``os.path.getsize`` per file, same cost class as the commit-time pass.

Reference parity: the reference hand-picks broadcast joins per job (e.g.
the allowlist semi-join the J3 row covers); this plans them from table
metadata, net-new engine surface.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from telemetry_parquet_spark.sources import snapshots as S
from telemetry_parquet_spark.sources.scan_planner import ScanPlan

DEFAULT_BROADCAST_THRESHOLD = 32 << 20  # bytes, post-prune


@dataclass
class JoinPlan:
    """The decision record: planned physical bytes per side (post-prune),
    which side broadcasts (None = Catalyst/AQE shuffle join), and each
    side's scan-pruning accounting."""

    left_bytes: int
    right_bytes: int
    broadcast: str | None
    left_scan: ScanPlan
    right_scan: ScanPlan


def planned_bytes(root: str, plan: ScanPlan, version: int | None = None) -> int:
    """Physical bytes of the files a ScanPlan kept, from the manifest's
    commit-time sizes (fallback: one getsize per missing entry)."""
    import os

    m = S.read_manifest(root, S.latest_version(root) if version is None else version)
    sizes = m.get("sizes", {})
    total = 0
    for f in plan.files:
        rel = os.path.relpath(f, root)
        n = sizes.get(rel)
        if n is None:
            try:
                n = os.path.getsize(f)
            except OSError:
                n = 0
        total += n
    return total


# which sides MAY be the broadcast build side, per join type: Spark can
# not broadcast the row-preserved side of an outer join, nor the left
# side of a semi/anti join.
_BROADCASTABLE = {
    "inner": ("left", "right"),
    "cross": ("left", "right"),
    "left": ("right",),
    "left_outer": ("right",),
    "left_semi": ("right",),
    "left_anti": ("right",),
    "right": ("left",),
    "right_outer": ("left",),
    "full": (),
    "full_outer": (),
    "outer": (),
}


def plan_join(
    spark: SparkSession,
    left_root: str,
    right_root: str,
    on: list[tuple[str, str]],
    how: str = "inner",
    left_predicates: list | None = None,
    right_predicates: list | None = None,
    broadcast_threshold: int = DEFAULT_BROADCAST_THRESHOLD,
    require_broadcast: bool = False,
    require_pruning: str | None = None,
    left_version: int | None = None,
    right_version: int | None = None,
) -> tuple[DataFrame, JoinPlan]:
    """Prune both snapshot sides through ``plan_snapshot_scan``, then
    join with the strategy the surviving bytes justify. ``on`` is
    [(left_col, right_col), ...]. ``require_pruning``: 'left' / 'right' /
    'both' forwards the pruned-nothing raise to that side's scan."""
    # resolve each side's version ONCE: the scan and the byte estimate
    # must read the same manifest, or a concurrent commit between the
    # two latest_version resolutions skews the broadcast decision
    lv = S.latest_version(left_root) if left_version is None else left_version
    rv = (
        S.latest_version(right_root) if right_version is None else right_version
    )
    ldf, lplan = S.plan_snapshot_scan(
        spark, left_root, left_predicates or [], version=lv,
        require_pruning=require_pruning in ("left", "both"),
    )
    rdf, rplan = S.plan_snapshot_scan(
        spark, right_root, right_predicates or [], version=rv,
        require_pruning=require_pruning in ("right", "both"),
    )
    lbytes = planned_bytes(left_root, lplan, lv)
    rbytes = planned_bytes(right_root, rplan, rv)

    allowed = _BROADCASTABLE.get(how, ())
    choice = None
    candidates = [
        (b, side)
        for b, side in ((lbytes, "left"), (rbytes, "right"))
        if side in allowed and b <= broadcast_threshold
    ]
    if candidates:
        choice = min(candidates)[1]
    if require_broadcast and choice is None:
        raise RuntimeError(
            f"plan_join: no side fits the broadcast threshold "
            f"({broadcast_threshold} B): left={lbytes} B after "
            f"{lplan.steps or 'no pruning'}, right={rbytes} B after "
            f"{rplan.steps or 'no pruning'}"
        )

    if choice == "left":
        ldf = F.broadcast(ldf)
    elif choice == "right":
        rdf = F.broadcast(rdf)
    cond = None
    for lc, rc in on:
        e = ldf[lc] == rdf[rc]
        cond = e if cond is None else cond & e
    joined = ldf.join(rdf, cond, how)
    return joined, JoinPlan(lbytes, rbytes, choice, lplan, rplan)


@dataclass
class BucketJoinPlan:
    """The bucket-aligned decision record: one row per co-located bucket
    pair — (bucket, left_bytes, right_bytes, broadcast side or None) —
    plus what the alignment routed around the join: NULL-key files that
    can never match (dropped for inner/semi; for anti/outer, LEFT
    NULL-key files pass through unjoined instead), buckets empty on one
    side, and (anti/outer) left files whose bucket has no right files at
    all — their rows are unmatched BY THE MANIFEST, no data read needed.

    ``staged_side``/``staging_plan``: set when one side carried no
    bucket spec and was shuffled into the bucket layout (the one-side
    storage-partitioned join) — the staging frame's physical plan is
    recorded so callers can assert the promise 'exactly one exchange,
    on the unbucketed side'."""

    n_buckets: int
    pairs: list
    dropped_null_files: int
    skipped_buckets: int
    passthrough_files: int = 0
    staged_side: str | None = None
    staging_plan: str | None = None


def _bucket_index(m: dict, key: str) -> tuple[int, dict]:
    """Per-file bucket values for ``key`` from the manifest's partition
    tuples: every file must carry a tuple whose spec (the one that WROTE
    it) has a bucket field on ``key``, all with one width. Returns
    (n, {rel_file: bucket value or None}); raises loudly otherwise —
    an unaligned table wants one ``compact_table`` (rewrite-data-files
    to the current spec) first."""
    parts = m.get("partitions") or {}
    specs = m.get("specs") or {}
    out: dict = {}
    n_global = None
    for f in m["files"]:
        e = parts.get(f)
        fields = specs.get(str(e["spec_id"])) if e else None
        idx = next(
            (
                i
                for i, fd in enumerate(fields or [])
                if fd.get("transform") == "bucket"
                and fd["col"].lower() == key.lower()
            ),
            None,
        )
        if e is None or idx is None:
            raise ValueError(
                f"bucket join: {f} carries no bucket({key}) partition "
                "tuple — compact_table under a bucket spec first"
            )
        n = fields[idx]["n"]
        if n_global is None:
            n_global = n
        elif n != n_global:
            raise ValueError(
                f"bucket join: mixed bucket widths ({n_global} vs {n}) — "
                "compact_table migrates every file to the current spec"
            )
        out[f] = e["values"][idx]
    return n_global or 0, out


def _stage_into_buckets(
    spark: SparkSession,
    root: str,
    m: dict,
    keys: list[str],
    ns: list[int],
    predicates: list | None,
    version: int,
) -> tuple[dict, str, str]:
    """Shuffle an UNBUCKETED side into the bucket layout — the missing
    half of the storage-partitioned join. ONE job: scan-prune the side
    through ``plan_snapshot_scan`` (predicates filter BEFORE the
    shuffle), derive ``__b{i} = crc32(utf8(key_i)) % n_i`` per key
    (bit-identical to partition_spec's write-side bucket), repartition
    BY the full ``__b*`` tuple (the single exchange this plan pays, on
    this side only), and write per-bucket files to a scratch directory.
    NULL keys land in the hive default dir -> a None tuple component,
    same semantics as a None-tuple file. Returns
    ({rel_file: bucket tuple}, scratch_root, staging physical plan).

    The staged layout lands under the SESSION WAREHOUSE keyed by
    (table root, resolved version, the pinned manifest's
    ``committed_at``, key, width, predicates) — manifests are immutable
    at a version, and the commit time tells a table rebuilt at the same
    path and version from the one staged before, so a later call with
    the same key
    REUSES the layout and skips the shuffle entirely (the
    materialize_cached discipline; repeated joins against one dim
    version pay the exchange once). Eviction keeps the scratch bounded:
    each stage dir carries a ``_stage_meta.json`` (root + version), and
    before a new stage is written every dir of the SAME table whose
    version is older than the table head AND untouched for an hour is
    removed (the grace mirrors vacuum's orphan rule: it protects
    in-flight writers and lazy join frames still reading a
    just-superseded layout) — evolving versions or predicate sets never
    accumulate more than the head's layouts plus the trailing hour
    (legacy meta-less dirs are left alone).
    The write is crash-safe: a private tmp dir renamed into place; a
    lost rename race discards its copy and reuses the winner's.

    At 100 TB this is the bucketed-fact ⋈ mid-size-dim shape: the fact
    side streams its own bucket files untouched, only the dim's
    (pruned) bytes cross the network once, and the staged layout is a
    reusable artifact across queries of this dim version."""
    import hashlib
    import json as _json
    import os
    import shutil
    import uuid as _uuid

    from pyspark.sql.types import StructType

    df, _ = S.plan_snapshot_scan(
        spark, root, predicates or [], version=version
    )
    schema = StructType.fromJson(_json.loads(m["schema"]))
    names = {c.lower() for c in schema.fieldNames()}
    for key in keys:
        if key.lower() not in names:
            raise ValueError(f"bucket join: no column {key!r} to stage on")
    # the one source of truth for the bucket expression: any drift from
    # the write side would silently mis-align the staged layout
    from telemetry_parquet_spark.sources.partition_spec import (
        PartitionField,
        spark_transform,
    )

    bcols = [f"__b{i}" for i in range(len(keys))]
    staged = df.select(
        "*",
        *[
            spark_transform(PartitionField(k, "bucket", n)).alias(c)
            for k, n, c in zip(keys, ns, bcols)
        ],
    ).repartition(*[F.col(c) for c in bcols])
    plan_str = staged._jdf.queryExecution().executedPlan().toString()
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    if wh.startswith("file:"):
        wh = wh[len("file:"):]
    key_sig = ",".join(
        f"{k.lower()}:{n}" for k, n in zip(keys, ns)
    )
    # the pinned manifest's commit time tells a table deleted and
    # rebuilt at the same path and version from the one staged before
    fp = hashlib.md5(
        (
            f"{os.path.abspath(root)}|v{version}|"
            f"{m.get('committed_at')!r}|{key_sig}|"
            f"{sorted(repr(p) for p in predicates or [])}"
        ).encode()
    ).hexdigest()[:16]
    scratch = os.path.join(wh, f"bucket_stage_{fp}")
    if os.path.isdir(scratch):
        # REUSE: refresh mtime so the eviction grace measures time
        # since LAST USE, not creation — a lazy join frame handed out
        # against a long-lived layout stays protected
        try:
            os.utime(scratch, None)
        except OSError:
            pass
    if not os.path.isdir(scratch):
        # evict this table's stale layouts first: a stage dir whose
        # recorded version is older than the table head can never be
        # reused (callers resolve versions against the head), so the
        # scratch stays bounded by the head version's layouts. Two
        # safety gates, same shape as vacuum's orphan_grace_s: (a)
        # in-flight ``.tmp-`` writer dirs are never candidates, and (b)
        # only dirs untouched for an hour are removed — a LAZY join
        # DataFrame returned against the previous head keeps reading
        # its layout while the caller is still consuming it (collect
        # promptly after the table advances; vacuum has the same
        # contract for data files)
        import time as _time

        head = S.latest_version(root)
        abs_root = os.path.abspath(root)
        now = _time.time()
        for name in os.listdir(wh) if os.path.isdir(wh) else []:
            if not name.startswith("bucket_stage_"):
                continue
            d = os.path.join(wh, name)
            try:
                age = now - os.path.getmtime(d)
            except OSError:
                continue
            if ".tmp-" in name or ".tomb-" in name:
                # ``.tmp-``: an in-flight writer's private dir;
                # ``.tomb-``: a condemned dir whose evictor crashed
                # between rename and rmtree. Both are ours by naming
                # convention; reclaim only once clearly a crash
                # leftover (writes take minutes, not an hour)
                if age > 3600.0:
                    shutil.rmtree(d, ignore_errors=True)
                continue
            meta_p = os.path.join(d, "_stage_meta.json")
            try:
                with open(meta_p) as fh:
                    meta = _json.load(fh)
            except (OSError, ValueError):
                continue  # meta-less / foreign dir: leave it alone
            if (
                meta.get("root") == abs_root
                and meta.get("version", head) < head
                and age > 3600.0
            ):
                # Evict via atomic rename-to-tombstone, NOT an in-place
                # rmtree: a concurrent process may have just refreshed
                # the dir's mtime (reuse) and begun lazy reads — a
                # getmtime-check-then-rmtree window would delete the
                # layout out from under it mid-walk. The rename is
                # atomic and preceded by a FRESH mtime recheck (the
                # loop's ``age`` is from a stale ``now``); a reuser
                # that already resolved the original path then fails
                # loudly on the vanished dir (see the post-walk meta
                # check below) instead of silently reading a
                # half-deleted directory.
                tomb = f"{d}.tomb-{_uuid.uuid4().hex[:8]}"
                try:
                    if _time.time() - os.path.getmtime(d) <= 3600.0:
                        continue  # a reuser refreshed it meanwhile
                    os.rename(d, tomb)
                except OSError:
                    continue  # raced with another evictor/reuser
                shutil.rmtree(tomb, ignore_errors=True)
        tmp = f"{scratch}.tmp-{_uuid.uuid4().hex[:8]}"
        staged.write.partitionBy(*bcols).mode("error").parquet(tmp)
        with open(os.path.join(tmp, "_stage_meta.json"), "w") as fh:
            _json.dump({"root": abs_root, "version": version,
                        "keys": key_sig}, fh)
        try:
            os.rename(tmp, scratch)
        except OSError:  # lost the race: the winner's copy is identical
            shutil.rmtree(tmp, ignore_errors=True)
    buckets: dict = {}
    for dirpath, _dirs, fnames in os.walk(scratch):
        for name in fnames:
            if not name.endswith(".parquet"):
                continue
            rel = os.path.relpath(os.path.join(dirpath, name), scratch)
            vals = []
            for c in bcols:
                seg = next(
                    (p for p in rel.split(os.sep)
                     if p.startswith(f"{c}=")), ""
                )
                raw = seg[len(c) + 1:]
                vals.append(int(raw) if raw.isdigit() else None)
            # a None component means the file's rows are NULL on that
            # key -> the composite can never equi-match (None tuple)
            buckets[rel] = (
                None if any(v is None for v in vals) else tuple(vals)
            )
    # Loud-failure gate for the eviction race: every valid stage dir
    # carries _stage_meta.json (written before the rename-into-place),
    # so its absence after the walk means the layout vanished mid-read
    # (evicted by another process despite the mtime grace). An empty
    # ``buckets`` here would otherwise flow into a silently-empty join.
    if not os.path.isfile(os.path.join(scratch, "_stage_meta.json")):
        raise RuntimeError(
            f"bucket join: staged layout {scratch} disappeared while "
            "being read (evicted concurrently) — re-plan the join"
        )
    return buckets, scratch, plan_str


def plan_bucket_join(
    spark: SparkSession,
    left_root: str,
    right_root: str,
    on: tuple[str, str] | list[tuple[str, str]],
    how: str = "inner",
    left_predicates: list | None = None,
    right_predicates: list | None = None,
    broadcast_threshold: int = DEFAULT_BROADCAST_THRESHOLD,
    require_broadcast: bool = False,
    left_version: int | None = None,
    right_version: int | None = None,
) -> tuple[DataFrame, BucketJoinPlan]:
    """Storage-partitioned equi-join (``inner`` / ``left_semi`` /
    ``left_anti`` / ``left_outer``) of two snapshot tables whose files
    are bucket-partitioned on the join key with the SAME width
    (partition_spec.py's crc32 bucket — write-side layout IS the join
    plan): an equi-join decomposes exactly by any function of the key,
    so the planner pairs each bucket's files across the two tables and
    unions n per-bucket joins in ONE Catalyst plan.

    COMPOSITE keys: ``on`` may be a LIST of (left, right) pairs — the
    reference's five-column dedup join shape
    (``PioneerOnlineNewsDedupe.scala:114-117``). Pairing then runs on
    the TUPLE of per-key bucket values (matching rows agree on every
    key, hence on every key's bucket — the decomposition stays exact);
    alignment uses the largest subset of keys BOTH sides are tupled on
    at one width per field (a subset pairing is coarser but correct —
    the join condition still applies every key). Refusal matrix, all
    loud: spec-intended-but-untupled keys raise the compact_table
    migration; width mismatch on EVERY common field raises; two sides
    bucketed on disjoint fields raise; a side unbucketed on every key
    stages into the other's full tupled layout (one exchange). Per-bucket byte
    sums from the manifest drive a PER-BUCKET broadcast decision — with
    every pair broadcast, the physical plan contains n
    BroadcastHashJoins and ZERO shuffle exchanges for the join itself.

    This is the decision neither Catalyst nor AQE can make: they see
    one table-sized join (static sizes, or runtime stats after the
    first shuffle is already paid); the manifest knows each co-located
    bucket pair's exact physical bytes before any data I/O. At 100 TB
    this is the bucket-map-join shape — the fact side streams its own
    bucket files, the dimension side's matching bucket broadcasts, and
    no row of either table crosses the network for repartitioning.
    ``left_anti`` is the bucketed-blocklist dedup shape, and the
    manifest does part of the anti-join for free: a left file whose
    bucket has NO right files — or whose key is all-NULL — is unmatched
    by construction and PASSES THROUGH without a join at all.

    ``left_predicates`` / ``right_predicates`` compose the FULL scan
    pruning stack with the co-location: each side's file list first
    goes through ``plan_snapshot_scan`` (spec tuples, Bloom index,
    min/max stats), bucket pairs form over the SURVIVORS (fewer pairs,
    smaller broadcasts — a pruned-empty right bucket even turns its
    left bucket into an anti passthrough), and each side's residual
    filter is re-applied so the answer is EXACTLY the
    filter-then-join. For semi/anti, ``right_predicates`` select which
    right rows count as matches (the filtered-subquery semantics).

    ONE-SIDE-BUCKETED regime (the dominant 100 TB shape: bucketed fact
    ⋈ dim too large to broadcast): when exactly one side carries no
    bucket tuple on its key, that side is SHUFFLED INTO the other's
    bucket layout first (``_stage_into_buckets``: scan-prune, derive
    the same crc32 bucket, repartition by it, write per-bucket files)
    — exactly one exchange, paid by the unbucketed side only; the
    bucketed side's files never move. The per-bucket broadcast plan
    then runs unchanged over the staged layout, and the plan record
    carries ``staged_side`` + the staging frame's physical plan so
    callers can assert the single-exchange promise. Both sides
    unbucketed still raises (migrate one with ``compact_table``).

    Join-type semantics, all from "NULL matches nothing":
    inner/left_semi drop NULL-key files on both sides and skip buckets
    empty on either side; left_anti and left_outer pass unmatched left
    files through (outer pads them with typed-NULL right columns) and
    still drop right NULL-key files. Full/right outer joins are NOT
    offered (they would need the RIGHT side's unmatched rows preserved
    across the union — a different plan shape). Loud guardrails: each
    bucketed side must be FULLY tupled at one width (raise →
    ``compact_table`` migrates); outstanding deletion vectors refuse;
    semi/anti/left_outer can only broadcast the right side (Spark
    build-side legality).
    """
    import json as _json
    import os
    from functools import reduce

    from pyspark.sql.types import StructType

    # accept every Spark-accepted spelling (DataFrame.join parity):
    # 'left' / 'leftouter' / 'left outer' → left_outer, 'semi' /
    # 'leftsemi' → left_semi, 'anti' / 'leftanti' → left_anti
    how = how.lower().replace(" ", "_").replace("-", "_")
    how = {
        "left": "left_outer",
        "leftouter": "left_outer",
        "semi": "left_semi",
        "leftsemi": "left_semi",
        "anti": "left_anti",
        "leftanti": "left_anti",
    }.get(how, how)
    if how not in ("inner", "left_semi", "left_anti", "left_outer"):
        raise ValueError(
            f"plan_bucket_join: unsupported join type {how!r} "
            "(inner / left_semi / left_anti / left_outer)"
        )
    # normalize ``on``: one (lkey, rkey) pair, or a LIST of pairs for a
    # COMPOSITE key (the reference's five-column dedup join,
    # PioneerOnlineNewsDedupe.scala:114-117): an equi-join on every key
    # decomposes by the TUPLE of per-key buckets (matching rows agree on
    # each key, hence on each key's bucket), so pairing runs on the
    # cartesian bucket tuple. Alignment can use any non-empty SUBSET of
    # the keys both sides are tupled on at one width — a subset pairing
    # is coarser (fewer, larger buckets) but always correct, the full
    # join condition still applies every key.
    if on and isinstance(on[0], (list, tuple)):
        key_pairs = [(lk, rk) for lk, rk in on]
    else:
        key_pairs = [(on[0], on[1])]
    lkeys = [p[0] for p in key_pairs]
    rkeys = [p[1] for p in key_pairs]
    # resolve each side's version ONCE and use it for BOTH the bucket
    # index and the pruning scan: re-resolving latest_version inside
    # _side_prune would let a concurrent commit slip between the two
    # reads and silently drop files from the join
    lv = S.latest_version(left_root) if left_version is None else left_version
    rv = (
        S.latest_version(right_root) if right_version is None else right_version
    )
    lm = S.read_manifest(left_root, lv)
    rm = S.read_manifest(right_root, rv)
    S._require_no_dv(lm, "plan_bucket_join")
    S._require_no_dv(rm, "plan_bucket_join")

    def _spec_has_bucket(m: dict, key: str) -> bool:
        return any(
            f.get("transform") == "bucket"
            and f["col"].lower() == key.lower()
            for f in (m.get("partition_spec") or {}).get("fields", [])
        )

    def _side_index(m: dict, keys: list[str]) -> list:
        """Per join-key position: (width, {file: bucket}) or the
        ValueError _bucket_index raised for that key."""
        out: list = []
        for k in keys:
            try:
                out.append(_bucket_index(m, k))
            except ValueError as e:
                # a side whose CURRENT spec INTENDS bucketing this key
                # but is partially tupled / mixed-width gets the loud
                # compact_table migration guidance, never a silent
                # staging rewrite or a silent skip of the field
                if _spec_has_bucket(m, k):
                    raise
                out.append(e)
        return out

    lidx = _side_index(lm, lkeys)
    ridx = _side_index(rm, rkeys)
    l_ok = {i for i, v in enumerate(lidx) if not isinstance(v, Exception)}
    r_ok = {i for i, v in enumerate(ridx) if not isinstance(v, Exception)}
    # aligned positions: both sides tupled at ONE width (a zero-file
    # side aligns vacuously at the other's width); per-field width
    # mismatches drop the FIELD from the pairing, not the join — unless
    # no field survives, which is the refusal matrix below
    aligned = [
        i
        for i in sorted(l_ok & r_ok)
        if lidx[i][0] == ridx[i][0] or lidx[i][0] == 0 or ridx[i][0] == 0
    ]
    staged_side = staging_plan = None
    lbase, rbase = left_root, right_root
    if not aligned:
        # refusal matrix — every path is loud, with the migration that
        # unlocks the zero/one-shuffle join named:
        if l_ok and r_ok:
            common = sorted(l_ok & r_ok)
            if common:
                detail = ", ".join(
                    f"{lkeys[i]}: left {lidx[i][0]} vs right {ridx[i][0]}"
                    for i in common
                )
                raise ValueError(
                    f"bucket join: width mismatch on every common "
                    f"bucketed field ({detail}) — evolve one side's "
                    "spec and compact_table to migrate"
                )
            raise ValueError(
                "bucket join: the two sides are bucketed on DISJOINT "
                f"join keys (left: {[lkeys[i] for i in sorted(l_ok)]}, "
                f"right: {[rkeys[i] for i in sorted(r_ok)]}) — evolve "
                "one side's spec to share a field and compact_table"
            )
        if not l_ok and not r_ok:
            raise next(
                v for v in lidx + ridx if isinstance(v, Exception)
            )  # neither side aligned: migration is the answer
        # exactly one side unbucketed on EVERY key: shuffle ONLY that
        # side into the other's bucket layout (the storage-partitioned-
        # join completion — the bucketed fact never moves, the dim pays
        # one exchange), on all of the bucketed side's tupled keys.
        # width `or 1` covers an empty tupled side: alignment is
        # vacuous then.
        if l_ok:
            aligned = sorted(l_ok)
            ns = [lidx[i][0] or 1 for i in aligned]
            rbuckets, rbase, staging_plan = _stage_into_buckets(
                spark, right_root, rm, [rkeys[i] for i in aligned], ns,
                right_predicates, rv,
            )
            staged_side, right_predicates = "right", None
        else:
            aligned = sorted(r_ok)
            ns = [ridx[i][0] or 1 for i in aligned]
            lbuckets, lbase, staging_plan = _stage_into_buckets(
                spark, left_root, lm, [lkeys[i] for i in aligned], ns,
                left_predicates, lv,
            )
            staged_side, left_predicates = "left", None
    else:
        ns = [max(lidx[i][0], ridx[i][0]) for i in aligned]

    def _composite(idx: list, m: dict) -> dict:
        """Per-file bucket TUPLE over the aligned positions; None when
        any component is None (all-NULL keys can never equi-match)."""
        per = [idx[i][1] for i in aligned]
        out: dict = {}
        for f in m["files"]:
            vals = [p.get(f) for p in per]
            out[f] = (
                None if any(v is None for v in vals) else tuple(vals)
            )
        return out

    if staged_side != "left":
        lbuckets = _composite(lidx, lm)
    if staged_side != "right":
        rbuckets = _composite(ridx, rm)
    n_total = 1
    for n_ in ns:
        n_total *= n_

    from telemetry_parquet_spark.sources.scan_planner import (
        _predicate_expr,
    )

    def _side_prune(preds, root, version, buckets):
        """Run the full scan-pruning stack (spec tuples, Bloom, stats)
        on one side; bucket pairs form over the survivors and the
        residual re-applies for exactness."""
        if not preds:
            return buckets, None
        _, sp = S.plan_snapshot_scan(spark, root, preds, version=version)
        surv = {os.path.relpath(p, root) for p in sp.files}
        residual = None
        for p in preds:
            e = _predicate_expr(p)
            residual = e if residual is None else residual & e
        return {f: b for f, b in buckets.items() if f in surv}, residual

    lbuckets, lresidual = _side_prune(left_predicates, left_root, lv, lbuckets)
    rbuckets, rresidual = _side_prune(
        right_predicates, right_root, rv, rbuckets
    )
    lschema = StructType.fromJson(_json.loads(lm["schema"]))
    rschema = StructType.fromJson(_json.loads(rm["schema"]))
    using = all(lk.lower() == rk.lower() for lk, rk in key_pairs)
    if how in ("inner", "left_outer"):
        shared = {c.lower() for c in lschema.fieldNames()} & {
            c.lower() for c in rschema.fieldNames()
        } - ({k.lower() for k in lkeys} if using else set())
        if shared:
            raise ValueError(
                f"bucket join: both sides carry column(s) {sorted(shared)}"
                f" — the {how} join's output would hold ambiguous "
                "duplicates; rename one side first (same-named JOIN KEYS "
                "are fine: they dedupe via the USING form)"
            )
    lsizes = {} if staged_side == "left" else lm.get("sizes", {})
    rsizes = {} if staged_side == "right" else rm.get("sizes", {})

    by_bucket: dict[int, tuple[list, list]] = {}
    dropped = 0
    # anti/outer: unmatched-by-manifest left files pass through unjoined
    passthrough: list[str] = []
    for f, b in lbuckets.items():
        if b is None:
            if how in ("left_anti", "left_outer"):
                passthrough.append(f)
            else:
                dropped += 1
            continue
        by_bucket.setdefault(b, ([], []))[0].append(f)
    for f, b in rbuckets.items():
        if b is None:
            dropped += 1
            continue
        by_bucket.setdefault(b, ([], []))[1].append(f)

    pairs, parts, skipped = [], [], 0
    for b in sorted(by_bucket):
        lf, rf = by_bucket[b]
        if not lf or not rf:
            if lf and how in ("left_anti", "left_outer"):
                passthrough.extend(lf)
            else:
                skipped += 1
            continue

        def _bytes(files, sizes, root):
            total = 0
            for f in files:
                n = sizes.get(f)
                if n is None:  # pre-sizes manifest: same fallback class
                    try:  # as planned_bytes — never a silent 0
                        n = os.path.getsize(os.path.join(root, f))
                    except OSError:
                        n = broadcast_threshold + 1  # unknown -> no fit
                total += n
            return total

        lb = _bytes(lf, lsizes, lbase)
        rb = _bytes(rf, rsizes, rbase)
        ldf = spark.read.schema(lschema).parquet(
            *[os.path.join(lbase, f) for f in sorted(lf)]
        )
        rdf = spark.read.schema(rschema).parquet(
            *[os.path.join(rbase, f) for f in sorted(rf)]
        )
        if lresidual is not None:
            ldf = ldf.where(lresidual)
        if rresidual is not None:
            rdf = rdf.where(rresidual)
        choice = None
        fits = [
            (size, side)
            for size, side in ((lb, "left"), (rb, "right"))
            if size <= broadcast_threshold
            # Spark cannot broadcast the row-preserved side of an
            # outer join nor the left side of a semi/anti
            and (how == "inner" or side == "right")
        ]
        if fits:
            choice = min(fits)[1]
            if choice == "left":
                ldf = F.broadcast(ldf)
            else:
                rdf = F.broadcast(rdf)
        elif require_broadcast:
            raise RuntimeError(
                f"plan_bucket_join: bucket {b} fits no broadcast "
                f"(left={lb} B, right={rb} B, threshold="
                f"{broadcast_threshold} B)"
            )
        pairs.append((b[0] if len(b) == 1 else b, lb, rb, choice))
        if how in ("inner", "left_outer") and using:
            # USING form: same-named keys dedupe to one output column
            # (the expression form would emit both and break the union)
            parts.append(ldf.join(rdf, on=lkeys, how=how))
        else:
            cond = None
            for lk, rk in key_pairs:
                e = ldf[lk] == rdf[rk]
                cond = e if cond is None else cond & e
            parts.append(ldf.join(rdf, cond, how))

    if passthrough:
        pt = spark.read.schema(lschema).parquet(
            *[os.path.join(lbase, f) for f in sorted(passthrough)]
        )
        if lresidual is not None:
            pt = pt.where(lresidual)
        if how == "left_outer":
            # unmatched-by-manifest rows still carry the join's output
            # schema: right columns (minus a USING-deduped key) as
            # typed NULLs
            add = [
                f for f in rschema.fields
                if not (
                    using
                    and f.name.lower() in {k.lower() for k in rkeys}
                )
            ]
            pt = pt.select(
                "*",
                *[
                    F.lit(None).cast(f.dataType).alias(f.name)
                    for f in add
                ],
            )
        parts.append(pt)
    if parts:
        joined = reduce(lambda a, c: a.unionByName(c), parts)
    elif how in ("inner", "left_outer"):  # no rows to emit at all
        le = spark.createDataFrame([], lschema)
        re_ = spark.createDataFrame([], rschema)
        if using:  # match the USING-form schema
            joined = le.join(re_, on=lkeys, how=how)
        else:
            cond = None
            for lk, rk in key_pairs:
                e = F.col(f"l.{lk}") == F.col(f"r.{rk}")
                cond = e if cond is None else cond & e
            joined = le.alias("l").join(re_.alias("r"), cond, how)
    else:  # semi/anti output schema is the left schema
        joined = spark.createDataFrame([], lschema)
    return joined, BucketJoinPlan(
        n_total, pairs, dropped, skipped, len(passthrough),
        staged_side, staging_plan,
    )


@dataclass
class DppJoinPlan:
    """Manifest-side dynamic-partition-pruning record: how many of the
    fact's partition values the FILTERED dim actually touches, and the
    fact file counts before/after the live-set prune. ``n_buckets`` is
    0 for non-bucket transforms (their domain is unbounded);
    ``live_buckets`` is -1 when the live set overflowed the driver cap
    and the prune was disabled."""

    n_buckets: int
    live_buckets: int
    fact_files_total: int
    fact_files_kept: int
    dim_bytes: int
    broadcast_dim: bool
    how: str = "inner"


def plan_dpp_join(
    spark: SparkSession,
    fact_root: str,
    dim_root: str,
    on: tuple[str, str],
    how: str = "inner",
    dim_predicates: list | None = None,
    fact_predicates: list | None = None,
    broadcast_threshold: int = DEFAULT_BROADCAST_THRESHOLD,
    require_pruning: bool = False,
    fact_version: int | None = None,
    dim_version: int | None = None,
) -> tuple[DataFrame, DppJoinPlan]:
    """Star-schema join with MANIFEST-SIDE dynamic partition
    pruning: the filtered dimension decides which of the fact's
    partitions can possibly hold matches, BEFORE the fact scan is
    planned.

    Spark's own DPP needs a hive/DSv2 partitioned fact and inserts a
    runtime subquery filter; on plain parquet + our partition tuples it
    cannot engage at all. Here the decision is exact and cheap at any
    scale: after the dim side is scan-pruned and residual-filtered, ONE
    dim-sized job computes the DISTINCT TRANSFORMED values of its join
    keys — the fact's own spec transform (``crc32(key) % n`` for
    bucket, days/hours/months/years-since-epoch for temporals, the
    value itself for identity, the prefix for truncate) applied to the
    DIM's key column, bit-identically to the write side. For bucket at
    most n integers cross to the driver REGARDLESS of dim cardinality
    (never the keys themselves); for the other transforms the set is
    bounded by the dim's distinct transformed values and CAPPED at
    100k — overflow disables the prune (keep everything) rather than
    ship an unbounded driver payload. Fact files whose tuple value is
    outside the set are dropped; untupled fact files are conservatively
    kept, and a None-valued file under a string-output transform (the
    hive dir merging ''+NULL) is kept iff '' is live. An equi-join only
    matches rows whose transformed keys agree (same function both
    sides), so dropping a non-live file can never drop a matching row.

    At 100 TB: a dim filter hitting 3 of 32 buckets turns the fact scan
    into 3/32 of its files with zero data I/O spent deciding —
    composing with the fact's own predicates (``fact_predicates`` prune
    via stats/Bloom/tuples first, the live set intersects after). The
    dim broadcasts when its post-prune bytes fit (the usual star
    shape); otherwise Catalyst/AQE picks the join strategy.

    Guardrails: the fact's CURRENT spec must carry a field on the join
    key (raise otherwise — use plan_join for stats-only pruning);
    ``require_pruning`` raises when the live set dropped nothing.

    Join types: ``inner`` and ``left_semi`` only. The semi join is the
    at-scale allowlist-filter shape (J3, AddonRecommender.scala:132-148)
    and dim-liveness pruning is equally safe there: a semi join KEEPS
    only fact rows with a dim match, and a dropped file provably holds
    none. ``left_anti`` and every outer type are ILLEGAL by
    construction — they must PRESERVE exactly the rows/files the prune
    removes (an anti join's answer lives in the non-live files; an
    outer join must emit pruned rows NULL-padded) — so they raise."""
    import json as _json
    import os

    from pyspark.sql.types import StructType

    from telemetry_parquet_spark.sources.partition_spec import (
        PartitionField,
        _string_output,
        spark_transform,
    )

    how = how.lower().replace(" ", "_").replace("-", "_")
    how = {"semi": "left_semi", "leftsemi": "left_semi"}.get(how, how)
    if how not in ("inner", "left_semi"):
        raise ValueError(
            f"plan_dpp_join: join type {how!r} cannot compose with "
            "dim-liveness file pruning (anti/outer joins preserve "
            "exactly the rows the prune removes) — inner / left_semi"
        )
    fkey, dkey = on
    fv = (
        S.latest_version(fact_root)
        if fact_version is None
        else fact_version
    )
    dv_ = (
        S.latest_version(dim_root) if dim_version is None else dim_version
    )
    fm = S.read_manifest(fact_root, fv)
    S._require_no_dv(fm, "plan_dpp_join")
    spec = fm.get("partition_spec") or {}
    on_key = [
        f for f in spec.get("fields", [])
        if f["col"].lower() == fkey.lower()
    ]
    if not on_key:
        raise ValueError(
            f"plan_dpp_join: fact's current partition spec carries no "
            f"field on {fkey!r} — partition the fact on its join key or "
            "use plan_join"
        )
    # prefer bucket (driver payload provably <= n); else the first field
    fld = next(
        (f for f in on_key if f.get("transform") == "bucket"), on_key[0]
    )
    n = fld.get("n") or 0
    dim_field = PartitionField(
        dkey, fld.get("transform", "identity"), fld.get("n")
    )
    fschema = StructType.fromJson(_json.loads(fm["schema"]))
    dm = S.read_manifest(dim_root, dv_)
    dschema = StructType.fromJson(_json.loads(dm["schema"]))
    # every guaranteed error fires BEFORE any Spark job runs
    shared = {c.lower() for c in fschema.fieldNames()} & {
        c.lower() for c in dschema.fieldNames()
    }
    if shared and how == "inner":
        # a semi join's output is the fact schema alone and the join
        # condition is frame-qualified — shared names are fine there
        raise ValueError(
            f"plan_dpp_join: both sides carry column(s) {sorted(shared)}"
            " — the join output would hold ambiguous duplicates; rename "
            "one side first"
        )

    def _kind(schema: StructType, col: str) -> str:
        for f in schema.fields:
            if f.name.lower() == col.lower():
                t = f.dataType.typeName()
                if t in ("byte", "short", "integer", "long"):
                    return "int"
                return t
        raise ValueError(f"plan_dpp_join: no column {col!r}")

    # the live set is computed from DIM-typed values and compared to
    # FACT-typed tuples: cross-kind keys (int fact vs string dim, say)
    # would silently mis-prune — Spark's join coerces 55 == '55' while
    # both 55 in {'55'} and crc32('55.0') vs crc32('55') disagree. A
    # cross-kind star join is a schema bug; fail loudly.
    fkind, dkind = _kind(fschema, fkey), _kind(dschema, dkey)
    if fkind != dkind:
        raise ValueError(
            f"plan_dpp_join: join-key types disagree (fact {fkey}: "
            f"{fkind}, dim {dkey}: {dkind}) — the transformed live set "
            "would mis-prune under Spark's join coercion; cast one side"
        )
    string_out = _string_output(dim_field, dschema)

    ddf, dplan = S.plan_snapshot_scan(
        spark, dim_root, dim_predicates or [], version=dv_
    )
    # ONE dim-sized job; bucket output is bounded by n, the others by
    # the dim's distinct transformed values (capped below)
    _CAP = 100_000
    live_rows = (
        ddf.select(spark_transform(dim_field).alias("b"))
        .where(F.col("b").isNotNull())
        .distinct()
        .limit(_CAP + 1)
        .collect()
    )
    live: set | None = {r.b for r in live_rows}
    if len(live) > _CAP:
        live = None  # unbounded payload -> disable the prune, keep all

    # only the PLAN is consumed: the pruned fact frame is rebuilt below
    # from the bucket-set survivors (with the residual re-applied)
    _, fplan = S.plan_snapshot_scan(
        spark, fact_root, fact_predicates or [], version=fv
    )
    parts = fm.get("partitions") or {}
    specs = fm.get("specs") or {}
    fact_total = len(fplan.files)

    def _keep(path: str) -> bool:
        if live is None:
            return True  # prune disabled (cap overflow)
        rel = os.path.relpath(path, fact_root)
        e = parts.get(rel)
        fields = specs.get(str(e["spec_id"])) if e else None
        if not fields:
            return True  # untupled -> conservative keep
        for i, fd in enumerate(fields):
            if (
                fd.get("transform") == fld.get("transform", "identity")
                and fd["col"].lower() == fkey.lower()
                and fd.get("n") == fld.get("n")
            ):
                b = e["values"][i]
                if b is None:
                    # int-output: all-NULL keys, inner join never
                    # matches; string-output: the hive dir merges ''
                    # with NULL, so keep iff '' itself is live
                    return string_out and "" in live
                return b in live
        return True  # written under a spec without this field -> keep

    kept = [p for p in fplan.files if _keep(p)]
    if require_pruning:
        if live is None:
            raise ValueError(
                "plan_dpp_join: the dim's distinct transformed values "
                f"overflowed the {_CAP} driver cap — the prune was "
                "disabled, so the require_pruning proof cannot hold"
            )
        if live and 0 < len(kept) == fact_total:
            raise ValueError(
                f"plan_dpp_join: dim touched every live partition "
                f"({len(live)} values{f' of {n} buckets' if n else ''})"
                " — no fact file pruned"
            )
    if kept:
        pruned_fact = spark.read.schema(fschema).parquet(*sorted(kept))
        from telemetry_parquet_spark.sources.scan_planner import (
            _predicate_expr,
        )

        for p in fact_predicates or []:
            pruned_fact = pruned_fact.where(_predicate_expr(p))
    else:
        pruned_fact = spark.createDataFrame([], fschema)
    dbytes = planned_bytes(dim_root, dplan, dv_)
    bcast = dbytes <= broadcast_threshold
    if bcast:
        ddf = F.broadcast(ddf)
    joined = pruned_fact.join(
        ddf, pruned_fact[fkey] == ddf[dkey], how
    )
    return joined, DppJoinPlan(
        n, -1 if live is None else len(live), fact_total, len(kept),
        dbytes, bcast, how,
    )

"""Branches on the versioned snapshot table: multi-commit isolation with
fast-forward / rebase merge — WAP generalized from one staged commit to a
whole line of development.

A branch is its own manifest chain (``_manifests/branch-<name>-NNNNNN
.json``) forked from a main version: the fork manifest COPIES the base
version's file list, so branch reads never depend on main manifests that
retention might expire. Main readers (head reads, time travel, SQL front
door, CDC, the scan planner) cannot observe a branch by construction:
they only ever resolve ``v%06d.json`` manifests.

Merging back is metadata-only, with the same two regimes as WAP publish:

- **fast-forward** — main head still equals the fork base: the branch
  head's file list becomes the next main version verbatim (any mix of
  branch appends / deletes is safe; the list is self-contained).
- **rebase** — main advanced while the branch worked: allowed iff every
  branch commit is an APPEND (new files commute with the interleaved
  main commits — the Iceberg cherry-pick rule); the merged version is
  main-head files ∪ branch-added files, with the branch's new rows
  re-validated against the CURRENT head's CHECK constraints and UNIQUE
  keys (the probe's audit rides into the merge commit). A branch
  containing a delete/rewrite does NOT commute and the merge refuses —
  callers re-fork rather than silently lose either side's rows.

Partition specs: the fork-time spec governs branch appends, and both
merge regimes carry the branch-landed tuples into the merged main
version — so tuple pruning, partition rollups, and bucket-aligned joins
keep engaging after a WAP-via-branch land -> audit -> merge lifecycle.

Branch data files are pinned against ``vacuum`` while the branch exists
(snapshots.py::vacuum unions branch-manifest references into the live
set); ``delete_branch`` unpins, and the next vacuum reclaims.

Branch commits run on the same DML core as main and staged commits
(sources/snapshots.py): ``branch_append`` validates and writes through
``_append_files`` and ``branch_delete_where`` rewrites through
``_cow_delete``; only the landing target differs — ``_branch_commit``
writes a branch manifest via the shared ``_write_manifest``, and
``merge_branch`` lands a rebase through ``_land_append``, the rule WAP
publish uses.

Reference parity: nothing like this in the reference — its derived
datasets are republished wholesale per day (views/MainEventsView.scala:55
-63 overwrite lineage). Net-new engine surface, same commit-log
discipline as sources/snapshots.py.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from telemetry_parquet_spark.sources import snapshots as S

_PREFIX = "branch-"


def _bpath(root: str, name: str, n: int) -> str:
    if not name or "/" in name:
        raise ValueError(f"invalid branch name {name!r}")
    return os.path.join(
        root, S._MANIFEST_DIR, f"{_PREFIX}{name}-{n:06d}.json"
    )


def list_branches(root: str) -> dict[str, int]:
    """branch name -> head sequence number (0 = fork only)."""
    mdir = os.path.join(root, S._MANIFEST_DIR)
    out: dict[str, int] = {}
    if not os.path.isdir(mdir):
        return out
    for fn in os.listdir(mdir):
        if not (fn.startswith(_PREFIX) and fn.endswith(".json")):
            continue
        stem = fn[len(_PREFIX):-5]
        name, _, n = stem.rpartition("-")
        if name and n.isdigit():
            out[name] = max(out.get(name, 0), int(n))
    return out


def read_branch_manifest(root: str, name: str, n: int | None = None) -> dict:
    if n is None:
        heads = list_branches(root)
        if name not in heads:
            raise KeyError(f"no branch {name!r} on {root}")
        n = heads[name]
    with open(_bpath(root, name, n)) as f:
        return json.load(f)


def _branch_commit(
    root: str,
    name: str,
    n: int,
    action: str,
    base: int,
    files: list[str],
    schema_json: str,
    pm: dict,
    extra: dict,
) -> int:
    """Land a write as branch commit ``n`` over parent manifest ``pm``
    (the fork base or the previous branch commit). The manifest body is
    main's (``snapshots._write_manifest``); vectors, CHECK constraints
    and UNIQUE keys from ``pm`` ride along."""
    S._write_manifest(
        root, _bpath(root, name, n),
        {"branch": name, "n": n, "action": action, "base_version": base},
        files, schema_json, pm,
        {
            **{k: pm[k] for k in ("dv", "constraints", "unique_keys")
               if pm.get(k)},
            **extra,
        },
    )
    return n


def create_branch(
    root: str, name: str, from_version: int | str | None = None
) -> int:
    """Fork ``name`` at ``from_version`` (default: main head; tag names
    resolve). The fork manifest copies the base version's state, so the
    branch survives main-history retention."""
    if name in list_branches(root):
        raise ValueError(f"branch {name!r} already exists on {root}")
    v = (
        S.latest_version(root)
        if from_version is None
        else S.resolve_ref(root, from_version)
    )
    m = S.read_manifest(root, v)
    if m.get("eq"):
        raise ValueError(
            "create_branch: the base version carries outstanding "
            "equality deletes — the branch machinery does not thread "
            "their scopes through branch appends; compact_table first"
        )
    return _branch_commit(
        root, name, 0, "branch-fork", v, m["files"], m["schema"], m,
        {"append_only": True},
    )


def read_branch(
    spark: SparkSession, root: str, name: str, n: int | None = None
) -> DataFrame:
    """The branch AS OF its sequence number ``n`` (default: branch
    head). Deletion vectors inherited from the fork point apply, exactly
    as on main."""
    bm = read_branch_manifest(root, name, n)
    schema = StructType.fromJson(json.loads(bm["schema"]))
    return S._read_logical(
        spark, root, bm["files"], schema, bm.get("dv"), None
    )


def branch_append(
    spark: SparkSession,
    root: str,
    name: str,
    df: DataFrame,
    extra: dict | None = None,
) -> int:
    """Append to the branch: new data files + carried references, one
    branch manifest. CHECK constraints inherited from the fork point
    validate here too. Cost ∝ appended data. ``extra`` rides application
    metadata (e.g. a streaming batch-id idempotence stamp) into the
    branch manifest atomically."""
    bm = read_branch_manifest(root, name)
    n = bm["n"] + 1
    # the fork-time spec governs branch writes too: tuples must survive
    # the land -> audit -> merge (WAP-via-branch) lifecycle
    new, parts, _, unique_audit = S._append_files(
        spark, root, bm, df, f"{_PREFIX}{name}-c{n:06d}", "branch_append"
    )
    return _branch_commit(
        root, name, n, "branch-append", bm["base_version"],
        bm["files"] + new, bm["schema"], bm,
        {
            "added_files": sorted(new),
            "partitions": parts,
            "append_only": bm.get("append_only", True),
            **unique_audit,
            **(extra or {}),
        },
    )


def branch_delete_where(
    spark: SparkSession, root: str, name: str, predicate
) -> int:
    """Copy-on-write delete WITHIN the branch (file-granular, same
    semantics as snapshots.delete_where). Marks the branch non-append-
    only: it can then only merge by fast-forward, never rebase."""
    bm = read_branch_manifest(root, name)
    if bm.get("dv"):
        raise RuntimeError(
            "branch_delete_where: branch carries deletion vectors from "
            "its fork point; compact main before forking to mutate"
        )
    n = bm["n"] + 1
    files, _ = S._cow_delete(
        spark, root, bm, predicate, f"{_PREFIX}{name}-c{n:06d}",
        "branch_delete_where",
    )
    # COW-rewritten files lose their tuples (same as main COW) and fall
    # back to min/max pruning; carried files keep theirs
    return _branch_commit(
        root, name, n, "branch-delete", bm["base_version"], files,
        bm["schema"], bm, {"append_only": False},
    )


def merge_branch(
    spark: SparkSession,
    root: str,
    name: str,
    delete: bool = True,
) -> int:
    """Merge the branch head back into main as ONE commit (squash),
    metadata-only. Fast-forward when main hasn't moved since the fork;
    otherwise rebase — append-only branches only, new rows re-validated
    against the CURRENT head's constraints. ``delete`` drops the branch
    manifests afterwards (unpinning its files for vacuum)."""
    bm = read_branch_manifest(root, name)
    head = S.latest_version(root)
    mh = S.read_manifest(root, head)
    extra = {"branch": name, "merged_n": bm["n"]}
    bparts = bm.get("partitions") or {}
    if head == bm["base_version"]:
        extra = {**S._carry_meta(mh), **extra}
        if bm.get("dv"):
            extra["dv"] = bm["dv"]
        if bparts:  # branch-landed tuples survive the merge
            extra["partitions"] = bparts
        v = S._commit(
            root, "branch-merge", bm["files"], bm["schema"], head, extra
        )
    else:
        if not bm.get("append_only", False):
            raise RuntimeError(
                f"merge_branch: main advanced to v{head} (branch forked "
                f"at v{bm['base_version']}) and branch {name!r} contains "
                "non-append commits — they do not commute; re-fork and "
                "replay"
            )
        added: list[str] = []
        for k in range(1, bm["n"] + 1):
            added += read_branch_manifest(root, name, k).get(
                "added_files", []
            )
        schema = StructType.fromJson(json.loads(bm["schema"]))
        new_rows = (
            S._read_logical(spark, root, added, schema, None, None)
            if added else None
        )
        # main-head files keep their own tuples via _commit
        extra["partitions"] = {f: bparts[f] for f in added if f in bparts}
        v = S._land_append(
            spark, root, "branch-merge", head, mh, bm["base_version"],
            added, bm["schema"], new_rows, extra,
            "merge_branch: main schema changed since the fork; re-fork "
            "and replay",
        )
    if delete:
        delete_branch(root, name)
    return v


def delete_branch(root: str, name: str) -> None:
    """Drop every manifest of the branch (metadata-only); its data files
    become vacuum-reclaimable orphans unless merged."""
    heads = list_branches(root)
    if name not in heads:
        raise KeyError(f"no branch {name!r} on {root}")
    for k in range(heads[name] + 1):
        p = _bpath(root, name, k)
        if os.path.exists(p):
            os.remove(p)


def branch_live_files(root: str) -> set[str]:
    """Every data / DV file any branch manifest references — the vacuum
    pin set (snapshots.vacuum unions this into ``live``)."""
    live: set[str] = set()
    for name, head in list_branches(root).items():
        for k in range(head + 1):
            try:
                bm = read_branch_manifest(root, name, k)
            except FileNotFoundError:
                continue
            live.update(bm["files"])
            live.update(bm.get("dv", []))
    return live

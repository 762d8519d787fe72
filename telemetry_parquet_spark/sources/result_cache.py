"""Version-pinned query result cache over snapshot tables.

The commit log makes result caching SAFE without invalidation machinery:
the cache key is sha256(statement ∥ sorted (name, root, head-version)
pairs), so any commit to any referenced table changes the key and the
stale entry simply stops being addressed — the Snowflake result-cache
rule, derivable here because table state IS a version number. A hit
serves the persisted parquet result (schema preserved) without touching
the fact data; a miss runs the statement through the SQL front door and
persists atomically (write to a temp dir, ``os.replace`` of a marker —
a crashed writer leaves no half-entry addressable).

Complements the materialized views (sources/views.py): MVs answer the
ROLLUP family ahead of time and stay fresh incrementally; the result
cache memoizes ARBITRARY statements exactly as of the versions they
read. Both compose — a cached statement may itself have been answered
from an MV.

Caveats (documented, enforced nowhere): cache only deterministic
statements — a query with rand()/now() memoizes its first answer, same
as any result cache. Entries for superseded versions linger until
``evict_stale`` (safe: they can never be served again — nothing
re-addresses an old key once heads move).

Scale: key computation is metadata-only (one ``latest_version`` per
referenced table); the cached artifact is result-sized, not input-sized.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from telemetry_parquet_spark.sources import snapshots as S
from telemetry_parquet_spark.sources.sql_front import engine_sql
from telemetry_parquet_spark.sources.tables import read_parquet


def _key(sql: str, tables: dict[str, str]) -> tuple[str, dict]:
    pins = {
        name: {"root": os.path.abspath(root), "version": S.latest_version(root)}
        for name, root in sorted(tables.items())
    }
    digest = hashlib.sha256(
        json.dumps({"sql": sql, "pins": pins}, sort_keys=True).encode()
    ).hexdigest()[:32]
    return digest, pins


def cached_sql(
    spark: SparkSession,
    sql: str,
    tables: dict[str, str],
    cache_dir: str,
    views: dict[str, list[str]] | None = None,
) -> tuple[DataFrame, bool]:
    """Run ``sql`` through the front door with memoization keyed on the
    statement AND the referenced tables' head versions. Returns
    (result, hit). A commit to any table re-keys automatically; no
    explicit invalidation exists or is needed."""
    first = sql.strip().split(None, 1)[0].upper() if sql.strip() else ""
    if first not in ("SELECT", "WITH", "DESCRIBE", "EXPLAIN"):
        # Mutators (DML, VACUUM, tag/branch DDL) must NEVER be memoized:
        # several of them bump no table version, so their key would stay
        # valid and a cache hit would silently SKIP the operation (a
        # "cached VACUUM" that never runs again). Execute uncached.
        return engine_sql(spark, sql, tables, views=views), False
    digest, pins = _key(sql, tables)
    entry = os.path.join(cache_dir, digest)
    marker = os.path.join(entry, "_PINS.json")
    if os.path.exists(marker):
        return read_parquet(spark, os.path.join(entry, "result")), True
    # Execute AT THE PINNED VERSIONS, not at head: a commit landing
    # between the key computation and the scan would otherwise persist
    # newer data under this key's pins, and every later same-pin caller
    # would be served the wrong as-of answer. MV routing is bypassed
    # under pins (engine_sql's rule: a view answers at base HEAD).
    df = engine_sql(
        spark, sql, tables, views=views,
        pins={n: p["version"] for n, p in pins.items()},
    )
    os.makedirs(cache_dir, exist_ok=True)
    import uuid as _uuid

    # writer-private staging: two processes missing on the same key must
    # not interleave writes into one shared tmp dir (the commit-data-dir
    # discipline); os.replace publishes exactly one winner atomically
    tmp = f"{entry}.tmp-{_uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(os.path.join(tmp, "result"))
    with open(os.path.join(tmp, "_PINS.json"), "w") as f:
        json.dump({"sql": sql, "pins": pins}, f)
    shutil.rmtree(entry, ignore_errors=True)
    os.replace(tmp, entry)
    return read_parquet(spark, os.path.join(entry, "result")), False


def evict_stale(cache_dir: str) -> list[str]:
    """Remove entries whose pinned versions are no longer any table's
    head (they can never be served again). Returns evicted keys."""
    gone = []
    if not os.path.isdir(cache_dir):
        return gone
    for name in os.listdir(cache_dir):
        marker = os.path.join(cache_dir, name, "_PINS.json")
        if not os.path.exists(marker):
            continue
        with open(marker) as f:
            pins = json.load(f)["pins"]
        stale = False
        for pin in pins.values():
            try:
                head = S.latest_version(pin["root"])
            except FileNotFoundError:
                head = None
            if head != pin["version"]:
                stale = True
                break
        if stale:
            shutil.rmtree(os.path.join(cache_dir, name))
            gone.append(name)
    return sorted(gone)

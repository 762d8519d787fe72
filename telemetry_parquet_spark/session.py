"""SparkSession factory.

Replaces the reference's session plumbing (``getOrCreateSparkSession``,
reference ``src/main/scala/com/mozilla/telemetry/utils/package.scala:71-98``)
with a Spark-4-era configuration: AQE on (runtime coalescing, skew-join
handling), Arrow on (fast pandas interchange), UTC session time zone (oracle
comparability), and dynamic partition overwrite (obsoletes the reference's
manual partition-path discipline, ``SyncView.scala:88-98``).

Scale notes (100 TB / 1000-executor design):
- ``spark.sql.shuffle.partitions`` here is sized for local[32] test runs; on a
  real cluster AQE's ``coalescePartitions`` makes the initial number mostly
  irrelevant as long as it is an upper bound — set it to ~3x total cores.
- ``maxPartitionBytes`` 128m is the scan-split knob that actually governs
  parallelism of the 100 TB read; we leave the default.
- skew is handled by AQE skew-join, not manual salting, unless an operator
  documents otherwise.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _driver_memory() -> str:
    """16 GiB, capped at half of physical RAM: a heap larger than the host
    lets the JVM die mid-job instead of spilling."""
    half_mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return f"{min(16 * 1024, half_mib)}m"


# The directory that holds this package. Python workers import the daemon
# module below from it, whatever the JVM's cwd.
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DEFAULT_CONF: dict[str, str] = {
    # local-mode the driver JVM IS the executor: the 1g default heap makes
    # 32 concurrent tasks spill constantly (localCheckpoint blocks fall out
    # of MemoryStore at a few MiB each). Takes effect only when this factory
    # creates the JVM; a pre-existing session keeps its own sizing.
    "spark.driver.memory": _driver_memory(),
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # Subset co-partitioning: let a join on (k, d) accept children hash-
    # partitioned on k alone (correct — equal (k, d) still co-locate).
    # Operators that join on (key, time) and then window by key
    # (operators/timeseries.py) run on ONE key shuffle instead of a
    # (key, time) join shuffle plus a key window re-shuffle. Results are
    # partitioning-invariant; a vanilla session just pays the extra
    # exchanges.
    "spark.sql.requireAllClusterKeysForCoPartition": "false",
    # parquet output sizing: the reference tuned parquet.block.size to
    # 256-512 MiB for S3-friendly files (MainEventsView.scala:34-36); modern
    # equivalent is the writer block size + AQE-coalesced output partitions.
    "spark.hadoop.parquet.block.size": str(256 * 1024 * 1024),
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.enabled": "false",
    # pyspark.daemon without the ~112 ms per task that re-reading Spark's
    # own zip/jar archives costs (see pyworker.py). PySpark appends this
    # PYTHONPATH after $SPARK_HOME's zips; a caller who overrides it must
    # keep PACKAGE_PARENT on it, or every Python task fails to start.
    "spark.python.daemon.module": "telemetry_parquet_spark.pyworker",
    "spark.executorEnv.PYTHONPATH": PACKAGE_PARENT,
}


# Off-heap, disk-backed streaming state: the default HDFS-backed provider
# keeps every key's state on executor HEAP — at 100× key cardinality that
# heap map is the stateful pipeline's scale ceiling (and its GC bomb).
# RocksDB spills to local disk with a bounded block cache; eviction behavior
# is identical (tests/test_stateful_streaming.py runs under both providers).
ROCKSDB_STATE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def _sweep_dead_session_dirs(base: str) -> None:
    """Remove pid-scoped scratch dirs whose owning process is gone.

    r14 (ADVICE r13, medium): a killed/crashed JVM leaves its local dirs
    in tmpfs, leaking RAM until reboot. Each session scopes its scratch
    under ``<base>/<pid>`` (pid of the Python driver that created the
    JVM), so liveness is checkable — at every session creation, sibling
    pid dirs with no live owner are deleted. Non-numeric entries (from
    pre-r14 sessions, which used ``base`` directly) are left alone; they
    disappear on reboot and nothing writes them anymore."""
    import shutil

    try:
        entries = os.listdir(base)
    except OSError:
        return
    for name in entries:
        if not name.isdigit() or int(name) == os.getpid():
            continue
        try:
            os.kill(int(name), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)
        except OverflowError:
            # all digits but too large for a pid_t: not a session dir
            continue
        except OSError:
            # PermissionError etc.: owner may be alive under another uid
            continue


def _default_local_dir() -> str | None:
    """Scratch directory for shuffle files / spilled blocks.

    ``SPARK_GRAFT_LOCAL_DIR`` (env) wins; otherwise prefer RAM-backed
    /dev/shm when it has ample headroom, else leave Spark's default.

    Why (r13, measured): on a virtualized host whose block device is
    contended, shuffle WRITES through the page cache + virtio stall in
    multi-second bursts while single-thread compute stays at full speed
    — per-stage shuffleWriteTime reached ~260 ms/task for KB-sized
    shuffle files, and shuffle-heavy queries ran 2-10× slower with the
    CPUs idle (OPTIMIZATION_r13.md, host-pathology section). Shuffle
    files are scratch by definition: placing them on the fastest local
    ephemeral storage is the standard production discipline (NVMe on
    real clusters — pass SPARK_GRAFT_LOCAL_DIR or spark.local.dir
    there); on a single 128 GiB box the RAM-backed tmpfs is that
    storage. The 32 GiB floor keeps the default away from small-/dev/shm
    hosts where spilled blocks could matter.

    ENOSPC policy (r14, documented per ADVICE r13): tmpfs has no disk to
    fall back to — a shuffle/spill that exhausts /dev/shm mid-job fails
    the task (and after retries, the job); Spark cannot re-route block
    writes mid-job. The guards are (a) the 32 GiB creation-time headroom
    floor below, (b) the pid-scoped stale sweep (dead sessions release
    their RAM at the next session creation), and (c) the env override
    for spill-heavy deployments, where ``SPARK_GRAFT_LOCAL_DIR`` should
    point at real disk/NVMe. Measured context: the full sf0.1 bench
    peaks well under 1 GiB of scratch, so the 32 GiB floor is ~50× the
    observed working set at the driver's scale."""
    env = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if env:
        return env
    shm = "/dev/shm"
    try:
        st = os.statvfs(shm)
        if st.f_bavail * st.f_frsize >= 32 * 1024**3:
            base = os.path.join(shm, "spark-graft-local")
            os.makedirs(base, exist_ok=True)
            _sweep_dead_session_dirs(base)
            path = os.path.join(base, str(os.getpid()))
            os.makedirs(path, exist_ok=True)
            return path
    except OSError:
        pass
    return None


def get_session(
    app_name: str = "telemetry_parquet_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
    rocksdb_state: bool | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so
    tests, bench, and the driver all agree; pass an explicit master for
    cluster deployment. ``rocksdb_state`` (default: env
    ``SPARK_GRAFT_ROCKSDB_STATE=1``) switches streaming state stores to
    RocksDB; it is also a plain SQL conf, so per-query opt-in works by
    setting ``spark.sql.streaming.stateStore.providerClass`` before
    ``start()``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if rocksdb_state is None:
        rocksdb_state = os.environ.get("SPARK_GRAFT_ROCKSDB_STATE", "0") == "1"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = {**DEFAULT_CONF, **(extra_conf or {})}
    if "spark.local.dir" not in conf:
        local_dir = _default_local_dir()
        if local_dir:
            # static conf: takes effect only when this factory creates
            # the JVM (same contract as spark.driver.memory above)
            conf["spark.local.dir"] = local_dir
    if rocksdb_state:
        conf["spark.sql.streaming.stateStore.providerClass"] = ROCKSDB_STATE_PROVIDER
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def clear_cached_relations(spark: SparkSession) -> None:
    """Release every cached/persisted block in the session.

    RESIDUE CONTRACT: a few operators persist() fan-out relations they
    cannot unpersist themselves because they return a LAZY plan over them —
    the action that materializes the blocks happens in the caller
    (``bm25_top_k``'s doc-length relation, ``triangle_counts``' canonical
    and oriented edge relations). Those blocks are MEMORY_AND_DISK and
    evictable by Spark's unified memory manager, so they degrade — not
    break — long sessions; callers that run many queries in one session
    (bench.py, a notebook loop) should call this between queries to keep
    timings and memory state independent.
    """
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc.sc()
    it = jsc.getPersistentRDDs().iterator()
    while it.hasNext():
        it.next()._2().unpersist(False)

#!/usr/bin/env python3
"""Closed-loop benchmark of the engine: one client, one operation at a time,
on ``local[n]`` with n <= nproc.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Run from the repository root. A run generates its input tables, sets the
session up three times, runs one untimed pass that checks every output
against DuckDB, then times whole passes over the workload's operations for
``--seconds``. ``--trace 1`` adds one traced pass and reports the per-layer
split instead of the end-to-end metrics. The last stdout line is the result
object; the line before it is the full run record. Everything the run
writes lives under ``.perfbench/`` in the working directory; the run's own
scratch directory is deleted at exit, and traces are kept in
``.perfbench/traces/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import stats  # noqa: E402
import workloads as W  # noqa: E402

SETUP_ROUNDS = 3
MAX_CPUS = 4
MAX_HEAP_MB = 2048

# chain op kind -> per-layer metric
SNAPSHOT_METRIC = {
    "append": "snapshots.append_s",
    "merge_into": "snapshots.merge_into_s",
    "delete_where": "snapshots.delete_where_s",
    "delete_where_mor": "snapshots.delete_where_mor_s",
    "update_where_mor": "snapshots.update_where_mor_s",
    "compact_table": "snapshots.compact_table_s",
    "read_snapshot": "snapshots.read_snapshot_s",
    "plan_snapshot_scan": "snapshots.plan_snapshot_scan_s",
    "snapshot_row_count": "snapshots.row_count_s",
    "table_changes": "snapshots.table_changes_s",
}
# per-op trace field -> per-layer metric (summed over the traced pass)
TRACE_SUMS = {
    "build_s": "queries.build_s",
    "build_jobs": "queries.build_jobs",
    "load_calls": "tables.load_calls",
    "load_s": "tables.load_s",
    "plan_s": "catalyst.plan_s",
    "exec_s": "exec.s",
    "jobs": "exec.jobs",
    "stages": "exec.stages",
    "tasks": "exec.tasks",
    "failed_tasks": "exec.failed_tasks",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def host_sizing() -> tuple[int, int]:
    """(cpus, driver heap MiB): n <= nproc, heap <= a quarter of RAM."""
    ncpu = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return min(MAX_CPUS, ncpu), min(MAX_HEAP_MB, ram_mb // 4)


class Bench:
    def __init__(self, args, workdir: str):
        self.args = args
        self.workload = args.workload
        self.workdir = workdir
        self.cpus, self.heap_mb = host_sizing()
        self.spark = None
        self.attempted = 0
        self.failures: list[dict] = []
        self.setup_rounds: list[dict] = []

    # -- session ------------------------------------------------------------
    def conf(self, round_no: int) -> dict[str, str]:
        base = os.path.join(self.workdir, f"session{round_no}")
        return {
            "spark.driver.memory": f"{self.heap_mb}m",
            "spark.sql.warehouse.dir": os.path.join(base, "warehouse"),
            "spark.local.dir": os.path.join(base, "local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}",
        }

    def setup(self) -> None:
        """SETUP_ROUNDS x (session start + warm-up); every round after the
        first restarts the SparkContext in the same JVM on fresh warehouse
        and scratch dirs."""
        from telemetry_parquet_spark.session import get_session
        from telemetry_parquet_spark.sources.tables import load_table

        for r in range(SETUP_ROUNDS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = get_session("perfbench", master=f"local[{self.cpus}]",
                                     extra_conf=self.conf(r))
            t1 = time.perf_counter()
            self.spark.range(0, 100_000, 1, self.cpus).selectExpr("sum(id)").collect()
            for t in W.TABLES[self.workload]:
                load_table(self.spark, self.data_dir, t)  # lists files, reads the footer
            t2 = time.perf_counter()
            self.setup_rounds.append({"session_s": t1 - t0, "warmup_s": t2 - t1,
                                      "setup_s": t2 - t0})

    def materialize(self, out) -> None:
        from pyspark.sql import DataFrame

        from spans import noop_write

        if isinstance(out, DataFrame):
            noop_write(out)

    def clear(self) -> None:
        """Between operations, untimed: drop cached blocks, so each
        operation starts from the same session state."""
        from telemetry_parquet_spark.session import clear_cached_relations

        clear_cached_relations(self.spark)

    # -- passes ---------------------------------------------------------------
    def pass_ops(self, tag: str):
        """Yield (kind, label, thunk) for one pass."""
        if self.workload == "table_service":
            root = os.path.join(self.workdir, "tables", tag)
            yield from W.chain_steps(self.spark, self.data_dir, root, self.chain)
        else:
            for name in W.op_order(self.workload, self.args.seed):
                yield "query", name, (lambda n=name: self.queries[n](self.spark, self.data_dir))

    def fail(self, label: str, why: str) -> None:
        self.failures.append({"op": label, "error": why[-2000:]})
        log(f"FAILED {label}: {why.splitlines()[-1] if why else ''}")

    def verify_pass(self) -> None:
        """Untimed: every operation's output against its DuckDB oracle."""
        from tests.oracle_utils import compare, duckdb_conn

        con = duckdb_conn(self.data_dir)
        if self.workload == "table_service":
            expected = W.expected_outputs(
                con, os.path.join(self.data_dir, f"{W.TS_TABLE}.parquet"), self.chain)
        else:
            from telemetry_parquet_spark.queries import all_oracles

            oracles = all_oracles()
        for kind, label, thunk in self.pass_ops("verify"):
            self.attempted += 1
            try:
                out = thunk()
                if self.workload == "table_service":
                    if label in expected:
                        got = out if isinstance(out, int) else W.spark_outputs(out)
                        if got != expected[label]:
                            self.fail(label, f"got {got}, expected {expected[label]}")
                    else:
                        self.materialize(out)
                else:
                    problems = compare(out, con, oracles[label])
                    if problems:
                        self.fail(label, "; ".join(problems))
            except Exception:
                self.fail(label, traceback.format_exc())
                if self.workload == "table_service":
                    break  # later commits depend on this one
            finally:
                self.clear()
        con.close()

    def timed_pass(self, tag: str, tracer=None) -> dict | None:
        """One pass; returns {"total_s", "ops": {label: rec}, "kinds": ...}
        or None if an operation failed."""
        recs: dict[str, dict] = {}
        kinds: dict[str, str] = {}
        total = 0.0
        for kind, label, thunk in self.pass_ops(tag):
            self.attempted += 1
            try:
                if tracer is None:
                    t0 = time.perf_counter()
                    self.materialize(thunk())
                    rec = {"op": label, "wall_s": time.perf_counter() - t0}
                else:
                    rec = tracer.run(label, thunk)
            except Exception:
                self.fail(label, traceback.format_exc())
                return None
            finally:
                self.clear()
            recs[label], kinds[label] = rec, kind
            total += rec["wall_s"]
        out = {"total_s": total, "ops": recs, "kinds": kinds}
        if self.workload == "table_service":
            root = os.path.join(self.workdir, "tables", tag)
            out.update(self.table_stats(root))
            shutil.rmtree(root, ignore_errors=True)
        return out

    def table_stats(self, root: str) -> dict:
        from telemetry_parquet_spark.sources.snapshots import read_manifest

        nbytes, _ = stats.dir_bytes(root)
        data_bytes, data_files = stats.dir_bytes(os.path.join(root, "data"))
        per_version = [len(read_manifest(root, v)["files"]) for v in range(1, 10)]
        src = os.path.getsize(os.path.join(self.data_dir, f"{W.TS_TABLE}.parquet"))
        return {
            "stored_bytes": nbytes,
            "stored_bytes_per_input_byte": nbytes / src,
            "files_written": data_files,
            "bytes_written_mb": data_bytes / 2**20,
            "files_per_version": stats.median(per_version),
        }

    def measure(self) -> list[dict]:
        """As many whole passes as fit ``--seconds`` at the workload's
        nominal pass time (at least one). The count depends only on the
        arguments, never on how fast this host happens to be: later passes
        run warmer, so a varying count would move the medians."""
        passes: list[dict] = []
        for i in range(max(1, int(self.args.seconds // W.PASS_SECONDS[self.workload]))):
            p = self.timed_pass(f"p{i}")
            if p is None:
                break
            passes.append(p)
        return passes

    # -- host ---------------------------------------------------------------
    def calibrate(self) -> dict:
        """Host probes recorded next to every result."""
        import numpy as np

        from bench import futex_wakeup_us

        a = (np.arange(256 * 256, dtype=np.int64) % 97).reshape(256, 256)
        t_np = t_sh = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            for _ in range(4):
                (a @ a).sum()
            t_np = min(t_np, time.perf_counter() - t0)
        for _ in range(3):
            t0 = time.perf_counter()
            self.spark.range(0, 1_000_000, 1, self.cpus).repartition(
                2 * self.cpus, "id").selectExpr("sum(id)").collect()
            t_sh = min(t_sh, time.perf_counter() - t0)
        return {"numpy_matmul_s": t_np, "spark_shuffle_probe_s": t_sh,
                "futex_wakeup_us": futex_wakeup_us(budget_s=0.25)}

    def peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            hwm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (hwm_kb + py_kb) / 1024

    # -- the run ------------------------------------------------------------
    def run(self) -> dict:
        from telemetry_parquet_spark.queries import all_queries

        t_start = time.perf_counter()
        self.tmp = os.path.join(self.workdir, "tmp")
        os.makedirs(self.tmp, exist_ok=True)
        self.data_dir = datagen.write_tables(os.path.join(self.workdir, "data", "sf0.01"))
        self.chain = W.make_chain(self.args.seed, datagen.ROWS[W.TS_TABLE])
        self.queries = all_queries()

        phases = {"datagen": time.perf_counter() - t_start}

        def phase(name: str, fn):
            t0 = time.perf_counter()
            out = fn()
            phases[name] = time.perf_counter() - t0
            return out

        phase("setup", self.setup)
        phase("verify", self.verify_pass)
        # one more untimed pass: the measured passes are then each
        # operation's third and later runs, past most JIT compilation
        phase("warm", lambda: self.timed_pass("warm"))
        if self.failures:
            return {}
        calibration = phase("calibrate", self.calibrate)
        passes = phase("measure", self.measure)
        record = {
            "workload": self.workload,
            "seed": self.args.seed,
            "settings": {
                "master": f"local[{self.cpus}]",
                "nproc": len(os.sched_getaffinity(0)),
                "driver_memory": f"{self.heap_mb}m",
                "warehouse_dir": "per run, under .perfbench/",
                "local_dir": "per run, under .perfbench/",
                "shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
                "data": f"perfbench/datagen.py, seed {datagen.DATA_SEED}",
                "setup_rounds": SETUP_ROUNDS,
            },
            "calibration": calibration,
            "phase_s": phases,
            "setup_rounds": self.setup_rounds,
            "passes": len(passes),
            "pass_total_s": [p["total_s"] for p in passes],
        }
        if self.failures:
            return record
        record["op_median_s"] = {
            label: stats.median([p["ops"][label]["wall_s"] for p in passes])
            for label in passes[0]["ops"]
        }
        record["end_to_end"] = {
            "setup_s": stats.median([r["setup_s"] for r in self.setup_rounds]),
            "total_s": stats.median(record["pass_total_s"]),
            "geomean_op_s": stats.geomean(list(record["op_median_s"].values())),
        }
        record["peak_rss_mb"] = self.peak_rss_mb()
        if self.args.trace:
            record["per_layer"] = phase("trace", lambda: self.trace_pass(passes, record))
        return record

    def trace_pass(self, passes: list[dict], record: dict) -> dict:
        """One traced pass; per-layer sums, plus the per-op spans written
        to the trace file."""
        from spans import STAGE_METRICS, Tracer

        tracer = Tracer(self.spark)
        tracer.install()
        try:
            traced = self.timed_pass("traced", tracer)
        finally:
            tracer.uninstall()
        if traced is None:
            return {}
        ops = traced["ops"]
        layer: dict[str, float] = {
            "setup.session_s": stats.median([r["session_s"] for r in self.setup_rounds]),
            "setup.warmup_s": stats.median([r["warmup_s"] for r in self.setup_rounds]),
            # round 1 alone launches the JVM, so only it shows launch-time confs
            "setup.cold_s": self.setup_rounds[0]["setup_s"],
        }
        for field, metric in TRACE_SUMS.items():
            layer[metric] = sum(r[field] for r in ops.values())
        for metric in (*STAGE_METRICS, "exec.noncpu_s"):
            layer[metric] = sum(r[metric] for r in ops.values())
        for metric in SNAPSHOT_METRIC.values():
            layer[metric] = 0.0
        for label, rec in ops.items():
            kind = traced["kinds"][label]
            if kind in SNAPSHOT_METRIC:
                layer[SNAPSHOT_METRIC[kind]] += rec["wall_s"]
        # untimed-pass medians of the table-service figures
        is_ts = self.workload == "table_service"

        def by_kind(p: dict, writes: bool) -> float:
            return sum(r["wall_s"] for label, r in p["ops"].items()
                       if (p["kinds"][label] in W.WRITE_KINDS) == writes)

        for name, fn in (
            ("snapshots.write_s", lambda p: by_kind(p, True)),
            ("snapshots.read_s", lambda p: by_kind(p, False)),
            ("snapshots.stored_bytes_per_input_byte", lambda p: p["stored_bytes_per_input_byte"]),
            ("snapshots.files_written", lambda p: p["files_written"]),
            ("snapshots.bytes_written_mb", lambda p: p["bytes_written_mb"]),
            ("snapshots.files_per_version", lambda p: p["files_per_version"]),
        ):
            layer[name] = stats.median([fn(p) for p in passes]) if is_ts else 0.0
        layer["mem.peak_rss_mb"] = record["peak_rss_mb"]
        layer["trace.overhead_ratio"] = traced["total_s"] / record["end_to_end"]["total_s"]
        # over operations that run a Spark job: a metadata-only read such as
        # snapshot_row_count takes well under 1 ms, less than the job-group calls
        layer["trace.max_gap_ratio"] = max(
            (r["gap_s"] / r["wall_s"] for r in ops.values() if r["jobs"]), default=0.0)
        for label, r in ops.items():
            r["untraced_s"] = record["op_median_s"][label]
            r["overhead_ratio"] = r["wall_s"] / r["untraced_s"]
        log(f"traced: largest gap {layer['trace.max_gap_ratio']:.2%} of an operation's "
            f"wall time; pass overhead x{layer['trace.overhead_ratio']:.3f}")
        trace_dir = os.path.join(".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{self.workload}-seed{self.args.seed}.json")
        with open(path, "w") as fh:
            json.dump({"workload": self.workload, "seed": self.args.seed,
                       "ops": list(ops.values()), "per_layer": layer}, fh, indent=1)
        record["trace_file"] = path
        return layer

    def shutdown(self) -> None:
        """Stop Spark and wait for the JVM process to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def unit(name: str) -> str:
    if name.endswith("_s") or name == "exec.s":
        return "s"
    if name.endswith("_mb"):
        return "MiB"
    if name.endswith("ratio") or name.endswith("per_input_byte"):
        return "ratio"
    return "count"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=W.WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "telemetry_parquet_spark")) or \
            not os.path.isfile(os.path.join(root, "tests", "oracle_utils.py")):
        log("run from the repository root: telemetry_parquet_spark/ and tests/ not found")
        return 2
    sys.path.insert(0, root)
    workdir = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(workdir, exist_ok=True)
    # the session's scratch stays in the run dir, whatever the environment says
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    bench = Bench(args, workdir)
    record: dict = {}
    try:
        record = bench.run()
    except Exception:
        if not bench.failures:
            bench.fail("run", traceback.format_exc())
    finally:
        try:
            bench.shutdown()
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
    record["failed_ops"] = bench.failures
    attempted = max(bench.attempted, 1)
    record["failed_ops_ratio"] = stats.failure_ratio(len(bench.failures), attempted)
    print(json.dumps({"perfbench": record}, default=str), flush=True)
    key = "per_layer" if args.trace else "end_to_end"
    values = record.get(key, {})
    result = {
        "correct": not bench.failures,
        "attempted": attempted,
        "failed": len(bench.failures),
        "metrics": {
            name: {"value": v, "unit": unit(name)}
            for name, v in values.items()
        },
    }
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] and values else 1


if __name__ == "__main__":
    sys.exit(main())

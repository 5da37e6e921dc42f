"""Shared plumbing for the benchmark: paths, Spark sessions, input cache,
host record and the record of untraced results.

Everything the benchmark writes lives under ``<checkout>/.perfbench_data``:

* ``inputs/``   generated inputs, one directory per (kind, rows, seed),
                reused across runs after a row-count check;
* ``expected/`` expected query digests computed once from the DuckDB twins;
* ``results/``  the operation time of every untraced run, the baseline of a
                traced run's overhead;
* ``runs/``     per-run scratch (checkpoints, stores, event logs), removed
                when the run ends;
* ``traces/``   the per-layer report of each traced run;
* ``tmp/``      Spark local dirs, JVM and Python temp files.
"""

from __future__ import annotations

import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import uuid

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
DATA = os.path.join(ROOT, ".perfbench_data")
TMP = os.path.join(DATA, "tmp")
FIXED_TESTDATA = os.path.join(BENCH_DIR, "testdata", "sf0.01")

#: shuffle width is fixed (not derived from the core count) so the N and 4N
#: legs of the scaling measurement execute the same physical plan
SHUFFLE_PARTITIONS = 4
#: initial heap == max heap: the JVM's resident size then follows the work,
#: not the collector's heap-sizing decisions (peak_rss_mb stays steady)
DRIVER_MEMORY = "2g"


class ProgramMissing(Exception):
    """The checkout holds no program to benchmark."""


def check_program() -> None:
    for rel in ("patito_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            raise ProgramMissing(f"{rel} not found under {ROOT}")


def prepare_environment() -> None:
    """Point every temp/scratch location of Python, PySpark and the JVM
    inside the checkout before the JVM starts."""
    for d in (TMP, os.path.join(DATA, "inputs"), os.path.join(DATA, "runs")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = TMP
    os.environ["SPARK_LOCAL_DIRS"] = TMP
    # no JVM (the spark-submit launcher included) writes /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = TMP
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def core_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


# ---------------------------------------------------------------------------
# Spark sessions
# ---------------------------------------------------------------------------


def session_conf(cores: int, event_log_dir: str | None = None) -> dict:
    conf = {
        "spark.master": f"local[{cores}]",
        "spark.app.name": "perfbench",
        "spark.sql.shuffle.partitions": str(SHUFFLE_PARTITIONS),
        "spark.default.parallelism": str(SHUFFLE_PARTITIONS),
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.local.dir": TMP,
        "spark.sql.warehouse.dir": os.path.join(TMP, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData -Djava.io.tmpdir={TMP} "
            f"-Dderby.system.home={TMP}"
        ),
        "spark.eventLog.enabled": "false",
    }
    if event_log_dir:
        # Spark 4.1 defaults to zstd-compressed rolling logs; plain JSON
        # lines keep the log readable without extra packages
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


class Sessions:
    """Owns the one JVM of a run and the SparkSessions started in it."""

    def __init__(self) -> None:
        self.spark = None
        self.gateway = None

    def start(self, cores: int, event_log_dir: str | None = None):
        from pyspark.sql import SparkSession

        self.stop()
        builder = SparkSession.builder
        for k, v in session_conf(cores, event_log_dir).items():
            builder = builder.config(k, v)
        self.spark = builder.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.gateway = self.spark.sparkContext._gateway
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm_peak_rss_mb(self) -> float:
        pid = self.gateway.jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def jvm_gc_ms(self) -> int:
        mf = self.gateway.jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())

    def shutdown(self) -> None:
        """Stop Spark and the JVM process PySpark launched, and wait for it."""
        gateway = self.gateway
        try:
            self.stop()
        finally:
            proc = getattr(gateway, "proc", None) if gateway else None
            if gateway is not None:
                try:
                    gateway.shutdown()
                except Exception:  # noqa: BLE001 - the JVM may already be gone
                    pass
            if proc is not None:
                try:
                    proc.stdin.close()
                except OSError:
                    pass
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            # let the next session of this process launch a new JVM
            from pyspark import SparkContext

            SparkContext._gateway = None
            SparkContext._jvm = None
            self.gateway = None


# ---------------------------------------------------------------------------
# Inputs
# ---------------------------------------------------------------------------


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(dirpath, f)).metadata.num_rows
    return total


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


def has_rows(path: str, rows: int) -> bool:
    return os.path.isdir(path) and parquet_rows(path) == rows


def cached_input(path: str, rows: int, build) -> str:
    """Build the input at *path* with ``build(tmp_path)`` unless a copy with
    exactly *rows* parquet rows is already there."""
    if has_rows(path, rows):
        return path
    shutil.rmtree(path, ignore_errors=True)
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    build(tmp)
    got = parquet_rows(tmp)
    if got != rows:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(f"input {path}: generated {got} rows, wanted {rows}")
    os.replace(tmp, path)
    return path


def new_run_dir() -> str:
    path = os.path.join(DATA, "runs", uuid.uuid4().hex[:12])
    os.makedirs(path)
    return path


# ---------------------------------------------------------------------------
# Host record
# ---------------------------------------------------------------------------


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True,
            text=True,
            timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _py_files(top: str) -> list:
    return [
        os.path.join(dirpath, n)
        for dirpath, _, names in sorted(os.walk(top))
        for n in sorted(names)
        if n.endswith(".py")
    ]


def _digest(files: list) -> str:
    h = hashlib.sha1()
    for f in files:
        with open(f, "rb") as fh:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0" + fh.read())
    return h.hexdigest()


def source_digest() -> str:
    """Digest of the program sources: identifies the code under test in a
    checkout with or without git metadata, uncommitted edits included."""
    return _digest(
        [os.path.join(ROOT, "__spark_entry__.py")] + _py_files(os.path.join(ROOT, "patito_spark"))
    )


def bench_digest() -> str:
    """Digest of the benchmark's own sources."""
    return _digest(_py_files(BENCH_DIR))


def host_record(spark, load_before: tuple) -> dict:
    import pyspark

    return {
        "nproc": core_count(),
        "loadavg_before": list(load_before),
        "spark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_commit": git_commit(),
        "source_sha1": source_digest(),
        "session_conf": {
            k: v
            for k, v in sorted(spark.sparkContext.getConf().getAll())
            if not k.startswith(("spark.driver.host", "spark.driver.port", "spark.app.id"))
            and "Time" not in k
        },
    }


# ---------------------------------------------------------------------------
# Statistics
# ---------------------------------------------------------------------------


def median(values) -> float:
    return float(statistics.median(values))


# ---------------------------------------------------------------------------
# Untraced results, the baseline of a traced run's overhead
# ---------------------------------------------------------------------------


def _results_file(workload: str) -> str:
    return os.path.join(DATA, "results", f"{workload}.jsonl")


def record_result(workload: str, key: dict, ops_s: float, seed: int) -> None:
    path = _results_file(workload)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "a") as fh:
        fh.write(json.dumps({"key": key, "ops_s": ops_s, "seed": seed}) + "\n")


def recorded_ops_s(workload: str, key: dict) -> list:
    """Operation time of every recorded untraced run with the same *key*
    (program sources and input sizes)."""
    try:
        with open(_results_file(workload)) as fh:
            rows = [json.loads(line) for line in fh if line.strip()]
    except FileNotFoundError:
        return []
    return [r["ops_s"] for r in rows if r["key"] == key]


def write_json(path: str, payload) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True, default=str)

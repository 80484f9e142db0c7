"""SparkSession factory with the engine's scale-oriented defaults.

Local mode is the sandbox stand-in for a multi-executor cluster; every
setting here is chosen to also be the right default at 1000 executors
(AQE on, skew-join splitting on, Arrow batches sized so one batch of
~2-4 KiB token docs stays well under executor memory).

Arrow batches are capped at 256 records. A Python worker's peak RSS
follows the largest batch it decodes and parses, not the task's size.
The checkpointed runner's one write per call sends its whole input
through one Python task: at 2048 records per batch the Python
processes' RSS rose 10% over the old one-job-per-batch loop (2000
docs, 4 cores), at 256 it rose 2%. The flagship's fell from ~428 to
~345 MB, and its throughput did not drop. Since the parse stage builds
its Arrow columns from buffers, no worker imports pandas: the flagship's
Python processes sum to ~284 MB and the checkpointed run's to ~166 MB.
"""
from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


_PACKAGE_ZIP: str | None = None


def package_zip() -> str:
    """Zip this package for worker shipping (the spark-submit
    ``--py-files`` artifact).

    Built ONCE per interpreter and with fixed zip-entry timestamps:
    Spark executors byte-compare an added file against their cached
    copy on every task, so regenerating the zip while an app is
    running (or letting entry mtimes leak into the bytes) fails task
    dependency fetches with 'exists and does not match contents'."""
    global _PACKAGE_ZIP
    if _PACKAGE_ZIP is not None and os.path.exists(_PACKAGE_ZIP):
        return _PACKAGE_ZIP
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    out = os.path.join(tempfile.gettempdir(),
                       f"console_log_parser_spark_{os.getuid()}_"
                       f"{os.getpid()}.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_STORED) as z:
        entries = []
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join(
                        "console_log_parser_spark",
                        os.path.relpath(full, pkg_dir))
                    entries.append((rel, full))
        for rel, full in sorted(entries):
            with open(full, "rb") as fh:
                data = fh.read()
            info = zipfile.ZipInfo(rel, date_time=(2020, 1, 1, 0, 0, 0))
            z.writestr(info, data)
    _PACKAGE_ZIP = out
    return out


def _tune_allocator_env() -> None:
    """Pin glibc malloc behavior BEFORE the JVM (and hence the forked
    python workers) start.

    The parse stage allocates and frees large transient buffers per
    Arrow batch (list<int32> values, UTF-32 decode strings). With
    glibc's dynamic mmap threshold each of those cycles is an
    mmap+munmap, and the kernel spends whole cores zeroing pages —
    profiled at up to 90% system time on this box, with 2-6x run-to-run
    throughput swings. A fixed high threshold + no trim keeps the
    buffers on the reused heap: steady-state pipeline time dropped
    ~3x and the variance disappeared. Real clusters bake the same
    tuning into the executor image."""
    for k, v in (("MALLOC_MMAP_THRESHOLD_", "536870912"),
                 ("MALLOC_TRIM_THRESHOLD_", "536870912"),
                 ("MALLOC_ARENA_MAX", "4")):
        os.environ.setdefault(k, v)


def _default_driver_mem() -> str:
    """min(24g, 40% of MemTotal): the heap is pre-touched (see below),
    so asking for more than the host can commit kills the JVM at
    start. 24g where /proc/meminfo is unreadable."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "24g"
    return f"{min(24 << 10, int(kb * 0.4) >> 10)}m"


def get_spark(app: str = "console_log_parser_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    _tune_allocator_env()
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or \
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', os.cpu_count())}]"
    # local[N] pins task maxFailures to 1 (spark.task.maxFailures is
    # IGNORED in local mode; only the local[N,F] master form sets it),
    # so a single python-worker death — e.g. an OOM during a
    # memory-bandwidth-degraded host window, which killed one of the
    # round-5 driver bench repeats mid-run — aborts the whole job
    # instead of retrying one task. Allow ONE retry, the local analog
    # of a cluster's default maxFailures=4. Core count is untouched;
    # a retry can only ADD wall time, never flatter a measurement.
    import re as _re
    m = _re.fullmatch(r"local\[(\d+|\*)\]", master)
    if m:
        master = f"local[{m.group(1)},2]"
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or \
        _default_driver_mem()
    sp = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE", DEFAULT_SHUFFLE_PARTITIONS))
    b = (
        SparkSession.builder.master(master).appName(app)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.driver.memory", driver_mem)
        # Xms=Xmx + pre-touch: a fixed, pre-faulted heap. Without it
        # the heap grows/uncommits under the bursty parse allocation
        # pattern and the commit/zero churn shows up as kernel time
        # stalling the Arrow feed (same pathology as the malloc
        # tuning above, JVM side). Standard long-running-executor
        # practice on real clusters.
        .config("spark.driver.extraJavaOptions",
                f"-Xms{driver_mem} -XX:+AlwaysPreTouch")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # ship the package to python workers (spark-submit --py-files
        # equivalent) so jobs run regardless of the driver's cwd
        .config("spark.submit.pyFiles", package_zip())
    )
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

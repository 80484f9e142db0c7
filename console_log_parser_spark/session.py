"""The program's one session policy: the session factory, the runtime
settings and the package shipped to Python workers.

``RUNTIME_CONF`` holds the runtime settings that the operators' results
and the measured memory depend on. ``get_spark`` applies it on top of
its launch settings, and ``jobs/run_pipeline.py`` to the session
spark-submit hands it. AQE, its post-shuffle partition coalescing (so
32 shuffle partitions fit any input), skew-join splitting and the
128 MB scan split come from Spark's defaults.

Arrow batches are capped at 256 records. A Python worker's peak RSS
follows the largest batch it decodes and parses, not the task's size.
The checkpointed runner's one write per call sends its whole input
through one Python task: at 2048 records per batch the Python
processes' RSS rose 10% over the old one-job-per-batch loop (2000
docs, 4 cores), at 256 it rose 2%. The flagship's fell from ~428 to
~345 MB, and its throughput did not drop. Since the parse stage builds
its Arrow columns from buffers, no worker imports pandas: the flagship's
Python processes sum to ~284 MB and the checkpointed run's to ~166 MB.
The spark-submit job decoded Spark's default 10,000-record batches
until it took this table: over five full 8-batch checkpointed calls on
the 2000-doc input (4 cores) its Python processes read 183 MB, against
166 MB at 256, at the same call time.
"""
from __future__ import annotations

import hashlib
import io
import os
import re
import tempfile
import zipfile

from pyspark.sql import SparkSession

RUNTIME_CONF = {
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "256",
}

ALLOCATOR_ENV = {"MALLOC_MMAP_THRESHOLD_": "536870912",
                 "MALLOC_TRIM_THRESHOLD_": "536870912",
                 "MALLOC_ARENA_MAX": "4"}


_PACKAGE_ZIP: str | None = None


def package_zip() -> str:
    """Zip this package for worker shipping (the spark-submit
    ``--py-files`` artifact) and return its path.

    Built once per interpreter with fixed entry timestamps and named by
    a hash of its bytes, so interpreters holding the same package share
    one file. Spark executors byte-compare an added file against their
    cached copy on every task, so the bytes under a name must never
    change while an app runs: a new zip is renamed into place whole.
    Not removed at exit: tools/submit_pipeline.sh hands the path on."""
    global _PACKAGE_ZIP
    if _PACKAGE_ZIP is not None and os.path.exists(_PACKAGE_ZIP):
        return _PACKAGE_ZIP
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    entries = []
    for root, _dirs, files in os.walk(pkg_dir):
        if "__pycache__" in root:
            continue
        for f in files:
            if f.endswith(".py"):
                full = os.path.join(root, f)
                rel = os.path.join("console_log_parser_spark",
                                   os.path.relpath(full, pkg_dir))
                entries.append((rel, full))
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as z:
        for rel, full in sorted(entries):
            with open(full, "rb") as fh:
                data = fh.read()
            info = zipfile.ZipInfo(rel, date_time=(2020, 1, 1, 0, 0, 0))
            z.writestr(info, data)
    blob = buf.getvalue()
    out = os.path.join(tempfile.gettempdir(),
                       f"console_log_parser_spark_{os.getuid()}_"
                       f"{hashlib.sha256(blob).hexdigest()[:16]}.zip")
    if not os.path.exists(out):
        tmp = f"{out}.{os.getpid()}"
        with open(tmp, "wb") as fh:
            fh.write(blob)
        os.replace(tmp, out)
    _PACKAGE_ZIP = out
    return out


def ship_package(spark: SparkSession) -> None:
    """Make the package importable on Python workers of a session this
    module did not build. A context that holds the zip already is left
    alone: each ``addPyFile`` appends one more copy to the includes sent
    with every Python task and to the driver's ``sys.path``."""
    sc = spark.sparkContext
    path = package_zip()
    if os.path.basename(path) not in sc._python_includes:
        sc.addPyFile(path)


def max_partition_bytes(spark: SparkSession) -> int:
    """``spark.sql.files.maxPartitionBytes`` in bytes, as Spark parses
    it: the session value may carry a unit ("128m", "128MB")."""
    return int(spark._jsparkSession.sessionState().conf()
               .filesMaxPartitionBytes())


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
    for k, v in ALLOCATOR_ENV.items():
        os.environ.setdefault(k, v)


def driver_mem() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else min(24g, 40% of MemTotal): the
    heap is pre-touched, so asking for more than the host can commit
    kills the JVM at start. 24g where /proc/meminfo is unreadable."""
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "24g"
    return f"{min(24 << 10, int(kb * 0.4) >> 10)}m"


def launch_settings(master: str | None = None) -> tuple[str, dict]:
    """The master and the launch settings a session starts with:
    ``get_spark`` builds its session on them and
    ``tools/submit_pipeline.sh`` hands them to spark-submit.

    ``master`` defaults to ``SPARK_GRAFT_MASTER``, else ``local[N]``
    over the N cores this process may run on (CPU affinity, unlike
    ``os.cpu_count()``). The heap is ``driver_mem()``, pre-touched."""
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or \
        f"local[{len(os.sched_getaffinity(0))}]"
    # local[N] pins task maxFailures to 1 (spark.task.maxFailures is
    # IGNORED in local mode; only the local[N,F] master form sets it),
    # so a single python-worker death — e.g. an OOM during a
    # memory-bandwidth-degraded host window, which killed one of the
    # round-5 driver bench repeats mid-run — aborts the whole job
    # instead of retrying one task. Allow ONE retry, the local analog
    # of a cluster's default maxFailures=4. Core count is untouched;
    # a retry can only ADD wall time, never flatter a measurement.
    m = re.fullmatch(r"local\[(\d+|\*)\]", master)
    if m:
        master = f"local[{m.group(1)},2]"
    mem = driver_mem()
    return master, {
        "spark.driver.memory": mem,
        # Xms=Xmx + pre-touch: a fixed, pre-faulted heap. Without it
        # the heap grows/uncommits under the bursty parse allocation
        # pattern and the commit/zero churn shows up as kernel time
        # stalling the Arrow feed (same pathology as the malloc
        # tuning above, JVM side). Standard long-running-executor
        # practice on real clusters.
        "spark.driver.extraJavaOptions": f"-Xms{mem} -XX:+AlwaysPreTouch",
        "spark.ui.enabled": "false",
        # ship the package to python workers (spark-submit --py-files
        # equivalent) so jobs run regardless of the driver's cwd
        "spark.submit.pyFiles": package_zip(),
    }


def get_spark(app: str = "console_log_parser_spark",
              master: str | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """``RUNTIME_CONF`` on the launch settings, ``extra_conf`` last."""
    _tune_allocator_env()
    master, launch = launch_settings(master)
    spark = (
        SparkSession.builder.master(master).appName(app)
        .config(map=launch)
        .config(map=RUNTIME_CONF)
        .config(map=extra_conf or {})
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark

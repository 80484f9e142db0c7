#!/usr/bin/env python3
"""Benchmark of the console-log pipeline; see DESIGN.md for its shape.

    python3 perfbench/run.py --workload histogram|checkpointed \
        --seed N --seconds S --trace 0|1

Run from the repository root. Inputs are generated from ``--seed`` and
cached under ``perfbench/_work``; the measured process (measure.py)
starts only after they exist. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
records the host settings and the input fingerprint.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

# Per workload: transcript docs (checkpointed reads the first 2000 docs
# of the same seeded corpus: datagen docs are a pure function of index
# and seed); untimed jobs between the first job and the steady window
# (histogram's second job is still 10-40% slower than the ones after
# it); and the fewest jobs in the steady window.
SETTINGS = {
    "histogram": {"docs": 8000, "warmup_jobs": 1, "min_steady_jobs": 3},
    "checkpointed": {"docs": 2000, "warmup_jobs": 0, "min_steady_jobs": 1},
}
DEADLINE_S = 175
ORACLE_PROCS = 4


def host_settings() -> dict:
    """``local[<cores>]`` and a driver heap of 40% of MemTotal: the
    program's 24g default cannot start on a small host. No other Spark
    setting is passed."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    return {"master": f"local[{cores}]",
            "driver_mem": f"{int(mem_kb * 0.4 / 1024)}m",
            "cores": cores}


def child_env(host: dict, run_dir: str) -> dict:
    """Keep every file Spark, the JVM and Python write in the run's own
    directory, which is removed when the run ends."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_DRIVER_MEM": host["driver_mem"],
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TZ": "UTC",
    })
    return env


def stop_group(pgid: int) -> None:
    """Kill what is left of the measured process's group and wait until
    it is gone."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        for _ in range(50):
            time.sleep(0.1)
            if not _group_alive(pgid):
                return


def _group_alive(pgid: int) -> bool:
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def measure(cfg: dict, host: dict, run_dir: str,
            t_begin: float) -> tuple[str, int | None]:
    """Start measure.py in a new process group; return its stdout and
    exit code (None when it ran past the deadline and was killed)."""
    os.makedirs(run_dir, exist_ok=True)
    cfg_path = os.path.join(run_dir, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    env = child_env(host, run_dir)
    t_start = time.time()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "measure.py"), cfg_path,
         repr(t_start)],
        cwd=run_dir, env=env, stdout=subprocess.PIPE,
        start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(
            timeout=max(10.0, DEADLINE_S - (t_start - t_begin)))
        return out, proc.returncode
    except subprocess.TimeoutExpired:
        return "", None
    finally:
        stop_group(proc.pid)
        proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SETTINGS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_begin = time.time()

    if not (os.path.isdir(os.path.join(ROOT, "console_log_parser_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no program to measure under {ROOT}",
              file=sys.stderr)
        return 2
    if args.seed < 0:
        print("perfbench: --seed must be >= 0", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import inputs

    host = host_settings()
    cfg = {"root": ROOT, "workload": args.workload, "trace": args.trace,
           "seconds": args.seconds, "master": host["master"],
           **SETTINGS[args.workload], "adhoc_queries": inputs.ADHOC_QUERIES}
    context = {"workload": args.workload, "seed": args.seed,
               "trace": args.trace, **host}
    cfg["input"] = inputs.transcripts(WORK, args.seed, cfg["docs"],
                                      ORACLE_PROCS)
    context["input"] = cfg["input"]["fingerprint"]
    # only a traced run reads the ad-hoc tables, but their oracle takes
    # 25-30 s once per checkout, so the first run of any kind pays it
    cfg["tables"] = inputs.tables(WORK)
    context["tables"] = cfg["tables"]["fingerprint"]
    context["prepare_s"] = round(time.time() - t_begin, 3)

    run_dir = os.path.join(WORK, f"run_{os.getpid()}")
    cfg["run_dir"] = run_dir
    try:
        out, code = measure(cfg, host, run_dir, t_begin)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if code is None:
        print("perfbench: measured process exceeded its deadline",
              file=sys.stderr)
        return 1
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if code != 0 or not lines:
        print(f"perfbench: measured process exited {code}",
              file=sys.stderr)
        return 1
    res = json.loads(lines[-1])
    context["jobs"] = res["jobs"]
    context.update({k: v for k, v in res.items()
                    if k in ("ledger", "driver_rss_mb")})
    context["total_s"] = round(time.time() - t_begin, 3)
    print(json.dumps({"context": context}))
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"],
                      "failed": res["failed"],
                      "metrics": res["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

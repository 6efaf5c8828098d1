#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one process tree.

    python3 ktbench/run.py --workload ivm_trickle --seed 1 --seconds 10 --trace 0

Workloads (``BENCHMARK.json`` says why each was chosen):

- ``ivm_trickle``: a 50k-key share-position changelog, then batches that
  each touch 1% of the keys, replayed through ``SetIvmJob`` with eight
  Zipf-hot point lookups after every batch;
- ``ivm_bulk``: the same generator and job over 20k keys, with batches
  that each touch 90% of them and eight lookups after each;
- ``headline``: the 13 ``plans.headline_queries()`` forced with the noop
  sink over the tables in ``$SPARK_GRAFT_SF_DIR``, each checked against its
  DuckDB oracle; not part of ``BENCHMARK.json`` (see ``headline.py``).

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics; the last stdout line is the JSON result. ``--record FILE`` also
writes metrics, notes and spans to FILE.

This file only supervises. It makes one scratch directory per run inside
the checkout (Spark local dirs, temp dir, warehouse, event log, chunks,
state), sizes the session to the machine, starts ``worker.py`` in its own
process group under a hard timeout, and afterwards kills whatever is left
of that group (the Spark JVM included) and removes the scratch directory,
on failure too.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARD_TIMEOUT_S = 170
HEAP_CAP_MB = 1024

LOG4J = """\
rootLogger.level = error
rootLogger.appenderRef.stderr.ref = console
appender.console.type = Console
appender.console.name = console
appender.console.target = SYSTEM_ERR
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n
"""


def _arg(argv: list[str], name: str, default: str) -> str:
    return argv[argv.index(name) + 1] if name in argv and argv.index(name) + 1 < len(argv) else default


def _heap_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return min(HEAP_CAP_MB, int(line.split()[1]) // 1024 // 4)
    return HEAP_CAP_MB


def _prepare(run_dir: str, traced: bool) -> dict:
    mem_mb = _heap_mb()
    for sub in ("local", "tmp", "conf", "warehouse", "input", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub))
    conf = [
        "spark.ui.showConsoleProgress false",
        # a fixed-size heap: peak RSS and GC pacing no longer depend on how
        # far the heap happened to grow in this run
        f"spark.driver.extraJavaOptions -Xms{mem_mb}m",
    ]
    if traced:
        conf += [
            "spark.eventLog.enabled true",
            f"spark.eventLog.dir file://{run_dir}/eventlog",
            "spark.eventLog.compress false",
        ]
    with open(os.path.join(run_dir, "conf", "spark-defaults.conf"), "w") as f:
        f.write("\n".join(conf) + "\n")
    with open(os.path.join(run_dir, "conf", "log4j2.properties"), "w") as f:
        f.write(LOG4J)
    env = dict(os.environ)
    env.update(
        SPARK_CONF_DIR=os.path.join(run_dir, "conf"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        # every JVM of the run (launcher and Spark) keeps its temp files in
        # the run dir and writes no hsperfdata file to the system temp dir
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir}/tmp",
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=f"{mem_mb}m",
        SPARK_GRAFT_WAREHOUSE=os.path.join(run_dir, "warehouse"),
        PYSPARK_PYTHON=sys.executable,
        PYTHONDONTWRITEBYTECODE="1",
    )
    # session.py sizes AQE's initial width from this dir; ivm_* runs point it
    # at an empty one inside the run dir, headline at the tables it reads
    env.setdefault("SPARK_GRAFT_SF_DIR", os.path.join(run_dir, "input"))
    return env


def _reap(proc: subprocess.Popen) -> None:
    """Terminate every process left in the worker's group (the worker leads
    it), then wait for the group to be gone."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        end = time.time() + grace
        while time.time() < end:
            proc.poll()  # reap the worker itself; its orphans go to init
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def main() -> int:
    # a terminated supervisor still reaps its worker group and run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    argv = sys.argv[1:]
    workload = _arg(argv, "--workload", "x")
    seed = _arg(argv, "--seed", "x")
    traced = _arg(argv, "--trace", "0") == "1"
    runs = os.path.join(ROOT, ".ktbench_runs")
    run_dir = os.path.join(runs, f"{workload}-s{seed}-t{int(traced)}-{os.getpid()}")
    code = 2
    out = ""
    try:
        env = _prepare(run_dir, traced)
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *argv, "--run-dir", run_dir],
            cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True, start_new_session=True,
        )
        try:
            out, _ = proc.communicate(timeout=HARD_TIMEOUT_S)
            code = proc.returncode
        except subprocess.TimeoutExpired:
            print(f"ktbench: run exceeded {HARD_TIMEOUT_S} s, killed", file=sys.stderr)
            out, code = "", 3
        finally:
            _reap(proc)
            proc.wait()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(runs)
        except OSError:
            pass
    if out:
        sys.stdout.write(out)
        sys.stdout.flush()
    return code


if __name__ == "__main__":
    sys.exit(main())

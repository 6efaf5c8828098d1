"""One benchmark run in its own process; started by ``run.py``.

Prints human-readable progress on stderr and, as the last line of stdout,
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(each ``{"value", "unit"}``): the end-to-end metrics, or with ``--trace 1``
the per-layer ones. A wrong output sets ``correct`` to false and the exit
code to 1.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # the engine package, beside ktbench/

from spans import Trace  # noqa: E402

WORKLOADS = ("ivm_trickle", "ivm_bulk", "headline")


class Context:
    """What a workload needs from the run: session factory, counters, checks."""

    def __init__(self, args):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.run_dir = args.run_dir
        self.event_log_dir = os.path.join(args.run_dir, "eventlog")
        self.trace = Trace(f"{args.workload}-{args.seed}-{os.getpid()}", bool(args.trace))
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []

    def mismatch(self, what: str) -> None:
        self.mismatches.append(what)
        print(f"ktbench: MISMATCH {what}", file=sys.stderr)

    def start_session(self):
        from kafka_streams_and_ktable_example_spark.session import get_spark

        spark = get_spark("ktbench")
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    @staticmethod
    def rss_peak_mb(spark) -> float:
        """Peak resident set of the Spark JVM plus this Python process."""
        pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        jvm_kb = 0
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024.0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--record", help="also write metrics, notes and spans to this JSON file")
    args = ap.parse_args()
    ctx = Context(args)
    t0 = time.time()
    if args.workload == "headline":
        import headline as workload
    else:
        import ivm as workload
    result = workload.run(ctx, args.workload)
    ctx.trace.add("run", t0, time.time())
    correct = not ctx.mismatches
    as_json = lambda ms: {k: {"value": v, "unit": u} for k, (v, u) in ms.items()}  # noqa: E731
    # a traced run reports the per-layer metrics, an untraced one the end-to-end ones
    out = {
        "correct": correct,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": as_json(result["layers"] if ctx.trace.enabled else result["metrics"]),
    }
    print(f"ktbench notes: {json.dumps(result['notes'])}", file=sys.stderr)
    if args.record:
        with open(args.record, "w") as f:
            json.dump(
                {**out, "end_to_end": as_json(result["metrics"]), "notes": result["notes"],
                 "mismatches": ctx.mismatches, "spans": [s.__dict__ for s in ctx.trace.spans]},
                f,
            )
    print(json.dumps(out), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

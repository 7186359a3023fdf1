"""One workload run inside the process group that run.py starts.

    python3 loadbench/worker.py --workload NAME --seed N --seconds S --trace 0|1

Prints diagnostics as '#' lines and, last, the result line (without the
process-tree memory, which only run.py can see)."""

from __future__ import annotations

import argparse
import importlib
import time

import common
import spans


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    mod = importlib.import_module(a.workload)
    common.host_stamp("before")
    tracer = spans.Tracer(enabled=bool(a.trace), event_log=common.work_dir() / "eventlog")
    t0 = time.perf_counter()
    spark = common.spark_session(f"loadbench-{a.workload}", tracer.event_log_dir())
    session_s = time.perf_counter() - t0
    try:
        tracer.attach(spark)
        checks, metrics = mod.run(spark, a.seed, a.seconds, tracer, session_s)
    finally:
        tracer.detach()
        spark.stop()
    common.host_stamp("after")
    if a.trace:
        metrics = tracer.layer_metrics()
    common.emit(checks.failed == 0 and checks.attempted > 0, checks.attempted, checks.failed,
                metrics)


if __name__ == "__main__":
    main()

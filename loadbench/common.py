"""Shared pieces of the load benchmark: host sizing, the Spark session,
percentiles, the host stamp and the result line.

Nothing here starts a thread or a process at import time; the worker
calls :func:`spark_session` once, after it has set its environment.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import time
from pathlib import Path

#: the benchmark's scratch tree, inside the checkout (see run.py)
WORK_ENV = "LOADBENCH_WORK"


def ncpu() -> int:
    """CPUs this process may run on (the session's core count)."""
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 4096


def driver_mem_mb() -> int:
    """Driver heap sized to the box: a quarter of RAM, between 1 and 2 GiB.

    The inputs are small and the machine is shared, so the heap is capped
    well below the engine's 8 GiB default. The heap starts at this size
    too (``-Xms``): a heap that grows on demand grows by as much as GC
    timing happens to ask for, which moved the peak resident size of
    identical runs by up to a fifth."""
    return max(1024, min(2048, mem_total_mb() // 4))


def work_dir() -> Path:
    return Path(os.environ[WORK_ENV])


def spark_session(app: str, event_log: Path | None = None):
    """The engine's own session factory, sized to this machine.

    ``SPARK_GRAFT_CPUS`` sets both the master's core count and the
    shuffle partition count (the engine reads it at import), so it is set
    before the package is imported. Console progress is switched off at
    build time: it cannot be changed on a running session."""
    n = ncpu()
    heap = f"{driver_mem_mb()}m"
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap
    from crypto_clickhouse_poc_spark.session import get_spark

    wd = work_dir()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Xms{heap}",
        "spark.local.dir": str(wd / "spark-local"),
        "spark.sql.warehouse.dir": str(wd / "warehouse"),
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = str(event_log)
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    spark = get_spark(app, **conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    s = sorted(values)
    k = max(0, math.ceil(q / 100.0 * len(s)) - 1)
    return s[k]


def median(values: list[float]) -> float:
    return statistics.median(values)


def cpu_probe() -> float:
    """Seconds for a fixed pure-Python loop: a host-speed stamp that no
    code in the repository can move."""
    t0 = time.perf_counter()
    x = 0
    for i in range(3_000_000):
        x += i * i
    return time.perf_counter() - t0


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the machine since boot: time the
    hypervisor gave this machine's CPUs to someone else, out of all."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


_TICKS_BEFORE: list[tuple[int, int]] = []


def host_stamp(label: str) -> dict:
    """nproc, load average, the CPU probe and, from the second stamp on,
    the share of CPU time stolen by the hypervisor since the first."""
    stamp = {
        "nproc": ncpu(),
        "loadavg": [round(v, 2) for v in os.getloadavg()],
        "cpu_probe_s": round(cpu_probe(), 4),
    }
    ticks = cpu_ticks()
    if _TICKS_BEFORE:
        (s0, t0), (s1, t1) = _TICKS_BEFORE[0], ticks
        stamp["steal_share"] = round((s1 - s0) / max(1, t1 - t0), 4)
    else:
        _TICKS_BEFORE.append(ticks)
    info(f"host {label}", stamp)
    return stamp


def info(label: str, payload=None) -> None:
    """A diagnostic line on stdout. It starts with '#', so it can never be
    mistaken for the result, which is always the last line."""
    text = f"# {label}" if payload is None else f"# {label}: {json.dumps(payload)}"
    print(text, flush=True)


def measured() -> None:
    """Mark the end of the measured work: run.py stops sampling memory
    here, so the output checks (DuckDB in this process) do not count."""
    info("measured")


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def emit(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    print(
        json.dumps(
            {
                "correct": bool(correct),
                "attempted": int(attempted),
                "failed": int(failed),
                "metrics": metrics,
            }
        ),
        flush=True,
    )


class Checks:
    """Output checks of one run: every check is counted, every failure is
    kept with its reason (the first few are printed)."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failures: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failures.append(what)
        return ok

    @property
    def failed(self) -> int:
        return len(self.failures)

    def report(self) -> None:
        info("checks", {"attempted": self.attempted, "failed": self.failed})
        for f in self.failures[:10]:
            print(f"# check failed: {f}", file=sys.stderr, flush=True)

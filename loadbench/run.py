"""Load benchmark of the crypto analytics engine.

    python3 loadbench/run.py --workload live|library --seed N \
        --seconds S --trace 0|1

Run from the repository root. Prints '#' diagnostic lines, then as its last
line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. ``--trace 0`` gives the end-to-end metrics, ``--trace 1`` the
per-layer ones (see BENCHMARK.json and loadbench/README.md).

The workload runs in a child process that leads its own process group, so
the Spark JVM and its Python workers belong to that group; this launcher
samples the group's memory (proportional set size), and on exit, timeout or interrupt
kills the whole group and waits until every member has ended. Scratch
files live under ``.loadbench/`` in the working directory and are removed
at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
TICKS = os.sysconf("SC_CLK_TCK")
WORKLOADS = ("live", "library")
CHILD_TIMEOUT_S = 170.0


def group_members(pgid: int, min_age_s: float = 0.0) -> list[int]:
    """Live members of the process group, optionally only those that have
    run for at least ``min_age_s``."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # fields after the parenthesised command: state ppid pgrp ... starttime (20th)
        fields = stat.rsplit(")", 1)[1].split()
        if int(fields[2]) != pgid or fields[0] == "Z":
            continue
        if uptime - int(fields[19]) / TICKS >= min_age_s:
            pids.append(int(name))
    return pids


def group_pss_mb(pgid: int) -> float:
    """Proportional set size of the group: resident memory with each shared
    page split among the processes sharing it, over members older than
    half a second. The JVM starts helpers (Hadoop's local file system shells
    out to chmod for each file it writes) with vfork, and until the helper
    execs, /proc shows it with the JVM's whole address space: counting
    those doubled the JVM for a moment, often enough to set the peak."""
    total = 0
    for pid in group_members(pgid, min_age_s=0.5):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024


def sustained_peak(samples: list[float]) -> float:
    """The highest level held for two consecutive samples (the peak of the
    running median of three). One-sample spikes are sampling races: the
    group's processes are read one after another, not at one instant."""
    if len(samples) < 3:
        return max(samples, default=0.0)
    return max(sorted(samples[i - 1:i + 2])[1] for i in range(1, len(samples) - 1))


def kill_group(pgid: int) -> None:
    """SIGTERM the group, then SIGKILL whatever is left, until it is empty."""
    for sig, wait_s in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            if not group_members(pgid):
                return
            time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a SIGTERM unwinds like an interrupt, so the group is still killed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = Path.cwd()
    if not (root / "crypto_clickhouse_poc_spark" / "__init__.py").is_file():
        print("loadbench: no crypto_clickhouse_poc_spark package in the working directory",
              file=sys.stderr)
        return 2

    work = root / ".loadbench" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    env = dict(os.environ)
    env.update(
        {
            "PYTHONPATH": os.pathsep.join([str(root), env.get("PYTHONPATH", "")]).rstrip(os.pathsep),
            "LOADBENCH_WORK": str(work),
            "TMPDIR": str(work / "tmp"),
            "TZ": "UTC",
            # every JVM (spark-submit's launcher and the driver) keeps its
            # temp files in the checkout and writes no /tmp/hsperfdata file
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
            "PYTHONHASHSEED": str(a.seed),
        }
    )
    cmd = [sys.executable, str(HERE / "worker.py"), "--workload", a.workload,
           "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace)]
    child = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE, text=True,
                             start_new_session=True)
    lines: list[str] = []
    measured = threading.Event()

    def relay() -> None:
        for line in child.stdout:
            lines.append(line.rstrip("\n"))
            if line.startswith("#"):
                print(line, end="", flush=True)
            if line.startswith("# measured"):
                measured.set()

    reader = threading.Thread(target=relay, daemon=True)
    reader.start()
    samples: list[float] = []
    deadline = time.monotonic() + CHILD_TIMEOUT_S
    try:
        while child.poll() is None:
            if time.monotonic() > deadline:
                print("loadbench: workload timed out", file=sys.stderr)
                break
            if not measured.is_set():
                samples.append(group_pss_mb(child.pid))
            time.sleep(0.1)
    finally:
        kill_group(child.pid)
        child.wait()
        reader.join(timeout=10)
        shutil.rmtree(work, ignore_errors=True)

    result_lines = [ln for ln in lines if ln.startswith("{")]
    if child.returncode != 0 or not result_lines:
        print(f"loadbench: workload failed (exit {child.returncode})", file=sys.stderr)
        return 1
    result = json.loads(result_lines[-1])
    peak = sustained_peak(samples)
    print(f"# memory: peak {peak:.1f} MB over {len(samples)} samples", flush=True)
    if not a.trace:
        result["metrics"]["peak_pss_mb"] = {"value": peak, "unit": "MB"}
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Dashboard refreshes: what ``web/index.html`` fires on each refresh, the
client process that sends them, and the checks on what comes back."""

from __future__ import annotations

import json
import math
import subprocess
import sys
from pathlib import Path

import numpy as np

import gen
import oracle
from common import Checks, ncpu, work_dir

#: the page's input defaults (``web/index.html``: history window 60
#: minutes, live window 60 seconds)
MINUTES = 60
WINDOW_SEC = 60
#: a user's pause between seeing one refresh and asking for the next,
#: spread evenly over [0, THINK_MAX_S) (see :func:`think_times`). It
#: spans about one micro-batch of the streams (~1.8 s on 4 cores), so
#: refreshes meet every phase of the batches instead of staying on one
#: for a whole run
THINK_MAX_S = 1.5


def refresh_paths(sym: str, minutes: int, window: int) -> list[str]:
    """The five routes one dashboard refresh requests together
    (``web/index.html``: ohlcv, top_symbols, live_buy_sell, hist_buy_sell,
    live_trades)."""
    return [
        f"/ohlcv?symbol={sym}&minutes={minutes}",
        f"/top_symbols?minutes={minutes}",
        f"/live_buy_sell?minutes={minutes}",
        f"/hist_buy_sell?symbol={sym}&minutes={minutes}",
        f"/live_trades?symbol={sym}&window_sec={window}&limit=15",
    ]


def pool(rng: np.random.Generator, count: int = 400) -> list[list[str]]:
    """Refreshes in the order the client sends them, until its time is up.

    The seed draws the symbol, as balanced permutations: every run of five
    refreshes covers each of the UI's five symbols once. A run sends a
    dozen refreshes or so, and independent draws would change the cost mix
    from seed to seed."""
    out = []
    for i in range(count):
        if i % len(gen.SYMBOLS) == 0:
            picks = rng.permutation(len(gen.SYMBOLS))
        sym = gen.SYMBOLS[int(picks[i % len(gen.SYMBOLS)])]
        out.append(refresh_paths(sym, MINUTES, WINDOW_SEC))
    return out


def think_times(rng: np.random.Generator, count: int = 400) -> list[float]:
    """Think times in the order the client uses them, as balanced
    permutations like the symbols: every run of five refreshes pauses once
    in each fifth of [0, THINK_MAX_S), at its middle. Independent draws
    moved the total pause from seed to seed, and with it part of the
    number of refreshes a run sends."""
    levels = (np.arange(len(gen.SYMBOLS)) + 0.5) / len(gen.SYMBOLS) * THINK_MAX_S
    blocks = -(-count // len(levels))
    return np.concatenate([rng.permutation(levels) for _ in range(blocks)])[:count].tolist()


def drive(port: int, refreshes: list[list[str]], tag: str, seconds: float = math.inf,
          sink_log: str | None = None, think: list[float] | None = None) -> dict:
    """Run the client process (closed loop over ``refreshes`` for at most
    ``seconds``, pausing ``think[i]`` seconds before refresh ``i``) and
    return its record."""
    wd = work_dir()
    plan_path, out_path = wd / f"plan-{tag}.json", wd / f"client-{tag}.json"
    plan = {"port": port, "refreshes": refreshes, "connections": ncpu(), "sink_log": sink_log,
            "tag": tag, "seconds": seconds, "think": think}
    plan_path.write_text(json.dumps(plan))
    client = Path(__file__).with_name("client.py")
    subprocess.run([sys.executable, str(client), str(plan_path), str(out_path)], check=True,
                   timeout=150)
    return json.loads(out_path.read_text())


def request_latencies_ms(record: dict) -> list[float]:
    """Per request: its refresh's send time to its response, ms. A
    dashboard panel waits exactly this long; five panels per refresh give
    the percentiles five times the samples of whole refreshes."""
    return [(q["done"] - r["due"]) * 1000.0 for r in record["refreshes"] for q in r["requests"]]


def check_record(con, record: dict, checks: Checks) -> None:
    """Check every response: HTTP 200 and equal to the recompute at a
    committed batch the request could have read. Identical (path, batches,
    answer) triples are checked once."""
    seen: dict[tuple, str | None] = {}
    for r in record["refreshes"]:
        for q in r["requests"]:
            if q["status"] != 200:
                checks.check(False, f"{q['path']}: HTTP {q['status']} {str(q['body'])[:200]}")
                continue
            batches = range(q["batch_before"], q["batch_after"] + 1)
            key = (q["path"], batches.start, batches.stop, json.dumps(q["body"]))
            if key not in seen:
                seen[key] = oracle.check(con, q["path"], q["body"], gen.ANCHOR, batches)
            why = seen[key]
            checks.check(why is None, f"{q['path']} @ batches {batches.start}..{batches.stop - 1}: {why}")

"""Dashboard client, run as its own process.

    python3 loadbench/client.py PLAN.json OUT.json

One dashboard user reloading by hand (closed loop): each refresh fires
its routes together, at most ``connections`` requests in flight, and the
next refresh is sent once every answer of the last one is in and the
user's think time (the plan's ``think``, seconds, one per refresh) has
passed. The loop ends when the plan's refreshes run out or ``seconds``
have passed. A request's latency runs from its refresh's send time
(``due``) to its response.

Each request carries a ``rid`` query parameter (the server ignores it; a
traced run uses it to join client and server records). With ``sink_log``
set, every request records the newest committed batch of that file-sink
log just before it is sent and just after it returns, so the checker
knows which table versions the answer may reflect.
"""

from __future__ import annotations

import http.client
import json
import queue
import sys
import threading
import time
from pathlib import Path

import sinklog


def newest_batch(log_dir: str | None) -> int:
    return -1 if log_dir is None else sinklog.newest(Path(log_dir))


def run(plan: dict) -> dict:
    port, log_dir, tag = plan["port"], plan.get("sink_log"), plan["tag"]
    work: queue.Queue = queue.Queue()
    answered = threading.Semaphore(0)
    t0, wall0 = time.monotonic(), time.time()

    def worker() -> None:
        while True:
            item = work.get()
            if item is None:
                return
            rec, path = item
            rec["batch_before"] = newest_batch(log_dir)
            rec["sent"] = time.monotonic() - t0
            try:
                conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
                try:
                    conn.request("GET", f"{path}&rid={rec['rid']}")
                    resp = conn.getresponse()
                    rec["status"], body = resp.status, resp.read()
                finally:
                    conn.close()
                rec["body"] = json.loads(body)
            except (OSError, http.client.HTTPException, ValueError) as exc:
                rec["status"], rec["body"] = 0, {"error": repr(exc)}
            rec["done"] = time.monotonic() - t0
            rec["batch_after"] = newest_batch(log_dir)
            answered.release()

    threads = [threading.Thread(target=worker, daemon=True) for _ in range(plan["connections"])]
    for t in threads:
        t.start()
    refreshes = []
    think = plan.get("think") or [0.0] * len(plan["refreshes"])
    for ri, paths in enumerate(plan["refreshes"]):
        time.sleep(think[ri])
        now = time.monotonic() - t0
        if now >= plan["seconds"]:
            break
        reqs = [{"path": p, "rid": f"{tag}.{ri}.{qi}"} for qi, p in enumerate(paths)]
        refreshes.append({"due": now, "requests": reqs})
        for rec, p in zip(reqs, paths):
            work.put((rec, p))
        for _ in paths:
            answered.acquire()
    for _ in threads:
        work.put(None)
    for t in threads:
        t.join()
    return {"refreshes": refreshes, "wall0": wall0}


def main() -> None:
    with open(sys.argv[1]) as f:
        plan = json.load(f)
    out = run(plan)
    with open(sys.argv[2], "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()

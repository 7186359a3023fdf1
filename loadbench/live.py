"""``live``: the collector writing while the dashboard reads.

Set-up generates a seeded trade stream over the last :data:`SPAN` before
the anchor (the trades fixture spec of FIXTURES.md §A1, see
:func:`gen.trades`), cut into replay chunks of :data:`ROWS_PER_CHUNK`
trades, with :data:`DUP_SHARE` reconnect duplicates and
:data:`LATE_SHARE` out-of-order trades (all inside the dedup watermark).
It starts ``streaming.collector.Collector`` over
``streaming.ingest.start_ingest`` (``trigger_sec=0``, dedup on) and
``streaming.bars.start_bars_partials`` on the same ``sources.replay``
chunk directory, lets both commit the first :data:`HISTORY` chunks, and
starts ``serving.AnalyticsServer`` over ``layout.read_table`` of the sink
(one cold refresh).

Measured: :data:`BACKLOG` chunks land at once, and while both queries
drain them one dashboard user reloads for ``--seconds`` (closed loop:
the next refresh is sent once the last one has fully answered and a
think time below ``refresh.THINK_MAX_S`` has passed, see
``refresh.think_times``). Sent
back to back, refreshes made whole runs fast or slow, as if they locked
onto one phase of the micro-batches (op_p50 spread 0.24 over ten seeds;
0.07 with the think time). ``op_p50_ms`` / ``op_p90_ms`` are per request, from its
refresh's send to its response; ``batch_s`` runs from the drop to the
commit of the last batch holding a backlog chunk, in both queries, read
from the checkpoints' offset and commit logs with a bounded wait. The
backlog outlasts the reads, so every request meets the same contention.

Why not a fixed input rate: on 4 cores, chunks at a rate the streams keep
up with leave the refreshes bimodal (fast between micro-batches, slow
during them), and an open loop at a rate that yields enough refreshes
overloads the server beside the streams, so its queue and latency grow for
as long as the run lasts. Both made the percentiles depend on the seed.

Checks: every response against a DuckDB recompute at any sink batch
committed between the request's send and its response; exactly-once
against the generated trades; the partial bars merged by
``bars.reaggregate_bars`` against ``bars.bars_batch`` over the sink.

The collector's ``inserted_rows`` counter (what the dashboard shows as
rows) is reported beside the rows the sink committed, as the per-layer
``collector.inserted_rows`` / ``collector.committed_rows``, and is not
one of the workload's checked operations: on the parquet sink it stays 0
at every seed (its listener adds ``sink.numOutputRows`` only when
positive, and the file sink reports -1), and the workload must be one on
which no operation fails. A fix shows as ``collector.inserted_rows``
rising to ``collector.committed_rows``.

``setup_s`` is everything before the backlog drops: session start,
stream start, the history's commit, server start and one cold refresh.
"""

from __future__ import annotations

import math
import time
from datetime import timedelta
from pathlib import Path

import duckdb
import numpy as np

import gen
import oracle
import refresh
import sinklog
from common import Checks, info, measured, median, metric, percentile, work_dir

#: FIXTURES.md §A1: ``ts`` spans at least 90 minutes ending at the anchor
SPAN = timedelta(minutes=90)
#: run sizing, not a traffic figure: the backlog must outlast the reads
ROWS_PER_CHUNK = 2_500
HISTORY = 2
BACKLOG = 22
#: FIXTURES.md §A1: ~1% of rows arrive again as exact duplicates
DUP_SHARE = 0.01
#: no sourced figure; set equal to the duplicate share. A late trade
#: arrives one chunk (~4 min of ``ts``) after its own, inside the
#: engine's 10-minute watermark
LATE_SHARE = 0.01
MAX_LATE_CHUNKS = 1
DRAIN_WAIT_S = 90.0
LISTENER_WAIT_S = 10.0


def _wait_drained(ckpts: list[Path], chunks: list[Path], limit_s: float) -> bool:
    deadline = time.monotonic() + limit_s
    while time.monotonic() < deadline:
        if all(sinklog.drained(c, chunks) for c in ckpts):
            return True
        time.sleep(0.1)
    return False


def _listener_caught_up(st: "_Streams", limit_s: float) -> bool:
    """Wait until the collector's listener has seen the ingest query's
    latest progress event. Listener events arrive asynchronously, so
    without this a correct count could be read before its last batch."""
    deadline = time.monotonic() + limit_s
    while time.monotonic() < deadline:
        last = st.queries["ingest"].lastProgress
        if last is not None and st.collector.status["last_flush"] == last["timestamp"]:
            return True
        time.sleep(0.1)
    return False


def _last_commit(ckpt: Path, chunks: list[Path]) -> float:
    admitted, commits = sinklog.source_files(ckpt), sinklog.commit_times(ckpt)
    return max(commits[admitted[str(c)]] for c in chunks)


class _Streams:
    """The collector (ingest) and the partial-bars query over one replay dir."""

    def __init__(self, spark, root: Path) -> None:
        from crypto_clickhouse_poc_spark.sources.replay import read_replay_stream
        from crypto_clickhouse_poc_spark.streaming import bars, ingest
        from crypto_clickhouse_poc_spark.streaming.collector import Collector

        self.replay, self.sink, self.bars = root / "replay", root / "trades", root / "bars"
        self.ingest_ckpt, self.bars_ckpt = root / "ckpt-ingest", root / "ckpt-bars"
        self.replay.mkdir(parents=True)
        self.queries: dict = {}

        def start_ingest():
            q = ingest.start_ingest(read_replay_stream(spark, str(self.replay)), str(self.sink),
                                    str(self.ingest_ckpt), trigger_sec=0, dedup=True)
            self.queries["ingest"] = q
            return q

        self.collector = Collector(spark, start_ingest)
        self._start_bars = lambda: bars.start_bars_partials(
            ingest.deduped(ingest.normalize(read_replay_stream(spark, str(self.replay)))),
            str(self.bars), str(self.bars_ckpt), trigger_sec=0)

    def start(self) -> None:
        self.collector.start()
        self.queries["bars"] = self._start_bars()

    def stop(self) -> None:
        if "bars" in self.queries:
            self.queries["bars"].stop()
        self.collector.stop()

    @property
    def ckpts(self) -> list[Path]:
        return [self.ingest_ckpt, self.bars_ckpt]


def run(spark, seed: int, seconds: float, tracer, session_s: float) -> tuple:
    from crypto_clickhouse_poc_spark import serving
    from crypto_clickhouse_poc_spark.plans import layout

    wd = work_dir()
    n_chunks = HISTORY + BACKLOG
    uniq, chunk_frames = gen.stream(seed, n_chunks, ROWS_PER_CHUNK, gen.ANCHOR - SPAN, gen.ANCHOR,
                                    first_id=1, dup_share=DUP_SHARE, late_share=LATE_SHARE,
                                    max_late_chunks=MAX_LATE_CHUNKS)
    lines = [gen.event_lines(c) for c in chunk_frames]
    rng = np.random.default_rng(seed)
    staging = wd / "staging"
    checks = Checks()

    t0 = time.perf_counter()
    st = _Streams(spark, wd / "live")
    history = [gen.write_chunk(lines[i], st.replay, i, staging) for i in range(HISTORY)]
    st.start()
    srv = None
    try:
        ok = _wait_drained(st.ckpts, history, DRAIN_WAIT_S)
        checks.check(ok, "history chunks not committed in time")
        srv = serving.AnalyticsServer(lambda: layout.read_table(spark, str(st.sink)),
                                      collector=st.collector, anchor=gen.ANCHOR)
        srv.start()
        refresh.drive(srv.port, refresh.pool(rng, 1), "setup")
        setup_s = session_s + time.perf_counter() - t0

        tracer.start()
        t_drop = time.time()
        backlog = [gen.write_chunk(lines[i], st.replay, i, staging)
                   for i in range(HISTORY, n_chunks)]
        rec = refresh.drive(srv.port, refresh.pool(rng), "drain", seconds,
                            sink_log=str(st.sink / "_spark_metadata"),
                            think=refresh.think_times(rng))
        ok = _wait_drained(st.ckpts, backlog, DRAIN_WAIT_S)
        checks.check(ok, "backlog not drained in time")
        tracer.stop()
        drain_s = max(_last_commit(c, backlog) for c in st.ckpts) - t_drop if ok else math.nan
        checks.check(_listener_caught_up(st, LISTENER_WAIT_S),
                     "collector listener missed the last progress event")
        inserted = st.collector.status["inserted_rows"]
        tracer.streaming(st.queries)
    finally:
        if srv is not None:
            srv.stop()
        st.stop()
    measured()
    tracer.client(rec)
    sink = _check_outputs(spark, st, uniq, rec, checks)
    checks.report()
    lat = refresh.request_latencies_ms(rec)
    backlog_rows = sum(len(chunk_frames[i]) for i in range(HISTORY, n_chunks))
    last_done = max(q["done"] for r in rec["refreshes"] for q in r["requests"])
    info("drain", {"chunks": BACKLOG, "rows": backlog_rows, "drain_s": round(drain_s, 3),
                   "rows_per_s": round(backlog_rows / drain_s, 1), "requests": len(lat),
                   "reads_end_s": round(rec["wall0"] + last_done - t_drop, 3)})
    info("collector", {"inserted_rows": inserted, "committed_rows": sink["rows"],
                       "counter_matches": inserted == sink["rows"]})
    metrics = {
        "setup_s": metric(setup_s, "s"),
        "op_p50_ms": metric(median(lat), "ms"),
        "op_p90_ms": metric(percentile(lat, 90), "ms"),
        "batch_s": metric(drain_s, "s"),
    }
    tracer.note(**{
        "layout.files": sink["files"],
        "ingest.files_per_batch": sink["files"] / max(1, sink["batches"]),
        "ingest.bytes_per_row": sink["bytes"] / max(1, sink["rows"]),
        "ingest.rows_per_s": backlog_rows / drain_s,
        "bars.partials_per_batch": sink["partials"] / max(1, sink["bars_batches"]),
        "collector.inserted_rows": inserted,
        "collector.committed_rows": sink["rows"],
        "traced.op_p50_ms": metrics["op_p50_ms"]["value"],
        "traced.op_p90_ms": metrics["op_p90_ms"]["value"],
        "traced.batch_s": drain_s,
    })
    return checks, metrics


def _check_outputs(spark, st: _Streams, uniq, rec: dict, checks: Checks) -> dict:
    """Run the output checks; return what the sink holds."""
    from crypto_clickhouse_poc_spark.plans import layout
    from crypto_clickhouse_poc_spark.streaming import bars

    files = sinklog.sink_files(st.sink)
    con = duckdb.connect()
    con.execute("CREATE TABLE trades (symbol VARCHAR, trade_id BIGINT, price DOUBLE, qty DOUBLE, "
                "ts TIMESTAMP, is_buyer_maker INTEGER, b INTEGER)")
    for path, b in files.items():
        con.execute(
            "INSERT INTO trades SELECT symbol, trade_id, price, qty, ts, is_buyer_maker, ? "
            "FROM read_parquet(?)", [b, path])
    refresh.check_record(con, rec, checks)

    # exactly-once: every generated trade committed once, none invented
    got = con.execute("SELECT trade_id, symbol, price, qty, ts, is_buyer_maker FROM trades "
                      "ORDER BY trade_id").fetchall()
    why = exactly_once(got, uniq)
    checks.check(why is None, f"exactly-once: {why}")

    # the streaming MV equals the batch recompute over what was committed
    partials = spark.read.parquet(str(st.bars))
    merged = bars.reaggregate_bars(partials).collect()
    direct = bars.bars_batch(layout.read_table(spark, str(st.sink))).collect()
    checks.check(bars_equal(merged, direct), "partial bars != batch bars over the sink")
    return {
        "rows": len(got), "files": len(files), "batches": len(set(files.values())),
        "bytes": sum(Path(p).stat().st_size for p in files),
        "partials": partials.count(),
        "bars_batches": len(set(sinklog.source_files(st.bars_ckpt).values())),
    }


def exactly_once(got: list[tuple], uniq) -> str | None:
    """None if the committed rows ``got`` (trade_id, symbol, price, qty,
    ts, is_buyer_maker) are exactly the generated unique trades."""
    want = gen.trade_tuples(uniq)
    if len(got) != len(want):
        return f"sink holds {len(got)} rows, {len(want)} trades were sent"
    if sorted(got) != sorted(want):
        return "sink rows differ from the generated trades"
    return None


def bars_equal(merged, direct) -> bool:
    """Partial bars merged at read time equal the batch bars: prices and
    counts exactly, ``volume`` up to summation order."""
    a = {(r["minute"], r["symbol"]): r for r in merged}
    b = {(r["minute"], r["symbol"]): r for r in direct}
    if a.keys() != b.keys():
        return False
    for k, r in a.items():
        s = b[k]
        for c in ("open", "high", "low", "close", "trades"):
            if r[c] != s[c]:
                return False
        if not oracle.value_eq("volume", r["volume"], s["volume"]):
            return False
    return True

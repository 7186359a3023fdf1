"""Seeded trades. The same seed always gives the same trades; the program
under test only ever sees what these functions write.

Every distribution follows the trades fixture spec, FIXTURES.md §A1:
the UI's five symbols with Zipf-ish weights, a per-symbol random walk
from BTC ~65000 and ETH ~3000, ``qty`` uniform in [0.0001, 0.01),
whole-second ``ts`` before the pinned :data:`ANCHOR`, and ~1% exact
duplicates (the share is the caller's, see ``live.DUP_SHARE``).

- :func:`trades` — the unique trades, with increasing ``trade_id``.
- :func:`stream` — the same trades cut into replay chunks, with a stated
  share of reconnect duplicates and of out-of-order trades.
"""

from __future__ import annotations

import json
import os
from datetime import datetime
from pathlib import Path

import numpy as np
import pandas as pd

#: the dashboard's pinned "now" (FIXTURES.md §A1 ``ANCHOR_TS``): every
#: request passes it as ``anchor``
ANCHOR = datetime(2025, 9, 12, 12, 0, 0)

#: the UI's symbol set, in FIXTURES.md §A1's order, which is the rank order
SYMBOLS = ("BTCUSDT", "ETHUSDT", "BNBUSDT", "SOLUSDT", "ADAUSDT")
#: start prices: BTC and ETH as FIXTURES.md §A1 gives them; the spec names
#: none for the other three, so they continue the spec's falling scale.
#: A price moves values only, never cost: every price is one double
_BASE_PRICE = np.array([65000.0, 3000.0, 500.0, 150.0, 0.5])
#: "Zipf-ish": the plain Zipf law, weight 1/rank
ZIPF_S = 1.0
QTY_LOW, QTY_HIGH = 0.0001, 0.01


def symbol_weights() -> np.ndarray:
    w = 1.0 / np.arange(1, len(SYMBOLS) + 1) ** ZIPF_S
    return w / w.sum()


def trades(seed: int, n: int, start: datetime, end: datetime, first_id: int = 0) -> pd.DataFrame:
    """``n`` trades with ``start <= ts < end``, sorted by (ts, trade_id).

    Prices are a per-symbol random walk rounded to cents and quantities are
    rounded to 1e-8, so the values survive the replay's decimal-string
    encoding (eight decimals) unchanged."""
    rng = np.random.default_rng(seed)
    span = int((end - start).total_seconds())
    secs = np.sort(rng.integers(0, span, n))
    sym = rng.choice(len(SYMBOLS), n, p=symbol_weights())
    steps = rng.normal(0.0, 3e-4, n)
    price = np.empty(n)
    for s in range(len(SYMBOLS)):
        idx = np.flatnonzero(sym == s)
        price[idx] = _BASE_PRICE[s] * np.exp(np.cumsum(steps[idx]))
    price = np.maximum(np.round(price, 2), 0.01)
    qty = np.round(rng.uniform(QTY_LOW, QTY_HIGH, n), 8)
    ts = pd.Timestamp(start) + pd.to_timedelta(secs, unit="s")
    return pd.DataFrame(
        {
            "symbol": np.asarray(SYMBOLS, dtype=object)[sym],
            "trade_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "price": price,
            "qty": qty,
            "ts": ts.astype("datetime64[us]"),
            "is_buyer_maker": rng.integers(0, 2, n).astype(np.int32),
            "ingested_at": (ts + pd.Timedelta(seconds=1)).astype("datetime64[us]"),
        }
    )


def stream(
    seed: int,
    n_chunks: int,
    rows_per_chunk: int,
    start: datetime,
    end: datetime,
    first_id: int,
    dup_share: float,
    late_share: float,
    max_late_chunks: int = 1,
) -> tuple[pd.DataFrame, list[pd.DataFrame]]:
    """Unique trades plus the chunks that deliver them.

    Chunk ``i`` carries the trades of its own time slice, minus the ones
    held back to arrive late, plus the late ones released into it, plus
    reconnect duplicates (exact copies of a trade already sent in the
    previous chunk). A late trade arrives 1..``max_late_chunks`` chunks
    after its own: inside the engine's 10-minute dedup watermark as long as
    ``max_late_chunks + 1`` slices span less than 10 minutes of ``ts``, so
    no trade may be dropped."""
    rng = np.random.default_rng(seed + 7919)
    uniq = trades(seed, n_chunks * rows_per_chunk, start, end, first_id)
    home = np.arange(len(uniq)) // rows_per_chunk
    late = rng.random(len(uniq)) < late_share
    arrive = home + np.where(late, rng.integers(1, max_late_chunks + 1, len(uniq)), 0)
    arrive = np.minimum(arrive, n_chunks - 1)
    chunks = []
    prev = None
    for c in range(n_chunks):
        part = uniq[arrive == c]
        if prev is not None and len(prev):
            k = int(round(dup_share * len(part)))
            dups = prev.iloc[rng.choice(len(prev), size=min(k, len(prev)), replace=False)]
            part = pd.concat([part, dups])
        chunks.append(part.sample(frac=1.0, random_state=int(rng.integers(1 << 31))))
        prev = uniq[arrive == c]
    return uniq, chunks


def trade_tuples(df: pd.DataFrame) -> list[tuple]:
    """(trade_id, symbol, price, qty, ts, is_buyer_maker) per row, with
    plain Python values (``ts`` a naive UTC datetime)."""
    return list(zip(df["trade_id"].tolist(), df["symbol"].tolist(), df["price"].tolist(),
                    df["qty"].tolist(), [t.to_pydatetime() for t in df["ts"]],
                    df["is_buyer_maker"].tolist()))


def event_lines(df: pd.DataFrame) -> list[str]:
    """Binance combined-stream envelopes, the field map of
    ``sources.replay.trades_to_event_lines`` (vectorised for speed)."""
    ms = (df["ts"].astype("datetime64[ms]").astype("int64")).to_numpy()
    out = []
    for s, t, p, q, tms, m in zip(
        df["symbol"], df["trade_id"], df["price"], df["qty"], ms, df["is_buyer_maker"]
    ):
        out.append(
            json.dumps(
                {
                    "stream": f"{s.lower()}@trade",
                    "data": {"s": s, "t": int(t), "p": f"{p:.8f}", "q": f"{q:.8f}",
                             "T": int(tms), "m": bool(m)},
                }
            )
        )
    return out


def write_chunk(lines: list[str], replay_dir: Path, index: int, staging: Path) -> Path:
    """Publish chunk ``index`` atomically (write aside, then rename in).

    Like ``sources.replay.write_replay_chunks`` the file gets an mtime that
    ascends with its number, which fixes the file source's admission order."""
    staging.mkdir(parents=True, exist_ok=True)
    name = f"chunk-{index:05d}.jsonl"
    tmp = staging / name
    tmp.write_text("\n".join(lines) + "\n")
    stamp = 1_700_000_000 + index
    os.utime(tmp, (stamp, stamp))
    dest = replay_dir / name
    os.replace(tmp, dest)
    return dest

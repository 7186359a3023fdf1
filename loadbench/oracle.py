"""Independent recompute of the dashboard routes in DuckDB, and the rules
for comparing an answer with it.

The comparison accepts exactly the differences the engine is allowed to
have and nothing else:

- doubles that are sums (``volume``, ``buy_volume``, ``sell_volume``) or
  ratios of sums (the per-side VWAPs) may differ by summation order, so
  they compare with :func:`close`; everything else compares exactly;
- at a ``LIMIT`` over a ranking (``top_symbols``, ``live_buy_sell``) any
  valid top-k is accepted: the rows returned must be correct rows, in
  non-increasing score order, and no row left out may score higher than
  the lowest row returned.

The recompute reads the table loaded into DuckDB as ``trades`` with an
integer column ``b``: the file-sink batch that committed the row (0 for
a table written in one go). ``as_of`` restricts to ``b <= as_of``.
"""

from __future__ import annotations

import math
from datetime import datetime, timedelta
from urllib.parse import parse_qs, urlparse

#: relative tolerance for order-dependent double sums. A sum of n
#: positive doubles in two orders differs by at most about n * 2^-53 of
#: the total; 1e-9 covers n up to ~10^7 and is far below any real error
#: (one dropped or doubled trade moves a volume by ~1e-2 relative or more).
REL_TOL = 1e-9
ABS_TOL = 1e-12


def close(a: float, b: float) -> bool:
    """The benchmark's one rule for doubles: equal up to summation order."""
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)


def rounds_to(got: float, exact: float, decimals: int) -> bool:
    """True if ``got`` is ``exact`` rounded to ``decimals`` places, where
    ``exact`` may be off by summation order: near a rounding boundary that
    error may flip the last digit, anywhere else it may not."""
    half = 0.5 * 10.0 ** -decimals
    return abs(got - exact) <= half * (1 + REL_TOL) + REL_TOL * abs(exact) + ABS_TOL

_SUMS = {"volume", "buy_volume", "sell_volume", "avg_buy_price", "avg_sell_price"}


def _key_expr() -> str:
    # (ts, trade_id) ordering as one BIGINT; ts is whole seconds and ids
    # stay far below 1e9, so the packing is exact and order-preserving
    return "(epoch(ts)::BIGINT * 1000000000 + trade_id)"


def parse(path: str) -> tuple[str, dict]:
    u = urlparse(path)
    return u.path, {k: v[0] for k, v in parse_qs(u.query).items()}


def _lo(anchor: datetime, **delta) -> str:
    return (anchor - timedelta(**delta)).strftime("%Y-%m-%d %H:%M:%S")


def _side_sql() -> str:
    return (
        "sum(CASE WHEN is_buyer_maker = 0 THEN qty ELSE 0.0 END) AS buy_volume, "
        "sum(CASE WHEN is_buyer_maker = 1 THEN qty ELSE 0.0 END) AS sell_volume, "
        "sum(CASE WHEN is_buyer_maker = 0 THEN price * qty ELSE 0.0 END) / "
        "nullif(sum(CASE WHEN is_buyer_maker = 0 THEN qty ELSE 0.0 END), 0.0) AS avg_buy_price, "
        "sum(CASE WHEN is_buyer_maker = 1 THEN price * qty ELSE 0.0 END) / "
        "nullif(sum(CASE WHEN is_buyer_maker = 1 THEN qty ELSE 0.0 END), 0.0) AS avg_sell_price"
    )


def expected_sql(route: str, q: dict, anchor: datetime) -> tuple[str, list]:
    """SQL (with ``?`` for as_of) giving every group the route ranks or
    returns; for ranked routes this is the full ranking, not the top-k."""
    if route == "/ohlcv":
        return (
            f"SELECT date_trunc('minute', ts) AS minute, arg_min(price, {_key_expr()}) AS open, "
            "max(price) AS high, min(price) AS low, "
            f"arg_max(price, {_key_expr()}) AS close, sum(qty) AS volume, count(*) AS trades "
            "FROM trades WHERE b <= ? AND symbol = ? AND ts >= ? GROUP BY 1 ORDER BY 1",
            [q["symbol"], _lo(anchor, minutes=int(q.get("minutes", 60)))],
        )
    if route == "/top_symbols":
        return (
            "SELECT symbol, sum(qty) AS volume, count(*) AS trades FROM trades "
            "WHERE b <= ? AND ts >= ? GROUP BY 1",
            [_lo(anchor, minutes=int(q.get("minutes", 10)))],
        )
    if route == "/live_trades":
        return (
            "SELECT ts, symbol, price, qty, is_buyer_maker FROM trades "
            "WHERE b <= ? AND symbol = ? AND ts >= ? ORDER BY ts DESC, trade_id DESC LIMIT ?",
            [q["symbol"], _lo(anchor, seconds=int(q.get("window_sec", 60))),
             int(q.get("limit", 500))],
        )
    if route == "/live_buy_sell":
        minutes = int(q.get("minutes", 10))
        return (
            f"SELECT symbol, {_side_sql()}, count(*) / {float(minutes)!r} AS trades_per_min "
            "FROM trades WHERE b <= ? AND ts >= ? GROUP BY 1",
            [_lo(anchor, minutes=minutes)],
        )
    if route == "/hist_buy_sell":
        return (
            f"SELECT date_trunc('minute', ts) AS minute, {_side_sql()}, count(*) AS trades "
            "FROM trades WHERE b <= ? AND symbol = ? AND ts >= ? GROUP BY 1 ORDER BY 1",
            [q["symbol"], _lo(anchor, minutes=int(q.get("minutes", 60)))],
        )
    raise KeyError(route)


def _norm(v):
    return v.isoformat() if isinstance(v, datetime) else v


def recompute(con, route: str, q: dict, anchor: datetime, as_of: int) -> list[dict]:
    sql, params = expected_sql(route, q, anchor)
    cur = con.execute(sql, [as_of, *params])
    cols = [d[0] for d in cur.description]
    return [{c: _norm(v) for c, v in zip(cols, row)} for row in cur.fetchall()]


def value_eq(col: str, a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if col in _SUMS:
        return close(float(a), float(b))
    return a == b


def row_eq(a: dict, b: dict) -> bool:
    return a.keys() == b.keys() and all(value_eq(c, a[c], b[c]) for c in a)


def _score_ge(x: float, y: float) -> bool:
    """x >= y up to summation-order error."""
    return x >= y or close(x, y)


def topk_ok(got: list[dict], full: list[dict], k: int, score) -> str | None:
    """None if ``got`` is a valid top-``k`` of ``full`` by ``score``, else
    the reason it is not."""
    by_sym = {r["symbol"]: r for r in full}
    if len(got) != min(k, len(full)):
        return f"{len(got)} rows, expected {min(k, len(full))}"
    for r in got:
        o = by_sym.get(r.get("symbol"))
        if o is None or not row_eq(r, o):
            return f"row {r} != oracle {o}"
    for a, b in zip(got, got[1:]):
        if not _score_ge(score(a), score(b)):
            return f"rank order broken at {a['symbol']}, {b['symbol']}"
    if got:
        floor = min(score(r) for r in got)
        shown = {r["symbol"] for r in got}
        for r in full:
            if r["symbol"] not in shown and not _score_ge(floor, score(r)):
                return f"{r['symbol']} left out but outranks the returned rows"
    return None


def _total(r: dict) -> float:
    return r["buy_volume"] + r["sell_volume"]


def compare(route: str, q: dict, got, want: list[dict]) -> str | None:
    """None if the answer ``got`` matches the recompute ``want``."""
    if not isinstance(got, list):
        return f"not a row list: {str(got)[:200]}"
    if route == "/top_symbols":
        return topk_ok(got, want, int(q.get("limit", 10)), lambda r: r["volume"])
    if route == "/live_buy_sell":
        return topk_ok(got, want, int(q.get("top", 5)), _total)
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for i, (a, b) in enumerate(zip(got, want)):
        if not row_eq(a, b):
            return f"row {i}: {a} != {b}"
    return None


def check(con, path: str, body, anchor: datetime, batches: range) -> str | None:
    """None if the answer matches the recompute at some committed batch in
    ``batches`` (newest first, the most likely one), else why not."""
    route, q = parse(path)
    why = None
    for b in reversed(batches):
        why = compare(route, q, body, recompute(con, route, q, anchor, b))
        if why is None:
            return None
    return why

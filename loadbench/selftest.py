"""Self-tests of the benchmark's output checks (no Spark needed).

    python3 loadbench/selftest.py

Every check must reject a planted wrong output (a dropped chunk, a
duplicated trade, an off-by-one ``trades`` count, a wrong top-k row, a
perturbed cosine) and accept an answer that differs only by float
summation order or by how ties are broken at a LIMIT.
"""

from __future__ import annotations

import json
import math
import sys
import tempfile
import unittest
from datetime import timedelta
from pathlib import Path

import duckdb
import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parent))

import gen  # noqa: E402
import library  # noqa: E402
import live  # noqa: E402
import oracle  # noqa: E402
import sinklog  # noqa: E402


def _trades_con(df, batch_of=None):
    """DuckDB ``trades`` table over a generated frame; ``batch_of(i)`` gives
    row i's committing batch (default 0)."""
    df = df.copy()
    df["b"] = [batch_of(i) if batch_of else 0 for i in range(len(df))]
    con = duckdb.connect()
    con.register("df", df)
    con.execute("CREATE TABLE trades AS SELECT * FROM df")
    return con


def _reordered_sum(rows: list[dict], col: str) -> list[dict]:
    """The same rows with ``col`` nudged by one unit in the last place:
    what a different summation order can do to a sum of doubles."""
    out = []
    for r in rows:
        r = dict(r)
        if isinstance(r.get(col), float):
            r[col] = math.nextafter(r[col], math.inf)
        out.append(r)
    return out


class RouteChecks(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.df = gen.trades(5, 4000, gen.ANCHOR - timedelta(minutes=90), gen.ANCHOR)
        cls.con = _trades_con(cls.df)
        cls.sym = gen.SYMBOLS[0]

    def answer(self, path, as_of=0, con=None):
        route, q = oracle.parse(path)
        return oracle.recompute(con or self.con, route, q, gen.ANCHOR, as_of)

    def test_exact_answer_passes(self):
        for path in (f"/ohlcv?symbol={self.sym}&minutes=30", "/top_symbols?minutes=30",
                     "/live_buy_sell?minutes=30", f"/hist_buy_sell?symbol={self.sym}&minutes=30",
                     f"/live_trades?symbol={self.sym}&window_sec=120&limit=15"):
            route, q = oracle.parse(path)
            got = self.answer(path)
            if route == "/top_symbols":
                got = got_sorted(got, "volume")[:10]
            elif route == "/live_buy_sell":
                got = got_sorted(got, None)[:5]
            self.assertIsNone(oracle.check(self.con, path, got, gen.ANCHOR, range(0, 1)), path)

    def test_summation_order_passes(self):
        path = f"/ohlcv?symbol={self.sym}&minutes=60"
        got = _reordered_sum(self.answer(path), "volume")
        self.assertIsNone(oracle.check(self.con, path, got, gen.ANCHOR, range(0, 1)))
        path = f"/hist_buy_sell?symbol={self.sym}&minutes=60"
        got = _reordered_sum(_reordered_sum(self.answer(path), "buy_volume"), "avg_sell_price")
        self.assertIsNone(oracle.check(self.con, path, got, gen.ANCHOR, range(0, 1)))

    def test_off_by_one_trades_count_fails(self):
        path = f"/ohlcv?symbol={self.sym}&minutes=60"
        got = self.answer(path)
        got[len(got) // 2]["trades"] += 1
        self.assertIsNotNone(oracle.check(self.con, path, got, gen.ANCHOR, range(0, 1)))

    def test_duplicated_trade_fails(self):
        dup = self.df[self.df["symbol"] == self.sym].tail(1)
        con = _trades_con(__import__("pandas").concat([self.df, dup]))
        for path in (f"/ohlcv?symbol={self.sym}&minutes=60",
                     f"/live_trades?symbol={self.sym}&window_sec=600&limit=15"):
            got = self.answer(path, con=con)
            self.assertIsNotNone(oracle.check(self.con, path, got, gen.ANCHOR, range(0, 1)), path)

    def test_dropped_chunk_fails_outside_its_batch_window(self):
        # rows arrive in 4 batches; an answer missing the last batch is right
        # only if that batch had not committed when the request was sent
        n = len(self.df)
        con = _trades_con(self.df, batch_of=lambda i: i * 4 // n)
        path = "/top_symbols?minutes=90"
        stale = got_sorted(self.answer(path, as_of=2, con=con), "volume")[:10]
        self.assertIsNotNone(oracle.check(con, path, stale, gen.ANCHOR, range(3, 4)))
        self.assertIsNone(oracle.check(con, path, stale, gen.ANCHOR, range(2, 4)))

    def test_topk_ties(self):
        full = [{"symbol": s, "volume": v, "trades": 1}
                for s, v in (("A", 5.0), ("B", 3.0), ("C", 3.0), ("D", 1.0))]
        self.assertIsNone(oracle.topk_ok([full[0], full[2]], full, 2, lambda r: r["volume"]))
        self.assertIsNone(oracle.topk_ok([full[0], full[1]], full, 2, lambda r: r["volume"]))
        self.assertIsNotNone(oracle.topk_ok([full[0], full[3]], full, 2, lambda r: r["volume"]))
        self.assertIsNotNone(oracle.topk_ok([full[1], full[0]], full, 2, lambda r: r["volume"]))


def got_sorted(rows, key):
    score = (lambda r: r[key]) if key else (lambda r: r["buy_volume"] + r["sell_volume"])
    return sorted(rows, key=score, reverse=True)


class StreamChecks(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.uniq, cls.chunks = gen.stream(3, 6, 300, gen.ANCHOR - timedelta(minutes=6),
                                          gen.ANCHOR, first_id=1, dup_share=0.05,
                                          late_share=0.05)

    def committed(self, chunks):
        import pandas as pd

        return gen.trade_tuples(pd.concat(chunks).drop_duplicates(["ts", "symbol", "trade_id"]))

    def test_trades_follow_the_fixture_spec(self):
        self.assertEqual(set(self.uniq["symbol"]), set(gen.SYMBOLS))
        self.assertTrue(((self.uniq["qty"] >= 0.0001) & (self.uniq["qty"] < 0.01)).all())
        self.assertTrue((self.uniq["ts"] < gen.ANCHOR).all())
        self.assertTrue(self.uniq["trade_id"].is_unique)

    def test_stream_plants_duplicates_and_late_trades(self):
        sent = sum(len(c) for c in self.chunks)
        self.assertGreater(sent, len(self.uniq))
        self.assertEqual(len(self.committed(self.chunks)), len(self.uniq))

    def test_exactly_once(self):
        self.assertIsNone(live.exactly_once(self.committed(self.chunks), self.uniq))

    def test_dropped_chunk_fails(self):
        self.assertIsNotNone(live.exactly_once(self.committed(self.chunks[:-1]), self.uniq))

    def test_duplicated_trade_fails(self):
        got = self.committed(self.chunks)
        self.assertIsNotNone(live.exactly_once(got + got[:1], self.uniq))

    def test_bars(self):
        bar = {"minute": 1, "symbol": "X", "open": 1.0, "high": 2.0, "low": 0.5, "close": 1.5,
               "volume": 0.1 + 0.2 + 0.3, "trades": 3}
        same_other_order = dict(bar, volume=0.3 + 0.2 + 0.1)
        self.assertNotEqual(bar["volume"], same_other_order["volume"])
        self.assertTrue(live.bars_equal([bar], [same_other_order]))
        self.assertFalse(live.bars_equal([bar], [dict(bar, trades=4)]))
        self.assertFalse(live.bars_equal([bar], [dict(bar, volume=0.7)]))
        self.assertFalse(live.bars_equal([bar], []))


class LogReaders(unittest.TestCase):
    def test_drained_needs_every_chunk_committed(self):
        with tempfile.TemporaryDirectory() as d:
            ck = Path(d) / "ckpt"
            chunks = [Path(d) / f"chunk-{i:05d}.jsonl" for i in range(3)]
            src, off, com = ck / "sources" / "0", ck / "offsets", ck / "commits"
            for p in (src, off, com):
                p.mkdir(parents=True)
            # source listing 0 admits chunks 0-1, listing 1 admits chunk 2;
            # query batch 0 reads listing 0, batch 1 is a no-data batch,
            # batch 2 reads listing 1
            (src / "0").write_text("v1\n" + "\n".join(
                json.dumps({"path": f"file://{c}", "timestamp": 0, "batchId": 0})
                for c in chunks[:2]) + "\n")
            (src / "1").write_text("v1\n" + json.dumps(
                {"path": f"file://{chunks[2]}", "timestamp": 0, "batchId": 1}) + "\n")
            for b, log_off in ((0, 0), (1, 0), (2, 1)):
                (off / str(b)).write_text(f'v1\n{{}}\n{{"logOffset":{log_off}}}\n')
            (com / "0").write_text("v1\n{}\n")
            (com / "1").write_text("v1\n{}\n")
            self.assertEqual(sinklog.source_files(ck)[str(chunks[2])], 2)
            self.assertTrue(sinklog.drained(ck, chunks[:2]))
            self.assertFalse(sinklog.drained(ck, chunks))  # batch 2 not committed
            (com / "2").write_text("v1\n{}\n")
            self.assertTrue(sinklog.drained(ck, chunks))
            self.assertFalse(sinklog.drained(ck, chunks + [Path(d) / "chunk-00003.jsonl"]))

    def test_sink_log_batches_with_compaction(self):
        with tempfile.TemporaryDirectory() as d:
            log = Path(d) / "sink" / "_spark_metadata"
            log.mkdir(parents=True)

            def entry(name):
                return json.dumps({"path": f"file:///t/{name}", "action": "add"})

            (log / "0").write_text("v1\n" + entry("a") + "\n")
            (log / "1").write_text("v1\n" + entry("b") + "\n")
            (log / "2.compact").write_text("v1\n" + "\n".join(map(entry, "abc")) + "\n")
            self.assertEqual(sinklog.sink_files(Path(d) / "sink"),
                             {"/t/a": 0, "/t/b": 1, "/t/c": 2})
            self.assertEqual(sinklog.newest(log), 2)


class LibraryChecks(unittest.TestCase):
    def test_doubles_compare_up_to_summation_order_only(self):
        self.assertTrue(oracle.close(0.1 + 0.2, 0.3))
        self.assertTrue(oracle.close(sum([0.1] * 10), 1.0))
        self.assertFalse(oracle.close(0.5, 0.6))
        self.assertFalse(oracle.close(412.5, 412.6))
        # a one-cent flip of a rounded sum is a wrong answer, not round-off
        self.assertFalse(oracle.close(148777.96, 148777.95))
        self.assertFalse(library.value_eq((1, 0.5), (1, 0.6)))

    def test_rounded_value_may_flip_only_at_a_rounding_boundary(self):
        at_boundary = 0.1234565 + 1e-17
        self.assertTrue(oracle.rounds_to(0.123457, at_boundary, 6))
        self.assertTrue(oracle.rounds_to(0.123456, at_boundary, 6))
        self.assertFalse(oracle.rounds_to(0.123457, 0.1234561, 6))
        self.assertFalse(oracle.rounds_to(0.123458, at_boundary, 6))

    def test_rows(self):
        want = [("de", 10, 0.25), ("en", 20, 0.5)]
        self.assertIsNone(library.rows_match(list(reversed(want)), want))
        self.assertIsNone(library.rows_match([("de", 10, 0.25), ("en", 20, 0.5 + 1e-15)], want))
        self.assertIsNotNone(library.rows_match([("de", 11, 0.25), ("en", 20, 0.5)], want))
        self.assertIsNotNone(library.rows_match(want[:1], want))
        self.assertIsNotNone(library.rows_match(want + want[:1], want))

    def test_materialized_cte_keeps_the_answer(self):
        sql = ("WITH a AS (SELECT range AS x FROM range(10)),\n"
               "     b AS (SELECT x FROM a WHERE x % 2 = 0)\n"
               "SELECT count(*), sum(x) FROM b")
        con = duckdb.connect()
        self.assertIn("MATERIALIZED", library.materialized(sql))
        self.assertEqual(con.execute(sql).fetchall(),
                         con.execute(library.materialized(sql)).fetchall())

    def test_ann_cosines(self):
        rng = np.random.default_rng(0)
        v = rng.normal(size=(6, 8))
        con = duckdb.connect()
        con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding DOUBLE[])")
        for i, e in enumerate(v):
            con.execute("INSERT INTO embeddings VALUES (?, ?)", [i, e.tolist()])

        def cos(a, b):
            return round(float(v[a] @ v[b] / np.linalg.norm(v[a]) / np.linalg.norm(v[b])), 6)

        cols = ["query_id", "neighbor_id", "rank", "cosine"]
        ranked = sorted(range(1, 6), key=lambda n: -cos(0, n))
        rows = [(0, n, k + 1, cos(0, n)) for k, n in enumerate(ranked[:3])]
        self.assertIsNone(library._check_ann(con, cols, rows))
        bad = [rows[0], rows[1], (0, rows[2][1], 3, rows[2][3] + 0.01)]
        self.assertIsNotNone(library._check_ann(con, cols, bad))
        swapped = [(0, rows[1][1], 1, rows[1][3]), (0, rows[0][1], 2, rows[0][3])]
        self.assertIsNotNone(library._check_ann(con, cols, swapped))


if __name__ == "__main__":
    unittest.main(verbosity=2)

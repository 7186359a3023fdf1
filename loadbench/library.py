"""``library``: the batch operators the open ROADMAP items target.

Inputs: the engine's own ``sf0.01`` fixtures for the tables these entries
read (``events``, ``documents``, ``embeddings``), committed unchanged in
``fixtures/`` beside this file. They are the tables the repository's
oracle-parity tests run on, so no input distribution is invented here;
the seed changes nothing in this workload.

Set-up, timed as ``setup_s``: the Spark session start (timed by the
worker) and the first open of each input through ``tables.load`` (file
listing and footer read), all program work. The measured pass then runs
every entry of :data:`FAMILIES` once, in the fixed order listed. The
order is fixed because entries share cold costs: the first Spark query of
the process pays JIT warm-up, and ``dedup_semantic`` and
``ann_ivf_pq_search`` share the k-means memo, so whichever runs first
trains. A permuted order moved those costs between entries and made the
per-entry percentiles depend on the seed.

State: the process is fresh, so JIT, Spark's codegen cache and the
engine's training memos (keyed on the table directory) are all cold, and
``spark.catalog.clearCache()`` runs before every entry; model training
therefore stays inside the timed entry.

``op_p50_ms`` / ``op_p90_ms`` are taken over the entries' wall times and
``batch_s`` is the whole pass. Every entry's rows are checked afterwards
(see :func:`check_entry`).
"""

from __future__ import annotations

import math
import re
import time
from datetime import date, datetime
from decimal import Decimal
from pathlib import Path

import numpy as np

import oracle
from common import Checks, info, measured, median, metric, percentile

#: entry families; the ROADMAP item each one carries is in README.md
FAMILIES = {
    "corpus": ("corpus_pii_scan", "corpus_dsir_weights", "corpus_decontaminate",
               "corpus_assemble"),
    "dedup": ("dedup_minhash_summary", "dedup_embedding_lsh"),
    "models": ("dedup_semantic", "ann_ivf_pq_search", "doc_bpe_tokens"),
    "lakehouse": ("mv_scoped_erasure_replay", "mv_enriched_replay"),
}
FIXTURES = Path(__file__).resolve().parent / "fixtures"
TABLES = ("events", "documents", "embeddings")


def entries() -> list[str]:
    return [e for fam in FAMILIES.values() for e in fam]


def run(spark, seed: int, seconds: float, tracer, session_s: float) -> tuple:
    from crypto_clickhouse_poc_spark import operators, tables

    qs = operators.library_queries()
    sf_dir = str(FIXTURES)
    t0 = time.perf_counter()
    for t in TABLES:
        tables.load(spark, sf_dir, t).schema
    open_s = time.perf_counter() - t0
    info("setup_parts_s", {"session": round(session_s, 3), "open": round(open_s, 3)})

    order = entries()
    checks = Checks()
    times: dict[str, float] = {}
    results: dict[str, list] = {}
    tracer.start()
    t_pass = time.perf_counter()
    for name in order:
        spark.catalog.clearCache()
        with tracer.entry(name):
            t0 = time.perf_counter()
            try:
                df = qs[name](spark, sf_dir)
                results[name] = [df.columns, df.collect()]
            except Exception as exc:  # one failed entry must not end the pass
                results[name] = None
                checks.check(False, f"{name} raised {exc!r}"[:300])
            times[name] = time.perf_counter() - t0
    pass_s = time.perf_counter() - t_pass
    tracer.stop()
    measured()

    oracles = operators.library_oracles()
    con = _duck(sf_dir)
    check_s = {}
    for name in order:
        if results[name] is not None:
            t0 = time.perf_counter()
            why = check_entry(spark, con, name, sf_dir, *results[name], oracles.get(name))
            checks.check(why is None, f"{name}: {why}")
            check_s[name] = round(time.perf_counter() - t0, 3)
    checks.report()
    info("check_s", check_s)

    info("entries_s", {n: round(t, 3) for n, t in times.items()})
    info("families_s", {f: round(sum(times[e] for e in es), 3) for f, es in FAMILIES.items()})
    ms = [t * 1000.0 for t in times.values()]
    metrics = {
        "setup_s": metric(session_s + open_s, "s"),
        "op_p50_ms": metric(median(ms), "ms"),
        "op_p90_ms": metric(percentile(ms, 90), "ms"),
        "batch_s": metric(pass_s, "s"),
    }
    tracer.note(**{"traced.op_p50_ms": median(ms), "traced.op_p90_ms": percentile(ms, 90),
                   "traced.batch_s": pass_s})
    return checks, metrics


def _duck(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


# ------------------------------------------------------------------ checks


def _canon(v):
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, np.generic):
        return v.item()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    return v


def value_eq(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is None and b is None
        return oracle.close(float(a), float(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(value_eq(x, y) for x, y in zip(a, b))
    return a == b


def _sort_key(row: tuple):
    # exact columns first, floats last and coarsened, so rows align even
    # when a double differs by summation order
    exact = tuple((0, str(v)) for v in row if not isinstance(v, float))
    approx = tuple(round(v, 4) if isinstance(v, float) and math.isfinite(v) else 0.0
                   for v in row if isinstance(v, float))
    return exact + approx


def rows_match(got: list[tuple], want: list[tuple]) -> str | None:
    if len(got) != len(want):
        return f"{len(got)} rows, oracle {len(want)}"
    for a, b in zip(sorted(got, key=_sort_key), sorted(want, key=_sort_key)):
        if not value_eq(a, b):
            return f"row {a} != oracle {b}"
    return None


_CTE = re.compile(r"(^|,)(\s*)([A-Za-z_][A-Za-z0-9_]*)\s+AS\s+\(", re.M)


def materialized(sql: str) -> str:
    """The same query with every plain CTE marked ``MATERIALIZED``.

    DuckDB inlines a CTE at each reference, so an oracle that reads one
    CTE from several others recomputes it each time (``corpus_assemble``:
    ~20 s on 500 documents). Materializing evaluates each once (~0.6 s);
    the result is the same, only the evaluation order changes."""
    return _CTE.sub(lambda m: f"{m.group(1)}{m.group(2)}{m.group(3)} AS MATERIALIZED (", sql)


def check_entry(spark, con, name, sf_dir, cols, rows, oracle_sql) -> str | None:
    """None if the entry's rows are right, else why not.

    - entries with a DuckDB oracle: same columns, and the same multiset of
      rows (order-insensitive) under :func:`value_eq` (doubles by
      :func:`oracle.close`, all else exactly);
    - ``ann_ivf_pq_search`` (no oracle: PQ training is not expressible in
      SQL): every emitted cosine equals the exact cosine of the raw
      vectors rounded to 6 places (:func:`oracle.rounds_to`), ranks run
      1..k per query in non-increasing cosine order;
    - ``doc_bpe_tokens`` (no oracle): word and learned-token counts equal
      a Python re-encoding of every document with the trained merges."""
    got = [tuple(_canon(v) for v in r) for r in rows]
    if oracle_sql is not None:
        cur = con.execute(materialized(oracle_sql))
        dcols = [d[0] for d in cur.description]
        if sorted(dcols) != sorted(cols):
            return f"columns {cols} vs oracle {dcols}"
        perm = [dcols.index(c) for c in cols]
        want = [tuple(_canon(r[i]) for i in perm) for r in cur.fetchall()]
        return rows_match(got, want)
    if name == "ann_ivf_pq_search":
        return _check_ann(con, cols, got)
    if name == "doc_bpe_tokens":
        return _check_bpe(spark, con, sf_dir, cols, got)
    return "no check defined"


def _check_ann(con, cols, got) -> str | None:
    ids, vecs = zip(*con.execute("SELECT vec_id, embedding FROM embeddings").fetchall())
    v = {i: np.asarray(e, dtype=np.float64) for i, e in zip(ids, vecs)}
    ix = {c: cols.index(c) for c in ("query_id", "neighbor_id", "rank", "cosine")}
    per_q: dict[int, list] = {}
    for r in got:
        q, n = r[ix["query_id"]], r[ix["neighbor_id"]]
        if q not in v or n not in v:
            return f"unknown vector in {r}"
        exact = float(v[q] @ v[n] / (np.linalg.norm(v[q]) * np.linalg.norm(v[n])))
        if not oracle.rounds_to(r[ix["cosine"]], exact, 6):
            return f"cosine {r[ix['cosine']]} != exact {exact} for {q}->{n}"
        per_q.setdefault(q, []).append((r[ix["rank"]], r[ix["cosine"]]))
    if not per_q:
        return "no rows"
    for q, lst in per_q.items():
        lst.sort()
        if [k for k, _ in lst] != list(range(1, len(lst) + 1)):
            return f"query {q}: ranks {[k for k, _ in lst]}"
        if any(a[1] < b[1] - 1e-6 for a, b in zip(lst, lst[1:])):
            return f"query {q}: cosines not in rank order"
    return None


def _check_bpe(spark, con, sf_dir, cols, got) -> str | None:
    from crypto_clickhouse_poc_spark.operators import bpe

    merges = bpe._train_bpe(spark, sf_dir)
    cache: dict[str, int] = {}
    want = []
    for doc_id, text in con.execute("SELECT doc_id, text FROM documents").fetchall():
        words = [w for w in (text or "").split(" ") if w]
        if not words:
            continue
        n = 0
        for w in words:
            if w not in cache:
                cache[w] = len(bpe.encode_word_py(w, merges))
            n += cache[w]
        want.append((doc_id, len(words), n))
    perm = [cols.index(c) for c in ("doc_id", "n_words", "n_tokens_bpe_learned")]
    return rows_match([tuple(r[i] for i in perm) for r in got], want)

"""Per-layer tracing for ``--trace 1`` runs.

The tracer wraps the public functions at each layer boundary, the way a
caller sees them (module attributes, so the program is not edited):

- ``serving.AnalyticsServer._route_get``  -> ``serving`` request span; it
  also puts the request's Spark jobs in their own job group;
- ``plans.layout.read_table``             -> ``layout.open``;
- ``api.<route>``                         -> ``api.build``;
- ``DataFrame.collect``                   -> ``spark.collect`` (with the
  query's analysis/optimization/planning times from its
  ``QueryExecution.tracker()``);
- ``plans.snapshots`` commits, ``logmv.refresh_rollup``,
  ``joinmv.refresh_enriched_rollup``      -> ``snapshots``/``logmv``/``joinmv``;
- each library entry                      -> ``entry`` (own job group).

Spans stay in memory until the run ends. Spark's side comes from its own
records: the event log (job and stage timings, tasks, shuffle and spill
bytes, scan metrics per SQL execution) and each streaming query's
``recentProgress``. A layer's self time is its span minus the child spans
inside it. Every per-layer metric is reported by every workload; a layer
the workload leaves idle reads 0.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import threading
import time
from pathlib import Path

import library

API_ROUTES = ("ohlcv", "top_symbols", "live_trades", "live_buy_sell", "hist_buy_sell")
COMMITS = ("append", "delete_by_keys", "upsert_by_keys", "overwrite_months")


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else 0.0


def _union(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class Tracer:
    def __init__(self, enabled: bool, event_log: Path) -> None:
        self.enabled = enabled
        self._event_log = event_log
        self._spans: list[dict] = []
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self._active = False
        self._progress: dict[str, list[dict]] = {}
        self._clients: list[dict] = []
        self._noted: dict[str, float] = {}
        self._self_s = 0.0
        self.spark = None

    # ---------------------------------------------------------- lifecycle
    def event_log_dir(self) -> Path | None:
        return self._event_log if self.enabled else None

    def attach(self, spark) -> None:
        self.spark = spark
        if not self.enabled:
            return
        from crypto_clickhouse_poc_spark import api, serving
        from crypto_clickhouse_poc_spark.plans import joinmv, layout, logmv, snapshots

        self._wrap(serving.AnalyticsServer, "_route_get", "serving", self._request_hook)
        self._wrap(layout, "read_table", "layout.open")
        for r in API_ROUTES:
            self._wrap(api, r, "api.build")
        # the session's concrete DataFrame class (PySpark's classic one
        # overrides ``collect``)
        self._wrap(type(spark.range(0)), "collect", "spark.collect", self._collect_hook)
        for c in COMMITS:
            self._wrap(snapshots, c, "snapshots.commit")
        self._wrap(logmv, "refresh_rollup", "logmv.refresh")
        self._wrap(joinmv, "refresh_enriched_rollup", "joinmv.refresh")

    def detach(self) -> None:
        for obj, attr, orig in reversed(self._patched):
            setattr(obj, attr, orig)
        self._patched.clear()

    def start(self) -> None:
        self._active = True

    def stop(self) -> None:
        self._active = False

    # ------------------------------------------------------------ records
    def _record(self, name: str, t0: float, t1: float, **attrs) -> None:
        if self._active:
            span = {"name": name, "t0": t0, "t1": t1,
                    "group": getattr(self._tls, "group", None), **attrs}
            with self._lock:
                self._spans.append(span)

    def _wrap(self, obj, attr: str, name: str, hook=None) -> None:
        orig = getattr(obj, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if hook is not None:
                return hook(orig, name, args, kwargs)
            t0 = time.time()
            try:
                return orig(*args, **kwargs)
            finally:
                tracer._record(name, t0, time.time())

        self._patched.append((obj, attr, orig))
        setattr(obj, attr, wrapper)

    def _request_hook(self, orig, name, args, kwargs):
        path, q = args[1], args[2]
        rid = q.get("rid", "")
        self._set_group(f"req-{rid}")
        t0 = time.time()
        try:
            return orig(*args, **kwargs)
        finally:
            self._record(name, t0, time.time(), rid=rid, path=path)
            self._set_group(None)

    def _collect_hook(self, orig, name, args, kwargs):
        t0 = time.time()
        rows = orig(*args, **kwargs)
        t1 = time.time()
        c0 = time.perf_counter()
        plan_ms = 0.0
        phases = args[0]._jdf.queryExecution().tracker().phases()
        for p in ("analysis", "optimization", "planning"):
            opt = phases.get(p)
            if opt.isDefined():
                plan_ms += float(opt.get().durationMs())
        self._record(name, t0, t1, plan_ms=plan_ms, rows=len(rows))
        self._self_s += time.perf_counter() - c0
        return rows

    def _set_group(self, group: str | None) -> None:
        self._tls.group = group
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(group, group)

    @contextlib.contextmanager
    def entry(self, name: str):
        if not self.enabled:
            yield
            return
        self._set_group(f"entry-{name}")
        t0 = time.time()
        try:
            yield
        finally:
            self._record("entry", t0, time.time(), entry=name)
            self._set_group(None)

    def client(self, record: dict) -> None:
        """Keep a client record (due, send and response times per request)."""
        if self.enabled:
            self._clients.append(record)

    def streaming(self, queries: dict) -> None:
        if self.enabled:
            for name, q in queries.items():
                self._progress[name] = [json.loads(p.json) for p in q.recentProgress]

    def note(self, **values: float) -> None:
        """Figures the workload measured itself (file counts, rates, the
        end-to-end numbers of this traced run)."""
        self._noted.update(values)

    # ------------------------------------------------------------- report
    def layer_metrics(self) -> dict:
        ev = _EventLog.read(self._event_log)
        m = dict.fromkeys(UNITS, 0.0)
        m.update(self._serving(ev))
        m.update(self._streaming())
        m.update(self._operators(ev))
        m.update(self._noted)
        m["trace.spans"] = len(self._spans)
        m["trace.self_ms"] = self._self_s * 1000.0
        m["trace.coverage_min"] = self._coverage()
        return {k: {"value": float(m[k]), "unit": UNITS[k]} for k in sorted(UNITS)}

    def _by_name(self, name: str) -> list[dict]:
        return [s for s in self._spans if s["name"] == name]

    def _serving(self, ev: "_EventLog") -> dict:
        reqs = self._by_name("serving")
        if not reqs:
            return {}
        due = {str(q["rid"]): rec["wall0"] + r["due"]
               for rec in self._clients for r in rec["refreshes"] for q in r["requests"]}
        kids: dict[str, list[dict]] = {}
        for k in self._spans:
            if k["name"] != "serving" and k["group"]:
                kids.setdefault(k["group"], []).append(k)
        per = []
        rows_out = scanned = 0.0
        for s in reqs:
            g = f"req-{s['rid']}"
            mine = kids.get(g, [])
            t = {n: sum(k["t1"] - k["t0"] for k in mine if k["name"] == n)
                 for n in ("layout.open", "api.build", "spark.collect")}
            collects = [k for k in mine if k["name"] == "spark.collect"]
            jobs = ev.jobs_in(g)
            per.append({
                "queue": s["t0"] - due[s["rid"]] if s["rid"] in due else 0.0,
                "self": (s["t1"] - s["t0"]) - sum(t.values()),
                "open": t["layout.open"], "build": t["api.build"],
                "collect": t["spark.collect"],
                "plan": sum(k["plan_ms"] for k in collects) / 1000.0,
                "jobs": len(jobs), "job": _union([(j["t0"], j["t1"]) for j in jobs]),
                "gap": ev.gap_s(jobs), "tasks": sum(j["tasks"] for j in jobs),
                "files": ev.scan(g, "files"), "bytes": ev.scan(g, "bytes"),
            })
            rows_out += sum(k["rows"] for k in collects)
            scanned += ev.scan(g, "rows")
        errors = sum(1 for rec in self._clients for r in rec["refreshes"]
                     for q in r["requests"] if q["status"] != 200)

        def ms(k):
            return _med(p[k] * 1000.0 for p in per)

        return {
            "serving.requests": len(per), "serving.queue_ms": ms("queue"),
            "serving.self_ms": ms("self"), "serving.errors": errors,
            "layout.open_ms": ms("open"), "api.build_ms": ms("build"),
            "spark.collect_ms": ms("collect"), "spark.plan_ms": ms("plan"),
            "spark.jobs": _mean(p["jobs"] for p in per), "spark.job_ms": ms("job"),
            "spark.gap_ms": ms("gap"), "spark.tasks": _mean(p["tasks"] for p in per),
            "spark.scan_files": _mean(p["files"] for p in per),
            "spark.scan_bytes": _mean(p["bytes"] for p in per),
            "spark.rows_scanned_per_row_returned": scanned / rows_out if rows_out else 0.0,
        }

    def _streaming(self) -> dict:
        out = {}
        for name in ("ingest", "bars"):
            prog = [p for p in self._progress.get(name, []) if p.get("numInputRows", 0) > 0]
            if not prog:
                continue

            def d(k):
                return [p["durationMs"].get(k, 0) for p in prog]

            out[f"{name}.batches"] = len(prog)
            out[f"{name}.batch_ms"] = _med(d("triggerExecution"))
            out[f"{name}.add_batch_ms"] = _med(d("addBatch"))
            if name != "ingest":
                continue
            state = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
            obs = [p.get("observedMetrics", {}) for p in prog]
            n_in = sum(o.get("ingest_in", {}).get("rows", 0) for o in obs)
            n_out = sum(o.get("ingest_out", {}).get("rows", 0) for o in obs)
            out.update({
                "ingest.rows_per_batch": _mean(p["numInputRows"] for p in prog),
                "ingest.plan_ms": _med(d("queryPlanning")),
                "ingest.commit_ms": _med(a + b for a, b in zip(d("walCommit"),
                                                               d("commitOffsets"))),
                "source.latest_offset_ms": _med(d("latestOffset")),
                "ingest.state_rows": state[-1]["numRowsTotal"] if state else 0,
                "ingest.state_commit_ms": _med(s["commitTimeMs"] for s in state),
                "ingest.state_memory_bytes": state[-1]["memoryUsedBytes"] if state else 0,
                "ingest.kept_per_input": n_out / n_in if n_in else 0.0,
            })
        return out

    def _operators(self, ev: "_EventLog") -> dict:
        entries = {s["entry"]: s for s in self._by_name("entry")}
        if not entries:
            return {}
        out = {}
        collects: dict[str, float] = {}
        for k in self._by_name("spark.collect"):
            if k["group"]:
                collects[k["group"]] = collects.get(k["group"], 0.0) + k["plan_ms"]
        for fam, names in library.FAMILIES.items():
            agg = dict.fromkeys(("wall", "jobs", "job", "gap", "plan", "shuffle", "spill"), 0.0)
            for n in names:
                s = entries.get(n)
                if s is None:
                    continue
                g = f"entry-{n}"
                jobs = ev.jobs_in(g)
                wall = s["t1"] - s["t0"]
                busy = _union([(j["t0"], j["t1"]) for j in jobs])
                out[f"entry.{n}_s"] = wall
                agg["wall"] += wall
                agg["jobs"] += len(jobs)
                agg["job"] += busy
                agg["gap"] += wall - busy
                agg["plan"] += collects.get(g, 0.0) / 1000.0
                agg["shuffle"] += sum(j["shuffle_bytes"] for j in jobs)
                agg["spill"] += sum(j["spill_bytes"] for j in jobs)
            out.update({
                f"{fam}.wall_s": agg["wall"], f"{fam}.jobs": agg["jobs"],
                f"{fam}.job_ms": agg["job"] * 1000.0, f"{fam}.gap_ms": agg["gap"] * 1000.0,
                f"{fam}.plan_ms": agg["plan"] * 1000.0,
                f"{fam}.shuffle_bytes": agg["shuffle"], f"{fam}.spill_bytes": agg["spill"],
            })
        commits = self._by_name("snapshots.commit")
        out["snapshots.commits"] = len(commits)
        out["snapshots.commit_ms"] = sum(s["t1"] - s["t0"] for s in commits) * 1000.0
        for layer in ("logmv", "joinmv"):
            out[f"{layer}.refresh_ms"] = 1000.0 * sum(
                s["t1"] - s["t0"] for s in self._by_name(f"{layer}.refresh"))
        return out

    def _coverage(self) -> float:
        """Smallest share of a measured unit's wall time that spans cover:
        per request, the client's wait (due to send) plus the server span,
        over due to response; per streaming batch, the progress report's
        timed sections over the trigger; per entry, the entry span over
        the entry's wall time (1 by construction)."""
        shares = []
        server = {s["rid"]: s["t1"] - s["t0"] for s in self._by_name("serving")}
        for rec in self._clients:
            for r in rec["refreshes"]:
                for q in r["requests"]:
                    wall = q["done"] - r["due"]
                    if str(q["rid"]) in server and wall > 0:
                        shares.append((q["sent"] - r["due"] + server[str(q["rid"])]) / wall)
        for prog in self._progress.values():
            for p in prog:
                d = p["durationMs"]
                total = d.get("triggerExecution", 0)
                if p.get("numInputRows", 0) > 0 and total > 0:
                    parts = sum(v for k, v in d.items() if k != "triggerExecution")
                    shares.append(min(1.0, parts / total))
        shares.extend(1.0 for _ in self._by_name("entry"))
        return min(shares) if shares else 0.0


class _EventLog:
    """Job, stage and SQL-scan records from a Spark event log."""

    def __init__(self) -> None:
        self.jobs: list[dict] = []
        self._scan: dict[str, dict[str, float]] = {}

    @classmethod
    def read(cls, root: Path) -> "_EventLog":
        log = cls()
        job_start, stage_job = {}, {}
        exec_group: dict[int, str] = {}
        scan_ids: dict[int, str] = {}
        accum_exec: dict[int, int] = {}
        stage_acc: dict[int, list] = {}
        driver_acc: list[tuple[int, int, float]] = []
        for path in sorted(root.glob("*")):
            if not path.is_file() or path.name.startswith("."):
                continue
            with open(path) as f:
                for line in f:
                    e = json.loads(line)
                    kind = e["Event"]
                    if kind == "SparkListenerJobStart":
                        props = e.get("Properties") or {}
                        group = props.get("spark.jobGroup.id")
                        tasks = sum(s["Number of Tasks"] for s in e["Stage Infos"])
                        job_start[e["Job ID"]] = (e["Submission Time"], tasks, group)
                        for sid in e["Stage IDs"]:
                            stage_job[sid] = e["Job ID"]
                        if group and props.get("spark.sql.execution.id"):
                            exec_group[int(props["spark.sql.execution.id"])] = group
                    elif kind == "SparkListenerJobEnd" and e["Job ID"] in job_start:
                        t0, tasks, group = job_start[e["Job ID"]]
                        log.jobs.append({"id": e["Job ID"], "group": group, "t0": t0 / 1000.0,
                                         "t1": e["Completion Time"] / 1000.0, "tasks": tasks,
                                         "shuffle_bytes": 0.0, "spill_bytes": 0.0})
                    elif kind == "SparkListenerStageCompleted":
                        info = e["Stage Info"]
                        stage_acc[info["Stage ID"]] = info.get("Accumulables", [])
                    elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                        _scan_metric_ids(e["sparkPlanInfo"], e["executionId"], scan_ids,
                                         accum_exec)
                    elif kind.endswith("DriverAccumUpdates"):
                        for aid, val in e["accumUpdates"]:
                            driver_acc.append((e["executionId"], aid, float(val)))
        by_id = {j["id"]: j for j in log.jobs}
        for sid, accs in stage_acc.items():
            job = by_id.get(stage_job.get(sid))
            for a in accs:
                name, v = a.get("Name"), _num(a.get("Value"))
                if job is not None and name == "internal.metrics.shuffle.write.bytesWritten":
                    job["shuffle_bytes"] += v
                elif job is not None and name in ("internal.metrics.memoryBytesSpilled",
                                                  "internal.metrics.diskBytesSpilled"):
                    job["spill_bytes"] += v
                elif scan_ids.get(a["ID"]) == "rows":
                    log._add_scan(exec_group.get(accum_exec[a["ID"]]), "rows", v)
        for exec_id, aid, v in driver_acc:
            if scan_ids.get(aid) in ("files", "bytes"):
                log._add_scan(exec_group.get(exec_id), scan_ids[aid], v)
        return log

    def _add_scan(self, group, kind: str, v: float) -> None:
        if group is not None:
            d = self._scan.setdefault(group, {})
            d[kind] = d.get(kind, 0.0) + v

    def jobs_in(self, group: str) -> list[dict]:
        return [j for j in self.jobs if j["group"] == group]

    def scan(self, group: str, kind: str) -> float:
        return self._scan.get(group, {}).get(kind, 0.0)

    @staticmethod
    def gap_s(jobs: list[dict]) -> float:
        """Driver time between a query's jobs: first job start to last job
        end, minus the time some job was running."""
        if not jobs:
            return 0.0
        span = max(j["t1"] for j in jobs) - min(j["t0"] for j in jobs)
        return span - _union([(j["t0"], j["t1"]) for j in jobs])


_SCAN_METRICS = {"number of files read": "files", "size of files read": "bytes",
                 "number of output rows": "rows"}


def _scan_metric_ids(node: dict, exec_id: int, out: dict, accum_exec: dict) -> None:
    if node["nodeName"].startswith(("Scan", "FileScan", "BatchScan")):
        for m in node.get("metrics", []):
            kind = _SCAN_METRICS.get(m["name"])
            if kind is not None:
                out[m["accumulatorId"]] = kind
                accum_exec[m["accumulatorId"]] = exec_id
    for child in node.get("children", []):
        _scan_metric_ids(child, exec_id, out, accum_exec)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _units() -> dict[str, str]:
    u = {
        "serving.requests": "count", "serving.queue_ms": "ms", "serving.self_ms": "ms",
        "serving.errors": "count", "layout.open_ms": "ms", "layout.files": "count",
        "api.build_ms": "ms", "spark.collect_ms": "ms", "spark.plan_ms": "ms",
        "spark.jobs": "count", "spark.job_ms": "ms", "spark.gap_ms": "ms",
        "spark.tasks": "count", "spark.scan_files": "count", "spark.scan_bytes": "bytes",
        "spark.rows_scanned_per_row_returned": "ratio",
        "source.latest_offset_ms": "ms",
        "ingest.batches": "count", "ingest.rows_per_batch": "count", "ingest.batch_ms": "ms",
        "ingest.add_batch_ms": "ms", "ingest.plan_ms": "ms", "ingest.commit_ms": "ms",
        "ingest.state_rows": "count", "ingest.state_commit_ms": "ms",
        "ingest.state_memory_bytes": "bytes", "ingest.kept_per_input": "ratio",
        "ingest.files_per_batch": "count", "ingest.bytes_per_row": "bytes",
        "ingest.rows_per_s": "1/s",
        "bars.batches": "count", "bars.batch_ms": "ms", "bars.add_batch_ms": "ms",
        "bars.partials_per_batch": "count",
        "collector.inserted_rows": "count", "collector.committed_rows": "count",
        "snapshots.commits": "count", "snapshots.commit_ms": "ms",
        "logmv.refresh_ms": "ms", "joinmv.refresh_ms": "ms",
        "traced.op_p50_ms": "ms", "traced.op_p90_ms": "ms", "traced.batch_s": "s",
        "trace.spans": "count", "trace.self_ms": "ms", "trace.coverage_min": "ratio",
    }
    for fam, names in library.FAMILIES.items():
        for n in names:
            u[f"entry.{n}_s"] = "s"
        u.update({f"{fam}.wall_s": "s", f"{fam}.jobs": "count", f"{fam}.job_ms": "ms",
                  f"{fam}.gap_ms": "ms", f"{fam}.plan_ms": "ms",
                  f"{fam}.shuffle_bytes": "bytes", f"{fam}.spill_bytes": "bytes"})
    return u


#: every per-layer metric and its unit (the ``per_layer`` list of BENCHMARK.json)
UNITS = _units()

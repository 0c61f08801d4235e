#!/usr/bin/env python3
"""End-to-end benchmark of the history-analytics engine.

Run from the repository root:

    python3 perfbench/run.py --workload event_history --seed 1 \
        --seconds 1 --trace 0

Each workload builds durable state from seeded inputs, starts ``serve()``
over it, answers a query round and runs one update; the order and the
checks differ. See perfbench/README.md for sizes and the metric map.

- ``event_history``: Spark event logs on disk -> ``incremental_ingest``
  -> date-partitioned sink -> ``write_metrics_rollup`` -> REST. The query
  round fetches nine dashboard routes at once; then the update, a
  refresh: running applications grow and a new one arrives, ingest picks
  the change up, the rollup is rebuilt, and a rollup-served route is
  polled until the new totals show.
- ``corpus_index``: seeded documents and embeddings -> the S13 dedup,
  S14 ANN, S16 kNN-graph and S15 training-shard indexes, built at once.
  The update comes first: ``run_retention_pass`` erases a seeded 1 % of
  the corpus. The query round then probes the dedup index with new
  documents and the ANN index with new vectors, and fetches the
  index-served dedup sweep and graph expansion over REST, all at once;
  no erased id may show in any answer.

The engine is driven only through its public functions and its HTTP
server; the program sees only the generated inputs. Every answer that
can be checked against the generators' truth is checked; a failed check
counts the operation as failed. A failure that is exactly what some of
the engine's known defects would produce is reported as those defects;
any other failure makes the run incorrect. Human-readable lines
go first; the last line of standard output is one JSON object.

With ``--trace 1`` Spark's event log is switched on through launch
configuration, spans are recorded around every call into the engine, and
the output carries the per-layer metrics instead of the end-to-end ones.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
import urllib.error
import urllib.request
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import corpus  # noqa: E402
import eventlogs  # noqa: E402
import proctree  # noqa: E402
import sparktrace  # noqa: E402

WORKLOADS = ("event_history", "corpus_index")

#: Applications in the seeded history, and the share still running.
N_APPS = 100
RUNNING_SHARE = 0.2
#: Documents in the seeded corpus (one embedding each), new documents in
#: the probe batch, query vectors, and the share the retention pass erases.
N_DOCS = 300
N_NEW_DOCS = 20
N_QUERY_VECS = 5
LOSER_SHARE = 0.01
ZIPF_S = 1.1
#: Server starts per run; the median CPU of a start is ``setup_s``.
SETUP_REPS = 2
#: A refresh whose served totals have not caught up with the sink after
#: this long counts as failed.
FRESH_TIMEOUT_S = 10.0

#: The contract's metrics. Every workload reports each one; what it
#: measures per workload is in perfbench/README.md. CPU figures sum the
#: Python process and its descendants, the JVM's JIT compiler threads
#: left out (see proctree.cpu_s). Wall times are printed but not bounded:
#: on the shared VM the benchmark was built on, the dashboard round's wall
#: time spread by a quarter over ten runs.
END_TO_END = {
    "setup_s": "s",
    "build_cpu_s": "s",
    "bytes_per_record": "B",
    "update_cpu_ms": "ms",
    "query_cpu_ms": "ms",
}

#: Spans around calls into the engine; each reports the counters of
#: ``sparktrace.SPAN_COUNTERS``. ``api.request`` sums the per-route spans.
#: All but the first and ``api.request`` wrap the function of that name
#: in ``spark_history_server_rs_spark.sources`` (or ``.api.server``).
SPANS = (
    "session.get_spark",
    "event_logs.plan_incremental",
    "event_logs.incremental_ingest",
    "event_logs.read_events_sink",
    "metrics_rollup.write_metrics_rollup",
    "api.serve",
    "api.request",
    "dedup_index.write_dedup_index",
    "ann_index.write_ann_index",
    "knn_graph.write_knn_graph",
    "training_shards.write_training_shards",
    "dedup_index.minhash_lsh_probe_index",
    "ann_index.ann_ivf_pq_from_index",
    "knn_graph.ann_graph_expand_from_index",
    "dedup_index.dedup_threshold_sweep_from_index",
    "maintenance.run_retention_pass",
)
#: event_history's dashboard: the reference's 7-query suite as REST routes
#: (executor utilization has no route; the per-app detail stands in),
#: plus capacity trends and cost optimization. ``{app}`` is drawn Zipf.
#: The second field says how the route takes a date window ("day" or
#: "ms" granularity); three routes always get a seeded window.
ROUTES = {
    "applications": ("/api/v1/applications", None),
    "app_detail": ("/api/v1/applications/{app}", None),
    "app_executors": ("/api/v1/applications/{app}/executors", None),
    "cross_app_summary": ("/api/v1/metrics/cross-app-summary", "day"),
    "performance_trends": ("/api/v1/metrics/performance-trends", None),
    "efficiency": ("/api/v1/optimization/efficiency-analysis", "ms"),
    "resource_hogs": ("/api/v1/optimization/resource-hogs", None),
    "usage_trends": ("/api/v1/capacity/usage-trends", "ms"),
    "cost_optimization": ("/api/v1/capacity/cost-optimization", None),
}
#: corpus_index's index-served routes.
INDEX_ROUTES = {
    "dedup_sweep": "/api/v1/corpus/dedup-sweep",
    "graph_expand": "/api/v1/ann/graph-expand",
}

#: Sets of known defects a failed check is tried against, smallest first.
DEFECT_SETS = [frozenset(c) for n in range(1, len(eventlogs.KNOWN_DEFECTS) + 1)
               for c in itertools.combinations(eventlogs.KNOWN_DEFECTS, n)]

CHECKS = ("http_status", "sink_rows", "app_ids", "app_events", "app_tasks",
          "app_executors", "route_totals", "trend_days", "rollup_fresh",
          "dedup_pairs", "ann_neighbors", "erased_ids")

COUNTS = {
    "event_logs.files_reingested": "count",
    "event_logs.reread_bytes_per_appended_byte": "ratio",
    "event_logs.sink_files": "count",
    "event_logs.sink_bytes": "B",
    "metrics_rollup.files": "count",
    "metrics_rollup.bytes": "B",
    "trace.update_cpu_ms": "ms",
}


def per_layer_units() -> dict[str, str]:
    out = {}
    for s in SPANS:
        for c, u in sparktrace.SPAN_COUNTERS.items():
            out[f"{s}.{c}"] = u
    for r in list(ROUTES) + list(INDEX_ROUTES):
        out[f"api.request.{r}.p50_ms"] = "ms"
    out.update(COUNTS)
    for c in CHECKS:
        out[f"check.{c}.failed"] = "count"
    return out


# --------------------------------------------------------------------------
# launch configuration
# --------------------------------------------------------------------------
def _launch_env(work: str, trace: bool) -> str:
    """Point every scratch location of Spark, the JVM and Python workers
    into ``work``; with tracing, switch Spark's event log on. Returns the
    event-log directory."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    log_dir = os.path.join(work, "sparklog")
    for d in (tmp, local, log_dir):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # compiler threads that live as long as the JVM keep JIT time out
        # of the CPU figures (see proctree.cpu_s); no hsperfdata file in
        # the system temp dir
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}"
                             " -XX:-UseDynamicNumberOfCompilerThreads"
                             " -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.rolling.enabled": "true",
            "spark.eventLog.compress": "true",
            "spark.eventLog.compression.codec": "zstd",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in conf.items()) + " pyspark-shell"
    return log_dir


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM the py4j gateway launched, and wait
    for it to exit (the JVM leaves when its stdin closes)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)


# --------------------------------------------------------------------------
# measurement helpers
# --------------------------------------------------------------------------
def _dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under a parquet dataset dir."""
    files = size = 0
    for dp, _, fns in os.walk(path):
        for fn in fns:
            if fn.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dp, fn))
    return files, size


def _local(uri: str) -> str:
    return uri[len("file:"):] if uri.startswith("file:") else uri


def http_get(port: int, path: str, timeout: float = 60.0):
    """(status, parsed JSON or None)."""
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}",
                                    timeout=timeout) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, None


class Ledger:
    """Operations attempted, and per check the evaluations that failed.
    An operation fails when it raises, answers non-200, or any check on
    its output fails; it is wrong when a failure is not accounted for by
    a known defect."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.wrong = 0
        self.check_failed = dict.fromkeys(CHECKS, 0)
        self.check_runs = dict.fromkeys(CHECKS, 0)
        self.check_known = dict.fromkeys(CHECKS, 0)
        self.defects: dict[str, set[str]] = {c: set() for c in CHECKS}
        self.notes: dict[str, str] = {}
        self._lock = threading.Lock()

    def op(self, results: list[tuple], known: dict | None = None) -> None:
        """Record one operation from its ``(check, ok[, note])`` results;
        ``known`` maps the index of a failed result to the set of known
        defects that accounts for it. The note of a check's first failure
        is kept for the report."""
        known = known or {}
        with self._lock:
            self.attempted += 1
            self.failed += 0 if all(r[1] for r in results) else 1
            self.wrong += any(not r[1] and i not in known
                              for i, r in enumerate(results))
            for i, (name, r, *note) in enumerate(results):
                self.check_runs[name] += 1
                self.check_failed[name] += 0 if r else 1
                if i in known:
                    self.check_known[name] += 1
                    self.defects[name] |= known[i]
                if not r and note:
                    self.notes.setdefault(name, note[0])


# --------------------------------------------------------------------------
# the benchmark
# --------------------------------------------------------------------------
class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.tracer = sparktrace.Tracer(self.trace)
        self.ledger = Ledger()
        self.logs = os.path.join(work, "logs")
        self.sink_dir = os.path.join(work, "sink")
        self.manifest = os.path.join(work, "manifest")
        self.rollup = os.path.join(work, "rollup")
        self.index = {k: os.path.join(work, k) for k in ("s13", "s14", "s16", "s15")}
        self.planned: list[list[str]] = []
        #: the event-log truth, as read right and with each set of known
        #: defects (keyed by the set; the empty set is the truth)
        self.truths: dict[frozenset, dict] = {}
        self.metrics: dict[str, float] = {}
        self.report: list[tuple[str, float, str]] = []
        self.counts: dict[str, float] = {}
        self.setup_cpu: list[float] = []
        self.round_cpu: list[float] = []
        self.round_ms: list[float] = []
        self.laps: list[tuple[str, float]] = [("start", time.perf_counter())]

    def lap(self, phase: str) -> None:
        """Close a phase: its wall time is printed as ``<phase>_wall_s``."""
        self.laps.append((phase, time.perf_counter()))
        self.report.append((f"{phase}_wall_s", self.laps[-1][1] - self.laps[-2][1], "s"))

    # -- engine entry points, spanned at the module attribute -------------
    def bind(self, spark) -> None:
        from spark_history_server_rs_spark.api import server as API
        from spark_history_server_rs_spark.sources import (
            ann_index, dedup_index, event_logs, knn_graph, maintenance,
            metrics_rollup, training_shards)

        mods = {"event_logs": event_logs, "metrics_rollup": metrics_rollup,
                "dedup_index": dedup_index, "ann_index": ann_index,
                "knn_graph": knn_graph, "training_shards": training_shards,
                "maintenance": maintenance}
        self.tracer.spark = spark
        self.spark, self.API = spark, API
        self.EL, self.MR = event_logs, metrics_rollup
        self.DI, self.AI, self.KG = dedup_index, ann_index, knn_graph
        self.TS, self.MT = training_shards, maintenance
        plan = event_logs.plan_incremental

        def counted_plan(*a, **kw):
            todo, manifest = plan(*a, **kw)
            self.planned.append(list(todo))
            return todo, manifest

        event_logs.plan_incremental = counted_plan
        # the HTTP handlers import the index functions when a request
        # arrives, so they call the wrappers too
        for name in SPANS:
            mod, _, attr = name.partition(".")
            if mod in mods:
                self.tracer.wrap(mods[mod], attr, name)
        self.tracer.wrap(API, "serve", "api.serve")

    # -- shared phases ---------------------------------------------------------
    def start_server(self, events, **attach):
        """``SETUP_REPS`` starts of ``serve()``; the median CPU of a start
        is ``setup_s``. The last server is kept, with a thread that answers
        requests."""
        srv = None
        for _ in range(SETUP_REPS):
            if srv is not None:
                self.close_server(srv)
            c = proctree.cpu_s()
            srv = self.API.serve(events, **attach)
            self.setup_cpu.append(proctree.cpu_s() - c)
        th = threading.Thread(target=srv.serve_forever, daemon=True)
        th.start()
        self.lap("setup")
        return srv, th, srv.server_address[1]

    def close_server(self, srv) -> None:
        srv.server_close()
        for frame in (srv.events, srv.documents, srv.embeddings):
            if frame is not None:
                frame.unpersist(blocking=True)

    def stop_server(self, srv, th) -> None:
        srv.shutdown()
        th.join(timeout=30)
        self.close_server(srv)

    def together(self, ops) -> None:
        """Run independent operations at once, on up to ``nproc``
        threads, as a dashboard loads its panels or a pipeline builds its
        indexes. A traced run runs them one at a time, so that jobs
        without a tag are charged to the right span by their time."""
        if self.trace:
            for op in ops:
                op()
            return
        with ThreadPoolExecutor(max_workers=len(os.sched_getaffinity(0))) as pool:
            for f in [pool.submit(op) for op in ops]:
                f.result()

    def rounds(self, make_ops) -> None:
        """Query rounds until ``--seconds`` have passed, at least one. Each
        round runs the operations ``make_ops()`` returns together; its CPU
        and its wall time are kept."""
        end = time.perf_counter() + self.args.seconds
        while not self.round_ms or time.perf_counter() < end:
            ops = make_ops()
            t, c = time.perf_counter(), proctree.cpu_s()
            self.together(ops)
            self.round_cpu.append((proctree.cpu_s() - c) * 1000.0)
            self.round_ms.append((time.perf_counter() - t) * 1000.0)
        self.lap("query")

    def get(self, port: int, key: str, path: str):
        """One request in an ``api.request.<key>`` span; a non-200 answer
        or a connection error is a failed operation."""
        try:
            with self.tracer.span(f"api.request.{key}"):
                status, body = http_get(port, path)
        except OSError:
            status, body = None, None
        return status, body

    def judge(self, evaluate) -> None:
        """Record one operation whose checks ``evaluate(truth)`` returns
        against an event-log truth. A failed check that passes against
        the truth as a reader with some set of known defects sees it is
        recorded as accounted for by that set."""
        results = evaluate(self.truths[frozenset()])
        known = {}
        for i, r in enumerate(results):
            if r[1]:
                continue
            for d in DEFECT_SETS:
                if evaluate(self.truths[d])[i][1]:
                    known[i] = d
                    break
        self.ledger.op(results, known)

    def set_truth(self, hist: eventlogs.History) -> dict:
        """Take the history's truth, and its truth under every set of
        known defects; returns the truth."""
        self.truths = {frozenset(): hist.truth()}
        self.truths.update({d: hist.truth(d) for d in DEFECT_SETS})
        return self.truths[frozenset()]

    def finish(self, update_cpu_ms: float) -> None:
        self.metrics["setup_s"] = statistics.median(self.setup_cpu)
        self.metrics["update_cpu_ms"] = update_cpu_ms
        self.metrics["query_cpu_ms"] = statistics.median(self.round_cpu)
        self.counts["trace.update_cpu_ms"] = update_cpu_ms
        self.report += [
            ("query_ms", statistics.median(self.round_ms), f"ms (rounds: {len(self.round_ms)})"),
        ]

    # -- event_history ---------------------------------------------------------
    def event_history(self) -> None:
        hist = eventlogs.History(self.logs, self.seed, N_APPS, RUNNING_SHARE)
        truth = self.set_truth(hist)
        t, c = time.perf_counter(), proctree.cpu_s()
        self.EL.incremental_ingest(self.spark, self.logs, self.sink_dir, self.manifest)
        ingest_wall = time.perf_counter() - t
        self.MR.write_metrics_rollup(
            self.EL.read_events_sink(self.spark, self.sink_dir), self.rollup)
        self.metrics["build_cpu_s"] = proctree.cpu_s() - c
        self.metrics["bytes_per_record"] = (
            _dir_stats(self.sink_dir)[1] + _dir_stats(self.rollup)[1]) / truth["events"]
        self.report += [("ingest_events_per_s", truth["events"] / ingest_wall, "1/s"),
                        ("events", truth["events"], "")]
        self.lap("build")
        rng = random.Random(self.seed * 1_000_003 + 17)

        srv, th, port = self.start_server(
            self.EL.read_events_sink(self.spark, self.sink_dir),
            metrics_rollup_path=self.rollup, warmup=False)
        try:
            self.rounds(lambda: self.dashboard_round(port, rng, truth))
            update_cpu = self.refresh(hist, port)
            self.lap("update")
            self.judge(self.history_final_checks(port))
        finally:
            self.stop_server(srv, th)
        self.judge(self.sink_checks())
        self.lap("check")
        self.finish(update_cpu)

    def refresh(self, hist: eventlogs.History, port: int) -> float:
        """The update: running applications run one more job and a new
        one arrives; ingest picks the change up, the rollup is rebuilt,
        and a rollup-served route is polled until it serves the new
        totals. Returns the round's CPU in ms; the truth is the new one."""
        known = {os.path.join(dp, f) for dp, _, fns in os.walk(self.logs) for f in fns}
        appended = hist.grow(1)
        self.set_truth(hist)
        t0, c0 = time.perf_counter(), proctree.cpu_s()
        self.EL.incremental_ingest(self.spark, self.logs, self.sink_dir, self.manifest)
        self.MR.write_metrics_rollup(
            self.EL.read_events_sink(self.spark, self.sink_dir), self.rollup)
        t1, c1 = time.perf_counter(), proctree.cpu_s()
        # the rewritten rollup must serve what the sink now holds (counting
        # the sink is not part of the round; the sink against the logs is
        # checked at the end)
        sunk = self.sink().count_rows()
        t2, c2 = time.perf_counter(), proctree.cpu_s()
        fresh = self._poll_fresh(port, sunk)
        cpu = (c1 - c0 + proctree.cpu_s() - c2) * 1000.0
        self.report.append(("refresh_ms", (t1 - t0 + time.perf_counter() - t2) * 1000.0, "ms"))
        self.ledger.op([("rollup_fresh", fresh)])
        reingested = [p for p in map(_local, self.planned[-1]) if p in known]
        self.counts["event_logs.files_reingested"] = len(reingested)
        self.counts["event_logs.reread_bytes_per_appended_byte"] = (
            sum(os.path.getsize(p) for p in reingested) / appended)
        return cpu

    def _poll_fresh(self, port: int, events: int) -> bool:
        end = time.perf_counter() + FRESH_TIMEOUT_S
        while time.perf_counter() < end:
            status, body = http_get(port, ROUTES["cross_app_summary"][0])
            if status == 200 and body and body[0]["total_events"] == events:
                return True
            time.sleep(0.05)
        return False

    def dashboard_round(self, port: int, rng: random.Random, truth: dict) -> list:
        """One refresh of the dashboard: all nine routes, in seeded order,
        each answer checked against the truth. Returns the requests as
        operations to run together."""
        apps = sorted(truth["apps"])
        weights = [1.0 / (r + 1) ** ZIPF_S for r in range(len(apps))]
        rng.shuffle(apps)
        keys = list(ROUTES)
        rng.shuffle(keys)
        ops = []
        for key in keys:
            path, window = ROUTES[key]
            if "{app}" in path:
                path = path.format(app=rng.choices(apps, weights)[0])
            span = None
            if window:
                days = truth["task_days"]
                a = rng.randrange(len(days))
                span = (days[a], days[rng.randrange(a, len(days))])
                if window == "day":
                    path += f"?startDate={span[0]}&endDate={span[1]}"
                else:
                    path += (f"?startDate={span[0]}T00:00:00Z"
                             f"&endDate={span[1]}T23:59:59Z")
            if key in ("applications", "performance_trends", "usage_trends"):
                path += ("&" if "?" in path else "?") + "limit=10000"
            ops.append(lambda k=key, p=path, w=span: self.route_op(port, k, p, w))
        return ops

    def route_op(self, port, key, path, span) -> None:
        status, body = self.get(port, key, path)
        self.judge(lambda truth: [("http_status", status == 200)] + (
            self.check_route(key, path, span, body, truth) if status == 200 else []))

    def check_route(self, key, path, span, body, truth) -> list[tuple]:
        want_days = [d for d in truth["task_days"]
                     if span is None or span[0] <= d <= span[1]]
        if key == "app_detail":
            t = truth["apps"].get(path.rsplit("/", 1)[1], {})
            return [("app_events", body["event_count"] == t.get("events"))]
        if key == "app_executors":
            t = truth["apps"].get(path.split("/")[4], {})
            return [("app_tasks", sum(e["totalTasks"] for e in body) == t.get("tasks")),
                    ("app_executors", sorted(e["id"] for e in body) == t.get("executors"))]
        if key == "applications":
            return [("app_ids", {r["id"] for r in body} == set(truth["apps"]),
                     f"ids not in the logs' truth, e.g. "
                     f"{sorted({r['id'] for r in body} - set(truth['apps']))[:2]}"),
                    ("route_totals", sum(r["event_count"] for r in body) == truth["events"])]
        if key == "cross_app_summary":
            return []  # windowed; its whole-history totals are checked after the refresh
        if key == "performance_trends":
            return [("trend_days", sorted({r["event_date"] for r in body}) == want_days),
                    ("route_totals", sum(r["task_count"] for r in body) == truth["tasks"])]
        if key == "usage_trends":
            days = sorted(r["date"] for r in body)
            return [("trend_days", days == want_days,
                     f"served days {days[:3]} vs task days {want_days[:3]}")]
        if key in ("efficiency", "resource_hogs", "cost_optimization"):
            return [("app_ids", {r["app_id"] for r in body} <= set(truth["apps"]))]
        return []

    def history_final_checks(self, port: int):
        """Rollup-served whole-history totals after the refresh, as
        checks against a truth."""
        s, cas = http_get(port, ROUTES["cross_app_summary"][0])

        def evaluate(truth):
            out = [("http_status", s == 200)]
            if cas:
                c = cas[0]
                out.append(("route_totals",
                            c["total_events"] == truth["events"]
                            and c["successful_tasks"] + c["failed_tasks"] == truth["tasks"],
                            f"served events {c['total_events']} vs {truth['events']}"))
            return out
        return evaluate

    def sink(self):
        """The sink read with pyarrow rather than through the engine."""
        import pyarrow.dataset as ds

        return ds.dataset(self.sink_dir, format="parquet", partitioning="hive")

    def sink_checks(self):
        """Row count, app ids, and per-app task and executor counts of the
        sink, as checks against a truth."""
        t = self.sink().to_table(
            columns=["app_id", "is_task", "is_exec_add", "executor_id"]).to_pydict()
        rows: dict[str, dict] = {}
        for app, task, add, ex in zip(t["app_id"], t["is_task"], t["is_exec_add"],
                                      t["executor_id"]):
            r = rows.setdefault(app, {"n": 0, "tasks": 0, "execs": set()})
            r["n"] += 1
            r["tasks"] += bool(task)
            if (task or add) and ex is not None:
                r["execs"].add(ex)
        n = len(t["app_id"])
        self.counts["event_logs.sink_files"], self.counts["event_logs.sink_bytes"] = (
            _dir_stats(self.sink_dir))
        self.counts["metrics_rollup.files"], self.counts["metrics_rollup.bytes"] = (
            _dir_stats(self.rollup))

        def evaluate(truth):
            extra = sorted(set(rows) - set(truth["apps"]))
            tasks_ok = execs_ok = True
            for app, want in truth["apps"].items():
                r = rows.get(app)
                tasks_ok &= r is not None and r["tasks"] == want["tasks"]
                execs_ok &= r is not None and sorted(r["execs"]) == want["executors"]
            return [("sink_rows", n == truth["events"],
                     f"sink rows {n} vs events in the logs {truth['events']}"),
                    ("app_ids", not extra and len(rows) == len(truth["apps"]),
                     f"ids not in the logs' truth, e.g. {extra[:2]}"),
                    ("app_tasks", tasks_ok), ("app_executors", execs_ok)]
        return evaluate

    # -- corpus_index ----------------------------------------------------------
    def corpus_index(self) -> None:
        spark = self.spark
        c = corpus.write(self.work, N_DOCS, N_NEW_DOCS, N_QUERY_VECS, self.seed)
        docs = spark.read.parquet(c["documents"])
        emb = spark.read.parquet(c["embeddings"])
        self.new_docs = spark.read.parquet(c["new_documents"])
        self.queries = spark.read.parquet(c["queries"])
        self.labels, self.query_labels = c["labels"], c["query_labels"]
        # planted near-duplicates between the probe batch and the corpus
        self.probe_pairs = {p for p in c["pairs"] if p[1] >= N_DOCS}
        rng = random.Random(self.seed * 1_000_003 + 29)
        # ids below 10 stay: the graph expansion queries the lowest ids
        self.losers = sorted(rng.sample(range(10, N_DOCS), max(1, round(LOSER_SHARE * N_DOCS))))

        c0 = proctree.cpu_s()
        self.together([
            lambda: self.DI.write_dedup_index(docs, self.index["s13"]),
            lambda: self.AI.write_ann_index(emb, self.index["s14"]),
            lambda: self.KG.write_knn_graph(emb, self.index["s16"]),
            lambda: self.TS.write_training_shards(docs, self.index["s15"]),
        ])
        self.metrics["build_cpu_s"] = proctree.cpu_s() - c0
        self.metrics["bytes_per_record"] = sum(
            _dir_stats(p)[1] for p in self.index.values()) / N_DOCS
        self.lap("build")

        losers = spark.createDataFrame([(i,) for i in self.losers], "doc_id bigint")
        c0 = proctree.cpu_s()
        self.MT.run_retention_pass(
            spark, losers, dedup_index_path=self.index["s13"],
            ann_index_path=self.index["s14"], knn_graph_path=self.index["s16"],
            training_shards_path=self.index["s15"])
        update_cpu = (proctree.cpu_s() - c0) * 1000.0
        self.lap("update")

        # the corpus after retention, as a pipeline would serve it next; the
        # server needs an events frame, and no event route is asked
        gone = f"NOT doc_id IN ({','.join(map(str, self.losers))})"
        srv, th, port = self.start_server(
            spark.createDataFrame([], "app_id string"),
            documents=docs.where(gone),
            embeddings=emb.where(gone.replace("doc_id", "vec_id")),
            dedup_index_path=self.index["s13"], ann_index_path=self.index["s14"],
            knn_graph_path=self.index["s16"], training_shards_path=self.index["s15"],
            warmup=False)
        try:
            self.rounds(lambda: self.index_round(port, set(self.losers)))
        finally:
            self.stop_server(srv, th)
        left = self.shard_ids()
        self.ledger.op([("erased_ids", len(left) == N_DOCS - len(self.losers)
                         and not set(left) & set(self.losers),
                         f"{len(left)} docs left in the shards, erased among them: "
                         f"{sorted(set(left) & set(self.losers))}")])
        self.lap("check")
        self.finish(update_cpu)

    def index_round(self, port: int, erased: set[int]) -> list:
        """One pass over the index query paths, as operations to run
        together, each answer checked: the probe batch against the dedup
        index, the query vectors against the ANN index, and the
        index-served sweep and graph expansion."""
        return [lambda: self.probe_op(erased), lambda: self.ann_op(erased),
                lambda: self.sweep_op(port, erased), lambda: self.graph_op(port)]

    def probe_op(self, erased: set[int]) -> None:
        pairs = self.DI.minhash_lsh_probe_index(
            self.spark, self.index["s13"], self.new_docs).collect()
        found = {(r["doc_a"], r["doc_b"]) for r in pairs}
        seen = {i for r in pairs for i in (r["doc_a"], r["doc_b"])}
        want = {p for p in self.probe_pairs if not set(p) & erased}
        self.ledger.op([("dedup_pairs", want <= found,
                         f"planted pairs missed: {sorted(want - found)[:3]}"),
                        ("erased_ids", not seen & erased,
                         f"erased ids in probe pairs: {sorted(seen & erased)}")])

    def ann_op(self, erased: set[int]) -> None:
        hits = self.AI.ann_ivf_pq_from_index(
            self.spark, self.index["s14"], self.queries).collect()
        first = {r["query_id"]: r["neighbor_id"] for r in hits if r["rank"] == 1}
        served = {r["neighbor_id"] for r in hits}
        self.ledger.op([
            ("ann_neighbors", len(first) == N_QUERY_VECS and all(
                self.labels[n] == self.query_labels[q] for q, n in first.items()),
             f"nearest neighbours by query: {first}"),
            ("erased_ids", not served & erased,
             f"erased ids among neighbours: {sorted(served & erased)}")])

    def sweep_op(self, port: int, erased: set[int]) -> None:
        status, sweep = self.get(port, "dedup_sweep", INDEX_ROUTES["dedup_sweep"])
        checks = [("http_status", status == 200)]
        if status == 200:
            n_docs = N_DOCS - len(erased)
            checks.append(("erased_ids", bool(sweep) and all(r["n_docs"] == n_docs for r in sweep),
                           f"swept n_docs {sweep and sweep[0]['n_docs']} vs live {n_docs}"))
        self.ledger.op(checks)

    def graph_op(self, port: int) -> None:
        status, graph = self.get(port, "graph_expand", INDEX_ROUTES["graph_expand"])
        checks = [("http_status", status == 200)]
        if status == 200:
            checks.append(("ann_neighbors", bool(graph) and all(
                r["recall_graph"] >= r["recall_seed"] for r in graph)))
        self.ledger.op(checks)

    def shard_ids(self) -> list[int]:
        """Document ids in the training shards, read back with pyarrow
        rather than through the engine."""
        import glob

        import pyarrow.parquet as pq

        files = glob.glob(os.path.join(self.index["s15"], "shards", "shard=*", "*.parquet"))
        return [i for f in files
                for i in pq.read_table(f, columns=["doc_id"]).column("doc_id").to_pylist()]

    # -- per-layer ------------------------------------------------------------
    def layers(self, log_dir: str) -> dict[str, float]:
        units = per_layer_units()
        out = dict.fromkeys(units, 0.0)
        spans = self.tracer.spans
        stats = sparktrace.attribute(spans, sparktrace.read_jobs(log_dir))
        req = dict.fromkeys(sparktrace.SPAN_COUNTERS, 0.0)
        for name, agg in stats.items():
            if name.startswith("api.request."):
                for c, v in agg.items():
                    req[c] += v
            elif name in SPANS:
                for c, v in agg.items():
                    out[f"{name}.{c}"] = v
        for c, v in req.items():
            out[f"api.request.{c}"] = v
        for key in list(ROUTES) + list(INDEX_ROUTES):
            ms = [(s["end_ms"] - s["start_ms"]) for s in spans
                  if s["name"] == f"api.request.{key}"]
            if ms:
                out[f"api.request.{key}.p50_ms"] = statistics.median(ms)
        out.update(self.counts)
        for c in CHECKS:
            out[f"check.{c}.failed"] = self.ledger.check_failed[c]
        return out


def run(args, work: str) -> tuple[Bench, dict | None]:
    """One run of a workload; the per-layer metrics when tracing."""
    log_dir = _launch_env(work, bool(args.trace))
    bench = Bench(args, work)
    # an engine that does not import fails the run before anything prints
    from spark_history_server_rs_spark import session

    spark = None
    try:
        with bench.tracer.span("session.get_spark"):
            spark = session.get_spark(app_name=f"perfbench-{args.workload}")
        bench.lap("session")
        bench.bind(spark)
        getattr(bench, args.workload)()
        bench.report.append(("peak_rss_mb", proctree.peak_rss_mb(), "MB"))
    finally:
        if spark is not None:
            _stop_spark(spark)
            bench.lap("stop")
    return bench, (bench.layers(log_dir) if args.trace else None)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    os.makedirs(work)
    try:
        b, layers = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run still uses it

    led = b.ledger
    print(f"workload = {args.workload}  seed = {args.seed}  "
          f"seconds = {args.seconds:g}  trace = {args.trace}")
    for name, unit in END_TO_END.items():
        print(f"{name} = {b.metrics[name]:.6g} {unit}")
    for name, value, unit in b.report:
        print(f"{name} = {value:.6g} {unit}")
    known = (f"; {led.failed - led.wrong} of them only through known defects"
             if led.failed else "")
    print(f"error_ratio = {led.failed / led.attempted:.6g} "
          f"({led.failed} of {led.attempted} operations{known})")
    for c in CHECKS:
        if led.check_runs[c]:
            verdict = "ok" if led.check_failed[c] == 0 else "FAILED"
            if led.check_known[c]:
                verdict += f", known defect {'+'.join(sorted(led.defects[c]))}"
                if led.check_known[c] < led.check_failed[c]:
                    verdict += (f", {led.check_failed[c] - led.check_known[c]}"
                                " not accounted for")
            note = f"; {led.notes[c]}" if c in led.notes else ""
            print(f"check.{c}: {verdict} ({led.check_failed[c]} of "
                  f"{led.check_runs[c]} failed{note})")
    for d in sorted(set().union(*led.defects.values())):
        print(f"known_defect.{d}: {eventlogs.KNOWN_DEFECTS[d]}")
    if layers is None:
        metrics = {k: {"value": b.metrics[k], "unit": u} for k, u in END_TO_END.items()}
    else:
        units = per_layer_units()
        metrics = {k: {"value": v, "unit": units[k]} for k, v in layers.items()}
    # a failure that a known defect accounts for is reported above and in
    # error_ratio and check.<name>.failed; only the others make a run wrong
    print(json.dumps({"correct": led.wrong == 0, "attempted": led.attempted,
                      "failed": led.wrong, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

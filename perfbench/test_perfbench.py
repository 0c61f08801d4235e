"""Tests of the benchmark's own parts: the event-log and corpus generators
against their truth, the tracer and its reader, and BENCHMARK.json against
run.py.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import glob
import json
import os
import sys
import threading
import time
from collections import defaultdict

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import eventlogs  # noqa: E402
import run  # noqa: E402
import sparktrace  # noqa: E402

_TIMESTAMPED = {"SparkListenerBlockManagerAdded", "SparkListenerApplicationStart",
                "SparkListenerExecutorAdded", "SparkListenerExecutorRemoved",
                "SparkListenerApplicationEnd"}


def _read_back(base: str, sizes: dict[str, int] | None = None,
               file_ids: bool = False) -> dict[str, list[dict]]:
    """Every event under a history dir, keyed by the app id its file or
    directory name carries, read with stdlib json and pyarrow zstd.

    The two options read the way the known defects do: ``sizes`` reads a
    rolling events file only up to the size it had then, and with
    ``file_ids`` an event without an ``App ID`` field of a flat file
    takes the whole file name as its app id."""
    out: dict[str, list[dict]] = defaultdict(list)
    for path in sorted(glob.glob(os.path.join(base, "*"))):
        name = os.path.basename(path)
        if os.path.isdir(path):
            app = file_app = name[len("eventlog_v2_"):]
            files = sorted(glob.glob(os.path.join(path, "events_*")),
                           key=lambda p: int(os.path.basename(p).split("_")[1]))
        else:
            app = name[: -len(".inprogress")] if name.endswith(".inprogress") else name
            file_app = name if file_ids else app
            files = [path]
        for f in files:
            data = open(f, "rb").read()
            if f.endswith(".zstd"):
                if sizes is not None and f in sizes:
                    data = data[:sizes[f]]
                with pa.input_stream(pa.BufferReader(data), compression="zstd") as s:
                    data = s.read()
            for x in data.decode().splitlines():
                if x:
                    e = json.loads(x)
                    out[app if "App ID" in e else file_app].append(e)
    return out


def _truth_from_events(events: list[dict]) -> dict:
    t = {"events": len(events), "tasks": 0, "run_time_ms": 0,
         "executors": set(), "task_days": set()}
    for e in events:
        if e["Event"] == "SparkListenerExecutorAdded":
            t["executors"].add(e["Executor ID"])
        if e["Event"] == "SparkListenerTaskEnd":
            t["tasks"] += 1
            t["run_time_ms"] += e["Task Metrics"]["Executor Run Time"]
            t["executors"].add(e["Task Info"]["Executor ID"])
            t["task_days"].add(eventlogs.day_of(e["Task Info"]["Finish Time"]))
    return t


def test_truth_table_matches_files(tmp_path):
    hist = eventlogs.History(str(tmp_path / "logs"), seed=3, n_apps=25)
    for _ in range(2):
        hist.grow(2)
    truth = hist.truth()
    read = _read_back(str(tmp_path / "logs"))
    assert set(read) == set(truth["apps"])
    for app, evs in read.items():
        got, want = _truth_from_events(evs), truth["apps"][app]
        assert got["events"] == want["events"]
        assert got["tasks"] == want["tasks"]
        assert got["run_time_ms"] == want["run_time_ms"]
        assert sorted(got["executors"]) == want["executors"]
        assert sorted(got["task_days"]) == want["task_days"]
    assert truth["events"] == sum(len(v) for v in read.values())
    assert truth["task_days"] == sorted({d for a in truth["apps"].values()
                                        for d in a["task_days"]})


def test_layouts_and_event_shapes_are_spark_41(tmp_path):
    base = str(tmp_path / "logs")
    hist = eventlogs.History(base, seed=5, n_apps=30)
    hist.grow(1)
    names = os.listdir(base)
    assert any(n.startswith("eventlog_v2_") for n in names)
    assert any(n.endswith(".inprogress") for n in names)
    assert any(not n.startswith("eventlog_v2_") and "." not in n for n in names)
    rolled = glob.glob(os.path.join(base, "eventlog_v2_*", "events_*_*.zstd"))
    assert rolled
    assert glob.glob(os.path.join(base, "eventlog_v2_*", "appstatus_*"))
    kinds = set()
    for evs in _read_back(base).values():
        assert evs[0]["Event"] == "SparkListenerLogStart"
        for e in evs:
            kinds.add(e["Event"])
            assert ("Timestamp" in e) == (e["Event"] in _TIMESTAMPED), e["Event"]
            if "SQLExecution" in e["Event"] or "SQLAdaptive" in e["Event"]:
                assert e["Event"].startswith("org.apache.spark.sql.execution.ui.")
    assert len(kinds) == 17
    # the task days span more than one day, so day placement is tested
    assert len(hist.truth()["task_days"]) > 1


def test_generator_is_deterministic(tmp_path):
    def digest(d):
        eventlogs.History(d, seed=9, n_apps=8).grow(1)
        return {os.path.relpath(p, d): open(p, "rb").read()
                for p in glob.glob(os.path.join(d, "**"), recursive=True)
                if os.path.isfile(p)}

    assert digest(str(tmp_path / "a")) == digest(str(tmp_path / "b"))


def test_growth_appends_in_place_to_running_logs(tmp_path):
    base = str(tmp_path / "logs")
    hist = eventlogs.History(base, seed=11, n_apps=20, running_share=0.2)
    before = {p: os.path.getsize(p)
              for p in glob.glob(os.path.join(base, "**"), recursive=True)
              if os.path.isfile(p)}
    appended = hist.grow(1)
    grown = [p for p, n in before.items() if os.path.getsize(p) != n]
    running = [a for a, t in hist.truth()["apps"].items() if t["running"]]
    assert len(grown) == len(running)
    assert {p.endswith(".inprogress") for p in grown} == {True, False}
    assert all(p.endswith(".inprogress") or p.endswith(".zstd") for p in grown)
    assert appended == sum(os.path.getsize(p) - before[p] for p in grown)


def test_truth_as_the_known_defects_read_the_files(tmp_path):
    base = str(tmp_path / "logs")
    hist = eventlogs.History(base, seed=13, n_apps=20, running_share=0.2)
    sizes = {p: os.path.getsize(p)
             for p in glob.glob(os.path.join(base, "eventlog_v2_*", "events_*"))}
    hist.grow(1)

    def same(read, truth):
        assert set(read) == set(truth["apps"])
        for app, evs in read.items():
            got, want = _truth_from_events(evs), truth["apps"][app]
            assert (got["events"], got["tasks"], sorted(got["executors"])) == (
                want["events"], want["tasks"], want["executors"])
        assert truth["events"] == sum(len(v) for v in read.values())

    right = hist.truth()
    # a rolling file read before it grew
    late = hist.truth({"rolling_growth"})
    same(_read_back(base, sizes=sizes), late)
    assert late["events"] < right["events"]
    # ids from the flat file name: a running single-file app splits in two
    split = hist.truth({"inprogress_app_id"})
    same(_read_back(base, file_ids=True), split)
    plain = [a for a in hist.apps if a.running and not a.rolling]
    assert plain
    for a in plain:
        assert split["apps"][a.app_id]["events"] == 1
        assert split["apps"][a.app_id + ".inprogress"]["tasks"] == right["apps"][a.app_id]["tasks"]
    # every task on the fallback day
    assert hist.truth({"event_ts"})["task_days"] == ["2025-01-01"]
    assert eventlogs.day_of(eventlogs.FALLBACK_MS) == "2025-01-01"
    both = hist.truth({"rolling_growth", "inprogress_app_id"})
    same(_read_back(base, sizes=sizes, file_ids=True), both)


def test_judge_tells_known_defects_from_wrong_answers(tmp_path):
    bench = run.Bench(type("A", (), {"seed": 1, "trace": 0})(), str(tmp_path))
    hist = eventlogs.History(str(tmp_path / "logs"), seed=17, n_apps=10)
    hist.grow(1)
    right = bench.set_truth(hist)
    late = bench.truths[frozenset({"rolling_growth"})]

    def served(n):
        return lambda truth: [("http_status", True),
                              ("sink_rows", n == truth["events"])]

    bench.judge(served(right["events"]))
    bench.judge(served(late["events"]))
    bench.judge(served(late["events"] - 1))
    led = bench.ledger
    assert (led.attempted, led.failed, led.wrong) == (3, 2, 1)
    assert led.check_failed["sink_rows"] == 2 and led.check_known["sink_rows"] == 1
    assert led.defects["sink_rows"] == {"rolling_growth"}


def _shingles(text: str, k: int = 3) -> set[str]:
    w = text.split()
    return {" ".join(w[i:i + k]) for i in range(len(w) - k + 1)}


def test_corpus_plants_near_duplicates_and_clusters(tmp_path):
    c = corpus.write(str(tmp_path), n_docs=120, n_new=20, n_queries=5, seed=4)
    docs = pq.read_table(c["documents"]).to_pylist()
    new = pq.read_table(c["new_documents"]).to_pylist()
    assert [d["doc_id"] for d in docs + new] == list(range(140))
    text = {d["doc_id"]: d["text"] for d in docs + new}
    assert c["pairs"] and any(b >= 120 for _, b in c["pairs"])
    for a, b in c["pairs"]:
        sa, sb = _shingles(text[a]), _shingles(text[b])
        # one word changed: well above the engine's 0.5 Jaccard threshold
        assert len(sa & sb) / len(sa | sb) > 0.7
    planted = {frozenset(p) for p in c["pairs"]}
    for a in range(0, 140, 7):
        for b in range(a + 1, 140, 5):
            if frozenset((a, b)) not in planted and text[a] != text[b]:
                sa, sb = _shingles(text[a]), _shingles(text[b])
                assert len(sa & sb) / len(sa | sb) < 0.5
    emb = pq.read_table(c["embeddings"]).to_pylist()
    q = pq.read_table(c["queries"]).to_pylist()
    assert [e["vec_id"] for e in emb] == list(range(120))
    assert [e["vec_id"] for e in q] == list(range(5))
    assert [e["label"] for e in emb] == c["labels"]
    assert [e["label"] for e in q] == c["query_labels"]
    assert all(len(e["embedding"]) == corpus.DIM for e in emb + q)

    def d2(u, v):
        return sum((x - y) ** 2 for x, y in zip(u, v))

    # the nearest corpus vector of every query lies in its cluster
    for e in q:
        near = min(emb, key=lambda f: d2(f["embedding"], e["embedding"]))
        assert near["label"] == e["label"]
    assert corpus.write(str(tmp_path / "again"), 120, 20, 5, 4)["pairs"] == c["pairs"]


def test_tracer_nests_spans_across_threads():
    tr = sparktrace.Tracer(True)
    done = []
    with tr.span("request"):

        def handler():
            with tr.span("handler"):
                with tr.span("handler.inner"):
                    done.append(1)

        th = threading.Thread(target=handler)
        th.start()
        th.join()
    with tr.span("later"):
        pass
    names = [s["name"] for s in tr.spans]
    parent = {s["name"]: (names[s["parent"]] if s["parent"] is not None else None)
              for s in tr.spans}
    assert done and parent == {"request": None, "handler": "request",
                               "handler.inner": "handler", "later": None}
    assert all(s["end_ms"] >= s["start_ms"] for s in tr.spans)


def test_attribute_nesting_tags_and_windows():
    spans = [
        {"name": "outer", "start_ms": 0.0, "end_ms": 100.0, "parent": None},
        {"name": "inner", "start_ms": 10.0, "end_ms": 50.0, "parent": 0},
        {"name": "other", "start_ms": 200.0, "end_ms": 300.0, "parent": None},
    ]

    def job(i, s, e, ops=(), tasks=2):
        return {"id": i, "submit_ms": s, "end_ms": e, "ops": list(ops),
                "tasks": tasks, "cpu_ns": 5e8, "shuffle_write_b": 1048576}

    jobs = [
        job(0, 12, 20, ["outer", "inner"]),  # tagged: innermost tag wins
        job(1, 60, 90, ["outer"]),
        job(2, 30, 40),                       # untagged: window -> inner
        job(3, 210, 230),
        job(4, 215, 260),                     # overlaps job 3
        job(5, 500, 510),                     # outside every span
    ]
    got = sparktrace.attribute(spans, jobs)
    assert got["inner"]["jobs"] == 2 and got["inner"]["tasks"] == 4
    assert got["outer"]["jobs"] == 3  # inclusive of inner's jobs
    assert got["other"]["jobs"] == 2
    assert got["other"]["executor_cpu_s"] == pytest.approx(1.0)
    assert got["other"]["shuffle_write_mb"] == pytest.approx(2.0)
    # driver time = wall minus the union of job intervals
    assert got["inner"]["driver_s"] == pytest.approx((40 - 8 - 10) / 1000)
    assert got["outer"]["driver_s"] == pytest.approx((100 - 8 - 10 - 30) / 1000)
    assert got["other"]["driver_s"] == pytest.approx((100 - 50) / 1000)
    assert got["outer"]["busy_s"] == pytest.approx(0.1)


def test_trace_reader_on_a_tiny_traced_run(tmp_path):
    """A real Spark session with the event log on: tagged jobs land on
    their span, jobs from another thread land on the span by window, and
    the per-span task counts equal what Spark ran."""
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    log_dir = tmp_path / "sparklog"
    log_dir.mkdir()
    spark = (SparkSession.builder.master("local[2]").appName("trace-test")
             .config("spark.ui.enabled", "false")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + str(log_dir))
             .config("spark.eventLog.rolling.enabled", "true")
             .config("spark.eventLog.compress", "true")
             .config("spark.eventLog.compression.codec", "zstd")
             .config("spark.sql.shuffle.partitions", "3")
             .getOrCreate())
    try:
        tr = sparktrace.Tracer(True)
        tr.spark = spark
        with tr.span("a"):
            spark.range(0, 100, numPartitions=4).count()
            with tr.span("a.child"):
                spark.range(0, 100, numPartitions=5).selectExpr(
                    "id % 7 AS k").groupBy("k").count().collect()
        with tr.span("b"):
            th = threading.Thread(
                target=lambda: spark.range(0, 10, numPartitions=2).collect())
            th.start()
            th.join(timeout=120)
        time.sleep(0.05)
    finally:
        spark.stop()
    jobs = sparktrace.read_jobs(str(log_dir))
    assert jobs and all(j["end_ms"] >= j["submit_ms"] for j in jobs)
    got = sparktrace.attribute(tr.spans, jobs)
    assert got["a.child"]["jobs"] >= 1
    assert got["a"]["jobs"] > got["a.child"]["jobs"]
    assert got["a"]["tasks"] == sum(j["tasks"] for j in jobs
                                    if "a" in j["ops"])
    assert got["a.child"]["shuffle_write_mb"] > 0
    assert got["b"]["jobs"] == 1 and got["b"]["tasks"] == 2
    for agg in got.values():
        assert 0 <= agg["driver_s"] <= agg["busy_s"]


def test_benchmark_json_matches_run():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        doc = json.load(f)
    assert {w["name"] for w in doc["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in doc["per_layer"]} == run.per_layer_units()
    assert doc["command"] == ["python3", "perfbench/run.py"]

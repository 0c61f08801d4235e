"""Seeded Spark event-log generator with a truth table.

Writes a history directory the way Spark 4.1.2 writes one:

- rolling logs: ``eventlog_v2_<appId>/events_<n>_<appId>.zstd`` (zstd
  frames) next to an ``appstatus_<appId>[.inprogress]`` marker;
- single-file logs: a flat ``<appId>`` file, or ``<appId>.inprogress``
  while the application runs.

Event shapes follow what a 4.1.2 driver emits: only BlockManagerAdded,
ApplicationStart, ExecutorAdded, ExecutorRemoved and ApplicationEnd carry
a top-level ``Timestamp``; task, stage and job events carry their times
in ``Task Info``/``Stage Info``/``Submission Time``/``Completion Time``,
SQL events in ``time``, and SQL events use fully-qualified class names.

The truth table is computed from the events as they are generated, so a
reader that mis-places or mis-attributes events disagrees with it.
``History.truth(defects)`` gives the same table as a reader with some of the
``KNOWN_DEFECTS`` would see the files, so that a check can tell a known
defect from any other wrong answer.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import random

import pyarrow as pa

SPARK_VERSION = "4.1.2"
_SQL = "org.apache.spark.sql.execution.ui."
_DAY_MS = 86_400_000
#: First day a generated history may start on (2026-03-02, UTC).
_EPOCH_MS = 1772409600000
#: The time a reader pins for an event without a top-level ``Timestamp``
#: (the engine's ``DEFAULT_NOW_MS``).
FALLBACK_MS = 1735689600000

#: Known defects of the engine's event-log reader (ROADMAP direction 2),
#: as ``truth(defects)`` models them.
KNOWN_DEFECTS = {
    "event_ts": "events without a top-level Timestamp take the fallback "
                "time, so every task lands on 2025-01-01",
    "inprogress_app_id": "events of a flat <appId>.inprogress log that carry "
                         "no App ID field take the file name, suffix "
                         "included, as their app id",
    "rolling_growth": "a rolling log's events file is read once, so events "
                      "appended to it later never arrive",
}


def _dumps(ev: dict) -> str:
    # Jackson writes compact JSON, one event per line
    return json.dumps(ev, separators=(",", ":"))


def day_of(ms: int) -> str:
    return _dt.datetime.fromtimestamp(ms / 1000, tz=_dt.timezone.utc).strftime(
        "%Y-%m-%d"
    )


class _App:
    """One application's event stream and its running truth."""

    def __init__(self, rng: random.Random, app_id: str, start_ms: int,
                 rolling: bool, running: bool):
        self.rng = rng
        self.app_id = app_id
        self.rolling = rolling
        self.running = running
        self.clock = start_ms
        self.next_job = 0
        self.next_stage = 0
        self.next_task = 0
        self.next_sql = 0
        self.n_rolls = 0
        self.executors = [str(i) for i in range(1, rng.randint(3, 4) + 1)]
        self.cores = rng.choice([2, 4, 8])
        #: set while events are appended to an existing rolling file
        self.late = False
        #: running truth, split by (event carries an App ID, appended late)
        self.parts: dict[tuple[bool, bool], dict] = {}

    def _emit(self, out: list[str], ev: dict) -> dict:
        """Write one event; returns the truth part it counts in."""
        out.append(_dumps(ev))
        t = self.parts.setdefault(("App ID" in ev, self.late), {
            "events": 0, "tasks": 0, "run_time_ms": 0,
            "executors": set(), "task_days": set(),
        })
        t["events"] += 1
        return t

    def header(self) -> list[str]:
        out: list[str] = []
        t = self.clock
        self._emit(out, {"Event": "SparkListenerLogStart",
                         "Spark Version": SPARK_VERSION})
        self._emit(out, {
            "Event": "SparkListenerResourceProfileAdded",
            "Resource Profile Id": 0,
            "Executor Resource Requests": {
                "cores": {"Resource Name": "cores", "Amount": self.cores,
                          "Discovery Script": "", "Vendor": ""},
                "memory": {"Resource Name": "memory", "Amount": 4096,
                           "Discovery Script": "", "Vendor": ""},
            },
            "Task Resource Requests": {"cpus": {"Resource Name": "cpus",
                                                "Amount": 1.0}},
        })
        self._emit(out, {
            "Event": "SparkListenerBlockManagerAdded",
            "Block Manager ID": {"Executor ID": "driver", "Host": "driver-0",
                                 "Port": 40000 + self.rng.randint(0, 999)},
            "Maximum Memory": 2_147_483_648, "Timestamp": t - 900,
            "Maximum Onheap Memory": 2_147_483_648,
            "Maximum Offheap Memory": 0,
        })
        self._emit(out, {
            "Event": "SparkListenerEnvironmentUpdate",
            "JVM Information": {"Java Version": "17.0.20 (Eclipse Adoptium)"},
            "Spark Properties": {"spark.app.id": self.app_id,
                                 "spark.executor.cores": str(self.cores),
                                 "spark.eventLog.enabled": "true"},
            "Hadoop Properties": {}, "System Properties": {},
            "Metrics Properties": {}, "Classpath Entries": {},
        })
        self._emit(out, {
            "Event": "SparkListenerApplicationStart",
            "App Name": f"etl-{self.rng.randint(1, 40)}",
            "App ID": self.app_id, "Timestamp": t,
            "User": self.rng.choice(["alice", "bob", "etl", "ml"]),
        })
        for e in self.executors:
            t += self.rng.randint(200, 2000)
            self._emit(out, {
                "Event": "SparkListenerExecutorAdded", "Timestamp": t,
                "Executor ID": e,
                "Executor Info": {"Host": f"worker-{e}", "Total Cores": self.cores,
                                  "Log Urls": {}, "Attributes": {},
                                  "Resources": {}, "Resource Profile Id": 0},
            })["executors"].add(e)
        self.clock = t + 1000
        return out

    def job(self) -> list[str]:
        """One SQL execution running one job of two stages."""
        rng, out = self.rng, []
        sql_id, job_id = self.next_sql, self.next_job
        self.next_sql += 1
        self.next_job += 1
        n_stages = 2
        stage_ids = list(range(self.next_stage, self.next_stage + n_stages))
        self.next_stage += n_stages
        n_tasks = {s: rng.randint(12, 16) for s in stage_ids}
        t = self.clock
        self._emit(out, {
            "Event": _SQL + "SparkListenerSQLExecutionStart",
            "executionId": sql_id, "rootExecutionId": sql_id,
            "description": f"save at job_{job_id}.py:{rng.randint(10, 99)}",
            "details": "org.apache.spark.sql.classic.Dataset.collectToPython",
            "physicalPlanDescription": "== Physical Plan ==\nAdaptiveSparkPlan"
            " (4)\n+- HashAggregate (3)\n   +- Exchange (2)\n      +- Scan (1)",
            "sparkPlanInfo": {"nodeName": "AdaptiveSparkPlan",
                              "simpleString": "AdaptiveSparkPlan isFinalPlan=false",
                              "children": [], "metadata": {}, "metrics": []},
            "time": t, "modifiedConfigs": {}, "jobTags": [],
            "jobGroupId": None,
        })
        stage_infos = [
            {"Stage ID": s, "Stage Attempt ID": 0, "Stage Name": f"stage {s}",
             "Number of Tasks": n_tasks[s], "RDD Info": [], "Parent IDs":
             [s - 1] if s > stage_ids[0] else [], "Details": "",
             "Accumulables": [], "Resource Profile Id": 0}
            for s in stage_ids
        ]
        t += rng.randint(20, 200)
        self._emit(out, {
            "Event": "SparkListenerJobStart", "Job ID": job_id,
            "Submission Time": t, "Stage Infos": stage_infos,
            "Stage IDs": stage_ids,
            "Properties": {"spark.app.id": self.app_id,
                           "spark.sql.execution.id": str(sql_id),
                           "spark.job.tags": f"etl-job-{job_id}",
                           "callSite.short": f"save at job_{job_id}.py"},
        })
        self._emit(out, {
            "Event": _SQL + "SparkListenerSQLAdaptiveExecutionUpdate",
            "executionId": sql_id,
            "physicalPlanDescription": "== Physical Plan ==\nAdaptiveSparkPlan"
            " isFinalPlan=true",
            "sparkPlanInfo": {"nodeName": "AdaptiveSparkPlan",
                              "simpleString": "AdaptiveSparkPlan isFinalPlan=true",
                              "children": [], "metadata": {}, "metrics": []},
        })
        for s in stage_ids:
            info = dict(stage_infos[s - stage_ids[0]])
            stage_start = t
            self._emit(out, {"Event": "SparkListenerStageSubmitted",
                             "Stage Info": info, "Properties": {}})
            ends = []
            for i in range(n_tasks[s]):
                tid = self.next_task
                self.next_task += 1
                ex = self.executors[i % len(self.executors)]
                launch = t + rng.randint(1, 400)
                run = rng.randint(150, 25_000)
                finish = launch + run + rng.randint(5, 300)
                ends.append(finish)
                base_info = {
                    "Task ID": tid, "Index": i, "Attempt": 0,
                    "Partition ID": i, "Launch Time": launch,
                    "Executor ID": ex, "Host": f"worker-{ex}",
                    "Locality": rng.choice(["PROCESS_LOCAL", "NODE_LOCAL",
                                            "RACK_LOCAL", "ANY"]),
                    "Speculative": False, "Getting Result Time": 0,
                }
                self._emit(out, {
                    "Event": "SparkListenerTaskStart", "Stage ID": s,
                    "Stage Attempt ID": 0,
                    "Task Info": {**base_info, "Finish Time": 0,
                                  "Failed": False, "Killed": False,
                                  "Accumulables": []},
                })
                ok = rng.random() > 0.03
                peak = rng.randint(1, 3000) * 1_048_576
                spill = rng.choice([0, 0, 0, rng.randint(1, 900) * 1_048_576])
                tr = self._emit(out, {
                    "Event": "SparkListenerTaskEnd", "Stage ID": s,
                    "Stage Attempt ID": 0,
                    "Task Type": "ResultTask" if s == stage_ids[-1]
                    else "ShuffleMapTask",
                    "Task End Reason": {"Reason": "Success"} if ok else
                    {"Reason": "ExceptionFailure",
                     "Class Name": "java.lang.RuntimeException",
                     "Description": "task failed", "Stack Trace": [],
                     "Accumulator Updates": []},
                    "Task Info": {
                        **base_info, "Finish Time": finish,
                        "Failed": not ok, "Killed": False,
                        "Accumulables": [
                            {"ID": 60 + k, "Name": n, "Update": str(v),
                             "Value": str(v), "Internal": True,
                             "Count Failed Values": True, "Metadata": "sql"}
                            for k, (n, v) in enumerate((
                                ("number of output rows", rng.randint(1, 10**6)),
                                ("peak memory", peak),
                                ("duration", run),
                                ("shuffle bytes written", rng.randint(0, 10**8)),
                            ))
                        ],
                    },
                    "Task Executor Metrics": {
                        "JVMHeapMemory": rng.randint(200, 3800) * 1_048_576,
                        "JVMOffHeapMemory": rng.randint(10, 90) * 1_048_576,
                        "TotalGCTime": rng.randint(0, 2000),
                    },
                    "Task Metrics": {
                        "Executor Deserialize Time": rng.randint(1, 80),
                        "Executor Deserialize CPU Time": rng.randint(10**6, 10**8),
                        "Executor Run Time": run,
                        "Executor CPU Time": int(run * rng.uniform(0.2, 0.98) * 1e6),
                        "Peak Execution Memory": peak,
                        "Result Size": rng.randint(1000, 9000),
                        "JVM GC Time": rng.randint(0, run // 8 + 1),
                        "Result Serialization Time": rng.randint(0, 5),
                        "Memory Bytes Spilled": spill * 2,
                        "Disk Bytes Spilled": spill,
                        "Shuffle Read Metrics": {
                            "Remote Blocks Fetched": rng.randint(0, 40),
                            "Local Blocks Fetched": rng.randint(0, 40),
                            "Fetch Wait Time": rng.randint(0, 50),
                            "Remote Bytes Read": rng.randint(0, 2 * 10**8),
                            "Remote Bytes Read To Disk": 0,
                            "Local Bytes Read": rng.randint(0, 10**8),
                            "Total Records Read": rng.randint(0, 10**6),
                        },
                        "Shuffle Write Metrics": {
                            "Shuffle Bytes Written": rng.randint(0, 10**8),
                            "Shuffle Write Time": rng.randint(0, 10**9),
                            "Shuffle Records Written": rng.randint(0, 10**6),
                        },
                        "Input Metrics": {"Bytes Read": rng.randint(0, 5 * 10**8),
                                          "Records Read": rng.randint(0, 10**6)},
                        "Output Metrics": {"Bytes Written": rng.randint(0, 10**8),
                                           "Records Written": rng.randint(0, 10**6)},
                        "Updated Blocks": [],
                    },
                })
                tr["tasks"] += 1
                tr["run_time_ms"] += run
                tr["executors"].add(ex)
                tr["task_days"].add(day_of(finish))
            t = max(ends) + rng.randint(5, 100)
            self._emit(out, {
                "Event": "SparkListenerStageCompleted",
                "Stage Info": {**info, "Submission Time": stage_start,
                               "Completion Time": t},
            })
        t += rng.randint(5, 50)
        self._emit(out, {"Event": "SparkListenerJobEnd", "Job ID": job_id,
                         "Completion Time": t,
                         "Job Result": {"Result": "JobSucceeded"}})
        t += rng.randint(5, 50)
        self._emit(out, {"Event": _SQL + "SparkListenerSQLExecutionEnd",
                         "executionId": sql_id, "time": t, "errorMessage": ""})
        # idle gap between jobs: minutes to hours, so long apps cross days
        self.clock = t + rng.randint(60_000, 4 * 3_600_000)
        return out

    def footer(self) -> list[str]:
        out: list[str] = []
        t = self.clock
        for e in self.executors:
            t += self.rng.randint(10, 500)
            self._emit(out, {"Event": "SparkListenerExecutorRemoved",
                             "Timestamp": t, "Executor ID": e,
                             "Removed Reason": "Executor killed by driver."})
        self._emit(out, {"Event": "SparkListenerApplicationEnd",
                         "Timestamp": t + 100, "ExitCode": 0})
        self.clock = t + 100
        return out


def _zstd(lines: list[str]) -> bytes:
    return pa.compress(("\n".join(lines) + "\n").encode(), codec="zstd",
                       asbytes=True)


class History:
    """A history directory that can grow: running apps get more jobs and
    new applications arrive. ``truth()`` always describes the files.

    The shape is the same for every seed: every app runs two jobs of two
    stages before it is written, apps alternate between rolling and
    single-file logs, and every ``1/running_share``-th app is still
    running. The seed moves ids, times, task counts and metric values."""

    def __init__(self, base: str, seed: int, n_apps: int,
                 running_share: float = 0.2):
        self.base = base
        self.rng = random.Random(seed)
        os.makedirs(base, exist_ok=True)
        # one cluster id per history, as YARN / standalone masters do
        self.cluster = 1_770_000_000_000 + self.rng.randint(0, 10**9)
        self.first_ms = _EPOCH_MS + self.rng.randint(0, 200) * _DAY_MS
        self.apps: list[_App] = []
        every = max(1, round(1 / running_share)) if running_share else 0
        for i in range(n_apps):
            self.add_app(running=bool(every) and i % every == 0)

    def _new_app_id(self, n: int) -> str:
        if self.rng.random() < 0.5:
            return f"application_{self.cluster}_{n:04d}"
        stamp = _dt.datetime.fromtimestamp(
            self.first_ms / 1000, tz=_dt.timezone.utc).strftime("%Y%m%d%H%M%S")
        return f"app-{stamp}-{n:04d}"

    def add_app(self, running: bool = False) -> _App:
        n = len(self.apps) + 1
        start = self.first_ms + self.rng.randint(0, 5 * _DAY_MS)
        app = _App(self.rng, self._new_app_id(n), start,
                   rolling=n % 2 == 0, running=running)
        self.apps.append(app)
        lines = app.header()
        for _ in range(2):
            lines += app.job()
        if not running:
            lines += app.footer()
        self._write_initial(app, lines)
        return app

    def _write_initial(self, app: _App, lines: list[str]) -> None:
        aid = app.app_id
        if app.rolling:
            d = os.path.join(self.base, f"eventlog_v2_{aid}")
            os.makedirs(d, exist_ok=True)
            # 1-2 rolled files; the status marker says whether it runs
            cut = self.rng.randint(len(lines) // 2, len(lines))
            for part in (lines[:cut], lines[cut:]):
                if part:
                    self._roll(app, part)
            status = f"appstatus_{aid}" + (".inprogress" if app.running else "")
            open(os.path.join(d, status), "wb").close()
        else:
            name = aid + (".inprogress" if app.running else "")
            with open(os.path.join(self.base, name), "w") as f:
                f.write("\n".join(lines) + "\n")

    def _rolled(self, app: _App) -> str:
        return os.path.join(self.base, f"eventlog_v2_{app.app_id}",
                            f"events_{app.n_rolls}_{app.app_id}.zstd")

    def _roll(self, app: _App, lines: list[str]) -> None:
        app.n_rolls += 1
        with open(self._rolled(app), "wb") as f:
            f.write(_zstd(lines))

    def grow(self, n_new_apps: int = 1) -> int:
        """One refresh round of new data: every running app runs one more
        job, and ``n_new_apps`` completed apps arrive. A running app's
        log grows in place, as Spark's writers do below the roll size: a
        single-file ``.inprogress`` log, or a rolling log's current
        events file (as one more zstd frame). Returns the bytes appended
        to files that already existed."""
        appended = 0
        for app in self.apps:
            if not app.running:
                continue
            app.late = app.rolling
            lines = app.job()
            if app.rolling:
                path, data = self._rolled(app), _zstd(lines)
            else:
                path = os.path.join(self.base, app.app_id + ".inprogress")
                data = ("\n".join(lines) + "\n").encode()
            with open(path, "ab") as f:
                f.write(data)
            appended += len(data)
        for _ in range(n_new_apps):
            self.add_app(running=False)
        return appended

    def truth(self, defects=frozenset()) -> dict:
        """Per app and in total: events, tasks, run-time sum, executor ids
        and the UTC days tasks finished on. With ``defects``, a subset of
        ``KNOWN_DEFECTS``, the table a reader with those defects would build
        from the files as they stand after the growth so far (a rolling
        file counts as read before it grew)."""
        merged: dict[str, dict] = {}
        for a in self.apps:
            for (has_id, late), t in a.parts.items():
                if late and "rolling_growth" in defects:
                    continue
                aid = a.app_id
                if ("inprogress_app_id" in defects and a.running and not a.rolling
                        and not has_id):
                    aid += ".inprogress"
                m = merged.setdefault(aid, {
                    "events": 0, "tasks": 0, "run_time_ms": 0,
                    "executors": set(), "task_days": set(), "running": a.running})
                for k in ("events", "tasks", "run_time_ms"):
                    m[k] += t[k]
                m["executors"] |= t["executors"]
                m["task_days"] |= ({day_of(FALLBACK_MS)} if "event_ts" in defects
                                   and t["task_days"] else t["task_days"])
        apps = {aid: {**m, "executors": sorted(m["executors"]),
                      "task_days": sorted(m["task_days"])}
                for aid, m in merged.items()}
        days = sorted({d for a in apps.values() for d in a["task_days"]})
        return {
            "apps": apps,
            "events": sum(a["events"] for a in apps.values()),
            "tasks": sum(a["tasks"] for a in apps.values()),
            "task_days": days,
        }

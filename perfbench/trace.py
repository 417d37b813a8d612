"""Tracing for the per-layer run: spans kept in memory, Spark's own event
log parsed after the session stops, and a StreamingQueryListener.

Everything here is public Spark API: ``spark.eventLog.*`` configs,
``setJobGroup``/``addTag`` and ``StreamingQueryListener``.
"""

from __future__ import annotations

import json
import threading
import time

#: job-group and tag prefixes the benchmark sets around each unit of work
GROUP_PREFIX = "pb:"
TAG_PREFIX = "pb-"


def eventlog_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{log_dir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Spans:
    """In-memory span store: (id, parent, name, start, end, attrs), times
    in epoch seconds. Written out once, at the end of the run."""

    def __init__(self):
        self.items: list[dict] = []
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            **attrs) -> int:
        with self._lock:
            sid = len(self.items)
            self.items.append({"id": sid, "parent": parent, "name": name,
                               "start": start, "end": end, **attrs})
            return sid

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.items, fh)


class Tagger:
    """Sets the job group and a session tag for one named unit of work, so
    every job it submits (and every job a child thread inherits the group
    for) can be charged to it in the event log."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled

    def begin(self, name: str) -> None:
        if self.enabled:
            self.spark.sparkContext.setJobGroup(GROUP_PREFIX + name, name)
            self.spark.addTag(TAG_PREFIX + name)

    def end(self, name: str) -> None:
        if self.enabled:
            self.spark.removeTag(TAG_PREFIX + name)
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            self.spark.sparkContext.setLocalProperty("spark.job.description", None)


_PY_METRICS = {
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_received",
    "time to start Python workers": "py_boot_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
}

_STAGE_FIELDS = ("run_ms", "cpu_ns", "gc_ms", "tasks", "shuffle_read_bytes",
                 "shuffle_write_bytes", "fetch_wait_ms", "spill_bytes",
                 "scan_bytes", *_PY_METRICS.values())


def _owner(group: str | None, tags) -> tuple[str | None, bool]:
    """(unit name from the job group, whether a benchmark tag is present)."""
    name = group[len(GROUP_PREFIX):] if group and group.startswith(GROUP_PREFIX) else None
    tagged = any(TAG_PREFIX in t for t in tags)
    return name, tagged


def parse_eventlog(path: str) -> dict:
    """One pass over a Spark JSON event log.

    Returns ``jobs`` (id -> group owner, tagged flag, submit/end ms, stage
    ids), ``stages`` (id -> summed task metrics plus the Python-worker SQL
    metrics) and ``sql`` (root execution id -> owner, start/end ms)."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    sql: dict[int, dict] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                tags = [t for t in (props.get("spark.job.tags") or "").split(",") if t]
                owner, tagged = _owner(props.get("spark.jobGroup.id"), tags)
                jobs[ev["Job ID"]] = {
                    "owner": owner, "tagged": tagged,
                    "submit": ev["Submission Time"], "end": None,
                    "stages": list(ev.get("Stage IDs") or []),
                }
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                tm = ev.get("Task Metrics")
                if not tm:
                    continue
                st = stages.setdefault(ev["Stage ID"], dict.fromkeys(_STAGE_FIELDS, 0))
                rd = tm.get("Shuffle Read Metrics") or {}
                wr = tm.get("Shuffle Write Metrics") or {}
                st["run_ms"] += tm.get("Executor Run Time", 0)
                st["cpu_ns"] += tm.get("Executor CPU Time", 0)
                st["gc_ms"] += tm.get("JVM GC Time", 0)
                st["tasks"] += 1
                st["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                st["fetch_wait_ms"] += rd.get("Fetch Wait Time", 0)
                st["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                st["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                st["scan_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"], dict.fromkeys(_STAGE_FIELDS, 0))
                for acc in info.get("Accumulables") or []:
                    key = _PY_METRICS.get(acc.get("Name"))
                    if key:
                        st[key] += int(acc.get("Value") or 0)
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                if ev.get("rootExecutionId", ev["executionId"]) != ev["executionId"]:
                    continue
                owner, tagged = _owner(ev.get("jobGroupId"), ev.get("jobTags") or [])
                sql[ev["executionId"]] = {"owner": owner, "tagged": tagged,
                                          "start": ev["time"], "end": None}
            elif kind.endswith("SparkListenerSQLExecutionEnd"):
                if ev["executionId"] in sql:
                    sql[ev["executionId"]]["end"] = ev["time"]
    return {"jobs": jobs, "stages": stages, "sql": sql}


def stage_owner(jobs: dict) -> dict[int, int]:
    """Stage id -> the first job that lists it (the job that ran it; later
    jobs list a reused shuffle stage as skipped)."""
    out: dict[int, int] = {}
    for jid in sorted(jobs):
        for sid in jobs[jid]["stages"]:
            out.setdefault(sid, jid)
    return out


def job_totals(log: dict, job_ids) -> dict:
    """Summed stage metrics over the stages that these jobs ran."""
    owner = stage_owner(log["jobs"])
    wanted = set(job_ids)
    tot = dict.fromkeys(_STAGE_FIELDS, 0)
    tot["stages"] = 0
    for sid, st in log["stages"].items():
        if owner.get(sid) in wanted:
            tot["stages"] += 1
            for k in _STAGE_FIELDS:
                tot[k] += st[k]
    return tot


def jobs_between(log: dict, t0_ms: float, t1_ms: float) -> list[int]:
    return [j for j, v in log["jobs"].items() if t0_ms <= v["submit"] <= t1_ms]


class ProgressListener:
    """Collects StreamingQueryProgress JSON for every micro-batch."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        store = self.progress = []

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                store.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _L()

    def attach(self, spark) -> "ProgressListener":
        spark.streams.addListener(self.listener)
        return self

    def detach(self, spark) -> None:
        # a progress event can still be in flight when the query stops
        time.sleep(0.2)
        spark.streams.removeListener(self.listener)

"""The stream workload: two lanes over file sources inside the run's work
directory, each run as a drain phase (closed loop: availableNow over a
fixed backlog) and a paced phase (open loop: one generator thread appends
files at a fixed row rate while a processingTime trigger consumes them).

Lanes:
  m1  the log-split fan-out, operators.log_split.log_split_sinks (five
      parquet sinks, one source scan per micro-batch)
  d4  keyed-state first-per-day UV, streaming.stateful.first_per_day_stream
      (applyInPandasWithState + the state store)

The seed picks which rows go into which backlog file and the order the
files arrive in. Every row carries its creation stamp (``gen_ts``, the time
the open-loop generator was due to create it); a row's latency is the time
its micro-batch's sink returned minus that stamp.
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from perfbench import stats

TRIGGER = "0.5 seconds"
#: the generator writes one file per tick
TICK_S = 0.1
DRAIN_FILES = 12
DRAIN_FILES_PER_TRIGGER = 3
#: rows in each lane's drain backlog
DRAIN_ROWS = {"m1": 10_000, "d4": 10_000}
#: paced-phase row rates (rows/s), below each lane's drain rate after its
#: first batch (about 1900 rows/s for both lanes on the 4-core reference
#: host)
RATE = {"m1": 1_000, "d4": 500}
#: rows in the file that starts each paced query before the clock runs
WARM_ROWS = 200
#: share of --seconds the paced phase generates rows for
PACED_SHARE = 0.1

SPLITS = ("err", "start", "page", "action", "display")


# -- expected outputs, computed independently of the engine ----------------

def expected_m1(values) -> dict[str, int]:
    """Row counts of the five split outputs for raw page-log JSON strings:
    malformed rows and rows without ``common.mid`` are dropped; an err log
    goes to err AND continues; start logs produce no page/action/display."""
    out = dict.fromkeys(SPLITS, 0)
    for v in values:
        try:
            j = json.loads(v)
        except ValueError:
            continue
        if not isinstance(j, dict) or (j.get("common") or {}).get("mid") is None:
            continue
        if j.get("err") is not None:
            out["err"] += 1
        if j.get("start") is not None:
            out["start"] += 1
        elif j.get("page") is not None:
            out["page"] += 1
            out["action"] += len(j.get("actions") or [])
            out["display"] += len(j.get("displays") or [])
    return out


def expected_d4(table: pa.Table) -> dict[str, int]:
    """First-per-day output rows = distinct (user, UTC day) pairs."""
    users = table.column("user_id").to_numpy()
    days = table.column("ts").cast(pa.int64()).to_numpy() // 86_400_000_000
    return {"first_per_day": int(len(np.unique(np.stack([users, days], 1), axis=0)))}


def count_rows(path: str) -> int:
    if not os.path.isdir(path):
        return 0
    return ds.dataset(path, format="parquet").count_rows()


def dir_files_bytes(path: str) -> tuple[int, int]:
    files = nbytes = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(root, n))
    return files, nbytes


# -- lanes -----------------------------------------------------------------

@dataclass
class Lane:
    name: str
    rows: pa.Table            # the lane's input columns, without gen_ts
    schema: str               # DDL of a file: input columns + gen_ts

    def transform(self, sdf):
        if self.name == "m1":
            return sdf
        from gmall_flink_spark.streaming.stateful import first_per_day_stream

        return first_per_day_stream(sdf, "user_id")

    def sink(self, out_dir: str):
        if self.name == "m1":
            from gmall_flink_spark.operators.log_split import log_split_sinks

            return log_split_sinks(out_dir)

        def write(df, batch_id):
            df.write.mode("append").parquet(os.path.join(out_dir, "first_per_day"))

        return write

    def expected(self, table: pa.Table) -> dict[str, int]:
        if self.name == "m1":
            return expected_m1(table.column("value").to_pylist())
        return expected_d4(table)

    def observed(self, out_dir: str) -> dict[str, int]:
        names = SPLITS if self.name == "m1" else ("first_per_day",)
        return {n: count_rows(os.path.join(out_dir, n)) for n in names}


class Recorder:
    """The benchmark-side foreachBatch wrapper: calls the lane's sink, then
    records the commit time of the batch and the process-tree CPU seconds
    used so far."""

    def __init__(self, sink):
        self.sink = sink
        self.commit: dict[int, float] = {}
        self.cpu: dict[int, float] = {}
        self.attempted = 0
        self.failed = 0

    def __call__(self, df, batch_id):
        self.attempted += 1
        try:
            self.sink(df, batch_id)
        except Exception:
            self.failed += 1
            raise
        self.commit[batch_id] = time.time()
        self.cpu[batch_id] = stats.tree_cpu_s(os.getpid())


def _write_file(path: str, table: pa.Table, stamps, mtime: float | None = None) -> None:
    """Atomic publish: write under a hidden name the file source skips,
    then rename into place."""
    full = table.append_column("gen_ts", pa.array(stamps, pa.float64()))
    d, base = os.path.split(path)
    tmp = os.path.join(d, f".{base}.tmp")
    pq.write_table(full, tmp)
    if mtime is not None:
        os.utime(tmp, (mtime, mtime))
    os.rename(tmp, path)


def drain(spark, lanes: list[Lane], work: str, seed: int, tagger) -> list[dict]:
    """Closed loop: each lane gets a fixed backlog of DRAIN_FILES files,
    rows assigned to files and files ordered by the seed, drained with
    availableNow, one lane after the other."""
    from gmall_flink_spark.streaming.core import run_available_now

    rng = np.random.default_rng(seed)
    jobs = []
    for lane in lanes:
        n = min(DRAIN_ROWS[lane.name], lane.rows.num_rows)
        backlog = lane.rows.take(pa.array(rng.permutation(lane.rows.num_rows)[:n]))
        in_dir = os.path.join(work, f"{lane.name}_drain_in")
        out_dir = os.path.join(work, f"{lane.name}_drain_out")
        os.makedirs(in_dir)
        file_of = rng.integers(0, DRAIN_FILES, n)
        base, now = time.time() - 3600, time.time()
        for pos, f in enumerate(rng.permutation(DRAIN_FILES)):
            part = backlog.filter(pa.array(file_of == f))
            _write_file(os.path.join(in_dir, f"part-{pos:04d}.parquet"), part,
                        np.full(part.num_rows, now), mtime=base + pos)
        sdf = (spark.readStream.schema(lane.schema)
               .option("maxFilesPerTrigger", str(DRAIN_FILES_PER_TRIGGER))
               .parquet(in_dir))
        rec = Recorder(lane.sink(out_dir))
        jobs.append({"lane": lane.name, "phase": "drain", "rows": n,
                     "sdf": lane.transform(sdf), "rec": rec, "out_dir": out_dir,
                     "expected": lane.expected(backlog), "lane_obj": lane})

    for job in jobs:
        rec = job["rec"]
        tagger.begin(f"{job['lane']}-drain")
        t0 = time.time()
        try:
            run_available_now(job["sdf"], foreach_batch=rec, timeout_s=120)
        except Exception as exc:  # noqa: BLE001 - reported as a failed batch
            job["error"] = f"{type(exc).__name__}: {exc}"[:300]
        tagger.end(f"{job['lane']}-drain")
        job["wall_s"] = time.time() - t0
        # the first batch also pays the query start; the figures cover the
        # batches after it
        first, last = min(rec.commit, default=0), max(rec.commit, default=0)
        job["first_wall_s"] = rec.commit.get(first, t0) - t0
        job["cpu_s"] = rec.cpu.get(last, 0.0) - rec.cpu.get(first, 0.0)
        cpus = [rec.cpu[k] for k in sorted(rec.cpu)]
        job["batch_cpu_s"] = [b - a for a, b in zip(cpus, cpus[1:])]
    return [_phase_result(j) for j in jobs]


def _phase_result(job: dict) -> dict:
    rec, lane = job.pop("rec"), job.pop("lane_obj")
    job.pop("sdf", None)
    job.update(attempted=rec.attempted, failed=rec.failed + ("error" in job),
               observed=lane.observed(job["out_dir"]), commit=rec.commit)
    return job


@dataclass
class Feed:
    """One lane's share of the open-loop generator: row i is due at
    start + i / rate; the file holding rows [a, b) is published when row
    b-1 is due. ``late`` records, per file, how long after that due time
    the file actually landed."""

    in_dir: str
    rows: pa.Table
    rate: float
    files: list = field(default_factory=list)   # (row count, due time of each row)
    late: list = field(default_factory=list)

    def schedule(self, start: float) -> list[tuple[float, "Feed", int, int, np.ndarray]]:
        per_file = max(1, int(round(self.rate * TICK_S)))
        out = []
        for a in range(0, self.rows.num_rows, per_file):
            b = min(self.rows.num_rows, a + per_file)
            due = start + np.arange(a, b) / self.rate
            out.append((float(due[-1]), self, a, b, due))
        return out


def generate(feeds: list[Feed], start: float) -> None:
    """The single generator thread: publishes every feed's files in due
    order, sleeping until each is due (never early)."""
    plan = sorted((item for f in feeds for item in f.schedule(start)),
                  key=lambda item: item[0])
    for k, (t_pub, feed, a, b, due) in enumerate(plan):
        wait = t_pub - time.time()
        if wait > 0:
            time.sleep(wait)
        _write_file(os.path.join(feed.in_dir, f"gen-{k:05d}.parquet"),
                    feed.rows.slice(a, b - a), due)
        feed.late.append(time.time() - t_pub)
        feed.files.append((b - a, due))


def _batch_rows(progress: list[dict]) -> list[tuple[int, int]]:
    """(batchId, input rows) per micro-batch, from the query's progress."""
    seen = {}
    for p in progress:
        seen[p["batchId"]] = sum(s.get("numInputRows", 0) for s in p.get("sources", []))
    return sorted(seen.items())


def row_latencies(batches: list[tuple[int, int]], files: list, commit: dict) -> list[float]:
    """Map whole files onto micro-batches in arrival order (a file source
    batch always takes whole files, oldest first) and give every row its
    batch's commit time minus its due time."""
    out: list[float] = []
    fi = 0
    for batch_id, n in batches:
        left = n
        while left > 0:
            if fi >= len(files):
                raise ValueError("batches report more rows than were generated")
            cnt, due = files[fi]
            if cnt > left:
                raise ValueError(f"batch {batch_id} splits a file ({left} of {cnt} rows)")
            out.extend((commit[batch_id] - due).tolist())
            left -= cnt
            fi += 1
    if fi != len(files):
        raise ValueError(f"{len(files) - fi} generated files never reached a batch")
    return out


def paced(spark, lanes: list[Lane], work: str, seed: int, seconds: float,
          tagger) -> list[dict]:
    """Open loop: both lanes' queries run on a processingTime trigger while
    one generator thread feeds each at RATE rows/s for PACED_SHARE x
    seconds. The clock starts once every query has committed the batch of
    its warm-up file."""
    rng = np.random.default_rng(seed + 1)
    jobs, feeds = [], []
    try:
        for lane in lanes:
            n = int(RATE[lane.name] * seconds * PACED_SHARE)
            rows = lane.rows.take(pa.array(rng.integers(0, lane.rows.num_rows, n + WARM_ROWS)))
            in_dir = os.path.join(work, f"{lane.name}_paced_in")
            out_dir = os.path.join(work, f"{lane.name}_paced_out")
            os.makedirs(in_dir)
            _write_file(os.path.join(in_dir, "gen-warm.parquet"), rows.slice(0, WARM_ROWS),
                        np.full(WARM_ROWS, time.time()))
            sdf = spark.readStream.schema(lane.schema).parquet(in_dir)
            rec = Recorder(lane.sink(out_dir))
            tagger.begin(f"{lane.name}-paced")
            q = (lane.transform(sdf).writeStream
                 .option("checkpointLocation", os.path.join(work, f"{lane.name}_paced_ckpt"))
                 .trigger(processingTime=TRIGGER).foreachBatch(rec).start())
            tagger.end(f"{lane.name}-paced")
            feed = Feed(in_dir, rows.slice(WARM_ROWS), RATE[lane.name])
            feeds.append(feed)
            jobs.append({"lane": lane.name, "phase": "paced", "rows": n, "q": q,
                         "rec": rec, "feed": feed, "out_dir": out_dir,
                         "expected": lane.expected(rows), "lane_obj": lane})
        deadline = time.time() + 60
        while not all(j["rec"].commit for j in jobs):
            for j in jobs:
                if j["q"].exception() is not None:
                    raise RuntimeError(str(j["q"].exception()))
            if time.time() > deadline:
                raise TimeoutError("paced queries never committed their warm-up batch")
            time.sleep(0.02)
        thread = threading.Thread(target=generate, args=(feeds, time.time()))
        thread.start()
        thread.join()
        for j in jobs:
            j["q"].processAllAvailable()
            j["progress"] = [json.loads(p.json) if hasattr(p, "json") else p
                             for p in j["q"].recentProgress]
    finally:
        for j in jobs:
            j["q"].stop()
    out = []
    for j in jobs:
        q, feed = j.pop("q"), j.pop("feed")
        commit = j["rec"].commit
        warm_id = min(commit)
        batches = [b for b in _batch_rows(j.pop("progress")) if b[0] > warm_id]
        j["lat"] = row_latencies(batches, feed.files, commit)
        j["gen_late_s"] = max(feed.late) if feed.late else 0.0
        out.append(_phase_result(j))
    return out


def lanes(spark, sf_dir: str, work: str) -> list[Lane]:
    """Build both lanes' input rows. The m1 rows are the raw page-log topic
    the engine synthesizes from the events table; the d4 rows are
    (user_id, ts) straight from the table."""
    from gmall_flink_spark.sources.log_synth import page_log_json

    topic = os.path.join(work, "topic_log")
    page_log_json(spark, sf_dir).coalesce(4).write.parquet(topic)
    values = ds.dataset(topic, format="parquet").to_table(columns=["value"])
    events = pq.read_table(os.path.join(sf_dir, "events.parquet"),
                           columns=["user_id", "ts"])
    events = events.set_column(1, "ts", events.column("ts").cast(pa.timestamp("us", tz="UTC")))
    return [
        Lane("m1", values, "value string, gen_ts double"),
        Lane("d4", events, "user_id long, ts timestamp, gen_ts double"),
    ]

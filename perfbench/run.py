#!/usr/bin/env python3
"""Benchmark of the gmall_flink_spark engine.

    python3 perfbench/run.py --workload batch|stream \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Each invocation is one fresh process on
local[nproc]: it generates its input tables (cached per checkout under
perfbench/.cache), wipes every artifact an earlier run left
(perfbench/.work), lets the seed order the work, measures set-up and the
workload, checks the outputs and prints, as the last stdout line, one JSON
object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` turns on Spark's event log,
job groups/tags and a streaming listener and reports the per-layer metrics.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import gen, stats  # noqa: E402

WORKLOADS = ("batch", "stream")
#: a run still going after this many seconds is ended (runs take about a
#: minute)
WATCHDOG_S = 170
DATA_SEED = 7
BATCH_SF = 0.01

#: end-to-end metrics (name -> unit), reported by untraced runs. Both are
#: CPU seconds of the whole process tree (this process, the driver JVM and
#: its Python workers): on a virtual machine whose host steals a varying
#: share of the CPUs, CPU time repeats run to run where wall time does not
E2E = {
    "setup_s": "s",
    "cpu_s": "s",
}

#: wall-clock and memory figures of the same run: context, not gated
HOST = {
    "host.setup_wall_s": "s",
    "host.first_wall_s": "s",
    "host.wall_s": "s",
    "host.lat_p50_s": "s",
    "host.lat_tail_s": "s",
    "host.peak_rss_mb": "MB",
}

#: per-layer metrics (name -> unit), reported by traced runs; a layer a
#: workload does not exercise reports 0
PER_LAYER = {
    **HOST,
    "host.calib_jvm_s": "s",
    "host.calib_py_s": "s",
    "host.calib_jvm_end_s": "s",
    "host.calib_py_end_s": "s",
    "session.start_s": "s",
    "sources.topic_build_s": "s",
    "sources.scan_bytes": "B",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.plan_s": "s",
    "queries.exec_s": "s",
    "queries.jobs": "count",
    "queries.unattributed_jobs": "count",
    "queries.span_gap_frac": "frac",
    "queries.warehouse_s": "s",
    "queries.corpus_s": "s",
    "queries.cpu_p50_s": "s",
    "queries.cpu_p75_s": "s",
    "operators.task_s": "s",
    "operators.cpu_s": "s",
    "operators.gc_s": "s",
    "operators.tasks": "count",
    "operators.stages": "count",
    "operators.shuffle_read_bytes": "B",
    "operators.shuffle_write_bytes": "B",
    "operators.fetch_wait_s": "s",
    "operators.spill_bytes": "B",
    "operators.busy_frac": "frac",
    "llm.py_run_s": "s",
    "llm.py_boot_s": "s",
    "llm.py_bytes_sent": "B",
    "llm.py_bytes_received": "B",
    "streaming.batches": "count",
    "streaming.trigger_s_p50": "s",
    "streaming.wal_commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "B",
    "streaming.state_commit_s": "s",
    "streaming.gen_late_s": "s",
    "streaming.stream_rows_per_s": "1/s",
    "streaming.state_rows_per_s": "1/s",
    "streaming.stream_lat_p99_s": "s",
    "streaming.state_lat_p99_s": "s",
    "sinks.write_s": "s",
    "sinks.files": "count",
    "sinks.bytes": "B",
    "trace.cpu_s": "s",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# -- inputs -----------------------------------------------------------------

def ensure_tables(name: str, sf: float) -> str:
    """Generated tables, cached per checkout; built under a temporary name
    and renamed, so a killed run never leaves a half-written directory."""
    path = os.path.join(HERE, ".cache", "data", f"{name}-sf{sf}-s{DATA_SEED}")
    if not os.path.isdir(path):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.write_tables(tmp, sf, DATA_SEED)
        os.rename(tmp, path)
    return path


def oracle_counts(names: list[str], sf_dir: str) -> dict[str, int]:
    """Row count of each query's DuckDB oracle (tests/oracle_harness) on
    the same parquet, computed outside any timing and cached per
    (query, oracle SQL, input)."""
    from gmall_flink_spark.registry import all_oracle_sql
    from tests.oracle_harness import run_oracle

    sql = all_oracle_sql()
    path = os.path.join(HERE, ".cache", "oracle_counts.json")
    try:
        with open(path) as fh:
            cache = json.load(fh)
    except (OSError, ValueError):
        cache = {}
    out, dirty = {}, False
    for n in names:
        key = hashlib.sha1(f"{n}\0{sql[n]}\0{sf_dir}".encode()).hexdigest()
        if key not in cache:
            cache[key] = len(run_oracle(sql[n], sf_dir))
            dirty = True
        out[n] = cache[key]
    if dirty:
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(cache, fh)
        os.replace(tmp, path)
    return out


# -- process hygiene --------------------------------------------------------

def kill_tree() -> None:
    for pid in stats.descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def start_watchdog() -> None:
    def fire():
        log(f"watchdog: run exceeded {WATCHDOG_S}s, aborting")
        kill_tree()
        os._exit(3)

    t = threading.Timer(WATCHDOG_S, fire)
    t.daemon = True
    t.start()


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM it launched, and wait until
    every process this run started has exited."""
    from pyspark import SparkContext

    left = stats.descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    deadline = time.time() + 15
    while time.time() < deadline:
        alive = [p for p in left if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


# -- shared set-up ----------------------------------------------------------

class Run:
    """State of one benchmark invocation."""

    def __init__(self, args):
        self.args = args
        self.workload = args.workload
        self.trace = bool(args.trace)
        self.work = os.path.join(HERE, ".work", self.workload)
        self.sw = stats.Stopwatch()
        self.spans = None
        self.listener = None

    def prepare_dirs(self) -> None:
        # honest cold: nothing an earlier run built survives
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("tmp", "spark-local", "synth", "stream", "eventlog"):
            os.makedirs(os.path.join(self.work, d))
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
        # the engine's documented sizing rule: 2-3x the cores (session.py)
        os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(2 * nproc())
        os.chdir(self.work)

    def import_program(self) -> None:
        with self.sw.phase("session.start_s"):
            import bench  # noqa: F401
            from gmall_flink_spark.registry import all_queries
            from gmall_flink_spark.sources import materialize
            from gmall_flink_spark.streaming import core

            # the engine's artifact roots, moved inside this run's work dir
            materialize.CACHE_ROOT = os.path.join(self.work, "synth")
            core._STREAM_TMP = os.path.join(self.work, "stream")
            self.queries = all_queries()

    def start_session(self) -> None:
        from gmall_flink_spark.session import get_spark

        from perfbench import trace

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
        }
        if self.trace:
            conf.update(trace.eventlog_conf(os.path.join(self.work, "eventlog")))
        self.rss = stats.RssSampler().start()
        with self.sw.phase("session.start_s"):
            self.spark = get_spark(app_name=f"perfbench-{self.workload}",
                                   master=f"local[{nproc()}]", extra_conf=conf)
            self.spark.sparkContext.setLogLevel("ERROR")
        self.tagger = trace.Tagger(self.spark, self.trace)
        if self.trace:
            self.spans = trace.Spans()
            self.listener = trace.ProgressListener().attach(self.spark)

    def calibrate(self, key: str) -> dict:
        if not self.trace:
            return {}
        import bench

        self.tagger.begin("calib")
        try:
            c = bench.calibrate(self.spark)
        finally:
            self.tagger.end("calib")
        return {f"host.calib_jvm{key}_s": c["jvm"], f"host.calib_py{key}_s": c["py"]}

    @property
    def setup_cpu_s(self) -> float:
        return sum(self.sw.cpu.values())

    @property
    def setup_wall_s(self) -> float:
        return sum(self.sw.wall.values())

    def eventlog(self) -> dict:
        from perfbench import trace

        d = os.path.join(self.work, "eventlog")
        files = [os.path.join(d, f) for f in os.listdir(d) if not f.endswith(".inprogress")]
        if len(files) != 1:
            raise RuntimeError(f"expected one finished event log in {d}, found {files}")
        return trace.parse_eventlog(files[0])


# -- batch workload ---------------------------------------------------------

def run_batch(run: Run) -> dict:
    from perfbench import batch

    args = run.args
    sf_dir = ensure_tables("batch", BATCH_SF)
    names = batch.query_order(batch.QUERIES, args.seed)
    run.import_program()
    expected = oracle_counts(names, sf_dir)
    run.start_session()
    spark = run.spark
    from gmall_flink_spark.sources.tables import clear_session_memos

    layer = run.calibrate("")
    layer.update(run.sw.wall)
    rounds = max(2, round(args.seconds / batch.NOMINAL_ROUND_S))
    last = rounds - 1
    records, round_walls, round_cpu = [], [], []
    me = os.getpid()
    for i in range(rounds):
        clear_session_memos(sf_dir=sf_dir)
        t0, c0 = time.perf_counter(), stats.tree_cpu_s(me)
        for r in batch.run_round(spark, run.queries, names, sf_dir, run.tagger):
            records.append({**r, "round": i})
        round_walls.append(time.perf_counter() - t0)
        round_cpu.append(stats.tree_cpu_s(me) - c0)
    peak = run.rss.stop()
    layer.update(run.calibrate("_end"))
    stop_spark(spark)

    failed = 0
    for r in records:
        if "error" in r:
            failed += 1
            log(f"{r['name']}: {r['error']}")
        elif r["rows"] != expected[r["name"]]:
            failed += 1
            r["error"] = f"rows {r['rows']} != oracle {expected[r['name']]}"
            log(f"{r['name']}: {r['error']}")
    # every round is cold for the data; round 0 is also the JVM's first
    # use of every operator, and the JIT keeps compiling after it, so the
    # figures come from the last round
    final = [r for r in records if r["round"] == last and "error" not in r]
    lat = {r["name"]: r["t2"] - r["t0"] for r in final}
    lat_cpu = {r["name"]: r["c2"] - r["c0"] for r in final}
    pct = lambda xs, q: stats.quantile(xs, q) if xs else 0.0  # noqa: E731
    wall, cpu = round_walls[last], round_cpu[last]
    out = {
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "e2e": {"setup_s": run.setup_cpu_s, "cpu_s": cpu},
        "host": {
            "host.setup_wall_s": run.setup_wall_s,
            "host.first_wall_s": round_walls[0],
            "host.wall_s": wall,
            "host.lat_p50_s": pct(list(lat.values()), 0.5),
            "host.lat_tail_s": pct(list(lat.values()), 0.75),
            "host.peak_rss_mb": peak / 2**20,
        },
        "detail": {"setup_wall": run.sw.wall, "setup_cpu": run.sw.cpu,
                   "rounds": round_walls, "round_cpu": round_cpu,
                   "queries": lat, "queries_cpu": lat_cpu},
    }
    if run.trace:
        layer.update(batch_layers(run, [r for r in records if r["round"] == last], wall))
        layer.update({"queries.cpu_p50_s": pct(list(lat_cpu.values()), 0.5),
                      "queries.cpu_p75_s": pct(list(lat_cpu.values()), 0.75),
                      "trace.cpu_s": cpu})
        out["layer"] = layer
    return out


def batch_layers(run: Run, records: list[dict], wall: float) -> dict:
    """Per-layer metrics of one traced round, from the event log."""
    from perfbench import batch, trace

    ev = run.eventlog()
    jobs = ev["jobs"]
    t_lo = min(r["t0"] for r in records) * 1000 - 1
    t_hi = max(r["t2"] for r in records) * 1000 + 1
    pass_jobs = trace.jobs_between(ev, t_lo, t_hi)
    build = plan = execute = 0.0
    build_jobs = query_jobs = 0
    gap = 0.0
    for r in records:
        lo, mid, hi = r["t0"] * 1000 - 1, r.get("t1", r["t2"]) * 1000, r["t2"] * 1000 + 1
        mine = [j for j in pass_jobs
                if jobs[j]["owner"] == r["name"] and lo <= jobs[j]["submit"] <= hi]
        query_jobs += len(mine)
        build_jobs += sum(1 for j in mine if jobs[j]["submit"] <= mid)
        roots = sorted((s for s in ev["sql"].values()
                        if s["owner"] == r["name"] and mid - 1 <= s["start"] <= hi
                        and s["end"] is not None), key=lambda s: s["start"])
        b = (r.get("t1", r["t2"]) - r["t0"])
        p = e = 0.0
        if roots:
            p = max(0.0, roots[0]["start"] / 1000 - r["t1"])
            e = (roots[0]["end"] - roots[0]["start"]) / 1000
        w = r["t2"] - r["t0"]
        r.update(build_s=b, plan_s=p, exec_s=e)
        build, plan, execute = build + b, plan + p, execute + e
        if "error" not in r:
            gap = max(gap, abs(w - (b + p + e)) / w)
        if run.spans is not None:
            q = run.spans.add(r["name"], r["t0"], r["t2"], kind="query")
            run.spans.add("build", r["t0"], r["t0"] + b, q)
            if roots:
                run.spans.add("plan", r["t1"], r["t1"] + p, q)
                run.spans.add("exec", roots[0]["start"] / 1000, roots[0]["end"] / 1000, q)
    tot = trace.job_totals(ev, pass_jobs)
    layer = {
        "queries.build_s": build,
        "queries.build_jobs": build_jobs,
        "queries.plan_s": plan,
        "queries.exec_s": execute,
        "queries.jobs": query_jobs,
        "queries.unattributed_jobs": sum(1 for j in pass_jobs if not jobs[j]["tagged"]),
        "queries.span_gap_frac": gap,
        "queries.warehouse_s": family_s(records, batch.WAREHOUSE),
        "queries.corpus_s": family_s(records, batch.CORPUS),
    }
    layer.update(operator_layers(tot, wall))
    return layer


def family_s(records: list[dict], family: list[str]) -> float:
    """Summed cold latency of one query family."""
    return sum(r["t2"] - r["t0"] for r in records if r["name"] in family)


def operator_layers(tot: dict, wall: float) -> dict:
    """Task-level totals of the measured phase."""
    return {
        "operators.task_s": tot["run_ms"] / 1000,
        "operators.cpu_s": tot["cpu_ns"] / 1e9,
        "operators.gc_s": tot["gc_ms"] / 1000,
        "operators.tasks": tot["tasks"],
        "operators.stages": tot["stages"],
        "operators.shuffle_read_bytes": tot["shuffle_read_bytes"],
        "operators.shuffle_write_bytes": tot["shuffle_write_bytes"],
        "operators.fetch_wait_s": tot["fetch_wait_ms"] / 1000,
        "operators.spill_bytes": tot["spill_bytes"],
        "sources.scan_bytes": tot["scan_bytes"],
        "llm.py_run_s": tot["py_run_ms"] / 1000,
        "llm.py_boot_s": tot["py_boot_ms"] / 1000,
        "llm.py_bytes_sent": tot["py_bytes_sent"],
        "llm.py_bytes_received": tot["py_bytes_received"],
        "operators.busy_frac": tot["run_ms"] / 1000 / (wall * nproc()),
    }


# -- stream workload --------------------------------------------------------

def run_stream(run: Run) -> dict:
    from perfbench import stream

    args = run.args
    sf_dir = ensure_tables("batch", BATCH_SF)
    run.import_program()
    run.start_session()
    spark = run.spark
    run.tagger.begin("setup")
    with run.sw.phase("sources.topic_build_s"):
        lanes = stream.lanes(spark, sf_dir, run.work)
    run.tagger.end("setup")
    layer = run.calibrate("")
    layer.update(run.sw.wall)
    t_lo = time.time()
    # paced first: its micro-batches also bring the JIT up to speed on each
    # lane's operators before the drain, whose CPU is the gated figure
    phases = []
    for lane in lanes:
        phases += stream.paced(spark, [lane], run.work, args.seed, args.seconds, run.tagger)
    phases += stream.drain(spark, lanes, run.work, args.seed, run.tagger)
    t_hi = time.time()
    peak = run.rss.stop()
    progress = []
    if run.listener is not None:
        run.listener.detach(spark)
        progress = run.listener.progress
    layer.update(run.calibrate("_end"))
    stop_spark(spark)

    failed = attempted = 0
    for ph in phases:
        attempted += ph["attempted"]
        failed += ph["failed"]
        if ph["observed"] != ph["expected"]:
            failed += 1
            ph["error"] = f"observed {ph['observed']} != expected {ph['expected']}"
            log(f"{ph['lane']} {ph['phase']}: {ph['error']}")
    drains = {ph["lane"]: ph for ph in phases if ph["phase"] == "drain"}
    paced = {ph["lane"]: ph for ph in phases if ph["phase"] == "paced"}
    lat = paced["m1"]["lat"] + paced["d4"]["lat"]
    q_tail = stats.tail_q(len(lat), 0.99)
    wall = drains["m1"]["wall_s"] + drains["d4"]["wall_s"]
    cpu = drains["m1"]["cpu_s"] + drains["d4"]["cpu_s"]
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "e2e": {"setup_s": run.setup_cpu_s, "cpu_s": cpu},
        "host": {
            "host.setup_wall_s": run.setup_wall_s,
            "host.first_wall_s": drains["m1"]["first_wall_s"] + drains["d4"]["first_wall_s"],
            "host.wall_s": wall,
            "host.lat_p50_s": stats.quantile(lat, 0.5),
            "host.lat_tail_s": stats.quantile(lat, q_tail),
            "host.peak_rss_mb": peak / 2**20,
        },
        "detail": {
            "setup_wall": run.sw.wall, "setup_cpu": run.sw.cpu, "n": len(lat), "tail_q": q_tail,
            "phases": [{k: v for k, v in ph.items() if k not in ("lat", "out_dir", "commit")}
                       for ph in phases],
        },
    }
    if run.trace:
        from perfbench import trace

        ev = run.eventlog()
        tot = trace.job_totals(ev, trace.jobs_between(ev, t_lo * 1000, t_hi * 1000))
        layer.update(operator_layers(tot, t_hi - t_lo))
        layer.update(stream_layers(progress, drains, paced))
        files = nbytes = 0
        for ph in phases:
            f, b = stream.dir_files_bytes(ph["out_dir"])
            files, nbytes = files + f, nbytes + b
        layer.update({"sinks.files": files, "sinks.bytes": nbytes, "trace.cpu_s": cpu})
        if run.spans is not None:
            for p in progress:
                run.spans.add("batch", p["_start"], p["_start"] + p["batchDuration"] / 1000,
                              None, query=p["id"], batch=p["batchId"])
        out["layer"] = layer
    return out


def stream_layers(progress: list[dict], drains: dict, paced: dict) -> dict:
    """Per-layer streaming metrics from StreamingQueryProgress (listener)."""
    import datetime as dt

    dur = lambda p, k: p.get("durationMs", {}).get(k, 0) / 1000  # noqa: E731
    ops = [op for p in progress for op in p.get("stateOperators") or []]
    for p in progress:
        p["_start"] = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    trig = [dur(p, "triggerExecution") for p in progress if p.get("batchDuration")]
    return {
        "streaming.batches": len(progress),
        "streaming.trigger_s_p50": stats.quantile(trig, 0.5) if trig else 0.0,
        "streaming.wal_commit_s": sum(dur(p, "walCommit") + dur(p, "commitOffsets")
                                      for p in progress),
        "streaming.state_rows": max((op.get("numRowsTotal", 0) for op in ops), default=0),
        "streaming.state_bytes": max((op.get("memoryUsedBytes", 0) for op in ops), default=0),
        "streaming.state_commit_s": sum(op.get("commitTimeMs", 0) for op in ops) / 1000,
        "streaming.gen_late_s": max(paced["m1"]["gen_late_s"], paced["d4"]["gen_late_s"]),
        "streaming.stream_rows_per_s": drains["m1"]["rows"] / drains["m1"]["wall_s"],
        "streaming.state_rows_per_s": drains["d4"]["rows"] / drains["d4"]["wall_s"],
        "streaming.stream_lat_p99_s": stats.quantile(
            paced["m1"]["lat"], stats.tail_q(len(paced["m1"]["lat"]), 0.99)),
        "streaming.state_lat_p99_s": stats.quantile(
            paced["d4"]["lat"], stats.tail_q(len(paced["d4"]["lat"]), 0.99)),
        "sinks.write_s": sum(dur(p, "addBatch") for p in progress),
    }


# -- entry ------------------------------------------------------------------

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    start_watchdog()
    run = Run(args)
    try:
        import pyspark  # noqa: F401
        if not os.path.isdir(os.path.join(ROOT, "gmall_flink_spark")):
            raise ImportError(f"the engine package is missing under {ROOT}")
    except ImportError as exc:
        log(f"cannot run: {exc}")
        return 2
    run.prepare_dirs()
    out = (run_stream if run.workload == "stream" else run_batch)(run)
    names = PER_LAYER if run.trace else E2E
    if run.trace:
        out["layer"].update(out["host"])
    values = out["layer"] if run.trace else out["e2e"]
    detail = {"workload": run.workload, "seed": args.seed, "trace": args.trace,
              **out["detail"], "e2e": out["e2e"], "host": out["host"],
              "layer": out.get("layer")}
    with open(os.path.join(run.work, "detail.json"), "w") as fh:
        json.dump(detail, fh, indent=1)
    if run.spans is not None:
        run.spans.dump(os.path.join(run.work, "spans.json"))
    log(json.dumps({"detail": out["detail"], "e2e": out["e2e"], "host": out["host"]}))
    result = {
        "correct": bool(out["correct"]),
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": {n: {"value": float(values.get(n, 0.0)), "unit": u}
                    for n, u in names.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

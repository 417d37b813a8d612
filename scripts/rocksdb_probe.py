#!/usr/bin/env python3
"""State-store headroom probe (VERDICT r10 task 1): run the keyed-state
streaming operators under BOTH built-in providers and report throughput.

The on-heap HDFSBackedStateStoreProvider (Spark's default, and the analogue
of the reference's HashMap state backend, app/dws/DwsTradeOrderWindow
.java:42) holds every key's state on the executor heap — at 100× keyed
state it OOMs before it slows. RocksDBStateStoreProvider spills keyed state
to local disk, which is the posture a 1000-executor deployment of the
D4/D5/D6 per-user states and the stream-stream join buffers needs. The
probe quantifies the local-mode throughput cost of that headroom on the two
state-heaviest operator classes:

  - D4 first_per_day_stream (native dropDuplicates: (user, day) key set)
  - D6 returning_flags_stream (applyInPandasWithState: last-active-day map)

Usage: python scripts/rocksdb_probe.py [sf_dir]   (default /root/testdata/sf0.1)
Writes one JSON line to stdout; results recorded in SCALE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TMP = "/tmp/gmall_rocksdb_probe"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    from gmall_flink_spark.session import get_spark
    from gmall_flink_spark.sources.tables import table
    from gmall_flink_spark.streaming.core import run_available_now
    from gmall_flink_spark.streaming.stateful import (
        first_per_day_stream,
        returning_flags_stream,
    )

    spark = get_spark(app_name="rocksdb-probe")
    spark.sparkContext.setLogLevel("ERROR")
    if os.path.exists(TMP):
        shutil.rmtree(TMP)
    ev = table(spark, sf_dir, "events").select("user_id", "ts")
    ev_dir = os.path.join(TMP, "events")
    ev.repartition(16).write.parquet(ev_dir)
    n_ev = spark.read.parquet(ev_dir).count()
    schema = spark.read.parquet(ev_dir).schema

    def probe(build, state_store):
        sev = spark.readStream.schema(schema).parquet(ev_dir)
        t0 = time.perf_counter()
        out = run_available_now(build(sev), state_store=state_store)
        n = out.count()
        sec = round(time.perf_counter() - t0, 3)
        return {"rows_in": n_ev, "rows_out": n, "sec": sec,
                "rows_per_sec": round(n_ev / sec)}

    builders = {
        "d4_first_per_day": lambda s: first_per_day_stream(s, "user_id"),
        "d6_returning_flags": lambda s: returning_flags_stream(
            s, "user_id", gap_days=7
        ),
    }
    # one unrecorded warm-up query: the session's FIRST streaming query
    # pays JVM/parquet warm-up that would otherwise be billed to whichever
    # provider runs first (the BENCHNOTES lesson)
    probe(builders["d4_first_per_day"], "hdfs")

    result: dict = {"sf_dir": sf_dir, "probes": {}}
    for name, build in builders.items():
        per = {}
        base = None
        for store in ("hdfs", "rocksdb"):
            r = min((probe(build, store) for _ in range(2)), key=lambda x: x["sec"])
            per[store] = r
            if store == "hdfs":
                base = r
            else:
                assert r["rows_out"] == base["rows_out"], (
                    f"{name}: provider changed the ANSWER "
                    f"({base['rows_out']} vs {r['rows_out']})"
                )
                per["rocksdb_vs_hdfs"] = round(r["sec"] / base["sec"], 2)
        result["probes"][name] = per
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()

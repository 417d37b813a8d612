"""The batch workload: rounds over a fixed query set, closed loop, one
client, noop sink, terminal sort stripped (bench.track_terminal_sort).
Every round starts with the session memos cleared, so each round is a cold
pass over the data; the JVM is only cold in the first round."""

from __future__ import annotations

import os
import random
import time

from perfbench import stats

#: the gmall DWD/DWS family: TPC-H joins, as-of join, windowed UV, keyed
#: dedup (bench.HEADLINE order)
WAREHOUSE = [
    "q1_pricing_summary", "q3_shipping_priority", "asof_click_attribution",
    "uv_new_daily", "window_pv_uv",
]

#: the corpus family: IVF search and its probed twin (shared assignment
#: memo), winnowing fingerprints and the pairs they match (shared winnow
#: memo)
CORPUS = [
    "sim_ivf_topk", "sim_ivf_topk_probes", "text_winnow_fingerprint",
    "winnow_match_pairs",
]

#: a round runs both families; seed 0 keeps bench.HEADLINE order
QUERIES = [
    "q1_pricing_summary", "q3_shipping_priority", "asof_click_attribution",
    "uv_new_daily", "window_pv_uv", "sim_ivf_topk", "sim_ivf_topk_probes",
    "text_winnow_fingerprint", "winnow_match_pairs",
]

#: seconds of one round on the reference host: --seconds buys
#: round(seconds / NOMINAL_ROUND_S) rounds, at least two; the figures come
#: from the last one
NOMINAL_ROUND_S = 7.0


#: queries that share a session memo: the first one listed builds it, so
#: a group moves as a unit and the memo is always charged to the same query
MEMO_GROUPS = [
    ["sim_ivf_topk", "sim_ivf_topk_probes"],
    ["text_winnow_fingerprint", "winnow_match_pairs"],
]


def query_order(names: list[str], seed: int) -> list[str]:
    """Seed 0 keeps the listed order; any other seed permutes the order of
    the independent queries and memo groups."""
    grouped = {n for g in MEMO_GROUPS for n in g}
    units = [[n] for n in names if n not in grouped]
    units += [g for g in MEMO_GROUPS if g[0] in names]
    if seed:
        random.Random(seed).shuffle(units)
    else:
        units.sort(key=lambda u: names.index(u[0]))
    return [n for u in units for n in u]


def run_round(spark, queries: dict, names: list[str], sf_dir: str,
              tagger) -> list[dict]:
    """One round over ``names``. Each record: name, epoch times t0 (call), t1 (plan
    built, save() called), t2 (save returned), process-tree CPU seconds c0
    and c2 around the query, rows (counted in-flight by an Observation, so
    no query runs twice) or error."""
    import bench
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    records = []
    for i, name in enumerate(names):
        rec = {"name": name}
        tagger.begin(name)
        rec["c0"] = stats.tree_cpu_s(os.getpid())
        rec["t0"] = time.time()
        try:
            with bench.track_terminal_sort():
                df = bench.unsorted_form(queries[name](spark, sf_dir))
            rec["t1"] = time.time()
            obs = Observation(f"pb_rows_{i}")
            (df.observe(obs, F.count(F.lit(1)).alias("rows"))
             .write.format("noop").mode("overwrite").save())
            rec["t2"] = time.time()
            rec["rows"] = int(obs.get["rows"])
        except Exception as exc:  # noqa: BLE001 - recorded as a failed query
            rec["t2"] = time.time()
            rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
        finally:
            rec["c2"] = stats.tree_cpu_s(os.getpid())
            tagger.end(name)
        records.append(rec)
    return records

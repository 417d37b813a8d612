"""Tests of the benchmark's own machinery (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import time

import numpy as np
import pyarrow as pa
import pytest

import pyarrow.parquet as pq

from perfbench import batch, gen, run, stats, stream, trace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


# -- percentile rule --------------------------------------------------------

def test_quantile_matches_numpy_linear():
    xs = list(np.random.default_rng(0).random(37))
    for q in (0.0, 0.25, 0.5, 0.75, 0.99, 1.0):
        assert stats.quantile(xs, q) == pytest.approx(float(np.quantile(xs, q)))


@pytest.mark.parametrize("n", [20, 40, 48, 100, 1000, 7500])
def test_tail_percentile_keeps_ten_samples_beyond(n):
    q = stats.tail_q(n, 0.99)
    if q > 0.5:
        assert stats.beyond(n, q) >= stats.MIN_BEYOND
    assert q <= 0.99


def test_tail_percentile_values():
    assert stats.tail_q(48, 0.75) == 0.75          # 12 beyond at n=48
    assert stats.beyond(48, 0.75) >= 10
    assert stats.tail_q(40, 0.99) == pytest.approx(0.75)
    assert stats.tail_q(10_000, 0.99) == 0.99
    assert stats.tail_q(12, 0.75) == 0.5           # too few for any tail


# -- event-log parser -------------------------------------------------------

def test_eventlog_parser_on_recorded_log():
    """The recorded log: a session ran q_small (job group pb:q_small, tag
    pb-q_small) as a pandas-UDF aggregate, then one job with no group or
    tag."""
    ev = trace.parse_eventlog(os.path.join(HERE, "data", "eventlog_small.json"))
    jobs = ev["jobs"]
    owned = [j for j, v in jobs.items() if v["owner"] == "q_small"]
    assert owned and all(jobs[j]["tagged"] for j in owned)
    stray = [j for j, v in jobs.items() if v["owner"] is None]
    assert stray and not any(jobs[j]["tagged"] for j in stray)
    assert all(v["end"] is not None for v in jobs.values())
    tot = trace.job_totals(ev, owned)
    assert tot["tasks"] > 0 and tot["stages"] > 0
    assert tot["run_ms"] > 0 and tot["cpu_ns"] > 0
    assert tot["shuffle_write_bytes"] > 0 and tot["shuffle_read_bytes"] > 0
    assert tot["py_bytes_sent"] > 0 and tot["py_run_ms"] > 0
    roots = [s for s in ev["sql"].values() if s["owner"] == "q_small"]
    assert len(roots) == 1 and roots[0]["end"] >= roots[0]["start"]
    lo = min(jobs[j]["submit"] for j in owned)
    assert set(owned) <= set(trace.jobs_between(ev, lo, lo + 10**9))


def test_stage_owner_prefers_first_job():
    jobs = {0: {"stages": [0, 1]}, 1: {"stages": [1, 2]}}
    assert trace.stage_owner(jobs) == {0: 0, 1: 0, 2: 1}


# -- generator pacing and lateness -----------------------------------------

def test_generator_paces_rows_and_reports_lateness(tmp_path):
    rate = 400.0
    rows = pa.table({"v": list(range(200))})
    gen = stream.Feed(str(tmp_path), rows, rate)
    start = time.time() + 0.05
    stream.generate([gen], start)
    elapsed = time.time() - start
    per_file = int(round(rate * stream.TICK_S))
    assert len(gen.files) == 200 // per_file
    assert sum(n for n, _ in gen.files) == 200
    due = np.concatenate([d for _, d in gen.files])
    assert np.allclose(np.diff(due), 1 / rate, rtol=0, atol=1e-6)  # epoch floats
    assert due[0] == pytest.approx(start)
    # open loop: the last file lands when its last row is due, not earlier
    assert elapsed >= (200 - 1) / rate - 1e-3
    assert len(gen.late) == len(gen.files)
    assert min(gen.late) >= 0 and max(gen.late) < 0.5
    names = sorted(os.listdir(tmp_path))
    assert len(names) == len(gen.files) and not any(n.startswith(".") for n in names)


def test_row_latencies_map_whole_files_in_order():
    files = [(2, np.array([0.0, 0.5])), (1, np.array([1.0])), (3, np.array([1.0, 1.5, 2.0]))]
    commit = {5: 2.0, 6: 4.0}
    lat = stream.row_latencies([(5, 3), (6, 3)], files, commit)
    assert lat == [2.0, 1.5, 1.0, 3.0, 2.5, 2.0]
    with pytest.raises(ValueError):
        stream.row_latencies([(5, 1)], files, commit)     # splits a file
    with pytest.raises(ValueError):
        stream.row_latencies([(5, 3)], files, commit)     # files left over


def test_expected_m1_split_rules():
    logs = [
        '{"broken',
        json.dumps({"common": {"mid": None}, "page": {"page_id": "home"}}),
        json.dumps({"common": {"mid": "m"}, "start": {"entry": "icon"}, "err": {"msg": "x"}}),
        json.dumps({"common": {"mid": "m"}, "page": {"page_id": "home"},
                    "actions": [{}, {}], "displays": [{}]}),
    ]
    assert stream.expected_m1(logs) == {"err": 1, "start": 1, "page": 1,
                                        "action": 2, "display": 1}


# -- inputs and query order ------------------------------------------------

def test_generated_tables_repeat_for_a_seed(tmp_path):
    gen.write_tables(str(tmp_path / "a"), 0.0005, 3)
    gen.write_tables(str(tmp_path / "b"), 0.0005, 3)
    names = sorted(os.listdir(tmp_path / "a"))
    assert len(names) == 10
    for n in names:
        assert pq.read_table(tmp_path / "a" / n).equals(pq.read_table(tmp_path / "b" / n))


def test_query_order_keeps_memo_groups_together():
    assert sorted(batch.QUERIES) == sorted(batch.WAREHOUSE + batch.CORPUS)
    assert batch.query_order(batch.QUERIES, 0) == batch.QUERIES
    orders = {tuple(batch.query_order(batch.QUERIES, s)) for s in range(1, 30)}
    assert len(orders) > 1
    for order in orders:
        assert sorted(order) == sorted(batch.QUERIES)
        for group in batch.MEMO_GROUPS:
            i = order.index(group[0])
            assert list(order[i:i + len(group)]) == group


# -- metric names -----------------------------------------------------------

def test_metric_names_are_valid_and_declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layered = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert declared == run.E2E
    assert layered == run.PER_LAYER
    for name in [*declared, *layered]:
        assert re.fullmatch(r"[A-Za-z0-9_.-]+", name), name
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)

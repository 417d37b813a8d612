"""The session-stage primitive (sources/tables.py::session_stage, warm):
build-once under concurrent first callers, no deadlock along a stage DAG
warmed from ``warm``, and job-tag inheritance into the warm threads."""

from __future__ import annotations

import shutil
import sys
import threading
import time
import warnings

import pytest

from tests.conftest import SF_SMOKE


@pytest.fixture
def docs_dir(tmp_path):
    """A private sf dir holding only documents.parquet, so every stage and
    the table reader start cold."""
    shutil.copy(f"{SF_SMOKE}/documents.parquet", tmp_path / "documents.parquet")
    return str(tmp_path)


def _run_threads(n, target):
    errors = []

    def guarded():
        try:
            target()
        except BaseException as exc:  # noqa: BLE001 - asserted below
            errors.append(exc)

    threads = [threading.Thread(target=guarded) for _ in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not any(t.is_alive() for t in threads), "threads hung"
    return errors


def test_cold_stage_and_table_build_once_across_threads(spark, docs_dir):
    """8 threads hit one cold stage and ``table()`` at the same instant:
    the stage body runs exactly once, nothing raises (the old hand-rolled
    memo key iterated and deleted from a dict the tokenizer warm threads
    were inserting into), and every thread gets the same objects."""
    from gmall_flink_spark.sources.tables import _READERS, session_stage, table

    builds = []

    @session_stage("documents")
    def probe(spark, sf_dir):
        builds.append(1)
        time.sleep(0.2)  # hold the build open while the others arrive
        return table(spark, sf_dir, "documents").select("doc_id")

    barrier = threading.Barrier(8)
    got = []

    def call():
        barrier.wait()
        got.append((probe(spark, docs_dir), table(spark, docs_dir, "documents")))

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave the threads as often as possible
    try:
        errors = _run_threads(8, call)
        assert not errors, errors
        assert len(builds) == 1
        assert len(got) == 8
        assert all(s is got[0][0] for s, _ in got)
        assert all(t is got[0][1] for _, t in got)
        assert [k[1] for k in _READERS["documents"].memo].count(docs_dir) == 1
    finally:
        sys.setswitchinterval(switch)
        probe.wipe()
        _READERS["documents"].wipe()


def test_warm_stage_dag_finishes_without_deadlock(spark, docs_dir):
    """Stage ``outer`` calls stage ``inner``; warming both together makes
    one warm thread wait on the other's build lock. Nested stage locks are
    taken caller-then-callee along an acyclic DAG, so this must finish."""
    from gmall_flink_spark.sources.tables import session_stage, table, warm

    @session_stage("documents")
    def inner(spark, sf_dir):
        time.sleep(0.2)
        return table(spark, sf_dir, "documents").count()

    @session_stage("documents")
    def outer(spark, sf_dir):
        return inner(spark, sf_dir) + 1

    out = []
    try:
        errors = _run_threads(1, lambda: out.append(warm(spark, docs_dir, outer, inner)))
        assert not errors, errors
        n = inner(spark, docs_dir)
        assert n > 0 and out == [[n + 1, n]]
    finally:
        inner.wipe()
        outer.wipe()


def test_warm_threads_inherit_caller_job_tags(spark, docs_dir):
    """A job tag the caller set is visible inside a warmed stage body, so
    the warm jobs stay charged to the query that asked — and pyspark's
    "Tags will not be inherited" warning is never raised."""
    from gmall_flink_spark.sources.tables import session_stage, warm

    seen = []

    @session_stage("documents")
    def tagged(spark, sf_dir):
        seen.append(set(spark.getTags()))
        return len(seen)

    tag = "session-stage-warm-probe"
    spark.addTag(tag)
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            assert warm(spark, docs_dir, tagged) == [1]
    finally:
        spark.removeTag(tag)
        tagged.wipe()
    assert tag in seen[0]
    assert not [w for w in caught if "Tags will not be inherited" in str(w.message)]


def test_warm_reraises_a_build_error(spark, docs_dir):
    from gmall_flink_spark.sources.tables import session_stage, warm

    @session_stage("documents")
    def broken(spark, sf_dir):
        raise ValueError("stage build failed")

    with pytest.raises(ValueError, match="stage build failed"):
        warm(spark, docs_dir, broken)
    assert not broken.memo

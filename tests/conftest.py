from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mpg_data_warehouse_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield spark
    spark.stop()


class InjectedCrash(Exception):
    pass


class _FailingCommitBackend:
    """A commit store whose every install fails (the process dies
    before the commit object lands)."""

    def put_if_absent(self, path, payload):
        raise InjectedCrash(f"commit install of {path}")


@pytest.fixture
def crash_at(monkeypatch):
    """``crash_at(fault, call)`` runs ``call`` with a crash injected at
    one commit point of an index change and checks that it surfaced:
    ``"data_write"`` dies right after the change's data files are
    written, ``"commit_install"`` while its commit installs."""
    from mpg_data_warehouse_spark.sources import txlog

    def run(fault, call):
        if fault == "commit_install":
            prev = txlog.set_commit_backend(_FailingCommitBackend())
            try:
                with pytest.raises(InjectedCrash):
                    call()
            finally:
                txlog.set_commit_backend(prev)
            return
        real_write = txlog._write_data_files

        def write_then_die(*a, **k):
            real_write(*a, **k)
            raise InjectedCrash("after writing data files")

        monkeypatch.setattr(txlog, "_write_data_files", write_then_die)
        try:
            with pytest.raises(InjectedCrash):
                call()
        finally:
            monkeypatch.undo()

    return run


@pytest.fixture
def jobs_run_by(spark):
    """``jobs_run_by(call)``: the Spark jobs ``call`` runs on any driver
    thread (index writes and hybrid legs run on ``await_all`` threads,
    outside the caller's job group) — the job ids the status store
    gained, read once the asynchronous listener bus has fed it."""
    ssc = spark.sparkContext._jsc.sc()
    statuses = spark.sparkContext._gateway.jvm.java.util.ArrayList()

    def next_job_id() -> int:
        ssc.listenerBus().waitUntilEmpty()
        jobs = ssc.statusStore().jobsList(statuses)  # newest first
        return jobs.apply(0).jobId() + 1 if jobs.size() else 0

    def count(call) -> int:
        before = next_job_id()
        call()
        return next_job_id() - before

    return count

"""Tests of the benchmark's own machinery (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
import time

import numpy as np
import pytest

import gen
from spans import COUNTER_FIELDS, CpuClock, Tracer, diff_marks, sum_counters, tree_cpu_s
from stats import Ledger, percentile, tail_percentile, timing_summary

SMALL = gen.Sizes(lineitem=2_000, base_docs=40, doc_copies=3, base_vecs=20)


def table_digest(tables) -> str:
    h = hashlib.sha256()
    for name in sorted(tables):
        h.update(name.encode())
        h.update(repr(tables[name].to_pydict()).encode())
    return h.hexdigest()


# -- percentile rule ---------------------------------------------------------


@pytest.mark.parametrize("n, want", [
    (9, None), (19, None), (20, 50), (39, 50), (40, 75), (99, 75),
    (100, 90), (199, 90), (200, 95), (999, 95), (1000, 99), (10_000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want


def test_tail_percentile_has_ten_beyond_and_next_one_does_not():
    for n in range(20, 1200, 7):
        p = tail_percentile(n)
        s = list(range(n))
        assert sum(v > percentile(s, p) for v in s) >= 10
        higher = [q for q in (50, 75, 90, 95, 99, 99.9) if q > p]
        if higher:
            assert sum(v > percentile(s, higher[0]) for v in s) < 10


def test_percentile_is_nearest_rank():
    assert percentile(list(range(1, 11)), 50) == 5
    assert percentile(list(range(1, 101)), 90) == 90
    assert percentile([3.0], 99) == 3.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_timing_summary_states_count_and_tail():
    s = timing_summary([float(i) for i in range(1, 101)])
    assert s == {"n": 100, "p50": 50.5, "tail_pct": 90, "tail": 90.0}
    assert timing_summary([1.0, 2.0]) == {"n": 2, "p50": 1.5}


# -- seed determinism ---------------------------------------------------------


def test_same_seed_same_inputs():
    assert table_digest(gen.generate(5, SMALL)) == table_digest(
        gen.generate(5, SMALL))


def test_other_seed_other_inputs():
    a, b = gen.generate(5, SMALL), gen.generate(6, SMALL)
    for name in ("lineitem", "orders", "events", "documents", "embeddings"):
        assert table_digest({name: a[name]}) != table_digest({name: b[name]})


def test_written_tables_are_byte_identical(tmp_path):
    gen.write_tables(gen.generate(3, SMALL), str(tmp_path / "a"))
    gen.write_tables(gen.generate(3, SMALL), str(tmp_path / "b"))
    for f in sorted((tmp_path / "a").iterdir()):
        assert f.read_bytes() == (tmp_path / "b" / f.name).read_bytes()


def test_generated_inputs_carry_the_seeded_defects():
    t = gen.generate(11, gen.Sizes(lineitem=12_000, base_docs=40, doc_copies=3,
                                   base_vecs=20))
    ship = t["lineitem"].column("l_shipdate").to_numpy()
    assert (ship > np.datetime64("2010-01-01")).sum() > 0  # DD-MM-YY misparses
    ev = t["events"]
    assert sum(ev.column(c).null_count for c in ("user_id", "event_type", "value")) > 0
    docs = t["documents"]
    assert docs.num_rows == SMALL.documents
    texts = docs.column("text").to_pylist()
    base, copies = texts[: SMALL.base_docs], texts[SMALL.base_docs:]
    exact = sum(c in base for c in copies)
    assert 0 < exact < len(copies)  # exact and perturbed replicas both exist
    ids = docs.column("doc_id").to_pylist()
    assert len(set(ids)) == len(ids)


def test_random_texts_are_seeded():
    a = gen.random_texts(np.random.default_rng([4, 3, 0]), 5)
    b = gen.random_texts(np.random.default_rng([4, 3, 0]), 5)
    assert a == b and all(10 <= len(t.split()) <= 100 for t in a)


# -- counter diffing ----------------------------------------------------------


def _mark(next_job, tasks, gc, inp, sr, sw):
    return {"next_job": next_job, "tasks": tasks, "gc_ms": gc, "input_bytes": inp,
            "shuffle_read_bytes": sr, "shuffle_write_bytes": sw}


def test_diff_marks_diffs_totals_and_job_ids():
    task_ms = {3: 100, 4: None, 5: 40}  # job 4 was dropped from the store
    d = diff_marks(_mark(3, 10, 5, 1000, 0, 0), _mark(6, 25, 9, 1500, 70, 80),
                   task_ms.get)
    assert d == {"jobs": 3, "tasks": 15, "task_ms": 140, "gc_ms": 4,
                 "input_bytes": 500, "shuffle_read_bytes": 70,
                 "shuffle_write_bytes": 80, "dropped_jobs": 1}


def test_diff_marks_with_no_jobs_is_zero():
    m = _mark(7, 1, 1, 1, 1, 1)
    assert diff_marks(m, m, lambda j: pytest.fail("no job to look up")) == dict.fromkeys(
        COUNTER_FIELDS, 0)


class FakeCounters:
    """Cumulative counters that advance by one job and 4 tasks per mark."""

    def __init__(self):
        self.n = 0

    def mark(self):
        self.n += 1
        return _mark(self.n, 4 * self.n, 0, 10 * self.n, 0, 0)

    def between(self, a, b):
        return diff_marks(a, b, lambda j: 250)


def test_spans_carry_counter_diffs_and_nest():
    tr = Tracer(FakeCounters())
    with tr.span("outer", request=7) as outer:
        with tr.span("inner") as inner:
            pass
    assert inner.parent == outer.id and inner.request == 7
    assert inner.counters["jobs"] == 1 and inner.counters["task_ms"] == 250
    # the outer span's interval holds the inner one's marks too
    assert outer.counters["jobs"] == 3 and outer.counters["tasks"] == 12
    assert sum_counters([inner, outer])["jobs"] == 4
    assert tr.self_time(outer) == pytest.approx(outer.wall - inner.wall)


def test_untraced_spans_time_without_counters():
    tr = Tracer()
    with tr.span("a") as a:
        pass
    assert a.counters is None and a.cpu is None and a.wall >= 0
    assert tr.within([a]) == [a]


# -- CPU time -----------------------------------------------------------------


def _spin(seconds: float) -> None:
    end = time.process_time() + seconds
    while time.process_time() < end:
        pass


def test_tree_cpu_counts_this_process_and_reaped_children():
    before = tree_cpu_s(os.getpid())
    _spin(0.2)
    subprocess.run([sys.executable, "-c",
                    "import time\nend = time.process_time() + 0.3\n"
                    "while time.process_time() < end: pass"], check=True)
    # 0.5 s of work, read in clock ticks
    assert tree_cpu_s(os.getpid()) - before >= 0.4


def test_span_records_cpu_when_asked():
    tr = Tracer()
    with tr.span("busy", cpu=True) as sp:
        _spin(0.2)
    assert sp.cpu >= 0.15


def test_cpu_clock_without_a_jvm_subtracts_nothing():
    clock = CpuClock(None)
    assert clock.jit_s() == 0
    assert abs(clock.now() - tree_cpu_s(os.getpid())) < 0.05


# -- error-rate accounting ----------------------------------------------------


def test_ledger_counts_every_attempt_and_failure():
    led = Ledger()
    assert led.record(True, "ok") is True
    assert led.record(False, "wrong answer") is False
    led.record(True, "ok")
    led.record(False, "raised")
    assert (led.attempted, led.failed) == (4, 2)
    assert led.error_rate == 0.5
    assert led.failures == ["wrong answer", "raised"]


def test_ledger_with_nothing_attempted_reports_total_failure():
    assert Ledger().error_rate == 1.0


def test_context_check_counts_exceptions_and_wrong_answers(monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    import workloads

    ctx = workloads.Context("corpus_curation", 1, 1.0, False, str(tmp_path))

    def boom():
        raise RuntimeError("engine failed")

    assert ctx.check("right", lambda: True) is True
    assert ctx.check("wrong", lambda: False) is False
    assert ctx.check("raises", boom) is False
    assert (ctx.ledger.attempted, ctx.ledger.failed) == (3, 2)
    assert ctx.ledger.failures[1].startswith("raises: RuntimeError: engine failed")

"""Driver-thread overlap for independent Spark job legs.

Spark schedules jobs submitted from different driver threads freely,
so N independent legs (builds, writes, trainings) cost max(legs) wall
time instead of their sum — the hybrid-retrieval / BM25-lifecycle
playbook. This module is the ONE implementation of that pattern; the
call sites (plans/retrieval.py, operators/search.py, the contract
queries) must not hand-roll executors, because the helper encodes a
contract that is easy to lose in a local rewrite: every leg is
AWAITED before the first exception propagates, so no half-awaited leg
is still running against state the caller's except/finally block may
then mutate or clean up (pinned by
tests/test_search.py::test_await_all_settles_every_leg_before_raising).

NOT a data-parallelism tool: each leg should be a whole Spark action
(the cluster parallelizes inside it). Overlap legs only when they are
truly independent — writes whose visibility is ordered must stay
sequential; overlap their read-only preparation phases instead.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor, wait


def await_all(*thunks):
    """Run zero-arg callables concurrently; return results in order.

    All legs settle before the first exception is re-raised (in thunk
    order), so a failed overlap never leaves a live leg racing the
    caller's cleanup."""
    if not thunks:
        return []
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futs = [pool.submit(t) for t in thunks]
        wait(futs)
        return [f.result() for f in futs]

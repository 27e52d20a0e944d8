"""Per-phase wall-clock fencing for the hybrid_rrf_retrieval contract
slot (r13 measurement aid): chunk
store write, dense index build, bm25 index build (the contract runs
the two builds concurrently — both the concurrent wall and the solo
costs are reported), probe+fuse, rerank. Usage:

    python tools/hybrid_phase_timing.py [sf_dir] [reps]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from mpg_data_warehouse_spark.session import get_spark
from mpg_data_warehouse_spark.plans.driver_queries import (
    QUERIES,
    _docs,
    _RETRIEVAL_QUERY_TEXTS,
)
from mpg_data_warehouse_spark.plans.retrieval import (
    _build_dense_index,
    _write_chunk_store,
    hybrid_retrieve,
    rerank_token_f1,
)
from mpg_data_warehouse_spark.operators.search import build_ranked_index
from mpg_data_warehouse_spark.concurrency import await_all


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark("hybrid-phase-timing")
    results: list[dict[str, float]] = []
    for rep in range(reps + 1):  # rep 0 = warmup
        base = tempfile.mkdtemp(prefix="hybrid_phase_")
        docs = _docs(spark, sf_dir)
        t: dict[str, float] = {}

        t0 = time.perf_counter()
        stored = _write_chunk_store(
            docs, f"{base}/chunks", 32, 8, "doc_id", "text"
        )
        t["chunk_store"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        _build_dense_index(
            stored, f"{base}/idx", 64, 8, "md5", refine_iters=0
        )
        t["dense_build_solo"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        build_ranked_index(
            stored, f"{base}/bm25", id_col="chunk_key", text_col="chunk_text"
        )
        t["bm25_build_solo"] = time.perf_counter() - t0

        # the contract's concurrent form, on fresh paths
        t0 = time.perf_counter()
        await_all(
            lambda: _build_dense_index(
                stored, f"{base}/idx2", 64, 8, "md5", refine_iters=0
            ),
            lambda: build_ranked_index(
                stored, f"{base}/bm252",
                id_col="chunk_key", text_col="chunk_text",
            ),
        )
        t["both_builds_concurrent"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        pool = hybrid_retrieve(
            spark, f"{base}/idx", f"{base}/chunks", f"{base}/bm25",
            _RETRIEVAL_QUERY_TEXTS, k=10, dim=64, nprobe=8,
            k_rrf=60, pool=20, hash_fn="md5",
        )
        pool = pool.localCheckpoint(eager=True)
        t["probe_fuse"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        rerank_token_f1(pool, k=5).write.format("noop").mode(
            "overwrite"
        ).save()
        t["rerank"] = time.perf_counter() - t0

        if rep:
            results.append(t)
        import shutil

        shutil.rmtree(base, ignore_errors=True)
    keys = results[0].keys()
    print(f"{'phase':26s} " + " ".join(f"rep{i+1:d}" for i in range(reps)))
    for k in keys:
        vals = [r[k] for r in results]
        med = sorted(vals)[len(vals) // 2]
        print(
            f"{k:26s} " + " ".join(f"{v:6.2f}" for v in vals)
            + f"   med {med:6.2f}"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())

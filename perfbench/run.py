"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload wrangle_batch --seed 1 --seconds 5 --trace 0

Run from the repository root. The engine runs on ``local[nproc]`` in a
fresh JVM per run; tables, indexes and Spark scratch space live in a
run-private directory under ``.perfbench_tmp/`` that is deleted at exit.
``--trace 1`` also writes the span log to ``.perfbench_traces/``.

Stdout: a ``{"detail": ...}`` line for people (per-job fingerprints,
oracle verdicts, sample counts, tail percentiles, error rate, and the
per-call layer metrics when traced), then, as the last line, the result:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("wrangle_batch", "corpus_curation", "ingest_and_retrieve")
UNITS = {"cpu_ms_per_item": "ms"}


def _unit(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_frac"):
        return "fraction"
    return "count"


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _configure_env(run_dir: str) -> None:
    """Point every scratch location at the run directory and size the
    engine to the machine, before pyspark is imported."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # half the CPUs run tasks; the rest are left to the JVM's JIT and GC
    # threads, the Python driver and the host. With a task slot per CPU, a
    # stage waits on whichever CPU the host took away, and run-to-run
    # spread grew threefold on a shared 4-CPU virtual machine (README.md)
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, _cpus() // 2))
    # get_spark defaults to a 24g heap; keep to a quarter of the machine
    if "SPARK_GRAFT_DRIVER_MEM" not in os.environ:
        with open("/proc/meminfo") as fh:
            total_kb = int(fh.readline().split()[1])
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(4, total_kb // 4 // 2**20))}g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, or zeros where /proc is absent:
    on a virtual machine, time the host ran other guests on our CPUs."""
    try:
        with open("/proc/stat") as fh:
            ticks = [int(v) for v in fh.readline().split()[1:9]]
    except OSError:
        return 0, 0
    return ticks[7], sum(ticks)


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    try:
        spark.sparkContext._gateway.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("mpg_data_warehouse_spark/__init__.py",
                           "tools/check_oracle.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: engine sources missing under {ROOT}: {missing}",
              file=sys.stderr)
        return 2

    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=tmp_root)
    _configure_env(run_dir)
    sys.path[:0] = [HERE, ROOT]

    import workloads

    t0, ticks0 = time.perf_counter(), _cpu_ticks()
    ctx = workloads.Context(args.workload, args.seed, args.seconds,
                            bool(args.trace), run_dir)
    spans_path = None
    try:
        res = workloads.run(ctx)
        if args.trace:
            out_dir = os.path.join(ROOT, ".perfbench_traces")
            os.makedirs(out_dir, exist_ok=True)
            spans_path = os.path.join(
                out_dir, f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl")
            ctx.tracer.write(spans_path)
    finally:
        if ctx.spark is not None:
            _stop_spark(ctx.spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass

    led = ctx.ledger
    steal, total = (b - a for a, b in zip(ticks0, _cpu_ticks()))
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": ctx.cores,
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "error_rate": led.error_rate,
        "failures": led.failures,
        "run_s": time.perf_counter() - t0,
        # a run-level slowdown the engine did not cause shows here
        "host_steal_frac": steal / total if total else None,
        **res.detail,
    }
    if args.trace:
        detail["spans_file"] = spans_path
        detail["self_s"] = ctx.tracer.self_times()
        detail["trace_overhead_s"] = ctx.tracer.overhead_s
    print(json.dumps({"detail": detail}, default=str))
    metrics = res.per_layer if args.trace else res.end_to_end
    print(json.dumps({
        "correct": led.failed == 0,
        "attempted": led.attempted,
        "failed": led.failed,
        "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

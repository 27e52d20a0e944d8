"""The benchmark's three workloads.

``wrangle_batch`` and ``corpus_curation`` are batch workloads: a set of
driver-query jobs run in passes over generated tables, one job after
another, in a seeded order per pass. ``ingest_and_retrieve`` is a closed
loop with one client: each request waits for the previous one.

Every workload returns a ``Result``: its end-to-end metrics, its per-layer
metrics (traced runs only), and a detail record printed for people.
"""

from __future__ import annotations

import importlib.util
import os
import resource
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np

import gen
import spec
from spans import CpuClock, SparkCounters, Span, Tracer, sum_counters
from stats import Ledger, timing_summary

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@dataclass
class Result:
    end_to_end: dict[str, float]
    per_layer: dict[str, float]
    detail: dict = field(default_factory=dict)


class Context:
    def __init__(self, workload: str, seed: int, seconds: float, traced: bool,
                 run_dir: str) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.run_dir = run_dir
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.ledger = Ledger()
        self.tracer = Tracer()
        # request order / query texts come from their own stream so the
        # generated tables do not depend on how many requests ran
        self.rng = np.random.default_rng([seed, 1])
        self.spark = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def start_spark(self) -> None:
        from mpg_data_warehouse_spark.session import get_spark

        tmp = self.path("tmp")
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                "perfbench",
                extra_conf={
                    "spark.local.dir": self.path("local"),
                    "spark.sql.warehouse.dir": self.path("warehouse"),
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                        # as many GC threads as task slots, the fewest JIT
                        # compiler threads, and a fixed set of them (CpuClock)
                        f" -XX:ParallelGCThreads={self.cores} -XX:CICompilerCount=2"
                        " -XX:-UseDynamicNumberOfCompilerThreads",
                },
            )
        self.tracer.cpu_clock = CpuClock(jvm_pid(self.spark))
        if self.traced:
            self.tracer.counters = SparkCounters(self.spark)

    def check(self, what: str, fn) -> bool:
        """Run ``fn`` (returns True when the answer is right); an
        exception or a False is one failed operation."""
        try:
            ok = bool(fn())
        except Exception as e:  # noqa: BLE001 — every failure is counted
            return self.ledger.record(False, f"{what}: {type(e).__name__}: {e}"[:300])
        return self.ledger.record(ok, what)


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb(spark) -> dict[str, float]:
    """Peak resident memory of this Python driver and of its JVM child."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = jvm_pid(spark)
    if pid is not None:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return {"python": py_kb / 1024.0, "jvm": jvm_kb / 1024.0}


def du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def count_parquet(path: str) -> int:
    """Live data files: parquet files outside ``_``/``.`` side dirs."""
    n = 0
    for _, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        n += sum(f.endswith(".parquet") for f in files)
    return n


def run_concurrently(tr: Tracer, calls: dict) -> None:
    """Run independent zero-arg calls on their own threads; each gets a
    span under the open one."""
    from mpg_data_warehouse_spark.concurrency import await_all

    def timed(name: str, fn):
        t0 = time.perf_counter()
        fn()
        return name, t0, time.perf_counter()

    for name, t0, t1 in await_all(*[
            lambda n=n, f=f: timed(n, f) for n, f in calls.items()]):
        tr.record(name, t0, t1)


def setup_s(tr: Tracer) -> float:
    """Engine start plus input generation plus the builds: set-up runs
    once, because a run starts one fresh JVM."""
    return sum(tr.named(n)[0].wall
               for n in ("session.get_spark", "setup.generate", "setup.build"))


def per_layer_metrics(ctx: Context, units: list[Span], n_units: float,
                      overhead_before: float) -> dict[str, float]:
    """The per-layer metrics every workload reports: engine counters and
    the driver-side plan / action split per unit (a pass or a request),
    the share of core time no task used, set-up parts and the tracing
    overhead."""
    tr = ctx.tracer
    c = sum_counters(units)
    wall = sum(u.wall for u in units)
    task_s = c["task_ms"] / 1000.0
    inside = tr.within(units)
    return {
        "engine.jobs": c["jobs"] / n_units,
        "engine.tasks": c["tasks"] / n_units,
        "engine.task_s": task_s / n_units,
        "engine.gc_s": c["gc_ms"] / 1000.0 / n_units,
        "engine.input_bytes": c["input_bytes"] / n_units,
        "engine.shuffle_read_bytes": c["shuffle_read_bytes"] / n_units,
        "engine.shuffle_write_bytes": c["shuffle_write_bytes"] / n_units,
        "engine.core_idle_frac": 1.0 - task_s / (wall * ctx.cores),
        "ops.plan_s": sum(s.wall for s in inside if s.name == "plan") / n_units,
        "ops.exec_s": sum(s.wall for s in inside if s.name == "exec") / n_units,
        "session.get_spark_s": tr.named("session.get_spark")[0].wall,
        "setup.generate_s": tr.named("setup.generate")[0].wall,
        "setup.build_s": tr.named("setup.build")[0].wall,
        "trace.overhead_frac": (tr.overhead_s - overhead_before) / wall,
    }


def function_layers(tr: Tracer, names: list[str]) -> dict[str, float]:
    """Median wall, and plan/exec split where recorded, per named call."""
    out: dict[str, float] = {}
    for name in names:
        spans = tr.named(name)
        if not spans:
            continue
        out[f"{name}.wall_s"] = statistics.median(s.wall for s in spans)
        for part in ("plan", "exec"):
            kids = [c for s in spans for c in tr.children(s) if c.name == part]
            if kids:
                out[f"{name}.{part}_s"] = statistics.median(c.wall for c in kids)
    return out


# ---------------------------------------------------------------------------
# batch workloads
# ---------------------------------------------------------------------------


def _oracle_tools():
    """``normalize`` from the repo's oracle checker, imported unmodified."""
    path = os.path.join(ROOT, "tools", "check_oracle.py")
    mod_spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(mod_spec)
    mod_spec.loader.exec_module(mod)
    return mod.normalize


def _duckdb_views(sf_dir: str):
    """A DuckDB connection with one view per input table — the view
    set-up of ``tools/check_oracle.py``, which keeps it inside ``main``."""
    import duckdb

    from mpg_data_warehouse_spark.schemas import TESTDATA_TABLES

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def run_batch(ctx: Context, jobs: dict[str, str], pipeline: bool) -> Result:
    from mpg_data_warehouse_spark.plans.driver_queries import ORACLE, QUERIES
    from mpg_data_warehouse_spark.plans.pipelines import curate_corpus_pipeline
    from mpg_data_warehouse_spark.session import run_scoped

    tr, spark, sizes = ctx.tracer, ctx.spark, spec.SIZES[ctx.workload]

    sf_dir = ctx.path("inputs")
    with tr.span("setup.generate"):
        tables = gen.generate(ctx.seed, sizes)
    with tr.span("setup.build"):
        gen.write_tables(tables, sf_dir)
    docs = tables["documents"]
    n_distinct_texts = len(set(docs.column("text").to_pylist()))
    if ctx.workload == "wrangle_batch":
        items = sum(t.num_rows for n, t in tables.items()
                    if n not in ("documents", "embeddings"))
    else:
        items = docs.num_rows
    input_sizes = {n: t.num_rows for n, t in tables.items()}
    del tables

    def label(name: str) -> str:
        return name if name == spec.PIPELINE else f"plans.driver_queries.{name}"

    def build(name: str):
        if name == spec.PIPELINE:
            corpus = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
            return run_scoped(spark, lambda: curate_corpus_pipeline(
                corpus.select("doc_id", "text", "source"), **spec.PIPELINE_ARGS))
        return QUERIES[name](spark, sf_dir)

    names = list(jobs) + ([spec.PIPELINE] if pipeline else [])

    # -- cold pass, outside the timed window: every job once, its result
    # fingerprinted and checked against its DuckDB oracle on the same
    # generated inputs. The oracle queries run on a thread beside the
    # engine. Jobs run one at a time: scoped jobs release all storage
    # created while they ran, so two in flight would drop each other's
    # checkpoints.
    normalize = _oracle_tools()
    con = _duckdb_views(sf_dir)
    con.execute("SET threads = 1")
    with ThreadPoolExecutor(1) as pool:
        want = {n: pool.submit(lambda n=n: normalize(con.execute(ORACLE[n]).df()))
                for n in jobs if n in ORACLE}
        expected: dict[str, tuple] = {}
        oracle: dict[str, str] = {}
        survivors = {}

        def cold(name: str) -> bool:
            pdf = build(name).toPandas()
            expected[name] = normalize(pdf)
            if name == spec.PIPELINE:
                survivors["n"] = pdf["doc_id"].nunique()
                # exact and near duplicates collapse: at most one per text
                return 0 < survivors["n"] <= n_distinct_texts
            if name not in want:
                oracle[name] = "no oracle"
                return False
            w = want[name].result()
            oracle[name] = "match" if expected[name] == w else f"duckdb {w}"
            return expected[name] == w

        cold_s = {}
        with tr.span("warmup"):
            for name in names:
                # the pipeline runs only here, so this run carries its layer
                # span; a job's layer spans are its timed runs
                with tr.span(label(name) if name == spec.PIPELINE else "cold") as sp:
                    ctx.check(f"{name} cold run + oracle parity", lambda: cold(name))
                cold_s[name.rsplit(".", 1)[-1]] = sp.wall
            for fut in want.values():  # also an oracle whose job never got to it
                fut.exception()
    con.close()

    # -- timed window: whole passes over the driver-query jobs, every job
    # once in a seeded order, at least MIN_PASSES of them and more until
    # --seconds have passed; a pass takes the sum of per-job medians. Whole
    # passes keep every job's sample count equal. A job's span covers
    # building its plan and collecting its result; the fingerprint check
    # runs after the span. The pipeline runs in the cold pass only.
    timed = [n for n in jobs if n in expected]
    for name in jobs:
        if name not in expected:  # its cold run raised
            ctx.ledger.record(False, f"{name} not timed: no reference fingerprint")
    if not timed:
        raise RuntimeError("no job completed its cold run")
    ops: list[Span] = []

    def one(name: str, into: list[Span]) -> bool:
        with tr.span(label(name), request=len(ops), cpu=True) as sp:
            into.append(sp)
            with tr.span("plan"):
                df = build(name)
            with tr.span("exec"):
                pdf = df.toPandas()
        return normalize(pdf) == expected[name]

    def run_pass(into: list[Span]) -> None:
        for i in ctx.rng.permutation(len(timed)):
            ctx.check(f"{timed[i]} run {len(ops)} fingerprint",
                      lambda: one(timed[i], into))

    with tr.span("warmup"):
        for _ in range(spec.WARM_PASSES):
            run_pass([])
    overhead_before = tr.overhead_s
    t_end = time.perf_counter() + ctx.seconds
    while len(ops) < spec.MIN_PASSES * len(timed) or time.perf_counter() < t_end:
        run_pass(ops)
    per_job: dict[str, list[Span]] = {}
    for s in ops:
        per_job.setdefault(s.name, []).append(s)
    job_med = {k: statistics.median(s.wall for s in v) for k, v in per_job.items()}
    pass_s = sum(job_med.values())
    pass_cpu_s = sum(statistics.median(s.cpu for s in v) for v in per_job.values())

    end_to_end = {
        "setup_s": setup_s(tr),
        "cpu_ms_per_item": 1000.0 * pass_cpu_s / items,
    }
    unit = "rows_per_s" if ctx.workload == "wrangle_batch" else "docs_per_s"
    detail = {
        unit: items / pass_s,
        "input_items": items,
        "peak_rss_mb": peak_rss_mb(spark),
        "input_rows": input_sizes,
        "warmup_s": sum(s.wall for s in tr.named("warmup")),
        "cold_s": cold_s,
        "pass_s": pass_s,
        "pass_cpu_s": pass_cpu_s,
        "job_runs": len(ops),
        "job_median_s": {k.rsplit(".", 1)[-1]: v for k, v in job_med.items()},
        "job_s": timing_summary([s.wall for s in ops]),
        "fingerprints": {k: f"{v[0]}:{v[2]}" for k, v in expected.items()},
        "oracle": oracle,
        "owners": dict(jobs, **({spec.PIPELINE: "plans.pipelines"} if pipeline else {})),
    }
    per_layer = {}
    if ctx.traced:
        passes = len(ops) / len(timed)
        per_layer = per_layer_metrics(ctx, ops, passes, overhead_before)
        window = Tracer()
        window.spans = tr.within(ops)
        layers = function_layers(window, [label(n) for n in timed])
        if pipeline:
            layers.update(function_layers(tr, [spec.PIPELINE]))
        if pipeline and survivors:
            layers[f"{spec.PIPELINE}.survivor_frac"] = survivors["n"] / items
        detail["layers"] = layers
    return Result(end_to_end, per_layer, detail)


# ---------------------------------------------------------------------------
# ingest_and_retrieve
# ---------------------------------------------------------------------------


def run_ingest(ctx: Context) -> Result:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mpg_data_warehouse_spark.operators import search
    from mpg_data_warehouse_spark.plans import retrieval
    from mpg_data_warehouse_spark.sources import txlog

    tr, spark, sizes = ctx.tracer, ctx.spark, spec.SIZES[ctx.workload]
    schema = "doc_id long, text string"

    p = {k: ctx.path(k) for k in ("docs", "tx", "bm25", "ivf", "chunks", "hbm25")}
    with tr.span("setup.generate"):
        rng = np.random.default_rng([ctx.seed, 0])
        texts = gen.random_texts(rng, sizes.base_docs)
        os.makedirs(p["docs"])
        pq.write_table(pa.table({"doc_id": np.arange(len(texts), dtype=np.int64),
                                 "text": texts}), os.path.join(p["docs"], "d.parquet"))
    corpus = dict(enumerate(texts))  # doc_id -> text, as ingested
    user_bytes = sum(len(t.encode()) for t in corpus.values())
    next_id = len(corpus)
    sentinels: list[tuple[str, int]] = []
    n_batches = 0
    merge_bytes = [0, 0]  # bytes the merges added, user bytes they carried
    delivered = inserted = 0

    def query_text() -> str:
        n = int(ctx.rng.integers(2, 5))
        return " ".join(gen.VOCAB[i] for i in ctx.rng.integers(0, len(gen.VOCAB), n))

    def lexical(q: str) -> bool:
        with tr.span("plan"):
            df = search.bm25_search_many(spark, p["bm25"], [q], k=spec.TOP_K)
        with tr.span("exec"):
            rows = df.collect()
        return 0 < len(rows) <= spec.TOP_K and sorted(r["rank"] for r in rows) == list(
            range(1, len(rows) + 1))

    def hybrid(q: str) -> bool:
        with tr.span("plan"):
            df = retrieval.hybrid_retrieve(spark, p["ivf"], p["chunks"], p["hbm25"], [q],
                                           k=spec.HYBRID_K)
        with tr.span("exec"):
            rows = df.collect()
        return 0 < len(rows) <= spec.HYBRID_K

    def make_batch() -> tuple[list[tuple[int, str]], int]:
        """Fresh documents (the first carries a unique sentinel token)
        plus redelivered ones, from the batch's own seeded stream."""
        nonlocal next_id, n_batches
        rng = np.random.default_rng([ctx.seed, 3, n_batches])
        n_batches += 1
        texts = gen.random_texts(rng, spec.BATCH_DOCS)
        token = f"sentinel{ctx.seed}x{n_batches}"
        texts[0] = f"{token} {texts[0]}"
        fresh = [(next_id + i, t) for i, t in enumerate(texts)]
        next_id += len(fresh)
        old_ids = rng.choice(sorted(corpus), spec.REDELIVERED_DOCS, replace=False)
        sentinels.append((token, fresh[0][0]))
        return fresh + [(int(i), corpus[int(i)]) for i in old_ids], len(fresh)

    def ingest(batch: list[tuple[int, str]], n_fresh: int) -> bool:
        nonlocal delivered, inserted
        bdf = spark.createDataFrame(batch, schema)
        before = du(p["tx"])
        with tr.span("sources.txlog.merge"):
            txlog.merge(spark, p["tx"], bdf, keys=["doc_id"])
        merge_bytes[0] += du(p["tx"]) - before
        merge_bytes[1] += sum(len(t.encode()) for _, t in batch)
        with tr.span("operators.search.bm25_append_index"):
            n = search.bm25_append_index(bdf, p["bm25"])
        delivered += len(batch)
        inserted += n
        return n == n_fresh

    def compact() -> bool:
        with tr.span("operators.search.bm25_compact_index"):
            search.bm25_compact_index(spark, p["bm25"])
        with tr.span("sources.txlog.compact"):
            txlog.compact(spark, p["tx"])
        return True

    maint: list[Span] = []

    def request(kind: str, rid: int) -> Span:
        """One closed-loop request; returns its span. Every
        ``COMPACT_EVERY``-th ingest is followed by maintenance, which is
        timed in its own span, not as part of the request."""
        nonlocal user_bytes
        if kind == "ingest":
            batch, n_fresh = make_batch()
            for i, t in batch:
                if i not in corpus:
                    user_bytes += len(t.encode())
                corpus[i] = t
            with tr.span("request.ingest", request=rid, cpu=True) as sp:
                ctx.check(f"ingest {rid}: inserted == fresh", lambda: ingest(batch, n_fresh))
            token, want = sentinels[-1]
            # read-your-writes, outside the request: the new doc ranks first
            ctx.check(f"ingest {rid}: sentinel at rank 1", lambda: [
                r["doc_id"] for r in search.bm25_search_many(
                    spark, p["bm25"], [token], k=1).collect()] == [want])
            if n_batches % spec.COMPACT_EVERY == 0:
                with tr.span("maintenance.compact") as m:
                    ctx.check(f"compact after ingest {rid}", compact)
                maint.append(m)
            return sp
        q = query_text()
        fn = {"lexical": lexical, "hybrid": hybrid}[kind]
        name = {"lexical": "operators.search.bm25_search_many",
                "hybrid": "plans.retrieval.hybrid_retrieve"}[kind]
        with tr.span(f"request.{kind}", request=rid, cpu=True) as sp:
            with tr.span(name):
                ctx.check(f"{kind} {rid}: {q!r}", lambda: fn(q))
        return sp

    def cycle(rid: int) -> list[Span]:
        return [request(spec.CYCLE[i], rid + n)
                for n, i in enumerate(ctx.rng.permutation(len(spec.CYCLE)))]

    with tr.span("setup.build"):
        docs = spark.read.parquet(p["docs"])
        # the three structures are built side by side, as a deployment
        # would. The hybrid index takes longest; once it is built, one
        # hybrid query warms its read path on the same thread. Meanwhile
        # one ingest warms the write path and, through its read-your-writes
        # query, the lexical one. Both are checked like any other request
        warm_q = query_text()

        def hybrid_leg() -> tuple[float, float, float, int]:
            t0 = time.perf_counter()
            retrieval.build_hybrid_index(docs, p["ivf"], p["chunks"], p["hbm25"])
            t1 = time.perf_counter()
            n = len(retrieval.hybrid_retrieve(spark, p["ivf"], p["chunks"], p["hbm25"],
                                              [warm_q], k=spec.HYBRID_K).collect())
            return t0, t1, time.perf_counter(), n

        with ThreadPoolExecutor(1) as pool:
            hyb = pool.submit(hybrid_leg)
            run_concurrently(tr, {
                "sources.txlog.create": lambda: txlog.create(spark, p["tx"], docs),
                "operators.search.build_ranked_index":
                    lambda: search.build_ranked_index(docs, p["bm25"]),
            })
            with tr.span("warmup"):
                request("ingest", -1)
            t0, t1, t2, n_hits = hyb.result()
        tr.record("plans.retrieval.build_hybrid_index", t0, t1)
        tr.record("warmup.hybrid", t1, t2)
        ctx.check(f"warm-up hybrid {warm_q!r}", lambda: 0 < n_hits <= spec.HYBRID_K)
    # whole cycles, at least MIN_CYCLES, until --seconds have passed
    overhead_before = tr.overhead_s
    reqs: list[Span] = []
    t_end = time.perf_counter() + ctx.seconds
    while len(reqs) < spec.MIN_CYCLES * len(spec.CYCLE) or time.perf_counter() < t_end:
        reqs += cycle(len(reqs))
    stored = du(p["tx"]) + du(p["bm25"])
    index_files = count_parquet(p["bm25"])
    data_files = len(txlog.snapshot_state(p["tx"])["files"])

    # -- end-of-run checks, outside the window
    final = txlog.read(spark, p["tx"]).select("doc_id", "text")
    ctx.check("table holds every ingested doc once",
              lambda: final.count() == len(corpus)
              and final.select("doc_id").distinct().count() == len(corpus))
    # appended index == fresh build over the final corpus, on a probe set
    fresh = ctx.path("fresh_bm25")
    probes = [query_text() for _ in range(spec.PROBES - 2)] + [t for t, _ in sentinels[-2:]]

    def same_topk() -> bool:
        search.build_ranked_index(final, fresh)
        got, want = (
            sorted(tuple(r) for r in search.bm25_search_many(
                spark, path, probes, k=spec.TOP_K).collect())
            for path in (p["bm25"], fresh))
        return got == want

    ctx.check("appended top-k == rebuilt top-k", same_topk)

    def of_kind(*kinds: str) -> list[Span]:
        return [r for r in reqs if r.name in {f"request.{k}" for k in kinds}]

    def walls(*kinds: str) -> list[float]:
        return [r.wall for r in of_kind(*kinds)]

    def at_mix(value) -> float:
        """The mean of ``value`` over a request at the cycle's mix, each
        kind's value its median over the run."""
        return sum(spec.CYCLE.count(k) / len(spec.CYCLE)
                   * statistics.median(value(r) for r in of_kind(k))
                   for k in dict.fromkeys(spec.CYCLE))

    end_to_end = {
        "setup_s": setup_s(tr),
        "cpu_ms_per_item": 1000.0 * at_mix(lambda r: r.cpu),
    }
    detail = {
        "loop": "closed, 1 client",
        # the inverse of the mean latency at the mix
        "requests_per_s": 1.0 / at_mix(lambda r: r.wall),
        "requests": len(reqs),
        "peak_rss_mb": peak_rss_mb(spark),
        "warmup_s": {"ingest": tr.named("warmup")[0].wall,
                     "hybrid": tr.named("warmup.hybrid")[0].wall},
        "query_s": timing_summary(walls(*spec.QUERY_KINDS)),
        "ingest_s": timing_summary(walls("ingest")),
        "ingests": n_batches,
        "maintenance_s": timing_summary([m.wall for m in maint]),
        **{f"{k}_s": timing_summary(walls(k)) for k in spec.QUERY_KINDS},
        "stored_bytes_per_user_byte": stored / user_bytes,
        "docs": len(corpus),
    }
    per_layer = {}
    if ctx.traced:
        per_layer = per_layer_metrics(ctx, reqs, len(reqs), overhead_before)
        window = Tracer()
        window.spans = tr.within(reqs + maint)
        layers = function_layers(window, [
            "operators.search.bm25_search_many",
            "plans.retrieval.hybrid_retrieve", "sources.txlog.merge",
            "operators.search.bm25_append_index",
            "operators.search.bm25_compact_index", "sources.txlog.compact"])
        layers.update(function_layers(tr, [
            "sources.txlog.create", "operators.search.build_ranked_index",
            "plans.retrieval.build_hybrid_index"]))
        layers.update({
            "operators.search.bm25_append_index.inserted_frac": inserted / delivered,
            "sources.txlog.merge.bytes_written_per_user_byte":
                merge_bytes[0] / merge_bytes[1],
            "operators.search.index_files": index_files,
            "sources.txlog.data_files": data_files,
        })
        detail["layers"] = layers
    return Result(end_to_end, per_layer, detail)


def run(ctx: Context) -> Result:
    ctx.start_spark()
    if ctx.workload == "wrangle_batch":
        return run_batch(ctx, spec.WRANGLE_JOBS, pipeline=False)
    if ctx.workload == "corpus_curation":
        return run_batch(ctx, spec.CORPUS_JOBS, pipeline=True)
    return run_ingest(ctx)

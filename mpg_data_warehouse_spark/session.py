"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[N]`` in one JVM; the same config block is
what we'd ship to a 1000-executor cluster (AQE, Arrow, adaptive skew
handling are cluster-relevant — shuffle-partition count is the only
knob that differs, and AQE coalescing makes even that forgiving).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Heap for the single local JVM: half the host's memory
    (``/proc/meminfo`` MemTotal) in whole GiB, at least 1g and never
    above 24g. A fixed 24g overcommits a smaller host; where MemTotal
    cannot be read, 24g stays."""
    try:
        with open("/proc/meminfo") as fh:
            total_kb = next(
                int(line.split()[1])
                for line in fh
                if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration, ValueError, IndexError):
        return "24g"
    return f"{max(1, min(24, total_kb // 2 // 2**20))}g"


def get_spark(
    app_name: str = "mpg_data_warehouse_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Defaults honor the driver environment: ``SPARK_GRAFT_CPUS`` sets
    local parallelism, falling back to all cores.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # Heap for the single local JVM (driver + all executor threads
        # in local mode). The 1g Spark default OOMs past sf~0.5 with 32
        # concurrent tasks; on a cluster this maps to executor memory
        # and is set by the deploy (SPARK_GRAFT_DRIVER_MEM), not here.
        # Only effective for the session that launches the JVM — later
        # getOrCreate calls ignore it, which is the desired no-op.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM")
            or _default_driver_memory(),
        )
        # AQE: runtime shuffle-partition coalescing, skew-join splitting,
        # and dynamic broadcast conversion — essential at 100 TB where
        # static partition counts are always wrong for some stage.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for any pandas-UDF path and createDataFrame/ toPandas.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic timestamps across the DuckDB oracle boundary.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# ---------------------------------------------------------------------------
# Scoped RDD storage: deterministic release of persist()/cache()/
# localCheckpoint blocks a computation creates.
# ---------------------------------------------------------------------------


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of every RDD currently holding storage (cache, persist, and
    localCheckpoint blocks all register here)."""
    m = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in m.keySet().toArray()}


def release_rdd_storage(
    spark: SparkSession, ids: set[int], blocking: bool = False
) -> int:
    """Unpersist the RDDs with the given ids (no-op for ids already
    gone). Returns how many were released."""
    m = spark.sparkContext._jsc.getPersistentRDDs()
    n = 0
    it = m.entrySet().iterator()
    while it.hasNext():
        e = it.next()
        if int(e.getKey()) in ids:
            e.getValue().unpersist(blocking)
            n += 1
    return n


def checkpoint_rdd_id(df) -> int | None:
    """The storage id backing an (eagerly) localCheckpointed frame —
    the id ``run_scoped`` must NOT release (truncated lineage means
    the blocks are the only copy of the data)."""
    plan = df._jdf.queryExecution().analyzed()
    try:
        return int(plan.rdd().id())
    except Exception:
        return None


def run_scoped(spark: SparkSession, build) -> "DataFrame":
    """Execute ``build()`` (a zero-arg callable returning a DataFrame),
    materialize its result via an eager localCheckpoint, and release
    every piece of RDD storage the build created — leaked persists,
    caches, and abandoned localCheckpoint blocks alike — keeping only
    the result's own (small) checkpoint.

    This is the scoped-caching contract for query builders whose
    internals persist corpus-sized intermediates: a long-lived driver
    running hundreds of such queries (a 100 TB pipeline driver, the
    bench sweep) must not accumulate dead storage at the mercy of GC /
    ContextCleaner timing — the measured single-JVM session-age
    artifact (BENCH_SCALE.md). Results here are reports (pairs,
    top-k, scores), orders of magnitude smaller than the
    intermediates, so the one retained checkpoint is cheap; on a real
    cluster the same pattern holds with a reliable checkpoint dir."""
    before = persistent_rdd_ids(spark)
    cache_before = _cached_plan_handles(spark)
    out = build().localCheckpoint(eager=True)
    keep = checkpoint_rdd_id(out)
    if keep is None:
        # can't identify the result's own blocks (unexpected plan
        # shape): releasing ANYTHING could free the checkpointed
        # result — the only copy of the data — so fail safe by
        # leaking this scope instead of corrupting it
        return out
    stray = persistent_rdd_ids(spark) - before - {keep}
    if stray:
        # A leaked DataFrame.persist() holds TWO pieces of state: the
        # RDD blocks and the SQL CacheManager entry (plan →
        # InMemoryRelation). BOTH must go, and ONLY for entries this
        # scope created: dropping just the blocks leaves a ZOMBIE
        # entry — a later identical .persist() hits Spark's
        # already-cached short-circuit against the dead entry and
        # never re-caches, silently recomputing per action — while a
        # global clearCache() would drop the CALLER's live caches.
        # So the scope's NEW entries are uncached individually
        # (uncacheQuery also unpersists their RDDs); the remaining
        # stray blocks (abandoned localCheckpoints — never
        # CacheManager entries, `out`'s own checkpoint excluded) are
        # released by id. If the CacheManager internals are
        # unreachable (version drift), fall back to the r9 rule:
        # global clear only when the cache was empty at entry.
        released_sql = _uncache_new_entries(spark, cache_before)
        if not released_sql and cache_before is not None and not cache_before:
            spark.catalog.clearCache()
        release_rdd_storage(spark, persistent_rdd_ids(spark) - before - {keep})
    return out


def _cached_plan_handles(spark: SparkSession) -> dict[int, object] | None:
    """Live SQL-cache entries as {JVM identityHashCode: logical-plan
    handle}. Identity keys are stable while an entry stays cached (the
    manager holds the same plan object); a rebuilt entry changes
    identity, which errs toward treating it as new — the safe
    direction for a scope release. Returns None when the internals
    are unreachable (CacheManager API drift)."""
    try:
        jvm = spark.sparkContext._jvm
        cm = spark._jsparkSession.sharedState().cacheManager()
        out: dict[int, object] = {}
        it = cm.cachedData().iterator()
        while it.hasNext():
            p = it.next().plan()
            out[int(jvm.java.lang.System.identityHashCode(p))] = p
        return out
    except Exception:
        return None


def _uncache_new_entries(
    spark: SparkSession, cache_before: dict[int, object] | None
) -> bool:
    """Uncache every SQL-cache entry that did not exist at scope entry
    (non-cascading: dependent caches the CALLER built over a scope's
    frame are its own, and a scope never does that to itself).
    Returns False when the entry set cannot be enumerated — the
    caller then applies its conservative fallback."""
    if cache_before is None:
        return False
    now = _cached_plan_handles(spark)
    if now is None:
        return False
    try:
        cm = spark._jsparkSession.sharedState().cacheManager()
        for h, plan in now.items():
            if h not in cache_before:
                cm.uncacheQuery(spark._jsparkSession, plan, False)
        return True
    except Exception:
        return False


def release_session_debris(spark: SparkSession) -> None:
    """Pressure relief for a LONG-LIVED driver: drop dead Python→JVM
    references and force one JVM GC so ContextCleaner releases the
    broadcast variables and shuffle registrations dead jobs left
    behind. Spark only cleans those when the JVM garbage-collects the
    driver-side handles; a driver that runs hundreds of jobs between
    natural full GCs accumulates executor-side debris that measurably
    degrades Arrow/Python-boundary stages (pinned at r9:
    multimodal_frame_sample at sf1.0 ran 5.8 s after 17 predecessor
    queries and returned to its 2.9 s solo time — permanently — after
    one such pulse). Call between pipeline stages, not inside them;
    a full GC on a large heap costs a few hundred ms."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()

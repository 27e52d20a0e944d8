"""Writers (reference §2 S9-S14).

The reference appends via BigQuery load jobs (WRITE_APPEND), replaces
via WRITE_TRUNCATE, and exports a GCS CSV backup before any mutation.
Spark equivalents: ``mode("append")`` / ``mode("overwrite")`` parquet
(Delta when available gives the atomic replace + time travel that
subsumes the backup/rollback recipes), and a CSV export for parity
with the backup flow.

Scale policy: fact tables partition by ``year`` — every reference
filter that matters (P4/P5/P8) is on year or date, so partition
pruning turns those scans into a handful of directories even at
100 TB. Dimensions stay unpartitioned single-directory tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_append(
    df: DataFrame, path: str, partition_by: tuple[str, ...] = ()
) -> None:
    """Append sink (reference S9: load job WRITE_APPEND with explicit
    schema — notebooks/update_gridVeg_survey_metadata.ipynb:995-1008).
    Dedup-before-append is the caller's job via
    operators.append.anti_join_append."""
    w = df.write.mode("append")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_overwrite(
    df: DataFrame, path: str, partition_by: tuple[str, ...] = ()
) -> None:
    """Truncate-replace sink (reference S12: WRITE_TRUNCATE —
    notebooks/update_plant_species_metadata.ipynb:1152-1166)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def backup_csv(spark: SparkSession, table_path: str, backup_path: str) -> int:
    """Pre-mutation table backup to CSV (reference S13:
    client.extract_table → gs://…/TIMESTAMP/*.csv,
    src/survey_metadata_update.py:202-221). Returns row count for the
    reconciliation log. Distributed write — one CSV part per
    partition, never collected to the driver."""
    df = spark.read.parquet(table_path)
    df.write.mode("overwrite").option("header", "true").csv(backup_path)
    return df.count()


def write_single_csv(df: DataFrame, path: str) -> None:
    """Single-file CSV sink for small wrangle outputs (reference S14:
    R ``write_csv`` of a few-thousand-row summary —
    notebooks/gridVeg_groundCover_intercepts_WRANGLE.ipynb:965-969).
    coalesce(1) is deliberate and only sane for small results."""
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)


def write_jsonl(df: DataFrame, path: str, partitions: int | None = None) -> None:
    """JSON-Lines sink (one JSON object per line, Spark's native json
    format). ``partitions`` controls output file count — coalesce for
    few-big-files handoff to tokenizer jobs, omit to keep the plan's
    parallelism. Dates/timestamps serialize as ISO strings, the
    round-trip-safe encoding (readers parse them back under an
    explicit schema)."""
    out = df.coalesce(partitions) if partitions else df
    out.write.mode("overwrite").json(path)


def write_orc(df: DataFrame, path: str, partitions: int | None = None) -> None:
    """ORC sink (Spark-native columnar alternative to parquet — same
    vectorized write path, stripe-level statistics for downstream
    skipping). ``partitions`` coalesces for file-count control, omit
    to keep the plan's parallelism."""
    out = df.coalesce(partitions) if partitions else df
    out.write.mode("overwrite").orc(path)


def file_stats(df: DataFrame) -> DataFrame:
    """Rows-per-input-file report via ``input_file_name()`` — the
    small-files audit that decides whether a table needs compaction.
    One narrow agg; no data movement beyond the per-file counts."""
    from pyspark.sql import functions as F

    return (
        df.select(F.input_file_name().alias("file"))
        .groupBy("file")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def swap_into_place(tmp: str, live: str, if_absent: bool = False) -> None:
    """Install a fully-written staging directory as the live table via
    two renames: live → live__old, tmp → live, then delete live__old.

    The path never holds a half-written table — at every instant it
    either resolves to the complete old data, the complete new data,
    or (for the instant between the two renames) nothing; a reader
    landing in that instant fails fast and retries rather than reading
    partial files. If the process dies mid-swap, both complete copies
    still exist on disk (live__old and/or tmp) for manual recovery.

    Delegates to the injected control-plane storage backend
    (``sources.storage``): the default is the POSIX two-rename
    implementation (atomic on local/HDFS-style filesystems); an
    object-store deployment injects a manifest-pointer-flip
    implementation instead of copy+delete."""
    from mpg_data_warehouse_spark.sources.storage import (
        get_storage_backend,
    )

    get_storage_backend().install_dir(tmp, live, if_absent=if_absent)


def compact_table(
    spark: SparkSession, path: str, target_files: int, tmp_suffix: str = "__compact"
) -> int:
    """Rewrite a parquet directory into ``target_files`` files
    (small-files compaction). Stages into a sibling temp dir, verifies
    the row count, then installs it with the two-rename swap
    (``swap_into_place``) — no window where the path holds a partially
    deleted or partially written table. Returns the row count.

    At warehouse scale this is the maintenance job that keeps scan
    task counts sane: 10⁶ kilobyte-files → scheduler death; compaction
    restores ``maxPartitionBytes``-sized splits. Partitioned tables
    should compact per partition (compose with
    ``overwrite_partitions``)."""
    from mpg_data_warehouse_spark.sources.storage import (
        get_storage_backend,
    )

    df = spark.read.parquet(path)
    n_before = df.count()
    tmp = path.rstrip("/") + tmp_suffix
    df.repartition(target_files).write.mode("overwrite").parquet(tmp)
    n_after = spark.read.parquet(tmp).count()
    if n_after != n_before:
        get_storage_backend().delete_prefix(tmp)
        raise RuntimeError(
            f"compaction row mismatch: {n_before} -> {n_after}; aborted"
        )
    swap_into_place(tmp, path)
    return n_after


def zorder_value(
    c1: "F.Column",
    lo1: float,
    hi1: float,
    c2: "F.Column",
    lo2: float,
    hi2: float,
    bits: int = 16,
) -> "F.Column":
    """Z-order (Morton) key of two numeric columns: each value is
    min-max normalized into ``bits`` bits against the supplied bounds,
    then the bits interleave — points close in BOTH dimensions get
    close z values. Pure bitwise column math (a static ``2·bits``-term
    expression, whole-stage-codegen'd); the bounds come from one
    cheap min/max aggregate so no global sort or window is needed.
    Heavily skewed columns normalize unevenly under min-max — for
    those, pre-bucket by rank or pick the dominant dimension for
    plain ``write_clustered``."""
    scale = (1 << bits) - 1

    def norm(c, lo, hi):
        span = (hi - lo) or 1.0
        return F.least(
            F.lit(scale),
            F.greatest(
                F.lit(0), ((c - F.lit(lo)) / F.lit(span) * scale).cast("long")
            ),
        )

    n1, n2 = norm(c1, lo1, hi1), norm(c2, lo2, hi2)
    z = F.lit(0).cast("long")
    for i in range(bits):
        b1 = F.shiftright(n1, i).bitwiseAND(F.lit(1))
        b2 = F.shiftright(n2, i).bitwiseAND(F.lit(1))
        z = z.bitwiseOR(F.shiftleft(b1, 2 * i)).bitwiseOR(
            F.shiftleft(b2, 2 * i + 1)
        )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    col1: str,
    col2: str,
    partitions: int,
    bits: int = 16,
) -> None:
    """Two-dimensional clustering write: range-partition + sort on the
    Z-order key of (``col1``, ``col2``), so each output file owns a
    compact REGION of the 2-D key space and carries tight parquet
    min/max footer stats on BOTH columns — a later scan filtering on
    either (or both) skips most files, where single-column clustering
    (``write_clustered``) only serves one dimension.

    Cost: one min/max aggregate pass (bounds for normalization) + the
    same repartitionByRange/sort as any clustering write. The z key is
    dropped before writing — it is layout, not data."""
    b = df.agg(
        F.min(col1).alias("lo1"),
        F.max(col1).alias("hi1"),
        F.min(col2).alias("lo2"),
        F.max(col2).alias("hi2"),
    ).collect()[0]
    z = zorder_value(
        F.col(col1).cast("double"),
        float(b.lo1),
        float(b.hi1),
        F.col(col2).cast("double"),
        float(b.lo2),
        float(b.hi2),
        bits,
    )
    (
        df.withColumn("_z", z)
        .repartitionByRange(partitions, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Hash-bucketed managed table (``bucketBy`` + ``saveAsTable``):
    rows are hash-distributed into ``n_buckets`` files per partition
    ON WRITE, and the bucketing spec is recorded in the catalog.

    This is the co-located-join primitive: two tables bucketed on the
    same key with the same bucket count join with ZERO Exchange on
    either side — the per-bucket files ARE the shuffle output,
    amortized across every future join/aggregation on that key. At
    100 TB this converts the repeated fact-fact shuffle (the single
    most expensive recurring operation in a warehouse) into a
    bucket-aligned merge, which is why the big facts (lineitem→orders
    here; point-intercepts→surveys in the reference's shape) should
    live bucketed at rest. ``sort_cols`` additionally sorts within
    buckets so the join skips its Sort too.

    Bucketing requires the catalog (``saveAsTable``) — a plain
    ``parquet(path)`` write cannot record the spec; pair with
    ``sources.catalog`` database helpers for placement."""
    writer = (
        df.write.format("parquet")
        .mode(mode)
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    partitions: int,
) -> None:
    """Range-clustered parquet write: ``repartitionByRange`` on the
    cluster columns + in-partition sort, so each output file owns a
    disjoint key range and carries tight parquet min/max footer stats.

    This is the plain-parquet analog of Z-ordering for a single sort
    dimension: a later scan with a predicate on the cluster column
    skips whole files/row-groups via footer stats instead of reading
    100 TB to filter it. The range partitioner samples the data to
    pick balanced split points, so skew in the cluster key yields
    balanced files (unlike hash-partitioning by a skewed key).
    Re-cluster periodically as data arrives — composes with
    ``compact_table``'s staged atomic-swap pattern."""
    (
        df.repartitionByRange(partitions, *cluster_cols)
        .sortWithinPartitions(*cluster_cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    key_col: str,
    rows_per_shard: int,
    fmt: str = "parquet",
    total_rows: int | None = None,
) -> None:
    """Export training data as size-bounded, DETERMINISTICALLY
    assigned shard files — the contract a downstream dataloader wants:
    re-running the export on the same data produces the same
    row→shard mapping (resumable/verifiable exports), and no shard
    materially exceeds ``rows_per_shard``.

    Shard id = content-hash bucket of ``key_col`` (the sampling
    family's md5 primitive — engine-replayable); one hash repartition
    on the shard id plus ``maxRecordsPerFile`` as the hard per-file
    ceiling (hash buckets are approximately, not exactly, uniform —
    Spark rolls a second file for an over-full bucket rather than
    failing the contract). Writes land partitioned by ``shard=N`` so a
    loader can list, split and resume by directory. ``fmt`` is any
    DataFrameWriter format ("parquet", "orc", "json" for JSONL
    shards).

    Sizing the shard grid needs the row count, but the input plan must
    only be computed ONCE — at 100 TB a pre-count is a full extra pass
    over the pipeline. Callers that know the cardinality (a table
    export, an upstream Observation) pass ``total_rows``; otherwise
    the input is persisted (memory, spilling to local disk), counted
    from the materialization, and the write re-reads that same
    materialization — one computation of the input plan either way.
    ``total_rows`` only sizes the grid: a stale estimate shifts shard
    COUNT, never the per-file ceiling (``maxRecordsPerFile`` holds),
    but changing it changes the row→shard mapping, so pass the same
    value when reproducing an export."""
    from pyspark import StorageLevel

    from mpg_data_warehouse_spark.operators.sampling import hash_bucket

    persisted = False
    if total_rows is None:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        persisted = True
        total_rows = df.count()
    try:
        n_shards = max(1, -(-total_rows // rows_per_shard))
        sharded = df.withColumn(
            "shard", hash_bucket(key_col, n_shards)
        ).repartition("shard")
        (
            sharded.write.mode("overwrite")
            .option("maxRecordsPerFile", rows_per_shard)
            .partitionBy("shard")
            .format(fmt)
            .save(path)
        )
    finally:
        if persisted:
            df.unpersist()


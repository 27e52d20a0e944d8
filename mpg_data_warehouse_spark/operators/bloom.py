"""Distributed blocked Bloom filter in pure column math.

The continual-ingest membership problem at 100 TB: "has this content
hash ever been seen?" The exact answer (anti-join against the full
key/signature table) scans corpus-sized state per batch. A Bloom
filter answers "definitely new" for most of the batch from a
megabyte-scale broadcast, and only the "maybe seen" remainder pays
the exact check — the classic two-tier membership design (Bloom,
CACM 1970 — public).

Spark exposes its internal bloom only as a runtime-filter rewrite
(``bloom_filter_agg`` is not a callable SQL routine in 4.x), so this
module builds one from first principles as a DATAFRAME — which turns
out to be the better shape anyway:

- The filter is a ``(block, bits)`` table: the m-bit space split into
  64-bit longs. Build = per key, k hashed bit positions → (block,
  mask) rows → ``bit_or`` aggregate per block. One shuffle of k
  fixed-width rows per key, map-side combined; no driver state, no
  UDFs, no single-point bitset.
- Probe = per key, the same k (block, mask) pairs, broadcast-joined
  against the filter blocks; the key is "maybe seen" iff every mask
  is fully set (``bool_and((bits & mask) == mask)``). An absent
  block means those bits are 0 — definitely new.
- At rest it is plain parquet + a JSON sidecar carrying (n_bits, k,
  seed), so the filter is self-describing (a probe against mismatched
  parameters would silently hash to wrong positions — the sidecar
  makes that impossible, the policy every persisted index follows).
- Sizing: FPR ≈ (1 − e^(−k·n/m))^k. The default m = 2²⁶ bits (8 MB
  as 2²⁰ block rows) holds ~4.7 M keys at 1% FPR with k = 7;
  at 100 TB scale pick m ≈ 10 bits/key — a 10 B-key corpus is a
  12.5 GB filter, still a fraction of re-scanning the key table per
  batch, and the probe join shuffles instead of broadcasting.

False negatives are IMPOSSIBLE (bit_or only sets bits), so
``definitely-new`` rows can skip the exact check safely — the
invariant the curation guards rely on.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mpg_data_warehouse_spark.sources.storage import (
    read_json,
    write_json_atomic,
)

META_FILE = "_bloom_meta.json"
DEFAULT_N_BITS = 1 << 26
DEFAULT_K = 7


def _positions(key: Column, n_bits: int, k: int, seed: int) -> Column:
    """Array of k bit positions in [0, n_bits) for one key — k
    independent xxhash64 draws, all JVM-side."""
    return F.array(
        *[
            F.pmod(
                F.xxhash64(key.cast("string"), F.lit(seed * 1000 + i)),
                F.lit(n_bits),
            )
            for i in range(k)
        ]
    )


def _block_masks(df: DataFrame, col: str, n_bits: int, k: int, seed: int):
    """(original columns…, block, mask) — one row per hash draw."""
    return (
        df.withColumn("_pos", F.explode(_positions(F.col(col), n_bits, k, seed)))
        .withColumn("_block", F.expr("_pos div 64"))
        # SQL shiftleft takes a column shift amount (the PySpark
        # wrapper only accepts a Python int)
        .withColumn("_mask", F.expr("shiftleft(1L, cast(_pos % 64 as int))"))
        .drop("_pos")
    )


def bloom_build(
    df: DataFrame,
    col: str,
    path: str | None = None,
    n_bits: int = DEFAULT_N_BITS,
    k: int = DEFAULT_K,
    seed: int = 0,
) -> DataFrame:
    """Build the (block, bits) filter table over ``df[col]``; write it
    (plus the parameter sidecar) to ``path`` when given. Returns the
    filter DataFrame either way."""
    if n_bits % 64 != 0:
        raise ValueError(f"n_bits must be a multiple of 64, got {n_bits}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    blocks = (
        _block_masks(df.select(col), col, n_bits, k, seed)
        .groupBy("_block")
        .agg(F.bit_or("_mask").alias("_bits"))
        .select(F.col("_block").alias("block"), F.col("_bits").alias("bits"))
    )
    if path is not None:
        blocks.write.mode("overwrite").parquet(path)
        write_json_atomic(
            os.path.join(path, META_FILE),
            {"n_bits": n_bits, "k": k, "seed": seed},
        )
        return df.sparkSession.read.parquet(path)
    return blocks


def bloom_read(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    """(filter table, params) from a persisted filter."""
    meta = read_json(os.path.join(path, META_FILE))
    return spark.read.parquet(path), meta


def bloom_maybe_seen(
    batch: DataFrame,
    col: str,
    bloom: DataFrame,
    n_bits: int = DEFAULT_N_BITS,
    k: int = DEFAULT_K,
    seed: int = 0,
    out_col: str = "maybe_seen",
    broadcast_filter: bool = True,
) -> DataFrame:
    """Append ``out_col``: True iff the filter MAY contain the key
    (false ⇒ definitely new — no false negatives). Probes the DISTINCT
    keys (k rows each) against the filter blocks and rejoins, so
    duplicate batch rows don't multiply probe work.

    ``broadcast_filter=False`` switches to a shuffled join for
    filters past the broadcast threshold (the ≥10 B-key regime)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    keys = batch.select(col).distinct()
    probe = _block_masks(keys, col, n_bits, k, seed)
    flt = F.broadcast(bloom) if broadcast_filter else bloom
    hit = (
        probe.join(flt, probe["_block"] == bloom["block"], "left")
        .withColumn(
            "_hit",
            F.coalesce(
                F.col("bits").bitwiseAND(F.col("_mask")) == F.col("_mask"),
                F.lit(False),
            ),
        )
        .groupBy(col)
        .agg(F.bool_and("_hit").alias(out_col))
        .withColumnRenamed(col, "_bloom_key")
    )
    # null-safe rejoin: a NULL key hashes fine (xxhash64 of the seed
    # alone) and must carry its verdict back — a bare name-join gave
    # it maybe_seen = NULL, silently dropping the row from BOTH tiers
    # of the two-tier membership composition
    return batch.join(
        hit, batch[col].eqNullSafe(hit["_bloom_key"]), "left"
    ).drop("_bloom_key")


_PARAM_KEYS = ("n_bits", "k", "seed")


def bloom_merge(
    a: DataFrame | str,
    b: DataFrame | str,
    spark: SparkSession | None = None,
    meta_a: dict | None = None,
    meta_b: dict | None = None,
) -> DataFrame:
    """Union two filters built with IDENTICAL parameters: bit_or of
    their blocks — how per-batch filters fold into the corpus filter
    without touching the corpus.

    Parameter safety: a merge of filters built with different
    (n_bits, k, seed) silently ORs incompatible bit layouts — every
    later probe answer is garbage with no error. So the parameters
    are VERIFIED whenever they are knowable: pass paths (each side's
    sidecar loads automatically — the recommended form) or the two
    sidecar dicts alongside in-memory frames; any mismatch raises.
    Two bare DataFrames with no metas merge unchecked (the
    same-session build case where both literally share one parameter
    set) — persisted filters always have sidecars, so prefer paths."""
    if isinstance(a, str):
        if spark is None:
            raise ValueError("bloom_merge: pass spark= when merging paths")
        a, meta_a = bloom_read(spark, a)
    if isinstance(b, str):
        if spark is None:
            raise ValueError("bloom_merge: pass spark= when merging paths")
        b, meta_b = bloom_read(spark, b)
    if meta_a is not None and meta_b is not None:
        mism = {
            k2: (meta_a.get(k2), meta_b.get(k2))
            for k2 in _PARAM_KEYS
            if meta_a.get(k2) != meta_b.get(k2)
        }
        if mism:
            raise ValueError(
                "bloom_merge: incompatible filter parameters — a merge "
                "would OR mismatched bit layouts and corrupt every "
                f"probe: {mism}"
            )
    elif (meta_a is None) != (meta_b is None):
        raise ValueError(
            "bloom_merge: one side has parameters and the other does "
            "not — pass both metas (or both paths) so compatibility "
            "can be verified"
        )
    return (
        a.unionByName(b)
        .groupBy("block")
        .agg(F.bit_or("bits").alias("bits"))
    )


def two_tier_new_rows(
    batch: DataFrame,
    corpus_keys: DataFrame,
    col: str,
    bloom: DataFrame,
    n_bits: int = DEFAULT_N_BITS,
    k: int = DEFAULT_K,
    seed: int = 0,
) -> DataFrame:
    """Exactly the rows of ``batch`` whose key is NOT in
    ``corpus_keys`` — the two-tier composition as one call: the bloom
    verdict splits the batch, the "definitely new" majority skips the
    exact check entirely (no false negatives), and only the
    maybe-seen suspects pay the anti-join against the corpus key
    table. Identical answer to the plain anti-join at a fraction of
    the corpus-side scan for low-duplication batches."""
    probed = bloom_maybe_seen(
        batch, col, bloom, n_bits=n_bits, k=k, seed=seed
    )
    definitely_new = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
    suspects = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
    confirmed_new = suspects.join(
        corpus_keys.select(col), col, "left_anti"
    )
    return definitely_new.unionByName(confirmed_new)

"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash, and n-gram Jaccard near-dup detection.

Scale design notes
------------------
* Exact dedup is a hash-groupBy: one shuffle on the content hash,
  map-side partial aggregation. Never a global sort.
* MinHash signatures are computed per-document in a single explode →
  groupBy pass (shuffle keyed by doc); LSH banding turns the O(n²)
  pair space into per-bucket micro-joins (shuffle keyed by band
  hash). Skewed buckets (a shingle-set shared by thousands of docs)
  are the classic hazard — AQE skew-join handles moderate skew, and
  ``max_bucket`` hard-caps pathological buckets exactly like
  production dedup pipelines drop degenerate bands.
* All hashes derive from md5 (not Spark's murmur3 ``hash()``) so
  every stage is reproducible in the DuckDB oracle and across
  engines/versions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mpg_data_warehouse_spark.operators.text import tokens


def content_hash(col: Column | str) -> Column:
    """Exact-content key: md5 of the raw text bytes."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(c.cast("binary"))


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup via hash-groupBy: one row per distinct content,
    keeping the minimum id as canonical and counting copies."""
    return (
        df.withColumn("content_hash", content_hash(text_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingles_from_tokens(toks: Column, n: int = 3, distinct: bool = True) -> Column:
    """Word n-gram shingles from an ALREADY-BOUND token-array column
    (order-preserving windows); ``distinct=True`` (set semantics) for
    dedup/Jaccard, ``distinct=False`` (all occurrences) for LM-style
    n-gram counting.

    ``toks`` must be a plain column reference, not a nested expression:
    higher-order-function lambdas re-evaluate captured expression trees
    per element, so an inline ``split()`` here runs the regex once per
    shingle per row (~16× slower measured at sf0.1). Callers project
    the token array first — see ``exploded_shingles``.
    """
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    grams = F.transform(
        idx,
        # try_element_at: NULL past the end (ANSI-safe for short docs);
        # concat_ws skips NULLs, so a 2-token doc yields its bigram.
        lambda i: F.concat_ws(
            " ", *[F.try_element_at(toks, (i + j + 1).cast("int")) for j in range(n)]
        ),
    )
    # Short docs (< n tokens) yield one partial shingle; keep it.
    return F.array_distinct(grams) if distinct else grams


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Single-expression shingle column. Convenient for small frames
    and tests; hot paths should two-step through a projected token
    array + ``shingles_from_tokens`` instead (see its docstring)."""
    return shingles_from_tokens(tokens(col), n)


def exploded_shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", shingle_n: int = 3
) -> DataFrame:
    """(id, shingle) rows — the shared input of signature generation
    and Jaccard verification. Callers that run both should cache it.

    Two-step projection: tokenize once into a bound column, then
    shingle — keeps the regex split out of the lambda re-evaluation."""
    toked = df.select(F.col(id_col), tokens(text_col).alias("_toks"))
    return toked.select(
        F.col(id_col),
        F.explode(shingles_from_tokens(F.col("_toks"), shingle_n)).alias("shingle"),
    )


MINHASH_MOD = 2147483647  # 2^31 − 1; keeps every product < 2^62 (exact int64)

# Pair-incident id sets at or below this many ids (two per candidate
# pair, pre-distinct) are broadcast into the verify-side semi-join;
# larger sets fall back to the unrestricted fold (same result). ~4 M
# longs ≈ 32 MB framed.
_VERIFY_RESTRICT_MAX_IDS = 4_000_000

# ... and the restriction only PAYS above this corpus size (r14,
# VERDICT r13 item 2): it spends a fixed few-job latency up front —
# candidate-frame checkpoint, a count action, the broadcast build and
# the semi-join stage — to save the per-doc shingle fold over the
# NON-pair-incident majority of the corpus. Under ~10^5 docs that
# whole fold is cheaper than the machinery (the r13 driver measured
# the unconditioned restriction at +25% on the sf0.1 minhash slot,
# 3.04 → 4.05 s), while at real corpus sizes the saved fold dominates
# by orders of magnitude. Below the threshold the restriction
# machinery is skipped OUTRIGHT (no checkpoint, no count), so the
# bench-scale plan is exactly the unrestricted r12 shape. Tests
# monkeypatch to 0 to exercise the restricted path.
_VERIFY_RESTRICT_MIN_DOCS = 100_000


def _minhash_seed_constants(num_hashes: int) -> list[tuple[int, int]]:
    """Per-seed (A_i, B_i) multipliers < MINHASH_MOD, derived from md5
    of a fixed tag — deterministic in Python (hashlib md5 == Spark/
    DuckDB md5 on ASCII), so oracles inline the SAME literals and the
    permutation family replays exactly. ``| 1`` keeps them nonzero."""
    import hashlib

    out = []
    for i in range(num_hashes):
        a = int(hashlib.md5(f"minhash-a-{i}".encode()).hexdigest()[:8], 16)
        b = int(hashlib.md5(f"minhash-b-{i}".encode()).hexdigest()[:8], 16)
        out.append(((a % MINHASH_MOD) | 1, (b % MINHASH_MOD) | 1))
    return out


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash signature per document via the one-hash permutation
    family: ONE md5 per shingle (split into two 32-bit halves hi/lo),
    then seed i's value is the cheap integer mix

        g_i = ((hi % M)·A_i + (lo % M)·B_i + i) mod M,  M = 2^31−1

    and sig_i = min(g_i) over the doc's shingles. Versus hashing every
    shingle ``num_hashes`` times, this cuts the dominant map-stage CPU
    of the whole dedup pipeline ~k× (md5 is the expensive part; the
    mix is three int64 ops, all < 2^62 so exact in both engines). The
    md5/hi/lo are projected as bound columns BEFORE the aggregation so
    the digest runs once per row, not once per agg expression.
    Signature columns are LongType named sig_0..sig_{k-1}."""
    shingled = (
        shingles
        if shingles is not None
        else exploded_shingles(df, id_col, text_col, shingle_n)
    )
    md5c = F.md5(F.col("shingle").cast("binary"))
    hashed = shingled.select(
        F.col(id_col),
        (F.conv(F.substring(md5c, 1, 8), 16, 10).cast("long") % MINHASH_MOD).alias("_hi"),
        (F.conv(F.substring(md5c, 9, 8), 16, 10).cast("long") % MINHASH_MOD).alias("_lo"),
    )
    aggs = [
        F.min(
            (F.col("_hi") * F.lit(a) + F.col("_lo") * F.lit(b) + F.lit(i))
            % F.lit(MINHASH_MOD)
        ).alias(f"sig_{i}")
        for i, (a, b) in enumerate(_minhash_seed_constants(num_hashes))
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def band_signatures(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Explode a signature table into banded bucket rows
    ``(id, *extra_cols, band, bucket)`` — one row per (doc, band),
    bucket = md5 of the band's signature slice. The single banding
    implementation shared by the batch (``lsh_candidate_pairs``) and
    incremental (``incremental_minhash_pairs``) paths so cap/bucket
    fixes can never drift between them.

    ``bands`` must divide ``num_hashes``: a remainder would silently
    ignore the trailing signature columns (recall quietly differs from
    the configured width), and ``bands > num_hashes`` degenerates to
    md5('') — one giant bucket that ``cap_buckets`` then drops
    WHOLESALE, turning dedup into a no-op with no error."""
    if bands < 1 or bands > num_hashes or num_hashes % bands:
        raise ValueError(
            f"bands={bands} must divide num_hashes={num_hashes} "
            "(and be in [1, num_hashes])"
        )
    rows = num_hashes // bands
    band_cols = []
    for b in range(bands):
        sig_slice = [F.col(f"sig_{b * rows + r}") for r in range(rows)]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("|", *sig_slice).cast("binary")).alias("bucket"),
            )
        )
    return signatures.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.explode(F.array(*band_cols)).alias("bb"),
    ).select(id_col, *extra_cols, "bb.band", "bb.bucket")


def lsh_dropped_buckets(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket: int = 1000,
    banded: DataFrame | None = None,
) -> DataFrame:
    """AUDIT for the cap: the (band, bucket, n_docs) groups that
    ``cap_buckets`` would drop at ``max_bucket`` — no silent
    truncation: a curation pipeline can log the dropped mass (and the
    doc counts say how many pairs were forgone: n·(n−1)/2 each).
    Degenerate buckets are almost always exact-duplicate classes, so
    the supported composition is exact-dedup FIRST (what
    ``retain_representatives``' callers do); this view tells an
    operator when a corpus violates that assumption.

    ``banded``: a pre-computed ``band_signatures`` frame — callers
    that already banded (the r13 band-once audit path in
    ``minhash_dedup_pairs``) pass it so the signature table is not
    re-banded per probe; ``signatures``/``num_hashes``/``bands`` are
    ignored when it is given."""
    b = (
        banded
        if banded is not None
        else band_signatures(signatures, id_col, num_hashes, bands)
    )
    return (
        b.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > max_bucket)
    )


def cap_buckets(banded: DataFrame, max_bucket: int) -> DataFrame:
    """Drop (band, bucket) groups larger than ``max_bucket`` —
    degenerate content: a bucket of B docs contributes B·(B-1)/2
    pairs; the cap bounds worst-case blowup. Implemented as a window
    count on the SAME key the downstream self-join uses: the window's
    exchange already partitions by (band, bucket), so the join adds no
    further shuffle — versus a separate aggregate + semi-join, which
    costs two extra exchanges."""
    from pyspark.sql import Window as _W

    return (
        banded.withColumn(
            "_n", F.count(F.lit(1)).over(_W.partitionBy("band", "bucket"))
        )
        .filter(F.col("_n") <= max_bucket)
        .drop("_n")
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket: int = 1000,
    banded: DataFrame | None = None,
) -> DataFrame:
    """Band the signatures and emit candidate pairs (a < b) sharing at
    least one band bucket, with degenerate buckets capped
    (``cap_buckets``). ``banded``: reuse a pre-computed
    ``band_signatures`` frame (see ``lsh_dropped_buckets``)."""
    small = cap_buckets(
        banded
        if banded is not None
        else band_signatures(signatures, id_col, num_hashes, bands),
        max_bucket,
    )
    a = small.select(F.col("band"), F.col("bucket"), F.col(id_col).alias("id_a"))
    b = small.select(F.col("band"), F.col("bucket"), F.col(id_col).alias("id_b"))
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs: |A∩B| / |A∪B|.

    Shape: one groupBy folds the (id, shingle) rows into a per-doc
    shingle ARRAY, then the candidate pairs make exactly two id-keyed
    joins against that table and the intersection is JVM-side
    ``array_intersect`` per pair. The previous shape joined the pairs
    through the EXPLODED table twice — the intermediate was
    |pairs| × |shingles-per-doc| shuffled rows plus a pair-keyed
    re-aggregation (5 joins + groupBy total); the array form moves the
    same bytes in |docs| rows, and per-pair set intersection is linear
    in the two arrays. Same output to the digit (rounding unchanged)."""
    sh = (
        shingles
        if shingles is not None
        else exploded_shingles(df, id_col, text_col, shingle_n)
    )
    # Shingles are distinct per doc (array_distinct upstream), so the
    # set size rides the same aggregation as the array. Lineage-cut:
    # both join sides consume this table, and the checkpoint makes the
    # fold run once instead of once per side.
    sets = sh.groupBy(id_col).agg(
        F.collect_set("shingle").alias("_shs"),
        F.count(F.lit(1)).alias("n_sh"),
    ).localCheckpoint(eager=False)
    a = sets.select(
        F.col(id_col).alias("id_a"),
        F.col("_shs").alias("_shs_a"),
        F.col("n_sh").alias("n_a"),
    )
    b = sets.select(
        F.col(id_col).alias("id_b"),
        F.col("_shs").alias("_shs_b"),
        F.col("n_sh").alias("n_b"),
    )
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "n_inter", F.size(F.array_intersect("_shs_a", "_shs_b"))
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                4,
            ),
        )
        .select("id_a", "id_b", "jaccard")
    )


def shared_shingle_pairs(
    shingles: DataFrame,
    id_col: str = "doc_id",
    max_df: int | None = None,
) -> DataFrame:
    """Candidate pairs (a < b) sharing at least one shingle — the
    inverted-index join behind exact n-gram-Jaccard dedup.

    ``max_df`` drops shingles appearing in more than that many
    documents before pairing ("stop shingles"): a shingle hitting B
    docs contributes B·(B-1)/2 pairs, so at 100 TB an undamped common
    phrase is quadratic blowup; dropping it only removes candidates
    whose similarity evidence is the least selective."""
    sh = shingles
    if max_df is not None:
        keep = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("n_df"))
            .filter(F.col("n_df") <= max_df)
            .select("shingle")
        )
        sh = sh.join(keep, "shingle", "left_semi")
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    return (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def _ngram_jaccard_pairs_complete(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    threshold: float,
) -> DataFrame:
    """Undamped complete-mode inverted-index pipeline over the corpus
    AS GIVEN (no exact-replica collapse). The shingle self-join's
    co-occurrence counts ARE the intersection sizes, so candidates and
    |A∩B| come out of a single join+groupBy (no candidate
    materialization, no distinct — 2 shuffles on the pair key).

    Output volume is quadratic in exact-duplicate multiplicity: a
    shingle present in B copies of one document contributes B·(B−1)/2
    pair rows PER SHINGLE before the groupBy. ``ngram_jaccard_pairs``
    therefore collapses exact replicas first by default and only calls
    this on the deduplicated corpus."""
    sh = exploded_shingles(df, id_col, text_col, shingle_n).cache()
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    return (
        inter.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b")),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    collapse_exact: bool = True,
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs: inverted-index self-join +
    exact Jaccard, thresholded. Unlike MinHash this has no banding
    recall loss — every pair with J ≥ threshold shares a shingle, so
    the candidate set is complete (when ``max_df`` is None).

    Default mode is **exact-dedup-first**: replicas with identical
    content hash collapse to one representative before shingling, the
    inverted-index pipeline runs only on distinct texts, and replica
    pairs are re-expanded arithmetically afterwards (identical texts
    have identical shingle sets, so every member pair inherits its
    representative pair's Jaccard exactly, and within-group pairs are
    Jaccard 1.0 — identical docs always share at least one shingle, so
    complete mode would emit them too). This removes the quadratic-in-
    multiplicity blowup of duplicate-saturated corpora: the shingle
    self-join sees each distinct text once, and expansion costs only
    the (inherent) output size. Measured: 34.4 s → linear on the
    10×-replicated sf1.0 corpus. Set ``collapse_exact=False`` for the
    raw corpus-as-given pipeline (identical output, only slower on
    replica-heavy inputs).

    ``max_df`` (damped mode) prunes candidate generation on shingles
    whose document frequency — counted over the corpus AS GIVEN, since
    that is the documented damping semantics — exceeds the cap, then
    verifies with full shingle sets so Jaccard stays exact. Damping is
    inherently replica-safe (a B-times-replicated shingle blows past
    any sane cap), so it keeps the original single-pass shape."""
    if max_df is not None:
        sh = exploded_shingles(df, id_col, text_col, shingle_n).cache()
        cands = shared_shingle_pairs(sh, id_col, max_df=max_df)
        verified = jaccard_pairs(
            df, cands, id_col, text_col, shingle_n, shingles=sh
        )
        return verified.filter(F.col("jaccard") >= threshold)
    if not collapse_exact:
        return _ngram_jaccard_pairs_complete(
            df, id_col, text_col, shingle_n, threshold
        )
    # Adaptive: one narrow pre-aggregate (text scan + md5, map-side
    # combined) decides whether the corpus has exact replicas at all.
    # Replica-free corpora — the common case for already-curated
    # inputs — skip the collapse machinery (window shuffle +
    # checkpoint + expansion joins) entirely; the check costs a
    # fraction of what it avoids, and replica-heavy corpora pay it
    # once before the collapse that saves them from quadratic output.
    # count_distinct skips nulls, so ANY null-text row routes to the
    # collapse path — intended: null text tokenizes like empty text
    # (one "" shingle), making null/empty docs identical-content
    # replicas of each other in BOTH modes; the collapse handles a
    # mass of them arithmetically instead of through the "" shingle's
    # quadratic self-join.
    stats = df.select(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(content_hash(text_col)).alias("d"),
    ).first()
    if stats.d == stats.n:
        return _ngram_jaccard_pairs_complete(
            df, id_col, text_col, shingle_n, threshold
        )
    from pyspark.sql import Window

    # ONE corpus shuffle builds both the representative set and the
    # member→rep map: rows shuffle by content hash once, the window
    # min tags every row with its group's canonical id, and the cache
    # feeds rep_docs plus all three member-map consumers without
    # recomputing the shuffle. Cache, NOT localCheckpoint, on purpose:
    # a checkpointed RDD hides size stats from AQE, which demotes the
    # small expansion-join sides from broadcast to sort-merge
    # (measured ~2x slower at sf0.1); the consumer fan-out here is
    # shallow and fixed, so the cached-lineage plan-tree blowup that
    # forced checkpoints in connected_components cannot occur. (The
    # static digest prints the cached subtree once per consumer —
    # cosmetic; see EXPLAINS.md note.)
    tagged = (
        df.select(
            F.col(id_col),
            F.col(text_col),
            content_hash(text_col).alias("_ch"),
        )
        .withColumn(
            # null hashes group together BY DESIGN: null text shingles
            # exactly like empty text, so null/empty docs are mutual
            # exact replicas and the group form emits their pairs
            # without the quadratic "" -shingle self-join
            "_rep", F.min(id_col).over(Window.partitionBy("_ch"))
        )
        .cache()
    )
    rep_docs = tagged.filter(F.col(id_col) == F.col("_rep")).select(
        F.col(id_col), F.col(text_col)
    )
    members = tagged.select(F.col(id_col), "_rep")
    rep_pairs = _ngram_jaccard_pairs_complete(
        rep_docs, id_col, text_col, shingle_n, threshold
    )
    # Cross-group expansion: every member pair inherits its rep pair's
    # Jaccard. The join is keyed on the rep id (never the shingle
    # index); member ids from different groups can interleave, so
    # re-normalize the (id_a < id_b) orientation.
    cross = (
        rep_pairs.join(
            members.select(
                F.col("_rep").alias("id_a"), F.col(id_col).alias("_ma")
            ),
            "id_a",
        )
        .join(
            members.select(
                F.col("_rep").alias("id_b"), F.col(id_col).alias("_mb")
            ),
            "id_b",
        )
        .select(
            F.least("_ma", "_mb").alias("id_a"),
            F.greatest("_ma", "_mb").alias("id_b"),
            "jaccard",
        )
    )
    if threshold > 1.0:
        return cross
    # Within-group pairs: identical texts, Jaccard exactly 1.0. Keyed
    # self-join on the group id — B·(B−1)/2 rows per B-replica group,
    # which is the output size itself, not a per-shingle blowup.
    m1 = members.select("_rep", F.col(id_col).alias("id_a"))
    m2 = members.select("_rep", F.col(id_col).alias("id_b"))
    within = (
        m1.join(m2, "_rep")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(1.0).alias("jaccard"))
    )
    return cross.unionByName(within)


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_bucket: int = 1000,
    audit_cap_invariant: bool = False,
    restrict_verify: bool = False,
) -> DataFrame:
    """Full MinHash→LSH→verify near-dup pipeline: candidate pairs from
    banding, exact Jaccard verification, thresholded output.

    The exploded shingle table feeds both the signature pass and the
    Jaccard verify — cached so the expensive tokenize+shingle map
    runs once (at 100 TB this is a checkpoint-to-parquet instead).

    ``audit_cap_invariant=True`` (r12) additionally runs the
    ``lsh_dropped_buckets`` audit and CHECKS it against the production
    cap, eagerly: the audit's total dropped doc-rows (a groupBy over
    the banded frame) must equal the row count ``cap_buckets``'s
    window filter actually removes. The two mechanisms share only the
    banding, so a drift in either (cap threshold, audit predicate,
    band key) raises here instead of silently under- or over-reporting
    the forgone pair mass — the transparency half of the r11 cap
    replay, priced under the caller's oracle hash.

    ``restrict_verify=True`` (r13) narrows the Jaccard verify's
    per-doc shingle-set fold to PAIR-INCIDENT docs via a broadcast
    semi-join (implied by ``audit_cap_invariant``, whose fused probe
    already knows the candidate count). OPT-IN because it runs
    driver actions and a lineage cut over the candidate plan inside
    this builder: a caller whose input lineage carries Spark
    ``Observation`` nodes (the curation pipeline's funnel) must keep
    the default — an intermediate action would consume the observed
    metrics before the caller's own action fires (pinned by
    tests/test_pipelines.py::test_curate_corpus_pipeline_funnel_observations,
    which broke on the first cut of this trim).

    Cache lifecycle: the returned DataFrame is lazy, so the cache
    cannot be dropped here without recomputing on the caller's action.
    One-shot jobs release it at session end; a LONG-LIVED application
    calling this per corpus slice should ``spark.catalog.clearCache()``
    between slices (the bench harness does exactly that between reps),
    or cached shingle tables accumulate for the app's lifetime."""
    sh = exploded_shingles(df, id_col, text_col, shingle_n).cache()
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n, shingles=sh)
    banded = None
    if audit_cap_invariant:
        # band ONCE (r13): the banded frame feeds all three probe
        # quantities AND the downstream candidate join. The r12 cut
        # banded three times (probe, audit, candidates) — the
        # posexplode/projection repeated over the persisted signature
        # table, ~2 pointless extra passes priced into every audited
        # run. Persisting the BANDED frame instead makes each consumer
        # a scan of the same materialization; the emitted candidate
        # pairs (and so the caller's oracle hash) are unchanged by
        # construction.
        banded = band_signatures(sigs, id_col, num_hashes, bands).persist()
    cands = lsh_candidate_pairs(
        sigs, id_col, num_hashes, bands, max_bucket, banded=banded
    )
    n_docs = None
    if audit_cap_invariant:
        # all three probe quantities ride ONE action (a tagged union of
        # one-row aggregates): per-action scheduling overhead dominated
        # the first cut of this invariant (~0.9 s of three driver
        # actions over KB-sized frames at sf0.1). The "all" leg doubles
        # as the corpus-size input to the verify-restriction gate below
        # (banded is one row per (doc, band), so docs = all / bands).
        probe = (
            banded.agg(F.count(F.lit(1)).alias("v"))
            .withColumn("k", F.lit("all"))
            .unionByName(
                cap_buckets(banded, max_bucket)
                .agg(F.count(F.lit(1)).alias("v"))
                .withColumn("k", F.lit("kept"))
            )
            .unionByName(
                lsh_dropped_buckets(
                    sigs, id_col, num_hashes, bands, max_bucket, banded=banded
                )
                .agg(F.coalesce(F.sum("n_docs"), F.lit(0)).alias("v"))
                .withColumn("k", F.lit("mass"))
            )
        )
        vals = {r["k"]: r["v"] for r in probe.collect()}
        if vals["all"] - vals["kept"] != vals["mass"]:
            raise AssertionError(
                f"lsh_dropped_buckets audit reports {vals['mass']} "
                "dropped doc-rows but cap_buckets removed "
                f"{vals['all'] - vals['kept']} (max_bucket="
                f"{max_bucket}) — cap and audit drifted"
            )
        n_docs = vals["all"] // bands
    elif restrict_verify:
        # one bounded count decides profitability; the contract caller
        # passes a localCheckpointed frame, so this doubles as its
        # materializer rather than re-running upstream lineage
        n_docs = df.select(id_col).count()
    # Restrict the Jaccard verify to PAIR-INCIDENT docs (r13, guide
    # §2.3): the per-doc shingle-set fold inside ``jaccard_pairs``
    # otherwise shuffles and collect_sets the WHOLE corpus, while the
    # verify joins only ever probe ids that appear in a candidate
    # pair — a small fraction of any real corpus (at 100 TB the gap is
    # orders of magnitude). Gated TWICE (r14): on corpus size — below
    # ``_VERIFY_RESTRICT_MIN_DOCS`` the machinery (checkpoint + count
    # + broadcast + semi-join) costs more than the whole fold it
    # trims, so small corpora skip it outright and keep the exact r12
    # plan — and on broadcast safety: a shuffle semi-join of the
    # shingle table would cost exactly the shuffle this trim removes,
    # so oversized pair-id sets keep the full fold (correct either
    # way, just slower). When the gate passes, the candidate frame is
    # checkpointed (its self-join was going to run anyway inside the
    # verify join tree; materializing lets the id set reuse it).
    sh_verify = sh
    if n_docs is not None and n_docs >= _VERIFY_RESTRICT_MIN_DOCS:
        cands = cands.localCheckpoint(eager=False)
        n_cands = cands.count()
        if 0 < n_cands * 2 <= _VERIFY_RESTRICT_MAX_IDS:
            pair_ids = (
                cands.select(
                    F.explode(F.array("id_a", "id_b")).alias(id_col)
                ).distinct()
            )
            sh_verify = sh.join(F.broadcast(pair_ids), id_col, "left_semi")
    verified = jaccard_pairs(
        df, cands, id_col, text_col, shingle_n, shingles=sh_verify
    )
    return verified.filter(F.col("jaccard") >= threshold)


def _edge_list(pairs: DataFrame) -> DataFrame:
    """Symmetric distinct edge list (src, dst) from a pair frame,
    lineage-cut — the shared input of both CC paths."""
    return (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(
                F.col("id_b").alias("src"), F.col("id_a").alias("dst")
            )
        )
        .distinct()
        .localCheckpoint(eager=False)
    )


def _collect_small_edges(
    edges: DataFrame, small_graph_edges: int
) -> list | None:
    """ONE bounded action deciding strategy AND fetching the graph:
    collect up to ``small_graph_edges + 1`` edge rows; return them when
    the whole graph fit, else None (caller takes the distributed
    path). The r12 cut spent two driver actions here — a ``count`` to
    choose the strategy, then a ``collect`` of the same checkpoint —
    and at bench scale each tiny action is pure scheduling latency
    (guide §5: the driver path is per-job overhead, not data)."""
    if not small_graph_edges:
        return None
    head = edges.limit(small_graph_edges + 1).collect()
    return head if len(head) <= small_graph_edges else None


def _union_find(edge_rows) -> tuple[dict, object]:
    """Driver-side union-find with path compression over collected
    edge rows; roots are unioned toward the smaller id so every root
    IS its component's min. Returns (parent, find)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:
            parent[x], x = r, parent[x]
        return r

    for row in edge_rows:
        ra, rb = find(row.src), find(row.dst)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
            parent.setdefault(lo, lo)
    return parent, find


def _cc_label_iteration(edges: DataFrame, max_iter: int) -> DataFrame:
    """Distributed min-label propagation over a MATERIALIZED edge
    checkpoint: the (node, component) labels of every edge-incident
    node at fixpoint. Shared by ``connected_components`` and
    ``retain_representatives``' distributed fallback."""
    labels = (
        edges.select("src")
        .distinct()
        .select(
            F.col("src").alias("node"), F.col("src").alias("component")
        )
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(
                labels.select(
                    F.col("node").alias("dst"),
                    F.col("component").alias("n_comp"),
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("n_comp").alias("n_min"))
        )
        updated = (
            labels.join(
                neighbor_min, labels.node == neighbor_min.src, "left"
            )
            .select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("n_min"), F.col("component")),
                ).alias("component"),
                (F.col("n_min") < F.col("component")).alias("_changed"),
            )
        ).localCheckpoint(eager=False)
        # The convergence count doubles as the checkpoint
        # materializer: one job per round, no second pass.
        n_changed = updated.filter(F.col("_changed")).count()
        labels = updated.drop("_changed")
        if n_changed == 0:
            break
    else:
        # labels move one hop per round: exhausting max_iter with
        # changes pending means some chain is longer than the
        # budget and its component is SPLIT — returning silently
        # would let retain_representatives keep several members
        # of one dup family. Fail loudly; the caller raises
        # max_iter (diameter bound), never trusts a split result.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"rounds ({n_changed} labels still moving) — the pair "
            "graph has a chain longer than max_iter; raise max_iter"
        )
    return labels


def connected_components(
    pairs: DataFrame,
    ids: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 25,
    small_graph_edges: int = 1_000_000,
) -> DataFrame:
    """Connected components over a near-dup pair graph by iterative
    min-label propagation: every node repeatedly adopts the smallest
    label among itself and its neighbors until fixpoint. Converges in
    O(graph diameter) rounds — near-dup clusters are shallow (dup
    families, not long chains), so a handful of keyed-join rounds.

    Output: (id, component) where component = min id in the cluster;
    every id in ``ids`` appears (isolated nodes label themselves).

    The iteration runs ONLY over edge-incident nodes: isolated nodes
    can never change label, so dragging the whole corpus through every
    round is pure waste — at 100 TB the corpus is billions of docs but
    the dup-pair graph is orders of magnitude smaller, and per-round
    cost should scale with the latter. Isolated nodes are joined back
    once at the end.

    Adaptive strategy (the AQE spirit, applied to an iterative
    algorithm): ONE bounded collect (``_collect_small_edges``) both
    decides the strategy and fetches the graph — when it fits
    comfortably on the driver (``small_graph_edges``, ~tens of MB) a
    union-find over the collected edges replaces the join rounds
    entirely. Each distributed round costs a fixed multi-job overhead
    regardless of data size; for the common case of a small
    verified-pair set that overhead IS the runtime. Set
    ``small_graph_edges=0`` to force the distributed path.

    Lineage discipline (distributed path): iterative algorithms must
    TRUNCATE lineage, not just cache — a cached plan still carries its
    full upstream tree, so feeding (say) a MinHash banding pipeline in
    as ``pairs`` restacked the whole shingle→band→verify lineage once
    per round and the analyzed plan grew to thousands of exchanges
    (the optimizer/driver, not the data, became the bottleneck). The
    edge list and every round's labels are therefore
    ``localCheckpoint``ed (lineage-cutting); each round's plan is one
    join + one agg over two checkpointed tables, O(1) in round count.
    On a real cluster set a reliable
    ``spark.sparkContext.setCheckpointDir`` and swap for
    ``checkpoint()`` to survive executor loss.
    """
    from pyspark.sql.types import StructField, StructType

    edges = _edge_list(pairs)
    small_rows = _collect_small_edges(edges, small_graph_edges)

    spark = ids.sparkSession
    id_type = ids.schema[id_col].dataType
    all_ids = ids.select(F.col(id_col).alias("node"))

    if small_rows is not None and not small_rows:
        return all_ids.select(
            F.col("node").alias(id_col), F.col("node").alias("component")
        )

    if small_rows is not None:
        parent, find = _union_find(small_rows)
        rows = [(n, find(n)) for n in parent]
        labels = spark.createDataFrame(
            rows,
            StructType(
                [
                    StructField("node", id_type),
                    StructField("component", id_type),
                ]
            ),
        )
    else:
        # Materializes the edge checkpoint before iterating (the
        # bounded probe above may have computed only a prefix).
        if edges.count() == 0:
            return all_ids.select(
                F.col("node").alias(id_col),
                F.col("node").alias("component"),
            )
        labels = _cc_label_iteration(edges, max_iter)

    # Isolated nodes never entered the iteration; they label
    # themselves. One broadcast-friendly join at the end, not a
    # corpus-wide pass per round.
    return (
        all_ids.join(labels, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce(F.col("component"), F.col("node")).alias("component"),
        )
    )


def retain_representatives(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 25,
    small_graph_edges: int = 1_000_000,
) -> DataFrame:
    """Near-dup retention: collapse every near-dup cluster to its
    smallest id (the standard keep-one policy after pair generation).
    Returns the surviving rows of ``df``.

    Small-graph fast path (r13): retention only needs the NON-ROOT
    node set — a node survives iff it is its own component min — so
    when the edge list fits on the driver, the union-find's non-roots
    become one broadcast anti-join against ``df``: a single corpus
    pass, versus routing through ``connected_components``' label
    table (parallelize + corpus left-join + filter + semi-join — four
    jobs of pure scheduling latency at bench scale, an O(dup-set)
    broadcast at 100 TB either way). Identical survivors by
    construction: anti(non-roots) == semi(roots ∪ isolated); pinned
    against the distributed path by
    ``test_retain_fast_path_matches_distributed``."""
    edges = _edge_list(pairs)
    small_rows = _collect_small_edges(edges, small_graph_edges)
    if small_rows is not None:
        if not small_rows:
            return df
        parent, find = _union_find(small_rows)
        removed = [n for n in parent if find(n) != n]
        if not removed:
            return df
        from pyspark.sql.types import StructField, StructType

        rem = df.sparkSession.createDataFrame(
            [(n,) for n in removed],
            StructType([StructField(id_col, df.schema[id_col].dataType)]),
        )
        return df.join(F.broadcast(rem), id_col, "left_anti")
    # Distributed fallback over the SAME edge checkpoint (the bounded
    # probe already paid for it): non-roots of the label fixpoint are
    # the removed set; isolated nodes never enter ``labels`` and
    # survive the anti-join implicitly.
    if edges.count() == 0:
        return df
    labels = _cc_label_iteration(edges, max_iter)
    removed_df = labels.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(removed_df, id_col, "left_anti")


def simhash_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 2,
) -> DataFrame:
    """64-bit SimHash per document over word shingles.

    Bit b of the fingerprint is 1 iff the count of shingles whose
    md5-derived 64-bit hash has bit b set exceeds half the shingle
    count (majority vote). Implemented as explode → one groupBy with
    64 conditional-sum aggregates: shuffles once on the doc id with
    map-side partial aggregation — the shape that scales, versus a
    per-row 64-wide fold expression that explodes codegen.
    """
    sh = exploded_shingles(df, id_col, text_col, shingle_n)
    # 64-bit hash from two 32-bit md5 halves (a single 16-hex-char
    # conv overflows BIGINT under ANSI for values ≥ 2^63).
    md5c = F.md5(F.col("shingle").cast("binary"))
    hi = F.conv(F.substring(md5c, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(md5c, 9, 8), 16, 10).cast("long")
    h = F.shiftleft(hi, 32).bitwiseOR(lo)
    hashed = sh.select(F.col(id_col), h.alias("h"))
    votes = hashed.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_sh"),
        *[
            F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))).alias(f"v{b}")
            for b in range(64)
        ],
    )
    fp = F.lit(0).cast("long")
    for b in range(64):
        bit = (F.col(f"v{b}") * 2 > F.col("n_sh")).cast("long")
        fp = fp.bitwiseOR(F.shiftleft(bit, b))
    return votes.select(F.col(id_col), fp.alias("fp"))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ k, blocked on
    fingerprint chunks (pigeonhole: distance ≤ k ⇒ at least one of
    k+1 chunks identical) so the join is keyed, never O(n²). The
    chunk count SCALES with ``max_hamming`` — a fixed 4-chunk split
    silently dropped true pairs for k > 3 (their differing bits can
    land in 4 distinct chunks); the default k=3 keeps the original
    4 × 16-bit layout bit-for-bit."""
    if not 0 <= max_hamming <= 31:
        # k+1 chunks over 64 bits needs width ≥ 2 to stay selective
        raise ValueError(f"max_hamming={max_hamming} not in [0, 31]")
    nc = max_hamming + 1
    width = 64 // nc

    def _ckey(i: int):
        # k=0 gives one 64-bit chunk: (1 << 64) - 1 overflows the java
        # long literal (same class as the pHash block-mask fix in
        # multimodal.py) — the full fingerprint IS the chunk key
        if width >= 64:
            return F.col("fp")
        return F.shiftrightunsigned(F.col("fp"), i * width).bitwiseAND(
            F.lit((1 << width) - 1)
        )

    fp = simhash_fingerprints(df, id_col, text_col)
    # Persist the chunk frame (r13, guide §2.4): both sides of the
    # blocked self-join below derive from it, and WITHOUT a
    # materialization the whole upstream pipeline — scan, shingle
    # explode, the 64-conditional-sum fingerprint aggregate — plans
    # TWICE (the build side broadcasts a structurally different
    # subtree, so no ReusedExchange applies). The frame is tiny
    # (k+1 rows per doc, four narrow columns — fixed-width, no text),
    # so caching it halves the expensive fingerprint work for the
    # cost of O(docs) spill-able storage at any scale.
    chunks = (
        fp.select(
            id_col,
            "fp",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("chunk"), _ckey(i).alias("ckey")
                        )
                        for i in range(nc)
                    ]
                )
            ).alias("c"),
        )
        .select(id_col, "fp", "c.chunk", "c.ckey")
        .persist()
    )
    a = chunks.select(
        F.col(id_col).alias("id_a"), F.col("fp").alias("fp_a"), "chunk", "ckey"
    )
    b = chunks.select(
        F.col(id_col).alias("id_b"), F.col("fp").alias("fp_b"), "chunk", "ckey"
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    # Hamming filter BEFORE the distinct: the filter is a cheap narrow
    # op on the joined rows, so the dedup exchange only carries pairs
    # that already passed (multi-chunk collisions are the common case
    # for true near-dups — exactly the rows worth deduplicating).
    return (
        a.join(b, ["chunk", "ckey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def contamination_report(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    min_overlap: float = 0.0,
) -> DataFrame:
    """Train/eval contamination scan: for every (eval doc, corpus doc)
    pair sharing at least one word n-gram, the fraction of the eval
    doc's distinct shingles present in the corpus doc —
    ``overlap = |eval ∩ corpus| / |eval|`` (containment, not Jaccard:
    a benchmark question embedded in a long web page must still score
    1.0).

    Output: (eval_id, corpus_id, n_shared, n_eval_shingles, overlap),
    filtered to ``overlap > min_overlap``.

    Scale shape: shingle-explode both sides (narrow), inner join keyed
    on shingle — the eval side is small (benchmarks are thousands of
    docs, not billions), so its shingle table broadcasts and the scan
    of the 100 TB corpus never shuffles; the per-pair count agg is on
    (eval_id, corpus_id) pairs that actually share content. The
    decision-side complement of ``split_train_holdout``
    (operators/sampling.py): that op prevents leakage by
    construction, this one detects leakage that arrived from outside.
    """
    ev = exploded_shingles(eval_set, id_col, text_col, shingle_n)
    ev_sizes = ev.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_eval_shingles"))
    ev_b = F.broadcast(ev.select(F.col(id_col).alias("eval_id"), "shingle"))
    co = exploded_shingles(corpus, id_col, text_col, shingle_n).select(
        F.col(id_col).alias("corpus_id"), "shingle"
    )
    shared = (
        co.join(ev_b, "shingle")
        .groupBy("eval_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.join(
            F.broadcast(
                ev_sizes.select(
                    F.col(id_col).alias("eval_id"),
                    "n_eval_shingles",
                )
            ),
            "eval_id",
        )
        .withColumn(
            "overlap",
            F.round(F.col("n_shared") / F.col("n_eval_shingles"), 4),
        )
        .filter(F.col("overlap") > min_overlap)
    )


def incremental_minhash_pairs(
    corpus_sigs: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int = 1000,
) -> tuple[DataFrame, DataFrame]:
    """Continual-ingest dedup: candidate near-dup pairs for a NEW
    batch against an already-signed corpus WITHOUT re-reading the
    corpus text — the signature table (``minhash_signatures`` output,
    persisted at ingest time) is the only corpus state touched.

    Returns ``(new_sigs, pairs)``:
    * ``new_sigs`` — the batch's signatures, for the caller to append
      to the signature table (keeping the incremental invariant);
    * ``pairs`` — (id_a, id_b) candidates where at least one side is
      new. New-vs-new duplicates are included; corpus-vs-corpus pairs
      are excluded by construction (they were reported when those
      docs were ingested).

    Scale shape: the corpus contributes |corpus| band rows
    (signature-width data, ~100 B/doc — NOT the 100 TB of text); the
    batch side is small. The band join is keyed (band, bucket) like
    the batch path, with the same degenerate-bucket cap. This is what
    makes daily dedup of a growing corpus O(|corpus| signatures +
    |batch| text) instead of O(|corpus| text).
    """
    new_sigs = minhash_signatures(
        new_docs, id_col, text_col, num_hashes, shingle_n
    )
    tag = "_is_new"
    both = corpus_sigs.withColumn(tag, F.lit(False)).unionByName(
        new_sigs.withColumn(tag, F.lit(True))
    )
    small = cap_buckets(
        band_signatures(both, id_col, num_hashes, bands, extra_cols=(tag,)),
        max_bucket,
    )
    a = small.select("band", "bucket", F.col(id_col).alias("id_a"),
                     F.col(tag).alias("_new_a"))
    b = small.select("band", "bucket", F.col(id_col).alias("id_b"),
                     F.col(tag).alias("_new_b"))
    pairs = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.col("_new_a") | F.col("_new_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return new_sigs, pairs


# ---------------------------------------------------------------------------
# Passage-level (sub-document) dedup: exact duplicate SPANS across the
# corpus, the window-granular form of exact-substring dedup (Lee et
# al. 2021, "Deduplicating Training Data Makes Language Models
# Better", arXiv:2107.06499 — public). Doc-level dedup misses the
# license header pasted into a million otherwise-distinct files;
# span-level dedup is what removes it.
# ---------------------------------------------------------------------------


def _span_windows(toks: Column, span_tokens: int, stride: int) -> Column:
    """Token windows of ``span_tokens`` starting every ``stride``
    tokens, as an array of space-joined span strings. The final
    (possibly short) tail window is included so every token is covered
    when ``stride == span_tokens``. ``toks`` must be a bound column
    (see ``shingles_from_tokens`` for why)."""
    n_starts = F.greatest(
        F.ceil((F.size(toks) - F.lit(span_tokens)) / F.lit(stride)) + 1,
        F.lit(1),
    ).cast("int")
    idx = F.sequence(F.lit(0), n_starts - 1)
    return F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", F.slice(toks, i * stride + 1, span_tokens)
        ),
    )


def doc_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 50,
    stride: int = 50,
) -> DataFrame:
    """(id, span_idx, span_hash) rows: md5 of each token window.
    Narrow map + posexplode — no shuffle; the hash (not the text)
    is what travels into the corpus-wide aggregation, so shuffle
    bytes per span are fixed at ~32 B regardless of span length."""
    toked = df.select(F.col(id_col), tokens(text_col).alias("_toks"))
    return toked.select(
        F.col(id_col),
        F.posexplode(
            _span_windows(F.col("_toks"), span_tokens, stride)
        ).alias("span_idx", "_span"),
    ).select(
        F.col(id_col),
        "span_idx",
        F.md5(F.col("_span").cast("binary")).alias("span_hash"),
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 50,
    stride: int = 50,
    min_occurrences: int = 2,
) -> DataFrame:
    """Every span occurrence whose exact token window appears at least
    ``min_occurrences`` times corpus-wide (across OR within docs —
    in-doc repetition of a 50-token block is as much training-data
    rot as the cross-doc kind).

    Output: (id, span_idx, span_hash, n_occurrences).

    Scale shape: one hash-keyed aggregate over ~32 B span hashes
    (map-side combine collapses the hot boilerplate head), then a
    keyed semi-join-style re-join of the span table against the
    over-threshold hashes. Never touches span text after the map
    stage. ``stride < span_tokens`` raises detection overlap
    (substrings crossing window boundaries) at proportional cost."""
    spans = doc_spans(df, id_col, text_col, span_tokens, stride)
    counts = (
        spans.groupBy("span_hash")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= min_occurrences)
    )
    return spans.join(counts, "span_hash").select(
        id_col, "span_idx", "span_hash", "n_occurrences"
    )


def span_duplication_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 50,
    stride: int = 50,
    min_occurrences: int = 2,
) -> DataFrame:
    """Per-doc duplication profile: (id, n_spans, n_dup_spans,
    dup_span_frac). The curation signal form of ``duplicate_spans`` —
    rank/filter docs by how much of them is corpus-duplicated text
    without materializing per-span rows downstream."""
    spans = doc_spans(df, id_col, text_col, span_tokens, stride)
    counts = spans.groupBy("span_hash").agg(
        F.count(F.lit(1)).alias("_n_occ")
    )
    return (
        spans.join(counts, "span_hash")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(
                (F.col("_n_occ") >= min_occurrences).cast("long")
            ).alias("n_dup_spans"),
        )
        .withColumn(
            "dup_span_frac",
            F.round(F.col("n_dup_spans") / F.col("n_spans"), 4),
        )
    )


def strip_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 50,
    min_occurrences: int = 2,
    keep_first: bool = False,
) -> DataFrame:
    """Rewrite each document with its corpus-duplicated spans REMOVED
    (Lee et al.'s ExactSubstr deletion, at non-overlapping window
    granularity). Windows tile the token stream (stride ==
    span_tokens, so removal is unambiguous); surviving windows rejoin
    with single spaces. ``keep_first=True`` spares the occurrence
    with the smallest (id, span_idx) so one copy of shared content
    survives corpus-wide instead of none.

    Output: (id, text) with the same column names as the input.

    Scale shape: the span table (narrow, hashes) aggregates once;
    flagged (id, span_idx) pairs groupBy back to per-doc index arrays
    (dup spans per doc — small); the rewrite is a map-side
    array-filter over the SAME deterministic window grid the hashes
    came from, so text bytes shuffle only on the doc-keyed flag join."""
    spans = doc_spans(df, id_col, text_col, span_tokens, span_tokens)
    counts = spans.groupBy("span_hash").agg(
        F.count(F.lit(1)).alias("_n_occ"),
        F.min(
            F.struct(F.col(id_col).alias("_i"), F.col("span_idx").alias("_s"))
        ).alias("_first"),
    )
    flagged = spans.join(
        counts.filter(F.col("_n_occ") >= min_occurrences), "span_hash"
    )
    if keep_first:
        flagged = flagged.filter(
            ~(
                (F.col(id_col) == F.col("_first._i"))
                & (F.col("span_idx") == F.col("_first._s"))
            )
        )
    bad_per_doc = flagged.groupBy(id_col).agg(
        F.collect_set("span_idx").alias("_bad")
    )
    toked = df.select(F.col(id_col), tokens(text_col).alias("_toks"))
    windows = _span_windows(F.col("_toks"), span_tokens, span_tokens)
    return (
        toked.join(bad_per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.concat_ws(
                " ",
                F.filter(
                    windows,
                    lambda w, i: ~F.coalesce(
                        F.array_contains(
                            F.col("_bad"), i.cast("int")
                        ),
                        F.lit(False),
                    ),
                ),
            ).alias(text_col),
        )
    )


def decontaminate(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 13,
    keep_report: bool = False,
) -> DataFrame:
    """Remove from ``corpus`` every document sharing ANY word
    ``shingle_n``-gram with the eval set — the train-side action form
    of ``contamination_report`` (the GPT-3 appendix-C recipe, Brown et
    al. 2020 arXiv:2005.14165, used 13-grams; later pipelines kept the
    shape). ``contamination_report`` tells you who leaked; this drops
    them before training.

    Output: the surviving corpus rows (all columns). With
    ``keep_report=True``, instead returns the DROPPED ids as
    ``(id, n_matched_shingles)`` for audit — run it first, log it,
    then drop.

    Scale shape: the eval side's distinct shingles broadcast
    (benchmarks are thousands of docs); the corpus shingle-explodes
    map-side and joins against the broadcast — the 100 TB corpus never
    shuffles its text. Flagged ids collapse via hash-agg; the final
    pass is an id-keyed anti-join (flagged set is small — broadcast
    again)."""
    ev = F.broadcast(
        exploded_shingles(eval_set, id_col, text_col, shingle_n)
        .select("shingle")
        .distinct()
    )
    flagged = (
        exploded_shingles(corpus, id_col, text_col, shingle_n)
        .join(ev, "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_matched_shingles"))
    )
    if keep_report:
        return flagged
    return corpus.join(
        F.broadcast(flagged.select(id_col)), id_col, "left_anti"
    )

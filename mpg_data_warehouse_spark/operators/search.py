"""Persisted inverted index + keyword search (boolean and BM25) over
the corpus.

The retrieval complement to the dedup family's transient inverted
indexes (``dedup.exploded_shingles``): one ranked index
(``build_ranked_index``) holds (term → doc ids) postings with term
frequencies, partitioned by a hash bucket of the term, so a keyword
query reads ONLY its terms' buckets and then exact-matches inside
them. Boolean search (``search_terms``) and BM25 search
(``bm25_search_many``) both read it.

Scale shape (100 TB corpus): the index build is one explode + (doc,
term) aggregate (the only corpus-sized shuffle); postings are
~24 B/row. Queries touch |terms| buckets of |postings|/n_buckets each
— independent of corpus text size. Hot terms ("the") make hot
postings lists; index AFTER stopword-ish filtering
(``min_term_len``/``max_df``) like every real search engine, or the
posting list for a stopword IS the corpus.

The index adds a ``_docs`` manifest and corpus stats, and lives in
one ``sources/txlog`` table: every change is one atomic commit, and
every query reads one pinned version (see the block comment above
``build_ranked_index``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from mpg_data_warehouse_spark.concurrency import await_all
from mpg_data_warehouse_spark.operators.text import norm_tokens
from mpg_data_warehouse_spark.sources import txlog

N_BUCKETS = 64


def term_bucket(term, n_buckets: int = N_BUCKETS):
    return F.pmod(F.xxhash64(term), F.lit(n_buckets))


# Driver-side twin of ``term_bucket`` (r13): XXH64 per the public
# reference spec (Collet, xxhash.com; Spark's xxhash64 is XXH64
# seed=42 over the string's UTF-8 bytes). Query planning needs only
# the bucket values of a handful of literal terms, and evaluating
# them through a LocalTableScan collect costs a whole scheduled Spark
# job per search call (guide §5: tiny-job latency IS the probe-path
# cost). Exact parity with the engine is pinned by
# tests/test_search.py::test_term_bucket_py_matches_spark over
# unicode/boundary-length/fuzzed strings — a drifted bucket would
# prune the wrong partition and fail the oracle-hashed search slots.
_X64_MASK = (1 << 64) - 1
_X64_P1 = 11400714785074694791
_X64_P2 = 14029467366897019727
_X64_P3 = 1609587929392839161
_X64_P4 = 9650029242287828579
_X64_P5 = 2870177450012600261


def _x64_rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _X64_MASK


def _x64_round(acc: int, inp: int) -> int:
    acc = (acc + inp * _X64_P2) & _X64_MASK
    return (_x64_rotl(acc, 31) * _X64_P1) & _X64_MASK


def _x64_merge(acc: int, val: int) -> int:
    acc ^= _x64_round(0, val)
    return (acc * _X64_P1 + _X64_P4) & _X64_MASK


def xxhash64_py(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as Spark's SIGNED ``xxhash64`` long."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _X64_P1 + _X64_P2) & _X64_MASK
        v2 = (seed + _X64_P2) & _X64_MASK
        v3 = seed & _X64_MASK
        v4 = (seed - _X64_P1) & _X64_MASK
        while i + 32 <= n:
            v1 = _x64_round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _x64_round(
                v2, int.from_bytes(data[i + 8 : i + 16], "little")
            )
            v3 = _x64_round(
                v3, int.from_bytes(data[i + 16 : i + 24], "little")
            )
            v4 = _x64_round(
                v4, int.from_bytes(data[i + 24 : i + 32], "little")
            )
            i += 32
        h = (
            _x64_rotl(v1, 1)
            + _x64_rotl(v2, 7)
            + _x64_rotl(v3, 12)
            + _x64_rotl(v4, 18)
        ) & _X64_MASK
        h = _x64_merge(h, v1)
        h = _x64_merge(h, v2)
        h = _x64_merge(h, v3)
        h = _x64_merge(h, v4)
    else:
        h = (seed + _X64_P5) & _X64_MASK
    h = (h + n) & _X64_MASK
    while i + 8 <= n:
        h ^= _x64_round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_x64_rotl(h, 27) * _X64_P1 + _X64_P4) & _X64_MASK
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _X64_P1) & _X64_MASK
        h = (_x64_rotl(h, 23) * _X64_P2 + _X64_P3) & _X64_MASK
        i += 4
    while i < n:
        h ^= (data[i] * _X64_P5) & _X64_MASK
        h = (_x64_rotl(h, 11) * _X64_P1) & _X64_MASK
        i += 1
    h ^= h >> 33
    h = (h * _X64_P2) & _X64_MASK
    h ^= h >> 29
    h = (h * _X64_P3) & _X64_MASK
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def term_bucket_py(term: str, n_buckets: int = N_BUCKETS) -> int:
    """Driver-side ``term_bucket`` (pmod semantics: result ≥ 0)."""
    return xxhash64_py(term.encode("utf-8")) % n_buckets


# the ranked index's doc-id-keyed manifest (id → dl + posting buckets),
# partitioned by an id-hash bucket so replay/delete guards read
# |batch| partitions and never depend on the batch text matching the
# indexed version
N_IDB = 64


def _idb(id_col, n_idb: int = N_IDB):
    return F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_idb))


# Docs per partition before the bucket count caps at the standard
# layout: a small corpus gets a handful of well-filled partitions, any
# corpus ≥ cap×2048 docs the full fan-out. Probe pruning is unaffected
# in kind (searches read only the query terms' buckets under any
# modulus).
_DOCS_PER_BUCKET = 2048


def _adaptive_buckets(n_docs: int, cap: int = N_BUCKETS) -> int:
    """Partition count scaled to the corpus: a partitioned write costs
    per partition, so a small corpus must not pay the 100 TB layout's
    fan-out. ``_DOCS_PER_BUCKET`` docs per partition, floor 4, capped
    at the standard layout."""
    return max(4, min(cap, n_docs // _DOCS_PER_BUCKET))


def _check_n_buckets(requested: int | None, stored: int, index_path: str) -> int:
    """The index layout is self-describing: probes take the bucket
    count FROM the index, because a silent mismatch recomputes bucket
    ids against the wrong modulus and filters matching postings out —
    wrong/empty results with no error. An explicit caller value is
    validated, never trusted."""
    if requested is not None and requested != stored:
        raise ValueError(
            f"index at {index_path} was built with n_buckets={stored}, "
            f"but the probe requested {requested} — matching postings "
            "would be silently filtered out"
        )
    return int(stored)


def search_terms(
    spark: SparkSession,
    index_path: str,
    terms: list[str],
    mode: str = "any",
    n_buckets: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Doc ids matching the query terms in a ``build_ranked_index``
    table — ``mode='any'`` (OR) or ``'all'`` (AND, via a per-doc
    distinct-term count equal to the query's). Query strings are run
    through the INDEX's tokenization (lowercase + whitespace split), so
    a phrase like "machine learning" becomes the two terms it was
    indexed as — a raw whitespace-containing term could never match
    any posting, and in 'all' mode would poison the whole query empty.

    The bucket count and the probed buckets' live files come from one
    pinned version of the index, so the scan opens only those files
    (pinned by test). Scale: |terms| bucket scans + one small
    aggregate; the corpus is untouched.
    """
    if mode not in ("any", "all"):
        raise ValueError(f"mode must be 'any' or 'all', got {mode!r}")
    norm = sorted(
        {w for t in terms if t for w in t.strip().lower().split()}
    )
    if not norm:
        raise ValueError("no non-empty query terms")
    state = txlog._index_state(index_path, "build_ranked_index")
    n_buckets = _check_n_buckets(
        n_buckets, state["meta"]["n_buckets"], index_path
    )
    buckets = sorted({term_bucket_py(t, n_buckets) for t in norm})
    hits = _read(spark, index_path, state, "bucket", buckets).filter(
        F.col("term").isin(norm)
    )
    if mode == "any":
        return hits.select(id_col).distinct()
    return (
        hits.groupBy(id_col)
        .agg(F.count_distinct("term").alias("_nt"))
        .filter(F.col("_nt") == len(norm))
        .select(id_col)
    )


# ---------------------------------------------------------------------------
# Ranked (BM25) search — the scoring half of the retrieval stack.
#
# A ranked index is ONE ``sources/txlog`` table holding two file sets:
# postings ``(term, id, tf, dl)`` partitioned by ``bucket=`` (term
# hash) and the ``_docs`` manifest ``(id, dl, buckets)`` partitioned by
# ``idb=`` (id hash). Every change — build, append, delete, compact —
# writes its new files of both sets, then installs ONE commit that
# adds and removes files in both and carries the corpus stats
# (``n_docs``, ``dl_sum``, ``avgdl``, ``n_buckets``, ``n_idb``) as its
# ``meta``; the commit and pinned-read rules are the ones every
# persisted index shares (``txlog._commit_index``).
# ---------------------------------------------------------------------------

_SETS = ("bucket", "idb")  # postings, manifest: one partition column each


def _manifest_ddl(postings_ddl: str) -> str:
    """The manifest's reader schema; its id column is the postings'."""
    from pyspark.sql.types import _parse_datatype_string

    (idf,) = [
        f
        for f in _parse_datatype_string(postings_ddl).fields
        if f.name not in ("term", "tf", "dl", "bucket")
    ]
    return (
        f"struct<{idf.name}:{idf.dataType.simpleString()},dl:bigint,"
        "buckets:array<bigint>,idb:bigint>"
    )


def _read(
    spark: SparkSession, path: str, state: dict, part: str, values=None
) -> DataFrame:
    ddl = state["schema"]
    return txlog.read_subset(
        spark,
        path,
        state,
        txlog._part_files(state, part, values),
        ddl if part == "bucket" else _manifest_ddl(ddl),
    )


def _write(df: DataFrame, path: str, part: str) -> list[dict]:
    """Write one set's new files (not yet visible) and return their add
    actions. Clustering each partition into one task first keeps it to
    one file per partition value per write."""
    return txlog._write_data_files(df.repartition(part), path, [part])


def build_ranked_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int | None = None,
    min_term_len: int = 1,
    max_df: int | None = None,
) -> None:
    """Posting table WITH term frequencies — the BM25 build.

    Postings are ``(term, id, tf, dl)`` partitioned by term-hash
    bucket (``dl`` denormalized so scoring needs no doc-length join at
    query time); the ``_docs`` manifest holds one row per document
    ``(id, dl, buckets)`` partitioned by an id-hash bucket — the
    exact-membership table that lets ``bm25_append_index``'s replay
    guard and ``bm25_delete_index`` work from document IDS alone.
    ``dl`` is the count of tokens surviving ``min_term_len``, taken as
    sum(tf) per doc BEFORE any ``max_df`` stopword cap, so capped terms
    still count toward length (they were in the document).

    Scale: one (id, term) hash-agg over the exploded tokens (the only
    corpus-sized shuffle), one doc-grain sum over that agg, one
    |docs|-grain join; the stats are two scalars from a one-row
    collect.

    ``n_buckets=None`` (default) sizes BOTH layouts adaptively
    (``_adaptive_buckets``). The chosen counts ride the commit's stats
    and every later append/delete/search reads them from there —
    layout is a build-time decision, never re-guessed. Building over
    an existing index is one more commit that replaces every live file.
    """
    toks = docs.select(
        F.col(id_col), F.explode(norm_tokens(text_col)).alias("term")
    ).filter(F.length("term") >= min_term_len)
    tf = toks.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    # tf feeds doc length, corpus stats, the optional df cap, AND the
    # final write — persist or the explode+agg re-executes per use
    tf = tf.persist()
    try:
        dl = tf.groupBy(id_col).agg(F.sum("tf").cast("long").alias("dl"))
        stats_row = dl.agg(
            F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")
        ).first()
        n_docs = int(stats_row["n"] or 0)
        dl_sum = int(stats_row["s"] or 0)
        # avgdl derives from the EXACT integer token total — the same
        # division a fresh build over any corpus state performs, so
        # incremental append/delete (which adjust dl_sum exactly) stay
        # bit-identical to a rebuild instead of drifting by ulps
        # through avgdl*n round-trips
        avgdl = (dl_sum / n_docs) if n_docs else 0.0
        if n_buckets is None:
            n_buckets = _adaptive_buckets(n_docs)
        n_idb = _adaptive_buckets(n_docs, cap=N_IDB)
        postings = tf.join(dl, id_col)
        if max_df is not None:
            dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
            postings = postings.join(
                dfreq.filter(F.col("_df") <= max_df).select("term"), "term"
            )
        postings = postings.select(
            "term", id_col, "tf", "dl",
            term_bucket(F.col("term"), n_buckets).alias("bucket"),
        ).persist()
        try:
            man = _manifest_rows(
                postings, id_col, n_idb,
                capped_dl=dl if max_df is not None else None,
            )
            # both sets are independent consumers of the persisted
            # postings: write them concurrently (wall = max, not sum)
            adds_p, adds_m = await_all(
                lambda: _write(postings, path, "bucket"),
                lambda: _write(man, path, "idb"),
            )
        finally:
            postings.unpersist()
    finally:
        tf.unpersist()
    txlog._commit_build(
        path,
        {
            "n_docs": n_docs,
            "dl_sum": dl_sum,
            "avgdl": avgdl,
            "n_buckets": n_buckets,
            "n_idb": n_idb,
        },
        adds_p + adds_m,
        postings.schema.simpleString(),
        _SETS,
    )


def _manifest_rows(
    postings: DataFrame,
    id_col: str,
    n_idb: int,
    capped_dl: DataFrame | None = None,
) -> DataFrame:
    """(id, dl, buckets, idb) manifest rows — one agg over the
    already-persisted postings (which carry ``dl`` denormalized).
    Only a build with ``max_df`` capping can produce a doc whose
    EVERY term was capped away — still counted in the corpus stats
    but owning no posting rows — so only that build passes its
    per-doc ``(id, dl)`` frame as ``capped_dl``, and only then does an
    anti-join pick up those empty-bucket rows; every other path is
    one |docs|-grain agg and nothing else."""
    bsets = postings.groupBy(id_col).agg(
        F.first("dl").alias("dl"),
        F.collect_set("bucket").alias("buckets"),
    )
    if capped_dl is not None:
        orphans = capped_dl.join(bsets.select(id_col), id_col, "left_anti")
        bsets = bsets.unionByName(
            orphans.withColumn(
                "buckets", F.array().cast("array<bigint>")
            )
        )
    return bsets.withColumn("idb", _idb(id_col, n_idb))


def bm25_search_many(
    spark: SparkSession,
    index_path: str,
    queries: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    n_buckets: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25-ranked top-k per query over a ``build_ranked_index``
    table. Output: ``(query_id, id_col, score, rank)``; ``query_id``
    is the position in ``queries``; ``score`` is rounded to 6 dp and
    ranking tie-breaks on doc id so the result is deterministic.

    Scoring is the Lucene/Robertson variant:
    ``idf = ln(1 + (N - df + 0.5)/(df + 0.5))``,
    ``w = idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))``,
    summed over the query's DISTINCT terms (query-side tf is 1 —
    standard for short queries).

    The stats and the probed buckets' live files come from ONE pinned
    version of the index, so the returned frame answers from that
    version even if it is collected after a later append or
    compaction.

    Plan: one exchange. The query batch rides in the plan as a literal
    map from term to its query ids, so no query frame is shipped or
    joined; each probed posting row explodes into one row per query
    that asked for its term, and the rows are hash-partitioned once by
    ``query_id``. Within one query a term's rows are exactly its
    posting list, so ``df`` is ``count(1) over (query_id, term)`` —
    no corpus pass and no separate df aggregate. The ``(query_id,
    doc)`` sum and the per-query top-k reuse that partitioning; the
    top-k is a final-mode WindowGroupLimit (with no exchange after the
    sum there is no map-side partial limit to add).

    Scale: the scan touches only the query terms' bucket files. Each
    query's probed postings are scored in one task, so parallelism
    comes from the number of queries in the batch, not from within a
    query. For very long posting lists the way back to intra-query
    parallelism is a stored term-df dictionary or per-partition
    pruning of the postings.
    """
    if not queries:
        raise ValueError("queries is empty")
    qids_of: dict[str, list[int]] = {}
    for qi, q in enumerate(queries):
        for t in sorted({w for w in (q or "").strip().lower().split() if w}):
            qids_of.setdefault(t, []).append(qi)
    if not qids_of:
        raise ValueError("no non-empty query terms")
    terms = sorted(qids_of)
    state = txlog._index_state(index_path, "build_ranked_index")
    stats = state["meta"]
    n_docs, avgdl = stats["n_docs"], stats["avgdl"]
    n_buckets = _check_n_buckets(n_buckets, stats["n_buckets"], index_path)

    # bucket probe DRIVER-SIDE (r13): ``term_bucket_py`` replaces the
    # LocalTableScan-collect planning job entirely (parity pinned in
    # tests; a drifted bucket prunes wrong and fails the oracle)
    buckets = sorted({term_bucket_py(t, n_buckets) for t in terms})
    postings = _read(spark, index_path, state, "bucket", buckets).filter(
        F.col("term").isin(terms)
    )
    qids = F.create_map(
        *(
            c
            for t in terms
            for c in (
                F.lit(t),
                F.array(*(F.lit(qi) for qi in qids_of[t])).cast(
                    "array<long>"
                ),
            )
        )
    )
    probed = (
        postings.withColumn("query_id", F.explode(qids[F.col("term")]))
        .repartition("query_id")
        .withColumn(
            "_df",
            F.count(F.lit(1))
            .over(W.partitionBy("query_id", "term"))
            .cast("double"),
        )
    )
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
    )
    denom = F.col("tf") + k1 * (
        1.0 - b + b * F.col("dl") / F.lit(float(avgdl))
    )
    scored = (
        probed.withColumn("_w", idf * F.col("tf") * (k1 + 1.0) / denom)
        .groupBy("query_id", id_col)
        .agg(F.round(F.sum("_w"), 6).alias("score"))
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "score", "rank")
    )


def bm25_search(
    spark: SparkSession,
    index_path: str,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    n_buckets: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Single-query BM25: ``(id_col, score, rank)``."""
    return bm25_search_many(
        spark, index_path, [query], k, k1, b, n_buckets, id_col
    ).drop("query_id")


def bm25_append_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_term_len: int = 1,
) -> int:
    """Incrementally maintain a ranked index: tokenize ONLY the new
    batch, add its postings and manifest rows as new files, and
    advance the corpus stats arithmetically (new avgdl = (old_sum +
    batch_sum) / (old_n + batch_n)) — the continual-ingest shape
    (``similarity.ivf_append_index`` for vectors): daily arrivals cost
    O(|batch|), never an O(corpus) rebuild. BM25's df is derived from
    the probed posting lists at query time, so appended postings
    re-weight idf with no stored state to refresh.

    Replay guard: batch ids already in the ``_docs`` manifest are
    dropped BEFORE tokenization (a fully-replayed delivery costs the
    membership probe, never the explode+agg tokenize pass, and adds no
    version), so at-least-once upstream delivery cannot double-insert
    a document. The check reads only the manifest partitions the
    batch's ids hash to, and holds even if the redelivered batch
    carries MUTATED text. ``max_df`` capping is a BUILD-time decision
    and is not re-applied here — recap on the periodic rebuild
    cadence, like IVF centroid refresh.

    Plan: the batch is read once (persisted). The surviving tokens are
    hash-partitioned once by id; the ``(id, term)`` tf aggregate and
    ``dl = sum(tf) over (partition by id)`` both reuse that
    partitioning and land in ONE persisted postings frame, which feeds
    the stats aggregate (``count_distinct(id)``, ``sum(tf)``), the
    manifest agg and the postings write. A doc with no surviving
    token has no postings and is not counted, exactly as in a build.
    Returns the number of documents appended."""
    spark = docs.sparkSession
    state = txlog._index_state(path, "build_ranked_index")
    stats = state["meta"]
    n_buckets, n_idb = stats["n_buckets"], stats["n_idb"]

    # The batch is PERSISTED so the guard's probe and the tokenize
    # read ONE materialization of the input — a nondeterministic
    # upstream (sample/limit) re-evaluated between them could
    # otherwise yield ids the guard never probed. The persisted
    # projection is the delta batch (id + text), not the corpus.
    batch = docs.select(F.col(id_col), F.col(text_col)).persist()
    pinned = [batch]  # released in finally even on a failed write
    try:
        idbs = [
            r["i"]
            for r in batch.select(_idb(id_col, n_idb).alias("i"))
            .distinct()
            .collect()
        ]
        existing = _read(spark, path, state, "idb", idbs).select(id_col)
        fresh = batch.join(existing, id_col, "left_anti")

        # ONE persisted postings frame, one exchange: tokens clustered by
        # id serve the (id, term) tf agg AND the per-doc dl window, so
        # no separate dl frame is built or joined back
        postings = (
            fresh.select(
                F.col(id_col), F.explode(norm_tokens(text_col)).alias("term")
            )
            .filter(F.length("term") >= min_term_len)
            .repartition(id_col)
            .groupBy(id_col, "term")
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
            .select(
                "term", id_col, "tf",
                F.sum("tf").over(W.partitionBy(id_col)).cast("long")
                .alias("dl"),
                term_bucket(F.col("term"), n_buckets).alias("bucket"),
            )
            .persist()
        )
        pinned.append(postings)
        batch_row = postings.agg(
            F.count_distinct(id_col).alias("n"), F.sum("tf").alias("s")
        ).first()
        n_new = int(batch_row["n"])
        if n_new == 0:
            return 0
        man = _manifest_rows(postings, id_col, n_idb)
        adds_p, adds_m = await_all(
            lambda: _write(postings, path, "bucket"),
            lambda: _write(man, path, "idb"),
        )
        n_docs = stats["n_docs"] + n_new
        dl_sum = stats["dl_sum"] + int(batch_row["s"])
        txlog._commit_index(
            path,
            state["version"],
            "append",
            {**stats, "n_docs": n_docs, "dl_sum": dl_sum,
             "avgdl": dl_sum / n_docs},
            adds_p + adds_m,
        )
        return n_new
    finally:
        for df in pinned:
            df.unpersist()


def bm25_delete_index(
    ids: DataFrame,
    path: str,
    id_col: str = "doc_id",
) -> int:
    """Targeted deletion from a ranked index (right-to-be-forgotten)
    by document ID: the ``_docs`` manifest maps each id to its
    posting buckets, so the affected buckets are found with a
    ≤|batch|-partition manifest probe — no full-index scan, and no
    dependence on the caller still holding the indexed TEXT. The hit
    buckets' posting files and the hit id-partitions' manifest files
    are rewritten without the deleted ids, and the corpus stats retreat
    arithmetically from the manifest's per-doc ``dl`` — all in one
    commit. df self-corrects at query time (derived from the probed
    lists). ``ids`` is read once: its distinct ids are persisted for
    the call. Returns documents removed. Extra columns on ``ids``
    (e.g. the old text payload) are ignored."""
    spark = ids.sparkSession
    state = txlog._index_state(path, "build_ranked_index")
    stats = state["meta"]

    # The distinct ids are PERSISTED and every step reads them: the
    # victim count, the dl retreat and both rewrites agree even when
    # ``ids`` is nondeterministic
    id_set = ids.select(id_col).distinct().persist()
    try:
        del_ids = F.broadcast(id_set)
        idbs = [
            r["i"]
            for r in del_ids.select(_idb(id_col, stats["n_idb"]).alias("i"))
            .distinct()
            .collect()
        ]
        man_scoped = _read(spark, path, state, "idb", idbs)
        # ONE job answers all three driver-side questions (victim count,
        # dl retreat, union of hit posting buckets) — collect_list of the
        # victims' bucket arrays, flattened and deduped as an expression
        gone_row = (
            man_scoped.join(del_ids, id_col, "left_semi")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("dl").alias("s"),
                F.array_distinct(F.flatten(F.collect_list("buckets"))).alias(
                    "bs"
                ),
            )
            .first()
        )
        n_gone = int(gone_row["n"] or 0)
        if n_gone == 0:
            return 0
        buckets = gone_row["bs"] or []
        # survivors read the files this commit removes; those stay on
        # disk (only unreferenced), so the lineage needs no checkpoint
        adds_p, adds_m = await_all(
            lambda: _write(
                _read(spark, path, state, "bucket", buckets).join(
                    del_ids, id_col, "left_anti"
                ),
                path,
                "bucket",
            ),
            lambda: _write(
                man_scoped.join(del_ids, id_col, "left_anti"), path, "idb"
            ),
        )
    finally:
        id_set.unpersist()
    n_docs = stats["n_docs"] - n_gone
    dl_sum = stats["dl_sum"] - int(gone_row["s"] or 0)
    txlog._commit_index(
        path,
        state["version"],
        "delete",
        {**stats, "n_docs": n_docs, "dl_sum": dl_sum,
         "avgdl": (dl_sum / n_docs) if n_docs else 0.0},
        adds_p + adds_m,
        txlog._part_files(state, "bucket", buckets)
        + txlog._part_files(state, "idb", idbs),
    )
    return n_gone


def bm25_compact_index(spark: SparkSession, path: str) -> dict:
    """Maintenance compaction for an append-maintained ranked index —
    the counterpart of ``sources/maintenance.py::maintain_table`` for
    the BM25 table. Each append adds one file to every bucket and
    id-partition it touches, so partitions accumulate one small file
    PER BATCH — scan/open cost grows linearly in delivery count, the
    classic LSM write-amp trade-off. Compaction rewrites every
    partition of either set that holds two or more live files into one
    file, in one commit that leaves the stats unchanged. Planning reads
    only the add actions; only fragmented partitions are read. The
    replaced files stay on disk for readers pinned to older versions
    until ``txlog.vacuum`` collects them. Returns
    ``{"buckets_compacted", "idbs_compacted", "files_merged"}``."""
    from collections import Counter

    state = txlog._index_state(path, "build_ranked_index")
    frag = {}
    for part in _SETS:
        n_files = Counter(
            state["files"][p]["partition"][part]
            for p in txlog._part_files(state, part)
        )
        frag[part] = sorted(v for v, n in n_files.items() if n >= 2)
    removes = txlog._part_files(
        state, "bucket", frag["bucket"]
    ) + txlog._part_files(state, "idb", frag["idb"])
    if removes:
        adds = await_all(
            *[
                lambda part=part: _write(
                    _read(spark, path, state, part, frag[part]), path, part
                )
                for part in _SETS
                if frag[part]
            ]
        )
        txlog._commit_index(
            path,
            state["version"],
            "compact",
            None,
            [a for leg in adds for a in leg],
            removes,
        )
    return {
        "buckets_compacted": len(frag["bucket"]),
        "idbs_compacted": len(frag["idb"]),
        "files_merged": len(removes) - len(frag["bucket"]) - len(frag["idb"]),
    }

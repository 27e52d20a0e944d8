"""RAG-style retrieval pipeline: chunk → embed → IVF index → query.

Composes the engine's chunking and persisted-IVF operators into the
standard retrieval-augmented-generation data path. The embedding
model is the ONLY external dependency of a real deployment; this
module keeps that boundary explicit:

- ``hashed_feature_embedding`` is a DETERMINISTIC STAND-IN encoder —
  signed feature hashing of word n-grams into a dense unit vector
  (the classic hashing-trick text representation, Weinberger et al.
  2009 — public). It is a real lexical embedding (cosine-similar
  texts share n-grams), not a neural one; swap in a model-served
  embedding column for production. Everything downstream (chunk
  grid, index layout, probe pruning, score ranking) is the real,
  tested path and does not change when the encoder does.

Scale: chunking is a narrow map; embedding is one explode + (chunk,
bucket) hash-agg + dense assembly (shuffle carries one row per
non-zero bucket per chunk, never text); the index build/probe story
is ``ivf_write_index``'s — probes read nprobe cells' files only. The
chunk store and the IVF index are txlog tables (``sources/txlog``):
each build is one commit, and each request reads pinned versions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mpg_data_warehouse_spark.operators.chunking import pack_sequences
from mpg_data_warehouse_spark.operators.similarity import (
    _IVF_BUILDER,
    _literal_rows,
    _probe_pinned,
    _write_ivf_index,
    l2_norm,
)
from mpg_data_warehouse_spark.operators.text import norm_tokens
from mpg_data_warehouse_spark.sources import txlog


def _check_encoder(state: dict, index_path: str, dim: int, hash_fn: str):
    """The index records which encoder built it — ``hash_fn`` in the
    build commit's ``meta``, ``dim`` as the centroid length; a probe
    embedding queries in a DIFFERENT feature space (other hash_fn or
    dim) would return near-random neighbors with no error. Checked
    against the same pinned version the probe reads. An index built by
    a bare ``ivf_write_index`` records no ``hash_fn``; only its dim is
    checked."""
    meta = state["meta"]
    built_dim = len(meta["centroids"][0][1])
    built_fn = meta.get("hash_fn", hash_fn)
    if dim != built_dim or hash_fn != built_fn:
        raise ValueError(
            f"index at {index_path} was built with dim={built_dim}, "
            f"hash_fn={built_fn!r}; the probe requested dim={dim}, "
            f"hash_fn={hash_fn!r} — query vectors would live in a "
            "different feature space and neighbors would be meaningless"
        )


def _tok_bucket_sign(tok, dim: int, hash_fn: str):
    """(bucket, sign) columns for one token under the chosen hash.
    ``xxhash64`` is the fast default; ``md5`` derives bucket and sign
    from two 32-bit md5 prefixes — bit-for-bit replayable in any
    engine with md5 (``CAST('0x'||substr(md5(t),1,8) AS BIGINT)``),
    which is what lets an external oracle verify the whole retrieval
    path."""
    if hash_fn == "xxhash64":
        bucket = F.pmod(F.xxhash64(tok), F.lit(dim))
        sign_even = F.pmod(F.xxhash64(tok, F.lit(1)), F.lit(2)) == 0
    elif hash_fn == "md5":
        h = F.md5(tok.cast("binary"))
        bucket = F.pmod(
            F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), F.lit(dim)
        )
        sign_even = (
            F.pmod(
                F.conv(F.substring(h, 9, 8), 16, 10).cast("long"), F.lit(2)
            )
            == 0
        )
    else:
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")
    return bucket, F.when(sign_even, 1.0).otherwise(-1.0)


def _e0(dim: int):
    """The zero-guard unit vector e_0 — what empty/null texts embed
    as, keeping retrieval total."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.when(i == 0, 1.0).otherwise(0.0),
    )


def _unit_from_sparse_map(df: DataFrame, dim: int, out_col: str) -> DataFrame:
    """``_map`` (bucket → signed count) → L2-unit dense ``out_col``;
    a zero-norm vector falls back to e_0. Shared by both embedding
    plans (the grouping key is the only thing that differs between
    them). The sparse→map conversion is hoisted OUT of the
    per-component lambda by the callers (inline it and every row pays
    ``dim`` map constructions)."""
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(
            F.element_at(F.col("_map"), i.cast("long")), F.lit(0.0)
        ),
    )
    with_vec = df.withColumn("_dense", dense).drop("_map")
    norm = l2_norm(F.col("_dense"))
    unit = F.when(
        norm > 0, F.transform(F.col("_dense"), lambda x: x / norm)
    ).otherwise(_e0(dim))
    return with_vec.withColumn(out_col, unit).drop("_dense")


def hashed_feature_embedding(
    df: DataFrame,
    text_col: str,
    dim: int = 64,
    out_col: str = "embedding",
    hash_fn: str = "xxhash64",
    key_col: str | None = None,
) -> DataFrame:
    """Append a deterministic ``array<double>`` unit-norm embedding:
    each token maps to bucket ``hash(tok) % dim`` with sign from a
    second hash bit; components are signed counts, L2-normalized.
    Engine-replayable column math, no model runtime. Empty/null texts
    embed as the zero-guard unit vector e_0 (retrieval stays total).

    ``key_col`` (a UNIQUE row key, e.g. ``chunk_key``) selects the
    key-grain plan: explode → two hash-aggs keyed by the LONG key →
    re-attach by key — every stage codegen projection or hash-agg,
    both shuffles on a fixed-width key. Standalone it benchmarked
    ~40% faster than the distinct-text plan on all-distinct
    chunk-grain input; inside the full index build (where the result
    is persisted once and the probe frames are rows-sized) the
    distinct-text plan composed measurably better, so the BUILD path
    uses the default. Prefer ``key_col`` when embedding a large
    keyed corpus consumed exactly once. (A per-row HOF fold with no
    shuffle at all was also tried and measured ~2× slower than
    either — Catalyst evaluates higher-order lambdas interpreted,
    outside codegen; the shuffle is cheaper than leaving codegen.)

    Without ``key_col``, the embedding is computed once per DISTINCT
    text value and re-attached with a null-safe equi-join on the text
    (``eqNullSafe`` — a plain name-join would silently drop NULL-text
    rows): the right shape when the corpus repeats texts heavily and
    no unique key exists. Duplicate input rows each keep their
    embedded copy either way."""
    orig = df
    if key_col is not None:
        toks = df.select(
            key_col, F.explode(norm_tokens(text_col)).alias("_tok")
        )
        b, s = _tok_bucket_sign(F.col("_tok"), dim, hash_fn)
        comps = (
            toks.select(key_col, b.alias("_b"), s.alias("_s"))
            .groupBy(key_col, "_b")
            .agg(F.sum("_s").alias("_v"))
            .groupBy(key_col)
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct("_b", "_v"))
                ).alias("_map")
            )
        )
        embedded = _unit_from_sparse_map(comps, dim, out_col).select(
            key_col, out_col
        )
        # rows whose text had NO tokens (empty/null) never reach the
        # explode: left join + e_0 fill keeps retrieval total
        return orig.join(embedded, key_col, "left").withColumn(
            out_col, F.coalesce(F.col(out_col), _e0(dim))
        )
    uniq = df.select(F.col(text_col).alias("_txt")).distinct()
    toks = uniq.withColumn("_tok", F.explode(norm_tokens("_txt")))
    bucket, sign = _tok_bucket_sign(F.col("_tok"), dim, hash_fn)
    comps = (
        toks.withColumn("_b", bucket)
        .withColumn("_s", sign)
        .groupBy("_txt", "_b")
        .agg(F.sum("_s").alias("_v"))
        .groupBy("_txt")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_b"), F.col("_v")))
            ).alias("_bv")
        )
    )
    sparse_map = comps.withColumn(
        "_map", F.map_from_entries(F.col("_bv"))
    ).drop("_bv")
    out = _unit_from_sparse_map(sparse_map, dim, out_col)
    # texts with NO tokens (empty or null) never reach the explode:
    # re-attach with e_0. A null _txt never equi-matches in the
    # left_anti either, so the null-text row correctly lands here.
    missing = uniq.join(out.select("_txt"), ["_txt"], "left_anti")
    embedded = out.unionByName(missing.withColumn(out_col, _e0(dim)))
    # re-attach to every original row. eqNullSafe (<=>) keeps this a
    # plannable equi-join (hash/sort-merge on the text key) while
    # matching the null-text row to its e_0 — a bare name-join would
    # silently drop it. The embedded side is distinct-text-sized, so
    # no broadcast: at corpus scale it is nearly as big as the input.
    return orig.join(
        embedded, orig[text_col].eqNullSafe(embedded["_txt"])
    ).drop("_txt")


def _rowwise_query_embedding(
    df: DataFrame,
    text_col: str,
    dim: int,
    hash_fn: str,
    out_col: str = "embedding",
) -> DataFrame:
    """Shuffle-free twin of ``hashed_feature_embedding`` for BOUNDED
    probe batches (r13, guide §2.1): the distinct-text corpus plan
    costs ~5 tiny-data exchanges, which on a |queries|-row frame is
    pure per-stage latency. Here the signed bucket counts fold
    per-row with higher-order functions — ONE narrow projection, no
    exchange. Values are identical by construction: the same
    ``_tok_bucket_sign`` expressions pick bucket and sign, the signed
    counts are integers (order-free in IEEE doubles), and the dense
    assembly + L2 normalization + e_0 zero-guard go through the SAME
    ``_unit_from_sparse_map`` code path (parity pinned by
    ``test_rowwise_query_embedding_matches_corpus_plan``). Interpreted
    HOF lambdas lose to codegen at corpus scale (see
    hashed_feature_embedding) — use this only for query batches."""
    toks_col = "_rw_toks"

    def _bucket(t):
        return _tok_bucket_sign(t, dim, hash_fn)[0]

    def _sign(t):
        return _tok_bucket_sign(t, dim, hash_fn)[1]

    with_toks = df.withColumn(toks_col, norm_tokens(text_col))
    toks = F.col(toks_col)
    bks = F.array_distinct(F.transform(toks, _bucket))
    vals = F.transform(
        bks,
        lambda b: F.aggregate(
            toks,
            F.lit(0.0),
            lambda acc, t: acc
            + F.when(_bucket(t) == b, _sign(t)).otherwise(0.0),
        ),
    )
    with_map = with_toks.withColumn(
        "_map", F.map_from_arrays(bks, vals)
    ).drop(toks_col)
    return _unit_from_sparse_map(with_map, dim, out_col)


def _query_text(query_texts: list[str]):
    """``query_texts[query_id]`` as a literal array lookup: attaches
    the query text to result rows with no join."""
    texts = F.array(*(F.lit(t) for t in query_texts)).cast("array<string>")
    return texts[F.col("query_id")].alias("query_text")


def _write_chunk_store(
    docs: DataFrame,
    chunks_path: str,
    max_tokens: int,
    overlap: int,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Chunk the corpus and persist the chunk store (id → text, for
    hydration) as a txlog table: created at version 0, or replaced by
    one overwrite commit. Chunk ids are dense ``doc_id * 2^20 +
    chunk_id`` composites — deterministic, reversible, collision-free
    for docs under 2^20 chunks. Returns a reader over the written
    version."""
    spark = docs.sparkSession
    chunks = pack_sequences(
        docs, id_col, text_col, max_tokens=max_tokens, overlap=overlap
    ).select(
        (
            F.col(id_col).cast("long") * F.lit(1 << 20)
            + F.col("chunk_id").cast("long")
        ).alias("chunk_key"),
        id_col,
        "chunk_id",
        "chunk_text",
    )
    if txlog.latest_version(chunks_path) < 0:
        txlog.create(spark, chunks_path, chunks)
    else:
        txlog.overwrite(spark, chunks_path, chunks, new_schema=True)
    return txlog.read(spark, chunks_path)


def _build_dense_index(
    stored: DataFrame,
    index_path: str,
    dim: int,
    n_centroids: int,
    hash_fn: str,
    refine_iters: int = 1,
) -> None:
    """Embed the chunk store and lay down the IVF index over it; the
    encoder's ``hash_fn`` rides the index's build commit."""
    # Persist the embedded corpus before the IVF build: k-means
    # seeding, each Lloyd iteration, and the final cell assignment
    # all consume it, and without reuse the encoder's multi-shuffle
    # plan (distinct texts → explode → aggs → text-keyed rejoin; the
    # default — key_col measured slower IN THIS composition, see
    # hashed_feature_embedding) re-executes per consumer — measured
    # 3× the build wall-clock at sf0.1. MEMORY_AND_DISK (the persist
    # default) keeps this safe at corpus scale: partitions that don't
    # fit spill instead of OOM.
    embedded = (
        hashed_feature_embedding(
            stored.select("chunk_key", "chunk_text"), "chunk_text", dim,
            hash_fn=hash_fn,
        )
        .select("chunk_key", "embedding")
        .persist()
    )
    try:
        _write_ivf_index(
            embedded,
            index_path,
            n_centroids,
            refine_iters,
            "chunk_key",
            "embedding",
            {"hash_fn": hash_fn},
        )
    finally:
        embedded.unpersist()


def build_retrieval_index(
    docs: DataFrame,
    index_path: str,
    chunks_path: str,
    dim: int = 64,
    max_tokens: int = 64,
    overlap: int = 8,
    n_centroids: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> None:
    """Offline half: chunk the corpus, embed each chunk, persist the
    chunk store (id → text, for hydration) and the IVF index over the
    chunk embeddings — the index is built from exactly the bytes the
    chunk store serves at query time."""
    stored = _write_chunk_store(
        docs, chunks_path, max_tokens, overlap, id_col, text_col
    )
    _build_dense_index(stored, index_path, dim, n_centroids, hash_fn)


def _probe_chunk_ranks(
    spark: SparkSession,
    index_path: str,
    query_texts: list[str],
    k: int,
    dim: int,
    nprobe: int,
    hash_fn: str,
) -> DataFrame:
    """Shared dense-probe core: embed the query strings, probe the
    persisted IVF index, and return the UNHYDRATED rank frame
    (query_id, chunk_key, cos_sim, rank) — ``retrieve`` joins the
    chunk store once on top; ``hybrid_retrieve`` fuses first and
    hydrates only the fused winners (hydrating here and again after
    fusion would scan the chunk store twice per call)."""
    if not query_texts:
        raise ValueError("query_texts is empty")
    # the encoder check and the probe read ONE pinned version
    state = txlog._index_state(index_path, _IVF_BUILDER)
    _check_encoder(state, index_path, dim, hash_fn)
    # ONE narrow job embeds the batch (shuffle-free row-wise twin,
    # values identical — see _rowwise_query_embedding); the query texts
    # enter as JVM literals. Everything after it is the persisted-index
    # probe core: cells chosen on the driver, only their files scanned.
    neg_ids = [(-(i + 1), t) for i, t in enumerate(query_texts)]
    queries = _rowwise_query_embedding(
        _literal_rows(spark, neg_ids, "chunk_key bigint, q_text string"),
        "q_text",
        dim,
        hash_fn=hash_fn,
    )
    q_rows = [
        tuple(r) for r in queries.select("chunk_key", "embedding").collect()
    ]
    hits = _probe_pinned(spark, index_path, state, q_rows, k, nprobe)
    return hits.withColumnRenamed("neighbor_id", "chunk_key").withColumn(
        "query_id", -F.col("query_id") - 1
    )


def retrieve(
    spark: SparkSession,
    index_path: str,
    chunks_path: str,
    query_texts: list[str],
    k: int = 5,
    dim: int = 64,
    nprobe: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Online half: embed the query strings with the SAME encoder
    (including the same ``hash_fn`` the index was built with),
    probe the persisted index (only nprobe cells' files open), and
    hydrate the winning chunks' text from the chunk store. The frame
    reads pinned versions of both tables: collected after a later
    index change, it answers from the versions it was planned on.
    Output: (query_id, query_text, chunk_key, doc_id, chunk_id,
    chunk_text, cos_sim, rank); ``query_id`` is the position in
    ``query_texts``.

    Query ids travel through the probe NEGATIVE (−1, −2, …):
    ``_score_probes`` excludes ``neighbor_id == query_id`` (the
    corpus-self-search guard), so a positional query id colliding
    with a real chunk_key would silently drop that chunk from the
    results — including the exact-match top hit for doc 0. Negative
    ids can never collide with composite chunk keys (≥ 0)."""
    hits = _probe_chunk_ranks(
        spark, index_path, query_texts, k, dim, nprobe, hash_fn
    )
    chunks = txlog.read(spark, chunks_path)
    return (
        hits.join(chunks, "chunk_key")
        .select(
            "query_id",
            _query_text(query_texts),
            "chunk_key",
            "doc_id",
            "chunk_id",
            "chunk_text",
            "cos_sim",
            "rank",
        )
    )


def build_hybrid_index(
    docs: DataFrame,
    index_path: str,
    chunks_path: str,
    bm25_path: str,
    dim: int = 64,
    max_tokens: int = 64,
    overlap: int = 8,
    n_centroids: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxhash64",
    refine_iters: int = 1,
) -> None:
    """Offline half of hybrid retrieval: the dense chunk index (IVF
    over hashed-feature embeddings) plus a BM25 ranked index over the
    SAME chunk store, so both retrievers score identical chunk_keys
    and fusion is a pure key join.

    The two index builds are independent consumers of the written
    chunk store, so they are SUBMITTED CONCURRENTLY (Spark schedules
    jobs from multiple driver threads freely): the wall cost is
    max(dense, bm25) instead of their sum — these builds are
    commit-latency-bound at small scale (partitioned-write directory
    fan-out) and shuffle-bound at large scale, and in both regimes
    the cluster has idle capacity one build alone leaves unused.
    Exceptions propagate; both builds are awaited before return (the
    shared settle-before-raise helper, concurrency.await_all)."""
    from mpg_data_warehouse_spark.concurrency import await_all
    from mpg_data_warehouse_spark.operators.search import (
        build_ranked_index,
    )

    stored = _write_chunk_store(
        docs, chunks_path, max_tokens, overlap, id_col, text_col
    )
    await_all(
        lambda: _build_dense_index(
            stored, index_path, dim, n_centroids, hash_fn, refine_iters
        ),
        lambda: build_ranked_index(
            stored, bm25_path, id_col="chunk_key", text_col="chunk_text"
        ),
    )


def hybrid_retrieve(
    spark: SparkSession,
    index_path: str,
    chunks_path: str,
    bm25_path: str,
    query_texts: list[str],
    k: int = 5,
    dim: int = 64,
    nprobe: int = 4,
    k_rrf: int = 60,
    pool: int = 20,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Hybrid dense + lexical retrieval with reciprocal-rank fusion
    (Cormack et al. 2009 — the standard zero-tuning fusion):
    each retriever contributes ``1 / (k_rrf + rank)`` for its top
    ``pool`` chunks, missing-side ranks contribute 0, and the fused
    top-k per query hydrates from the chunk store. RRF works on RANKS
    only, so the incomparable score scales (cosine vs BM25) never
    need calibration.

    Output: (query_id, query_text, chunk_key, doc_id, chunk_id,
    chunk_text, rrf_score, rank).

    Scale: both retrievers are already index-pruned (nprobe IVF cells
    / query-term hash buckets); fusion joins two ≤|queries|·pool-row
    frames on (query_id, chunk_key) — negligible next to either
    probe."""
    from mpg_data_warehouse_spark.concurrency import await_all
    from mpg_data_warehouse_spark.operators.search import bm25_search_many

    # The dense leg's PREP runs a Spark job on the driver (embed the
    # query batch); the lexical leg's reads the index's pinned txlog
    # state. They are independent work against
    # disjoint indexes, so the two legs are constructed from separate
    # driver threads (the build-side pattern of build_hybrid_index,
    # applied to the probe side): the slot pays max(prep_d, prep_l),
    # not their sum. Both frames are fully constructed before fusion;
    # exceptions propagate.
    def _dense_leg() -> DataFrame:
        # dense ranks come UNHYDRATED from the shared probe core — the
        # chunk store is scanned once, for the fused winners only
        return _probe_chunk_ranks(
            spark, index_path, query_texts, pool, dim, nprobe, hash_fn
        ).select("query_id", "chunk_key", F.col("rank").alias("_rank_d"))

    def _lex_leg() -> DataFrame:
        # Lexical half degrades gracefully: queries with no non-empty
        # terms (the dense encoder defines them via the e_0
        # zero-guard) contribute an empty lexical side rather than
        # poisoning the whole call with bm25_search_many's no-terms
        # raise — exactly the missing-side-0 case RRF's full-outer
        # fusion is built for.
        if any((q or "").strip() for q in query_texts):
            return bm25_search_many(
                spark, bm25_path, query_texts, k=pool, id_col="chunk_key"
            ).select(
                "query_id", "chunk_key", F.col("rank").alias("_rank_l")
            )
        return _literal_rows(
            spark, [], "query_id bigint, chunk_key bigint, _rank_l bigint"
        )

    dense, lex = await_all(_dense_leg, _lex_leg)
    contrib_d = F.lit(1.0) / (F.lit(float(k_rrf)) + F.col("_rank_d"))
    contrib_l = F.lit(1.0) / (F.lit(float(k_rrf)) + F.col("_rank_l"))
    fused = (
        dense.join(lex, ["query_id", "chunk_key"], "full_outer")
        .withColumn(
            "rrf_score",
            F.round(
                F.coalesce(contrib_d, F.lit(0.0))
                + F.coalesce(contrib_l, F.lit(0.0)),
                6,
            ),
        )
        .drop("_rank_d", "_rank_l")
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("chunk_key")
    )
    top = fused.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= k)
    chunks = txlog.read(spark, chunks_path)
    return (
        top.join(chunks, "chunk_key")
        .select(
            "query_id",
            _query_text(query_texts),
            "chunk_key",
            "doc_id",
            "chunk_id",
            "chunk_text",
            "rrf_score",
            "rank",
        )
    )


def rerank_token_f1(
    results: DataFrame,
    k: int = 5,
    query_col: str = "query_text",
    text_col: str = "chunk_text",
    group_col: str = "query_id",
    id_col: str = "chunk_key",
) -> DataFrame:
    """Re-rank a retrieval candidate pool — the second stage of the
    standard retrieve→rerank stack. The scorer here is a
    DETERMINISTIC STAND-IN (binarized token-overlap F1 between query
    and chunk: 2PR/(P+R) over distinct normalized tokens — a real
    lexical relevance signal, pure JVM column math); production swaps
    in a model-served cross-encoder score column, and everything
    around it — candidate-pool shaping, per-query re-ranking with
    deterministic tie-breaks (previous rank, then id), top-k cut —
    is the tested path that does not change with the scorer.

    Input: any frame shaped like ``retrieve``/``hybrid_retrieve``
    output (must carry ``group_col``, ``id_col``, ``query_col``,
    ``text_col``, and a ``rank`` column from the first stage).
    Output: the same columns with ``rerank_score`` added and ``rank``
    replaced by the re-ranked position, capped at ``k``.

    Scale: the pool is |queries| x first-stage-k rows — re-scoring is
    a narrow map over an already-tiny frame and the window re-rank
    shuffles only the pool; the corpus and index are untouched."""
    qt = F.array_distinct(norm_tokens(query_col))
    ct = F.array_distinct(norm_tokens(text_col))
    inter = F.size(F.array_intersect(qt, ct)).cast("double")
    p = F.try_divide(inter, F.size(ct).cast("double"))
    r = F.try_divide(inter, F.size(qt).cast("double"))
    f1 = F.coalesce(
        F.try_divide(2.0 * p * r, p + r), F.lit(0.0)
    )
    scored = results.withColumn("rerank_score", F.round(f1, 6)).withColumn(
        "_prev_rank", F.col("rank")
    )
    from pyspark.sql import Window as W

    w = W.partitionBy(group_col).orderBy(
        F.col("rerank_score").desc(),
        F.col("_prev_rank").asc(),
        F.col(id_col),
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .drop("_prev_rank")
    )

"""RAG retrieval pipeline: deterministic hashed-feature encoder,
chunked IVF index build, and partition-pruned retrieval that returns
the right chunks for on-topic queries."""

from pyspark.sql import Row, functions as F

from mpg_data_warehouse_spark.plans.retrieval import (
    build_retrieval_index,
    hashed_feature_embedding,
    retrieve,
)


def _corpus(spark):
    topics = {
        1: "solar panels photovoltaic energy inverter grid electricity "
        "panel efficiency sunlight module voltage watt " * 3,
        2: "sourdough bread flour yeast fermentation dough baking oven "
        "crust crumb starter hydration knead " * 3,
        3: "telescope astronomy galaxy nebula star observation lens "
        "mirror aperture eyepiece celestial orbit " * 3,
    }
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in topics.items()]
    )


def test_hashed_embedding_is_unit_norm_and_deterministic(spark):
    df = _corpus(spark)
    out = hashed_feature_embedding(df, "text", dim=32)
    rows = {r.doc_id: r.embedding for r in out.collect()}
    assert len(rows) == 3
    for vec in rows.values():
        assert len(vec) == 32
        assert abs(sum(x * x for x in vec) - 1.0) < 1e-9
    rows2 = {
        r.doc_id: r.embedding
        for r in hashed_feature_embedding(df, "text", dim=32).collect()
    }
    assert rows == rows2
    # empty text embeds as e_0, never drops
    empty = hashed_feature_embedding(
        spark.createDataFrame([Row(doc_id=9, text="")]), "text", dim=8
    ).collect()
    assert empty[0].embedding[0] == 1.0 and sum(empty[0].embedding) == 1.0


def test_similar_texts_embed_closer_than_dissimilar(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="solar panel energy grid electricity"),
            Row(doc_id=2, text="solar panel energy grid voltage"),
            Row(doc_id=3, text="sourdough bread yeast baking oven"),
        ]
    )
    vecs = {
        r.doc_id: r.embedding
        for r in hashed_feature_embedding(docs, "text", dim=64).collect()
    }

    def cos(a, b):
        return sum(x * y for x, y in zip(a, b))

    assert cos(vecs[1], vecs[2]) > cos(vecs[1], vecs[3])


def test_end_to_end_retrieval_finds_on_topic_chunks(spark, tmp_path):
    idx = str(tmp_path / "idx")
    chunks = str(tmp_path / "chunks")
    build_retrieval_index(
        _corpus(spark),
        idx,
        chunks,
        dim=64,
        max_tokens=16,
        overlap=4,
        n_centroids=4,
    )
    got = retrieve(
        spark,
        idx,
        chunks,
        ["how do solar panels feed the electricity grid",
         "tips for baking sourdough bread at home"],
        k=3,
        nprobe=4,
    )
    rows = got.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1}
    # top-ranked chunk for each query comes from the on-topic doc
    top0 = min(by_q[0], key=lambda r: r.rank)
    top1 = min(by_q[1], key=lambda r: r.rank)
    assert top0.doc_id == 1
    assert top1.doc_id == 2
    # hydration attached real chunk text
    assert "solar" in top0.chunk_text
    assert "sourdough" in top1.chunk_text or "bread" in top1.chunk_text


def test_exact_match_chunk_of_doc_zero_is_returned(spark, tmp_path):
    """Regression: positional query ids used to collide with doc 0's
    chunk keys and the self-match guard silently dropped the perfect
    hit."""
    idx = str(tmp_path / "idx")
    chunks = str(tmp_path / "chunks")
    corpus = _corpus(spark)
    build_retrieval_index(
        corpus, idx, chunks, dim=64, max_tokens=16, overlap=4, n_centroids=4
    )
    doc1_text = corpus.where("doc_id = 1").first().text
    first_chunk = " ".join(doc1_text.split()[:16])
    got = retrieve(spark, idx, chunks, [first_chunk], k=3, nprobe=4)
    top = min(got.collect(), key=lambda r: r.rank)
    assert top.doc_id == 1 and top.chunk_id == 0
    assert top.cos_sim > 0.99  # the exact-match chunk itself


def test_embedding_preserves_duplicate_rows(spark):
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [Row(doc_id=1, text="alpha beta"), Row(doc_id=1, text="alpha beta")]
    )
    out = hashed_feature_embedding(df, "text", dim=16)
    assert out.count() == 2


def test_embedding_keeps_null_bearing_rows(spark):
    """ADVICE r4: rows with NULL columns (null text or null metadata)
    used to vanish in the multiplicity-restoring inner equi-join."""
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha beta", tag="t"),
            Row(doc_id=2, text=None, tag="t"),
            Row(doc_id=3, text="alpha beta", tag=None),
        ],
        "doc_id bigint, text string, tag string",
    )
    out = hashed_feature_embedding(df, "text", dim=16)
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == {1, 2, 3}
    # null text embeds as the zero-guard unit vector e_0
    assert rows[2].embedding[0] == 1.0
    assert sum(rows[2].embedding[1:]) == 0.0
    # null-metadata row keeps the real embedding of its text
    assert rows[3].embedding == rows[1].embedding


def test_hybrid_rrf_fuses_dense_and_lexical(spark, tmp_path):
    """A rare exact keyword (lexical win) and a paraphrase-ish query
    (dense win) both surface their target through RRF fusion; fused
    ranks are deterministic and k-capped."""
    from mpg_data_warehouse_spark.plans.retrieval import (
        build_hybrid_index,
        hybrid_retrieve,
    )

    corpus = _corpus(spark)
    idx = str(tmp_path / "idx")
    chunks = str(tmp_path / "chunks")
    bm25 = str(tmp_path / "bm25")
    build_hybrid_index(
        corpus, idx, chunks, bm25,
        dim=64, max_tokens=16, overlap=4, n_centroids=4,
    )
    got = hybrid_retrieve(
        spark, idx, chunks, bm25,
        ["solar panels sunlight", "bread baking flour"],
        k=3, nprobe=4,
    )
    rows = got.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1}
    for qid, qrows in by_q.items():
        assert len(qrows) <= 3
        assert sorted(r.rank for r in qrows) == list(
            range(1, len(qrows) + 1)
        )
    top0 = min(by_q[0], key=lambda r: r.rank)
    top1 = min(by_q[1], key=lambda r: r.rank)
    assert top0.doc_id == 1  # the solar doc
    assert top1.doc_id == 2  # the bread doc
    assert all(r.rrf_score > 0 for r in rows)


def test_hybrid_lexical_only_hit_still_surfaces(spark, tmp_path):
    """A chunk the dense pool misses entirely must still appear via
    its lexical rank (full-outer fusion, not an inner join)."""
    from pyspark.sql import Row as R

    from mpg_data_warehouse_spark.plans.retrieval import (
        build_hybrid_index,
        hybrid_retrieve,
    )

    docs = spark.createDataFrame(
        [
            R(doc_id=1, text="qqzzxx unique token document"),
            R(doc_id=2, text="common words about ordinary things"),
            R(doc_id=3, text="more common ordinary filler text"),
        ]
    )
    idx = str(tmp_path / "idx")
    chunks = str(tmp_path / "chunks")
    bm25 = str(tmp_path / "bm25")
    build_hybrid_index(
        docs, idx, chunks, bm25,
        dim=32, max_tokens=8, overlap=0, n_centroids=2,
    )
    got = hybrid_retrieve(
        spark, idx, chunks, bm25, ["qqzzxx"],
        k=2, dim=32, nprobe=2, pool=2,
    ).collect()
    assert min(got, key=lambda r: r.rank).doc_id == 1


def test_rerank_promotes_exact_lexical_match(spark, tmp_path):
    """A chunk containing every query token must outrank a chunk the
    dense stage scored higher on partial overlap; ties keep the
    first-stage order."""
    from mpg_data_warehouse_spark.plans.retrieval import rerank_token_f1

    pool = spark.createDataFrame(
        [
            # (query_id, query_text, chunk_key, doc_id, chunk_id,
            #  chunk_text, cos_sim, rank)
            (0, "solar panel power", 10, 1, 0,
             "discussion of solar farms and wind", 0.9, 1),
            (0, "solar panel power", 20, 2, 0,
             "solar panel power output measured daily", 0.8, 2),
            (0, "solar panel power", 30, 3, 0,
             "unrelated text about bread", 0.7, 3),
        ],
        "query_id long, query_text string, chunk_key long, doc_id long,"
        "chunk_id long, chunk_text string, cos_sim double, rank long",
    )
    out = rerank_token_f1(pool, k=2)
    rows = sorted(out.collect(), key=lambda r: r.rank)
    assert [r.chunk_key for r in rows] == [20, 10]
    assert rows[0].rerank_score > rows[1].rerank_score
    assert rows[0].rank == 1 and rows[1].rank == 2


def test_rerank_composes_with_hybrid(spark, tmp_path):
    from mpg_data_warehouse_spark.plans.retrieval import (
        build_hybrid_index,
        hybrid_retrieve,
        rerank_token_f1,
    )

    corpus = _corpus(spark)
    idx, chunks, bm25 = (
        str(tmp_path / d) for d in ("idx", "chunks", "bm25")
    )
    build_hybrid_index(
        corpus, idx, chunks, bm25,
        dim=64, max_tokens=16, overlap=4, n_centroids=4,
    )
    pool = hybrid_retrieve(
        spark, idx, chunks, bm25, ["solar panels sunlight"],
        k=5, nprobe=4,
    )
    out = rerank_token_f1(pool, k=3, id_col="chunk_key")
    rows = out.collect()
    assert 0 < len(rows) <= 3
    assert min(rows, key=lambda r: r.rank).doc_id == 1
    # zero-division guard: empty-token queries keep rows, score 0
    empty_pool = pool.withColumn("query_text", F.lit("   "))
    safe = rerank_token_f1(empty_pool, k=3)
    assert all(r.rerank_score == 0.0 for r in safe.collect())


def test_probe_validates_encoder_against_index_sidecar(spark, tmp_path):
    """A probe with a different dim/hash_fn than the index was built
    with would embed queries in another feature space and return
    near-random neighbors silently; the encoder recorded in the
    index's build commit makes it raise."""
    import pytest

    idx = str(tmp_path / "idx")
    chunks = str(tmp_path / "chunks")
    build_retrieval_index(
        _corpus(spark), idx, chunks,
        dim=32, max_tokens=16, overlap=4, n_centroids=2, hash_fn="md5",
    )
    with pytest.raises(ValueError, match="feature space"):
        retrieve(spark, idx, chunks, ["solar"], dim=64, hash_fn="md5")
    with pytest.raises(ValueError, match="feature space"):
        retrieve(spark, idx, chunks, ["solar"], dim=32, hash_fn="xxhash64")
    # matching values pass
    assert retrieve(
        spark, idx, chunks, ["solar"], k=2, dim=32, nprobe=2, hash_fn="md5"
    ).count() > 0


def test_embedding_key_grain_path_matches_default(spark):
    """key_col= selects the key-grain explode/agg plan; values must be
    bit-equal to the distinct-text plan for both hash functions,
    including the e_0 guard for empty and NULL texts."""
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [
            Row(k=1, text="alpha beta gamma alpha"),
            Row(k=2, text=""),
            Row(k=3, text=None),
            Row(k=4, text="alpha beta gamma alpha"),
        ]
    )
    for fn in ("xxhash64", "md5"):
        a = {
            r.k: r.embedding
            for r in hashed_feature_embedding(
                df, "text", dim=16, hash_fn=fn, key_col="k"
            ).collect()
        }
        b = {
            r.k: r.embedding
            for r in hashed_feature_embedding(
                df, "text", dim=16, hash_fn=fn
            ).collect()
        }
        assert a.keys() == b.keys()
        for k in a:
            assert a[k] == b[k], (fn, k)
        assert a[2][0] == 1.0 and a[3][0] == 1.0  # e_0 guard


def test_rowwise_query_embedding_matches_corpus_plan(spark):
    """The shuffle-free row-wise embedding the probe path runs on
    (r13) must be bit-equal to the corpus distinct-text plan for both
    hash functions, including duplicate texts and the e_0 guard for
    empty/NULL texts."""
    from pyspark.sql import Row

    from mpg_data_warehouse_spark.plans.retrieval import (
        _rowwise_query_embedding,
    )

    df = spark.createDataFrame(
        [
            Row(k=1, text="alpha beta gamma alpha"),
            Row(k=2, text=""),
            Row(k=3, text=None),
            Row(k=4, text="alpha beta gamma alpha"),
            Row(k=5, text="  Mixed   CASE  toks  "),
            Row(k=6, text="solar wind turbine"),
        ]
    )
    for fn in ("xxhash64", "md5"):
        a = {
            r.k: r.embedding
            for r in _rowwise_query_embedding(
                df, "text", dim=16, hash_fn=fn
            ).collect()
        }
        b = {
            r.k: r.embedding
            for r in hashed_feature_embedding(
                df, "text", dim=16, hash_fn=fn
            ).collect()
        }
        assert a.keys() == b.keys()
        for k in a:
            assert a[k] == b[k], (fn, k)
        assert a[2][0] == 1.0 and a[3][0] == 1.0  # e_0 guard


def test_driver_side_probe_cells_match_probe_cells(spark, tmp_path):
    """A persisted-index probe selects nprobe cells on the driver
    (``_nearest_cells``, over the centroids of the index's commit
    ``meta``); the chosen (query, cell) set must equal what the
    distributed ``_probe_cells`` window picks — same sequential-fold
    cosine, same (cos DESC, cell ASC) order — for every nprobe."""
    from mpg_data_warehouse_spark.operators.similarity import (
        _centroid_rows,
        _nearest_cells,
        _probe_cells,
        ivf_write_index,
    )
    from mpg_data_warehouse_spark.sources import txlog

    rng_rows = []
    for i in range(24):
        # deterministic, irregular vectors with ties in some dims
        vec = [float(((i * 7 + j * 13) % 9) - 4) for j in range(8)]
        if not any(vec):
            vec[0] = 1.0
        rng_rows.append(Row(vec_id=i, embedding=vec))
    corpus = spark.createDataFrame(rng_rows)
    idx = str(tmp_path / "idx")
    ivf_write_index(corpus, idx, n_centroids=5, refine_iters=1)
    cent_rows = _centroid_rows(txlog.snapshot_state(idx))
    centroids = spark.createDataFrame(
        cent_rows, "cent_id long, cent_vec array<double>"
    )
    queries = spark.createDataFrame(rng_rows[:6])
    q_rows = [(r.vec_id, r.embedding) for r in rng_rows[:6]]
    for nprobe in (1, 2, 5):
        spark_sel = {
            (r.query_id, r.cell)
            for r in _probe_cells(
                queries, centroids, nprobe, "vec_id", "embedding"
            ).collect()
        }
        py_sel = {
            (qid, cell)
            for qid, _v, _n, cell in _nearest_cells(q_rows, cent_rows, nprobe)
        }
        assert py_sel == spark_sel, nprobe


def test_query_paths_plan_literals_and_bm25_probe_runs_two_jobs(
    spark, tmp_path
):
    """Per-request query data enters the plans as JVM literals: no
    executed query-path plan scans a Python RDD (``ExistingRDD``), and
    a warm single-query BM25 probe costs at most two Spark jobs (one
    shuffle map stage, one result stage)."""
    from mpg_data_warehouse_spark.operators.search import bm25_search_many
    from mpg_data_warehouse_spark.plans.retrieval import (
        build_hybrid_index,
        hybrid_retrieve,
    )

    idx = str(tmp_path / "idx")
    chunks = str(tmp_path / "chunks")
    bm25 = str(tmp_path / "bm25")
    build_hybrid_index(
        _corpus(spark), idx, chunks, bm25,
        dim=32, max_tokens=16, overlap=4, n_centroids=3,
    )
    qs = ["solar panels", "bread flour", ""]
    frames = {
        "bm25_search_many": bm25_search_many(
            spark, bm25, qs, k=3, id_col="chunk_key"
        ),
        "retrieve": retrieve(spark, idx, chunks, qs, k=3, dim=32, nprobe=2),
        "hybrid_retrieve": hybrid_retrieve(
            spark, idx, chunks, bm25, qs, k=3, dim=32, nprobe=2
        ),
    }
    for name, frame in frames.items():
        assert frame.collect(), name
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan, (name, plan)

    sc = spark.sparkContext
    group = "bm25-probe-job-count"

    def probe_jobs() -> int:
        sc.setJobGroup(group, "single-query BM25 probe")
        try:
            bm25_search_many(
                spark, bm25, ["telescope"], k=3, id_col="chunk_key"
            ).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # the status store is fed by the asynchronous listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    warm = probe_jobs()
    assert probe_jobs() - warm <= 2


def test_warm_single_query_retrieval_job_count(spark, tmp_path, jobs_run_by):
    """A warm single-query request plans its dense probe from the pinned
    index state alone: no schema-inference job for the centroids, the
    inverted lists or the chunk store, and no centroid collect. Only
    the query-embedding collect runs before the scoring jobs."""
    from mpg_data_warehouse_spark.plans.retrieval import (
        build_hybrid_index,
        hybrid_retrieve,
    )

    idx = str(tmp_path / "idx")
    chunks = str(tmp_path / "chunks")
    bm25 = str(tmp_path / "bm25")
    build_hybrid_index(
        _corpus(spark), idx, chunks, bm25,
        dim=32, max_tokens=16, overlap=4, n_centroids=3,
    )
    calls = {
        "retrieve": lambda: retrieve(
            spark, idx, chunks, ["telescope"], k=3, dim=32, nprobe=2
        ).collect(),
        "hybrid_retrieve": lambda: hybrid_retrieve(
            spark, idx, chunks, bm25, ["telescope"], k=3, dim=32, nprobe=2
        ).collect(),
    }
    for call in calls.values():
        call()  # warm
    jobs = {name: jobs_run_by(call) for name, call in calls.items()}
    assert jobs["retrieve"] <= 5, jobs
    assert jobs["hybrid_retrieve"] <= 9, jobs


def test_retrieve_planned_before_an_index_change_answers_from_its_version(
    spark, tmp_path
):
    """A ``retrieve`` frame pins the IVF index version it was planned
    on: planned before ``ivf_delete_index`` or ``ivf_append_index`` and
    collected after it, it returns the hits from before the change."""
    from mpg_data_warehouse_spark.operators.similarity import (
        ivf_append_index,
        ivf_delete_index,
    )

    idx = str(tmp_path / "idx")
    chunks = str(tmp_path / "chunks")
    build_retrieval_index(
        _corpus(spark), idx, chunks,
        dim=32, max_tokens=16, overlap=4, n_centroids=2,
    )
    queries = ["solar panels", "telescope galaxy"]

    def request():
        return retrieve(spark, idx, chunks, queries, k=3, dim=32, nprobe=2)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    original = rows(request())
    top = {r[2]: r[5] for r in original if r[-1] == 1}  # key -> text
    # the top hits' vectors, re-embedded with the index's encoder
    gone = hashed_feature_embedding(
        spark.createDataFrame(list(top.items()), "chunk_key long, chunk_text string"),
        "chunk_text",
        dim=32,
    ).select("chunk_key", "embedding")

    planned = request()
    assert ivf_delete_index(
        spark, idx, spark.createDataFrame([Row(chunk_key=k) for k in top]),
        id_col="chunk_key",
    ) == len(top)
    assert rows(planned) == original
    deleted = rows(request())
    assert deleted != original

    planned = request()
    assert ivf_append_index(
        spark, idx, gone, id_col="chunk_key", vec_col="embedding"
    ) == len(top)
    assert rows(planned) == deleted
    assert rows(request()) == original

"""Persisted inverted index: build, OR/AND search, stopword damping,
BM25 ranking, and probes that read only the query terms' bucket files."""

import os
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mpg_data_warehouse_spark.operators.search import (
    build_ranked_index,
    search_terms,
)


def _docs(spark):
    return spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha bravo charlie delta"),
            Row(doc_id=2, text="alpha bravo echo"),
            Row(doc_id=3, text="charlie delta foxtrot"),
            Row(doc_id=4, text="Alpha ALPHA alpha"),  # case + repeats
        ]
    )


def test_search_any_and_all(spark, tmp_path):
    idx = str(tmp_path / "idx")
    build_ranked_index(_docs(spark), idx)
    any_hits = {
        r.doc_id for r in search_terms(spark, idx, ["alpha", "charlie"]).collect()
    }
    assert any_hits == {1, 2, 3, 4}
    all_hits = {
        r.doc_id
        for r in search_terms(spark, idx, ["alpha", "charlie"], mode="all").collect()
    }
    assert all_hits == {1}
    # query terms normalize like the index (case-insensitive)
    assert {
        r.doc_id for r in search_terms(spark, idx, ["ALPHA"]).collect()
    } == {1, 2, 4}
    with pytest.raises(ValueError):
        search_terms(spark, idx, ["  "])
    with pytest.raises(ValueError):
        search_terms(spark, idx, ["x"], mode="fuzzy")


def test_max_df_drops_stopword_postings(spark, tmp_path):
    idx = str(tmp_path / "idx")
    # 'alpha' appears in 3 docs -> dropped at max_df=2
    build_ranked_index(_docs(spark), idx, max_df=2)
    assert search_terms(spark, idx, ["alpha"]).count() == 0
    assert {
        r.doc_id for r in search_terms(spark, idx, ["charlie"]).collect()
    } == {1, 3}


def test_search_scan_is_partition_pruned(spark, tmp_path):
    from mpg_data_warehouse_spark.operators.search import term_bucket_py
    from mpg_data_warehouse_spark.sources import txlog
    from mpg_data_warehouse_spark.sources.storage import uri_to_path

    idx = str(tmp_path / "idx")
    build_ranked_index(_docs(spark), idx)
    state = txlog.snapshot_state(idx)
    hits = search_terms(spark, idx, ["foxtrot"])
    assert {r.doc_id for r in hits.collect()} == {3}
    # the scan opens exactly the probed bucket's live files
    probed = txlog._part_files(
        state, "bucket", [term_bucket_py("foxtrot", state["meta"]["n_buckets"])]
    )
    assert probed
    assert {uri_to_path(f) for f in hits.inputFiles()} == {
        os.path.join(idx, p) for p in probed
    }


def test_phrase_query_tokenizes_like_the_index(spark, tmp_path):
    idx = str(tmp_path / "idx")
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="machine learning systems"),
            Row(doc_id=2, text="machine tooling"),
            Row(doc_id=3, text="deep learning"),
        ]
    )
    build_ranked_index(docs, idx)
    # a phrase splits into its indexed terms instead of never matching
    assert {
        r.doc_id
        for r in search_terms(spark, idx, ["machine learning"]).collect()
    } == {1, 2, 3}
    assert {
        r.doc_id
        for r in search_terms(
            spark, idx, ["machine learning"], mode="all"
        ).collect()
    } == {1}


def _bm25_ref(corpus, query_terms, k1=1.2, b=0.75):
    """Independent in-Python BM25 (Lucene/Robertson variant) for the
    fixture corpus: {doc_id: score}."""
    import math

    toks = {d: t.lower().split() for d, t in corpus.items()}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    scores = {}
    for term in sorted(set(query_terms)):
        df = sum(1 for t in toks.values() if term in t)
        if df == 0:
            continue
        idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
        for d, t in toks.items():
            tf = t.count(term)
            if not tf:
                continue
            w = idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(t) / avgdl))
            scores[d] = scores.get(d, 0.0) + w
    return scores


def test_bm25_matches_reference_formula(spark, tmp_path):
    from mpg_data_warehouse_spark.operators.search import (
        bm25_search,
        bm25_search_many,
        build_ranked_index,
    )

    corpus = {
        1: "alpha bravo charlie delta",
        2: "alpha bravo echo",
        3: "charlie delta foxtrot",
        4: "Alpha ALPHA alpha",
    }
    docs = spark.createDataFrame(
        [Row(doc_id=d, text=t) for d, t in corpus.items()]
    )
    idx = str(tmp_path / "ridx")
    build_ranked_index(docs, idx)
    got = {
        r.doc_id: r.score
        for r in bm25_search(spark, idx, "alpha charlie", k=10).collect()
    }
    ref = _bm25_ref(corpus, ["alpha", "charlie"])
    assert set(got) == set(ref)
    for d in ref:
        assert abs(got[d] - ref[d]) < 1e-5, (d, got[d], ref[d])
    # one batch: two queries sharing a term, a repeated query, an empty
    # query and a term absent from the index. A shared term's df must
    # be its posting-list length, not that times the queries asking.
    batch = ["alpha charlie", "charlie delta", "alpha charlie", "", "zulu alpha"]
    got_many = {}
    for r in bm25_search_many(spark, idx, batch, k=10).collect():
        got_many.setdefault(r.query_id, {})[r.doc_id] = r.score
    for qi, q in enumerate(batch):
        ref = _bm25_ref(corpus, q.split())
        got = got_many.get(qi, {})
        assert set(got) == set(ref), (q, got, ref)
        for d in ref:
            assert abs(got[d] - ref[d]) < 1e-5, (q, d, got[d], ref[d])


def test_await_all_settles_every_leg_before_raising():
    """await_all must wait for EVERY leg before propagating the first
    exception — a caller may clean up the paths the legs write to, so
    returning with a leg still running would race that cleanup."""
    import time

    from mpg_data_warehouse_spark.concurrency import await_all

    settled = []

    def slow_ok():
        time.sleep(0.3)
        settled.append("slow")

    def fast_boom():
        raise ValueError("boom")

    with pytest.raises(ValueError, match="boom"):
        await_all(slow_ok, fast_boom)
    assert settled == ["slow"]


def test_build_rebuild_over_existing_index_leaves_no_stale_state(
    spark, tmp_path
):
    """Rebuilding an index AT THE SAME PATH over a smaller corpus is one
    commit that replaces every live file: no postings, manifest rows or
    stats from the previous (wider) build stay visible."""
    from mpg_data_warehouse_spark.operators import search as S
    from mpg_data_warehouse_spark.sources import txlog

    docs = spark.createDataFrame(
        [Row(doc_id=d, text=f"term{d} shared word") for d in range(40)]
    )
    idx = str(tmp_path / "ridx")
    S.build_ranked_index(docs, idx)
    # rebuild over a 5-doc corpus at the same path
    S.build_ranked_index(docs.filter("doc_id < 5"), idx)
    state = txlog.snapshot_state(idx)
    assert state["version"] == 1
    for part in ("bucket", "idb"):
        ids = {
            r.doc_id
            for r in S._read(spark, idx, state, part).select("doc_id").collect()
        }
        assert ids == set(range(5)), (part, ids)
    # a term only the old corpus had scores nothing
    assert S.bm25_search(spark, idx, "term30", k=10).count() == 0
    # stats retreated with the rebuild
    assert state["meta"]["n_docs"] == 5


def test_bm25_rank_is_deterministic_and_k_capped(spark, tmp_path):
    from mpg_data_warehouse_spark.operators.search import (
        bm25_search_many,
        build_ranked_index,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=i, text="tie tie tie") for i in range(5)]
    )
    idx = str(tmp_path / "ridx")
    build_ranked_index(docs, idx)
    rows = bm25_search_many(spark, idx, ["tie"], k=3).collect()
    # equal scores -> rank ties broken by doc id, capped at k
    assert [(r.doc_id, r.rank) for r in sorted(rows, key=lambda r: r.rank)] == [
        (0, 1),
        (1, 2),
        (2, 3),
    ]


def test_bm25_repeated_term_saturates_not_linear(spark, tmp_path):
    """tf saturation: 3x the term count must score higher but far
    less than 3x (the k1 clamp) — the property that distinguishes
    BM25 from raw tf."""
    from mpg_data_warehouse_spark.operators.search import (
        bm25_search,
        build_ranked_index,
    )

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="zeta one two"),
            Row(doc_id=2, text="zeta zeta zeta"),
            Row(doc_id=3, text="other words here"),
        ]
    )
    idx = str(tmp_path / "ridx")
    build_ranked_index(docs, idx)
    got = {r.doc_id: r.score for r in bm25_search(spark, idx, "zeta").collect()}
    assert got[2] > got[1]
    assert got[2] < 3 * got[1]


def test_index_is_self_describing_on_bucket_count(spark, tmp_path):
    """A probe against an index built with a different n_buckets used
    to silently filter matching postings out; the layout is now
    recorded in the index and mismatched explicit values raise."""
    from mpg_data_warehouse_spark.operators.search import bm25_search

    idx = str(tmp_path / "idx32")
    build_ranked_index(_docs(spark), idx, n_buckets=32)
    # no n_buckets passed: resolved from the index meta
    got = {r.doc_id for r in search_terms(spark, idx, ["alpha"]).collect()}
    assert got == {1, 2, 4}
    with pytest.raises(ValueError, match="n_buckets=32"):
        search_terms(spark, idx, ["alpha"], n_buckets=64)
    assert bm25_search(spark, idx, "alpha", k=5).count() == 3
    with pytest.raises(ValueError, match="n_buckets=32"):
        bm25_search(spark, idx, "alpha", k=5, n_buckets=64)


def test_bm25_append_matches_full_rebuild(spark, tmp_path):
    """Incremental append over two batches scores identically to one
    full build over the union — stats advance arithmetically and df
    re-derives from the probed lists."""
    from mpg_data_warehouse_spark.operators.search import (
        bm25_append_index,
        bm25_search,
        build_ranked_index,
    )

    batch1 = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha bravo charlie"),
            Row(doc_id=2, text="alpha bravo echo"),
        ]
    )
    batch2 = spark.createDataFrame(
        [
            Row(doc_id=3, text="charlie delta foxtrot"),
            Row(doc_id=4, text="alpha alpha golf"),
            Row(doc_id=5, text=""),  # no token: no postings, not counted
        ]
    )
    inc = str(tmp_path / "inc")
    build_ranked_index(batch1, inc)
    assert bm25_append_index(batch2, inc) == 2
    full = str(tmp_path / "full")
    build_ranked_index(batch1.unionByName(batch2), full)
    for q in ("alpha", "charlie delta", "golf"):
        a = {(r.doc_id, r.score) for r in bm25_search(spark, inc, q).collect()}
        b = {(r.doc_id, r.score) for r in bm25_search(spark, full, q).collect()}
        assert a == b, q


def test_bm25_append_replay_is_idempotent(spark, tmp_path):
    from mpg_data_warehouse_spark.operators.search import (
        bm25_append_index,
        bm25_search,
        build_ranked_index,
    )
    from mpg_data_warehouse_spark.sources import txlog

    idx = str(tmp_path / "idx")
    build_ranked_index(
        spark.createDataFrame([Row(doc_id=1, text="alpha bravo")]), idx
    )
    batch = spark.createDataFrame([Row(doc_id=2, text="alpha charlie")])
    assert bm25_append_index(batch, idx) == 1
    assert txlog.latest_version(idx) == 1  # one version per change
    # replayed delivery: same ids drop out, stats unchanged, no version
    assert bm25_append_index(batch, idx) == 0
    assert txlog.latest_version(idx) == 1
    rows = bm25_search(spark, idx, "alpha").collect()
    assert {r.doc_id for r in rows} == {1, 2}
    assert len(rows) == 2


def test_ingest_calls_evaluate_their_batch_once(spark, tmp_path):
    """``txlog.merge``, ``bm25_append_index`` and ``bm25_delete_index``
    each read their caller's batch exactly once: a Python UDF on the
    key column ticks an accumulator once per evaluated row, so every
    re-evaluation of the batch would show as extra ticks."""
    from mpg_data_warehouse_spark.operators.search import (
        bm25_append_index,
        bm25_delete_index,
        build_ranked_index,
    )
    from mpg_data_warehouse_spark.sources import txlog

    ticks = spark.sparkContext.accumulator(0)

    def tick(v):
        ticks.add(1)
        return v

    tick_udf = F.udf(tick, "bigint").asNondeterministic()

    def counted(rows):
        return spark.createDataFrame(rows).withColumn(
            "doc_id", tick_udf("doc_id")
        )

    def rows_read(call, rows) -> int:
        ticks.value = 0
        call(counted(rows))
        return ticks.value

    tx = str(tmp_path / "tx")
    txlog.create(
        spark,
        tx,
        spark.createDataFrame(
            [Row(doc_id=1, text="alpha"), Row(doc_id=2, text="bravo")]
        ),
    )
    upsert = [Row(doc_id=2, text="bravo two"), Row(doc_id=3, text="charlie")]
    assert rows_read(
        lambda b: txlog.merge(spark, tx, b, keys=["doc_id"]), upsert
    ) == len(upsert)
    assert {(r.doc_id, r.text) for r in txlog.read(spark, tx).collect()} == {
        (1, "alpha"), (2, "bravo two"), (3, "charlie")
    }

    idx = str(tmp_path / "idx")
    build_ranked_index(
        spark.createDataFrame([Row(doc_id=1, text="alpha bravo")]), idx
    )
    fresh = [Row(doc_id=2, text="alpha charlie"), Row(doc_id=3, text="delta")]
    assert rows_read(lambda b: bm25_append_index(b, idx), fresh) == len(fresh)
    assert rows_read(lambda b: bm25_delete_index(b, idx), fresh) == len(fresh)


def test_bm25_append_job_count(spark, tmp_path, jobs_run_by):
    """A warm append of a small batch runs at most 12 Spark jobs: the
    batch is read once and tf, dl and the stats come from one persisted
    postings frame (18 jobs with separate tf/dl frames and a join)."""
    from mpg_data_warehouse_spark.operators.search import (
        bm25_append_index,
        build_ranked_index,
    )

    idx = str(tmp_path / "idx")
    build_ranked_index(
        spark.createDataFrame(
            [Row(doc_id=i, text=f"alpha bravo t{i}") for i in range(8)]
        ),
        idx,
    )

    def append(lo: int) -> int:
        batch = spark.createDataFrame(
            [Row(doc_id=i, text=f"charlie t{i} t{i}")
             for i in range(lo, lo + 4)]
        )
        return jobs_run_by(lambda: bm25_append_index(batch, idx))

    append(100)  # warm
    assert append(200) <= 12


def test_bm25_delete_matches_rebuild_without_docs(spark, tmp_path):
    """Deleting docs (with their indexed text) scores identically to
    a fresh build over the survivors; stats retreat arithmetically."""
    from mpg_data_warehouse_spark.operators.search import (
        bm25_delete_index,
        bm25_search,
        build_ranked_index,
    )
    from mpg_data_warehouse_spark.sources import txlog

    all_docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha bravo charlie"),
            Row(doc_id=2, text="alpha bravo echo"),
            Row(doc_id=3, text="charlie delta foxtrot"),
            Row(doc_id=4, text="alpha alpha golf"),
        ]
    )
    idx = str(tmp_path / "idx")
    build_ranked_index(all_docs, idx)
    victims = all_docs.filter(F.col("doc_id").isin([2, 4]))
    assert bm25_delete_index(victims, idx) == 2
    ref = str(tmp_path / "ref")
    build_ranked_index(all_docs.filter(~F.col("doc_id").isin([2, 4])), ref)
    for q in ("alpha", "charlie delta", "echo"):
        a = {(r.doc_id, r.score) for r in bm25_search(spark, idx, q).collect()}
        b = {(r.doc_id, r.score) for r in bm25_search(spark, ref, q).collect()}
        assert a == b, q
    # replay: deleting again removes nothing and adds no version
    assert txlog.latest_version(idx) == 1
    assert bm25_delete_index(victims, idx) == 0
    assert txlog.latest_version(idx) == 1


def test_bm25_delete_full_wipe_keeps_index_usable(spark, tmp_path):
    from mpg_data_warehouse_spark.operators.search import (
        bm25_append_index,
        bm25_delete_index,
        bm25_search_many,
        build_ranked_index,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="alpha bravo"), Row(doc_id=2, text="alpha c")]
    )
    idx = str(tmp_path / "idx")
    build_ranked_index(docs, idx)
    assert bm25_delete_index(docs, idx) == 2
    # still readable: empty result, no AnalysisException
    assert (
        bm25_search_many(spark, idx, ["alpha"], k=5).count() == 0
    )
    # and appendable: the natural next step after a wipe
    assert bm25_append_index(
        spark.createDataFrame([Row(doc_id=3, text="alpha delta")]), idx
    ) == 1
    got = bm25_search_many(spark, idx, ["alpha"], k=5).collect()
    assert [r.doc_id for r in got] == [3]


def test_bm25_append_replay_guard_survives_text_drift(spark, tmp_path):
    """The replay guard is keyed on the doc-id MANIFEST, not text: a
    redelivered batch whose text mutated between deliveries must still
    drop out (the old term-bucket probe could miss it)."""
    from mpg_data_warehouse_spark.operators.search import (
        bm25_append_index,
        bm25_search,
        build_ranked_index,
    )

    idx = str(tmp_path / "idx")
    build_ranked_index(
        spark.createDataFrame([Row(doc_id=1, text="alpha bravo")]), idx
    )
    batch = spark.createDataFrame([Row(doc_id=2, text="zulu yankee")])
    assert bm25_append_index(batch, idx) == 1
    # redelivery with MUTATED text — entirely different term buckets
    mutated = spark.createDataFrame([Row(doc_id=2, text="qq ww ee")])
    assert bm25_append_index(mutated, idx) == 0
    rows = bm25_search(spark, idx, "zulu").collect()
    assert [r.doc_id for r in rows] == [2]
    # the mutated terms were never inserted
    assert bm25_search(spark, idx, "qq").count() == 0


def test_bm25_delete_by_bare_ids_no_text_needed(spark, tmp_path):
    """Deletion takes document ids only — the manifest locates the
    posting buckets, so the caller needn't (and can't wrongly)
    supply text."""
    from mpg_data_warehouse_spark.operators.search import (
        bm25_delete_index,
        bm25_search,
        build_ranked_index,
    )

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha bravo charlie"),
            Row(doc_id=2, text="alpha bravo echo"),
            Row(doc_id=3, text="charlie delta foxtrot"),
        ]
    )
    idx = str(tmp_path / "idx")
    build_ranked_index(docs, idx)
    victims = spark.createDataFrame([Row(doc_id=2)])
    assert bm25_delete_index(victims, idx) == 1
    ref = str(tmp_path / "ref")
    build_ranked_index(docs.filter(F.col("doc_id") != 2), ref)
    for q in ("alpha", "echo", "charlie delta"):
        a = {(r.doc_id, r.score) for r in bm25_search(spark, idx, q).collect()}
        b = {(r.doc_id, r.score) for r in bm25_search(spark, ref, q).collect()}
        assert a == b, q


def test_index_maintenance_requires_manifest(spark, tmp_path):
    """An index without a transaction log — the older layout of
    postings, ``_docs`` manifest and JSON stats sidecar — fails loudly
    instead of guessing."""
    import shutil

    from mpg_data_warehouse_spark.operators.search import (
        bm25_append_index,
        bm25_delete_index,
        bm25_search,
        build_ranked_index,
    )
    from mpg_data_warehouse_spark.sources import txlog

    idx = str(tmp_path / "idx")
    build_ranked_index(
        spark.createDataFrame([Row(doc_id=1, text="alpha")]), idx
    )
    shutil.rmtree(os.path.join(idx, txlog.LOG_DIR))
    batch = spark.createDataFrame([Row(doc_id=2, text="bravo")])
    for call in (
        lambda: bm25_append_index(batch, idx),
        lambda: bm25_delete_index(batch, idx),
        lambda: bm25_search(spark, idx, "alpha"),
    ):
        with pytest.raises(ValueError, match="rebuild with build_ranked"):
            call()


def test_capped_out_doc_still_in_manifest_and_deletable(spark, tmp_path):
    """A doc whose EVERY term is max_df-capped owns zero postings but
    still counts in the corpus stats; the manifest must carry it
    (empty bucket set) so deletion by id retreats n_docs/avgdl
    correctly."""
    from mpg_data_warehouse_spark.operators.search import (
        bm25_delete_index,
        build_ranked_index,
    )
    from mpg_data_warehouse_spark.sources import txlog

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="common common"),  # only capped terms
            Row(doc_id=2, text="common rare"),
            Row(doc_id=3, text="common rare2"),
        ]
    )
    idx = str(tmp_path / "idx")
    build_ranked_index(docs, idx, max_df=2)  # 'common' df=3 -> capped
    stats = txlog.snapshot_state(idx)["meta"]
    assert stats["n_docs"] == 3 and stats["dl_sum"] == 6
    # doc 1 deletable by bare id even though it has no postings
    assert bm25_delete_index(
        spark.createDataFrame([Row(doc_id=1)]), idx
    ) == 1
    stats = txlog.snapshot_state(idx)["meta"]
    assert stats["n_docs"] == 2 and stats["dl_sum"] == 4


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _topk(spark, idx, queries=("alpha", "charlie delta", "token7 golf")):
    from mpg_data_warehouse_spark.operators.search import bm25_search_many

    return _rows(bm25_search_many(spark, idx, list(queries), k=100))


def _lifecycle_docs(spark):
    words = ("alpha", "bravo", "charlie", "delta", "golf")
    return spark.createDataFrame(
        [
            Row(doc_id=i, text=f"{words[i % 5]} token{i} {words[i % 3]}")
            for i in range(40)
        ]
    )


def test_bm25_compact_index_merges_files_preserves_results(spark, tmp_path):
    """Two appends leave one file per batch per touched partition;
    compaction merges each fragmented bucket/idb partition to ONE
    file in one commit, preserves search results and stats exactly,
    keeps the replay guard exact, and is idempotent (a second run
    finds nothing fragmented and adds no version)."""
    from collections import Counter

    from mpg_data_warehouse_spark.operators import search as S
    from mpg_data_warehouse_spark.sources import txlog

    def fragmented(part):
        state = txlog.snapshot_state(idx)
        n = Counter(
            state["files"][p]["partition"][part]
            for p in txlog._part_files(state, part)
        )
        return {v for v, c in n.items() if c >= 2}

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"alpha shared token{i}") for i in range(60)]
    )
    idx = str(tmp_path / "idx")
    S.build_ranked_index(docs.filter("doc_id < 30"), idx)
    S.bm25_append_index(docs.filter("doc_id >= 30 and doc_id < 45"), idx)
    S.bm25_append_index(docs.filter("doc_id >= 45"), idx)
    assert fragmented("bucket") and fragmented("idb")  # debt exists

    before = _topk(spark, idx, ["alpha shared", "token7"])
    state = txlog.snapshot_state(idx)
    rep = S.bm25_compact_index(spark, idx)
    assert rep["buckets_compacted"] > 0 and rep["idbs_compacted"] > 0
    assert rep["files_merged"] > 0
    assert not fragmented("bucket") and not fragmented("idb")
    after = txlog.snapshot_state(idx)
    assert after["version"] == state["version"] + 1
    assert after["meta"] == state["meta"]
    assert _topk(spark, idx, ["alpha shared", "token7"]) == before
    # replay guard still exact after the layout rewrite
    assert S.bm25_append_index(docs, idx) == 0
    # idempotent
    rep2 = S.bm25_compact_index(spark, idx)
    assert rep2["buckets_compacted"] == 0 and rep2["files_merged"] == 0
    assert txlog.latest_version(idx) == after["version"]


@pytest.mark.parametrize("fault", ["data_write", "commit_install"])
@pytest.mark.parametrize("op", ["rebuild", "append", "delete", "compact"])
def test_bm25_fault_leaves_index_whole_and_blind_retry_converges(
    spark, tmp_path, crash_at, op, fault
):
    """A fault at either commit point of any index change — after the
    change's data files are written, or while its commit installs —
    leaves the index answering exactly as before at the same version.
    A blind retry of the same call then adds one version and answers
    like a fresh build over the resulting corpus."""
    from mpg_data_warehouse_spark.operators import search as S
    from mpg_data_warehouse_spark.sources import txlog

    docs = _lifecycle_docs(spark)
    idx = str(tmp_path / "idx")
    S.build_ranked_index(docs.filter("doc_id < 20"), idx)
    S.bm25_append_index(docs.filter("doc_id >= 20 and doc_id < 30"), idx)
    change, final = {
        "rebuild": (
            lambda: S.build_ranked_index(docs.filter("doc_id < 35"), idx),
            docs.filter("doc_id < 35"),
        ),
        # an overlapping redelivery: ids 25..29 are already indexed
        "append": (
            lambda: S.bm25_append_index(docs.filter("doc_id >= 25"), idx),
            docs,
        ),
        "delete": (
            lambda: S.bm25_delete_index(docs.filter("doc_id % 3 = 0"), idx),
            docs.filter("doc_id < 30 and doc_id % 3 != 0"),
        ),
        "compact": (
            lambda: S.bm25_compact_index(spark, idx),
            docs.filter("doc_id < 30"),
        ),
    }[op]
    before, version = _topk(spark, idx), txlog.latest_version(idx)

    crash_at(fault, change)
    assert txlog.latest_version(idx) == version
    assert _topk(spark, idx) == before
    change()
    assert txlog.latest_version(idx) == version + 1
    fresh = str(tmp_path / "fresh")
    S.build_ranked_index(final, fresh)
    assert _topk(spark, idx) == _topk(spark, fresh)


def test_bm25_search_planned_before_a_change_answers_from_its_version(
    spark, tmp_path
):
    """A search frame pins the index version it was planned on: planned
    before an append or a compaction and collected after it, it returns
    the top-k from before the change — never new postings scored with
    old stats, and never a read of files the change replaced."""
    from mpg_data_warehouse_spark.operators import search as S

    docs = _lifecycle_docs(spark)
    idx = str(tmp_path / "idx")
    queries = ["alpha token25", "charlie delta"]
    S.build_ranked_index(docs.filter("doc_id < 20"), idx)

    want = _rows(S.bm25_search_many(spark, idx, queries, k=5))
    planned = S.bm25_search_many(spark, idx, queries, k=5)
    assert S.bm25_append_index(docs.filter("doc_id >= 20"), idx) == 20
    assert _rows(planned) == want
    # a frame planned after the append does see it
    assert _rows(S.bm25_search_many(spark, idx, queries, k=5)) != want

    want = _rows(S.bm25_search_many(spark, idx, queries, k=5))
    planned = S.bm25_search_many(spark, idx, queries, k=5)
    assert S.bm25_compact_index(spark, idx)["files_merged"] > 0
    assert _rows(planned) == want


def test_term_bucket_py_matches_spark(spark):
    """The driver-side XXH64 twin must match Spark's engine hash
    EXACTLY — a drifted bucket silently prunes the wrong partitions.
    Covers unicode, empties-after-strip shapes, every length class of
    the XXH64 tail handling (0..3, 4..7, 8.., and >=32 stripe), and
    fuzzed random strings."""
    import random
    import string

    from mpg_data_warehouse_spark.operators import search as S

    rng = random.Random(13)
    tricky = [
        "a", "ab", "abc", "abcd", "abcdefg", "abcdefgh", "abcdefghi",
        "x" * 31, "x" * 32, "x" * 33, "x" * 100,
        "naïve", "日本語のテキスト", "emoji🙂mix", "tab\tsep",
        "table", "scan", "merge", "window", "join", "batch",
    ]
    fuzz = [
        "".join(
            rng.choice(string.printable + "éüñ中日🙂")
            for _ in range(rng.randint(1, 80))
        )
        for _ in range(60)
    ]
    terms = tricky + fuzz
    rows = (
        spark.createDataFrame([(t,) for t in terms], "term string")
        .select(
            "term",
            S.term_bucket(F.col("term"), 64).alias("b64"),
            S.term_bucket(F.col("term"), 7).alias("b7"),
            F.xxhash64("term").alias("h"),
        )
        .collect()
    )
    for r in rows:
        assert S.xxhash64_py(r["term"].encode("utf-8")) == r["h"], r["term"]
        assert S.term_bucket_py(r["term"], 64) == r["b64"], r["term"]
        assert S.term_bucket_py(r["term"], 7) == r["b7"], r["term"]

"""What each workload runs, at what size, and which layer owns each job."""

from __future__ import annotations

from gen import Sizes

# driver-query job -> the operator module whose code the job exercises
WRANGLE_JOBS = {
    "ground_cover_pct_complete": "operators.complete",
    "functional_groups_detection_rate": "operators.complete",
    "species_richness_union_dedup": "operators.aggregates",
    "multi_way_join_enrich": "operators.joins",
    "membership_semi_anti": "operators.append",
    "ingest_transform_rename": "sources.readers",
    "date_repair_from_dim": "plans.driver_queries",
    "string_agg_top3_dates": "operators.aggregates",
    "group_multiples_having": "plans.driver_queries",
    "window_partition_count": "sources.readers",
    "null_audit_events": "operators.validate",
}
# corpus jobs timed in the window: the short ones (0.3-2 s warm), so a
# run holds several passes. minhash_near_dup_pairs, simhash_near_dup_pairs,
# near_dup_retention, quality_classifier_scores, dsir_select and
# pack_token_budget pass their oracle on the generated corpus too but take
# 2-5 s warm and 4-20 s cold; the pipeline's cold run covers MinHash dedup,
# quality scoring, sampling and packing, and operators.similarity (which
# embedding_cosine_near_dup exercises) runs its IVF probe inside every
# hybrid query of ingest_and_retrieve (README.md: time budget)
CORPUS_JOBS = {
    "text_tokens_fingerprint": "operators.text",
    "span_duplication_stats": "operators.dedup",
    "text_profile": "operators.text",
}
# the end-to-end curation pipeline, run once in the cold pass beside the
# jobs: exact and MinHash near-dup dedup, quality filtering, per-source
# token-budget sampling and sequence packing
PIPELINE = "plans.pipelines.curate_corpus_pipeline"
PIPELINE_ARGS = dict(min_quality=0.5, max_tokens=64, overlap=8,
                     target_tokens_per_source=1000.0)

# a batch run first runs WARM_PASSES untimed passes (the first passes
# after the cold one are still 20-30 % slower), then times at least
# MIN_PASSES whole passes, and more while --seconds have not passed; each
# job's median then has as many samples. ingest_and_retrieve likewise
# times whole cycles, at least MIN_CYCLES
WARM_PASSES = 1
MIN_PASSES = 3
MIN_CYCLES = 1

SIZES = {
    # star schema at 1/10 of the reference's ~300K-row facts: the jobs are
    # dominated by fixed per-job and per-task cost at either size
    "wrangle_batch": Sizes(lineitem=30_000, base_docs=50, doc_copies=1, base_vecs=50),
    # corpus: base documents replicated with key offsets, a share perturbed
    "corpus_curation": Sizes(lineitem=600, base_docs=250, doc_copies=4, base_vecs=250),
    # retrieval corpus: base documents indexed at set-up; ingest batches
    # are drawn from the same generator under fresh ids
    "ingest_and_retrieve": Sizes(lineitem=600, base_docs=100, doc_copies=1, base_vecs=10),
}

# ingest_and_retrieve request stream. Assumed mix, not measured from a
# trace: an interactive analysis session is read-dominated, so each cycle
# holds five queries (four lexical, one hybrid) per ingest batch, in a
# seeded order. The dense probe runs inside every hybrid query; a
# separate dense ``retrieve`` request does not fit the time budget
# (README.md). Maintenance is not a request: after every
# COMPACT_EVERY-th ingest the loop compacts the index and the table,
# timed apart from the requests.
CYCLE = ("lexical",) * 4 + ("hybrid", "ingest")
QUERY_KINDS = ("lexical", "hybrid")
COMPACT_EVERY = 2
BATCH_DOCS = 8  # fresh documents per ingest batch
REDELIVERED_DOCS = 1  # already ingested documents re-sent in each batch
TOP_K = 10  # lexical
HYBRID_K = 5
PROBES = 8  # queries of the final appended-vs-rebuilt top-k check

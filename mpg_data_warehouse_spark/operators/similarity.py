"""Similarity search over embedding columns (``array<float>``).

Three paths, mirroring production vector-search practice:

* ``cosine_topk`` — exact brute force: broadcast the (small) query
  set against the corpus, one narrow map stage + TakeOrdered per
  query. The right baseline, and the recall oracle for the ANN path.
* ``lsh_topk`` — random-hyperplane LSH: corpus bucketed by sign
  pattern; queries probe their own bucket (plus multi-probe
  neighbors), scoring only the bucket's members. At 100 TB the
  bucketed path turns a full-corpus scan per query into a keyed
  join on bucket id. Hyperplanes are md5-derived (deterministic —
  no RNG state, resumable, identical across runs/engines).
* ``ivf_topk`` / ``ivf_write_index`` — k-means cells: queries score
  only their ``nprobe`` nearest cells' members. The persisted form is
  one ``sources/txlog`` table (see the block comment above
  ``ivf_write_index``).

All arithmetic is elementwise-double fold (zip_with + aggregate),
bit-identical to the DuckDB oracle's sequential fold — verified
empirically, which lets the driver hash-match exact cosine scores.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from mpg_data_warehouse_spark.sources import txlog


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ with elementwise double cast and sequential fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Null on zero-norm inputs (``try_divide``), never NaN: Spark
    sorts NaN ABOVE every double and treats ``NaN >= t`` as true, so a
    NaN cosine from a zero vector would win every top-k ranking and
    pass every near-dup threshold. Null does neither."""
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine: broadcast queries × corpus, ranked per
    query with deterministic tie-break on neighbor id. Output:
    (query_id, neighbor_id, cos_sim, rank). Self-matches excluded.

    Norms are projected per SIDE ROW below the join (``q_norm``
    materializes in the broadcast relation, ``c_norm`` in the stream
    side's child project), so each candidate pair costs one array
    fold (the dot), not three — same IEEE ops in the same order as
    folding inline, so scores stay bit-identical to the oracle."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        l2_norm(F.col(vec_col)).alias("q_norm"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        l2_norm(F.col(vec_col)).alias("c_norm"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.try_divide(
                    dot(F.col("q_vec"), F.col("c_vec")),
                    F.col("q_norm") * F.col("c_norm"),
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def _hyperplane_values(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random hyperplane components: component d
    is md5("plane{p}|dim{d}") first-8-hex → uint32, scaled to
    [-0.5, 0.5). Stateless — any process recomputes the identical
    plane (hashlib here == Spark md5 on UTF-8; the driver oracle
    relies on that to mirror bucketing bit-for-bit)."""
    import hashlib

    return [
        int(hashlib.md5(f"plane{plane}|dim{d}".encode()).hexdigest()[:8], 16)
        / float(0xFFFFFFFF)
        - 0.5
        for d in range(dim)
    ]


def _hyperplane(dim: int, plane: int) -> Column:
    """Plane as a literal double array. Computed driver-side in Python
    rather than as 64 md5/conv/cast expression nodes per plane: the
    values are constants either way, but literal arrays keep the
    bucket expression small enough for fast codegen (8 planes × 64
    dims of md5 nodes measurably slowed plan compilation)."""
    return F.array(*[F.lit(v) for v in _hyperplane_values(dim, plane)])


def _check_dim(df: DataFrame, vec_col: str, dim: int) -> None:
    """Raise when ``dim`` disagrees with the actual vector length:
    zip_with against a wrong-length hyperplane null-pads, the dot
    aggregate goes NULL, and every LSH bucket becomes NULL — null
    join keys never match, so bucketed dedup/search silently returns
    NOTHING. The one-row probe is the price of failing loudly."""
    first = df.select(vec_col).first()
    if first is not None and first[0] is not None and len(first[0]) != dim:
        raise ValueError(
            f"dim={dim} but {vec_col!r} vectors have length "
            f"{len(first[0])} — LSH buckets would all be null"
        )


def lsh_bucket(vec_col: Column, dim: int, n_planes: int = 8) -> Column:
    """Sign-pattern bucket id: bit p = 1 iff vec · plane_p ≥ 0."""
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        sign = (dot(vec_col, _hyperplane(dim, p)) >= 0).cast("long")
        bucket = bucket.bitwiseOR(F.shiftleft(sign, p))
    return bucket


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int = 64,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: int = 1,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's LSH
    bucket plus every bucket within Hamming distance ``multiprobe``
    of it (flipping up to that many plane bits — sharply improves
    recall for near-boundary vectors; probe count is
    Σ_d C(n_planes, d), so keep it small). Earlier revisions accepted
    any int but silently probed distance 1 only — levels now do what
    the parameter says."""
    if not 0 <= multiprobe <= n_planes:
        raise ValueError(
            f"multiprobe={multiprobe} not in [0, {n_planes}] "
            "(n_planes bit flips is already the full bucket space)"
        )
    _check_dim(corpus, vec_col, dim)
    # the query side fails just as silently on a dim mismatch (null
    # buckets match nothing → empty result), so gate it too
    _check_dim(queries, vec_col, dim)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        l2_norm(F.col(vec_col)).alias("c_norm"),
        lsh_bucket(F.col(vec_col), dim, n_planes).alias("bucket"),
    )
    q_base = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        l2_norm(F.col(vec_col)).alias("q_norm"),
        lsh_bucket(F.col(vec_col), dim, n_planes).alias("bucket0"),
    )
    from itertools import combinations

    masks = [0] + [
        sum(1 << p for p in combo)
        for d in range(1, multiprobe + 1)
        for combo in combinations(range(n_planes), d)
    ]
    probes = [
        F.col("bucket0") if m == 0 else F.col("bucket0").bitwiseXOR(F.lit(m))
        for m in masks
    ]
    q = q_base.select(
        "query_id",
        "q_vec",
        "q_norm",
        F.explode(F.array(*probes)).alias("bucket"),
    )
    # no distinct: a corpus row carries exactly ONE bucket and a
    # query's probe masks are distinct XORs of it, so a (query,
    # neighbor) pair joins at most once — deduping here was a wasted
    # full shuffle of the candidate-pair set, the plan's largest
    # intermediate (the rule embedding_near_dup_pairs documents)
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.try_divide(
                    dot(F.col("q_vec"), F.col("c_vec")),
                    F.col("q_norm") * F.col("c_norm"),
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id_col: str = "cent_id",
    cent_vec_col: str = "cent_vec",
) -> DataFrame:
    """Assign every corpus vector to its nearest centroid (max cosine,
    centroid-id tiebreak): broadcast the small centroid set, argmax
    per vector via ``max_by`` over a (cos, -cell) struct — a hash
    aggregate with map-side partial combine, NOT a sort window: the
    shuffle carries one pre-reduced row per vector per map partition
    instead of sorting |corpus| × |centroids| rows. At 100 TB this is
    the partitioning pass of an IVF index; the output is typically
    written bucketed by ``cell`` so probes become partition-pruned
    scans."""
    c = centroids.select(
        F.col(cent_id_col).alias("cell"),
        F.col(cent_vec_col).alias("cv"),
        l2_norm(F.col(cent_vec_col)).alias("cvn"),
    )
    # Corpus-row norm projected once below the join (vs once per
    # centroid pair inside cosine()): per pair costs one fold.
    scored = (
        corpus.select(
            id_col, vec_col, l2_norm(F.col(vec_col)).alias("vn")
        )
        .crossJoin(F.broadcast(c))
        .select(
            id_col,
            vec_col,
            "cell",
            (
                F.try_divide(
                    dot(F.col(vec_col), F.col("cv")),
                    F.col("vn") * F.col("cvn"),
                )
            ).alias("c_cos"),
        )
    )
    # max over (c_cos, -cell) == highest cosine, lowest cell id on ties
    # — identical ordering to ORDER BY c_cos DESC, cell.
    return scored.groupBy(id_col).agg(
        F.first(vec_col).alias(vec_col),
        F.max_by("cell", F.struct(F.col("c_cos"), -F.col("cell"))).alias("cell"),
    )


def _py_dot(a: list[float], b: list[float]) -> float:
    """Driver-side replica of ``dot``'s sequential fold — same IEEE ops
    in the same order (acc + aᵢ·bᵢ from 0.0), so a value computed here
    is bit-identical to the in-plan column version."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + float(x) * float(y)
    return acc


def _py_l2_norm(vec: list[float]) -> float:
    """Driver-side replica of ``l2_norm`` (sqrt of ``_py_dot``)."""
    import math

    return math.sqrt(_py_dot(vec, vec))


def with_nearest_cell(
    df: DataFrame,
    cent_rows: list[tuple[int, list[float]]],
    vec_col: str,
    norm_col: str,
) -> DataFrame:
    """Append the nearest-centroid ``cell`` id with NO shuffle of
    ``df``: the centroid set (a few KB — it MUST be small) rides in as
    a ONE-ROW broadcast relation holding the whole matrix plus
    parallel norm/cell arrays, and the argmax is ``array_max`` over
    (cosine, -cell) structs — lexicographic struct ordering gives
    highest cosine, lowest cell id on ties, the exact ordering
    ``ivf_assign``'s ``max_by`` uses. The plan is a broadcast NLJ
    against one row + a projection: at 100 TB the corpus is read once
    and never moved, vs. the join-then-aggregate shape that shuffles
    every vector per iteration. (A literal-array form would do the
    same math, but PySpark expands list literals element-by-element —
    |cells|×dim driver calls per query build; one Arrow-shipped row
    is a single transfer and keeps the doubles bit-exact.)"""
    spark = df.sparkSession
    mat = [[float(x) for x in vec] for _, vec in cent_rows]
    norms = [_py_l2_norm(vec) for _, vec in cent_rows]
    neg_cells = [-int(cell) for cell, _ in cent_rows]
    matrix = spark.createDataFrame(
        [(mat, norms, neg_cells)],
        "_cmat array<array<double>>, _cnorms array<double>, "
        "_cnegs array<long>",
    )
    cands = F.transform(
        F.col("_cmat"),
        lambda cv, i: F.struct(
            F.try_divide(
                dot(F.col(vec_col), cv),
                F.col(norm_col) * F.element_at(F.col("_cnorms"), i + 1),
            ).alias("c_cos"),
            F.element_at(F.col("_cnegs"), i + 1).alias("neg_cell"),
        ),
    )
    return (
        df.crossJoin(F.broadcast(matrix))
        .withColumn("cell", -F.array_max(cands)["neg_cell"])
        .drop("_cmat", "_cnorms", "_cnegs")
    )


def seed_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic centroid seeds: the ``n_centroids`` LOWEST-id
    corpus rows — by rank (``orderBy(id).limit(n)``), never by value.
    A value filter (``id < n``) silently yields an EMPTY seed set on
    corpora whose ids don't start at 0 (ingest sequence numbers,
    string ids), which downstream turns into null cells and a
    do-nothing dedup. Rank seeding is a TakeOrdered (top-n per
    partition + driver merge of n rows — no global sort shuffle) and
    works for any orderable id type. Centroid ids are the DENSE RANKS
    0..n-1 of the seed rows (not the id values): every downstream
    consumer negates cell ids for struct-ordering tiebreaks and ships
    them in long-typed one-row matrices, so id-value cent ids would
    crash the advertised string-id support one call later. Rank ids
    are order-isomorphic to the id values, so tiebreak results are
    unchanged for integer ids. SQL mirror: ``ORDER BY id LIMIT n``
    with ``ROW_NUMBER() - 1``."""
    seeds = corpus.orderBy(id_col).limit(n_centroids)
    return seeds.select(
        (F.row_number().over(W.orderBy(id_col)) - 1)
        .cast("long")
        .alias("cent_id"),
        F.col(vec_col).alias("cent_vec"),
    )


def kmeans_refine_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    iters: int = 1,
    decimals: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd refinement of the IVF centroids.

    Seeds are the ``n_centroids`` lowest-id corpus rows (stateless,
    any engine recomputes them); each iteration assigns every vector
    to its nearest centroid by cosine and replaces each centroid with
    the member mean, component-wise, rounded to ``decimals`` —
    rounding absorbs the accumulation-order drift between engines so
    the oracle replays the refinement exactly (same trick as
    ``embedding_centroids``). No RNG anywhere: the result is a pure
    function of the corpus.

    Plan shape per iteration: the centroid table (|cells| × dim — a
    few KB) is collected to the driver and re-shipped as a one-row
    broadcast (``with_nearest_cell``), so assignment is a map-only
    projection over the corpus, and the only shuffle is the (cell,
    pos)-keyed
    partial-aggregated mean — the shape Spark MLlib's own k-means
    uses (centroids live on the driver between iterations; bounded
    scalar traffic, never corpus rows). The previous
    join-then-``groupBy(id)`` shape shuffled every corpus VECTOR once
    per iteration; this shuffles only per-partition partial sums."""
    rows = _collect_centroid_rows(
        seed_centroids(corpus, n_centroids, id_col, vec_col)
    )
    base = corpus.select(
        F.col(vec_col), l2_norm(F.col(vec_col)).alias("_vn")
    )
    rows = _lloyd_iterations(
        base,
        rows,
        lambda b, r: with_nearest_cell(b, r, vec_col, "_vn").select(
            "cell", F.col(vec_col)
        ),
        "cell",
        vec_col,
        iters,
        decimals,
    )
    spark = corpus.sparkSession
    return spark.createDataFrame(
        [(c, v) for c, v in rows], "cent_id long, cent_vec array<double>"
    )


def _lloyd_iterations(
    base: DataFrame,
    rows: list[tuple[int, list[float]]],
    assign,
    label_col: str,
    vec_col: str,
    iters: int,
    decimals: int,
) -> list[tuple[int, list[float]]]:
    """The shared deterministic Lloyd loop behind
    ``kmeans_refine_centroids`` (cosine cells) and
    ``pq_train_codebooks`` (per-subspace L2 codes) — the two differed
    only in their ``assign(base, rows) → (label, vector)`` step.

    Per iteration: assignment is a map-only projection over a one-row
    broadcast of the current centroids (``assign``), the member means
    run as ONE (label, pos)-keyed partial-aggregated average rounded
    to ``decimals`` (rounding absorbs accumulation-order drift so a
    DuckDB oracle replays the refinement exactly), and the ≤
    |centroids| × dim scalar table re-collects to the driver for the
    next round — bounded scalar traffic, the corpus itself is never
    shuffled (the shape Spark MLlib's own k-means uses)."""
    for _ in range(iters):
        assigned = assign(base, rows)
        per_pos = (
            assigned.select(
                label_col, F.posexplode(F.col(vec_col)).alias("pos", "v")
            )
            .groupBy(label_col, "pos")
            .agg(F.round(F.avg("v"), decimals).alias("cv"))
        )
        acc: dict[int, dict[int, float]] = {}
        for r in per_pos.collect():  # ≤ |centroids| × dim rows, a few KB
            acc.setdefault(r[label_col], {})[r["pos"]] = r["cv"]
        rows = [
            (lbl, [pos_cv[p] for p in sorted(pos_cv)])
            for lbl, pos_cv in sorted(acc.items())
        ]
    return rows


def _collect_centroid_rows(
    centroids: DataFrame,
    cent_id_col: str = "cent_id",
    cent_vec_col: str = "cent_vec",
) -> list[tuple[int, list[float]]]:
    """Centroid table → driver-side [(cell, vector), …] sorted by
    cell. Bounded: centroid sets are |cells| × dim by construction.

    Raises on an empty centroid table: every caller broadcasts these
    rows as the argmax candidate set, and an empty set makes
    ``with_nearest_cell`` emit null cells — which cell-keyed joins
    silently DROP, turning dedup/ANN into a do-nothing pass. Loudly
    failing here is the difference between a crashed job and
    duplicates leaking into training data."""
    rows = sorted(
        (r[cent_id_col], [float(x) for x in r[cent_vec_col]])
        for r in centroids.collect()
    )
    if not rows:
        raise ValueError(
            "empty centroid set — the corpus has no rows to seed from"
        )
    return rows


def _dim_error(what: str, got, want: int) -> ValueError:
    return ValueError(
        f"{what} vectors have length {got} but the index's centroids "
        f"carry dim {want} — nearest-cell cosines would go NULL and "
        "cell assignment would be arbitrary"
    )


def _check_dim_matches_centroids(
    df: DataFrame, vec_col: str, cent_rows: list, what: str
) -> None:
    """Raise when ``df``'s vectors disagree with the centroid
    dimension: ``zip_with`` against a wrong-length centroid null-pads,
    every nearest-cell cosine goes NULL, and the argmax tie-break
    silently assigns ALL rows to one arbitrary cell (append) or
    probes arbitrary cells with null scores (query) — corrupted
    results, no error. The LSH paths gate both sides with
    ``_check_dim``; ``ivf_topk``'s query set needs the same one-row
    probe (a persisted index checks its query rows on the driver, see
    ``_nearest_cells``)."""
    want = len(cent_rows[0][1])
    first = df.select(vec_col).first()
    if first is not None and first[0] is not None and len(first[0]) != want:
        raise _dim_error(what, len(first[0]), want)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 1,
) -> DataFrame:
    """IVF approximate top-k: corpus partitioned into ``n_centroids``
    cells by nearest centroid; each query probes its ``nprobe``
    nearest cells and scores only their members.

    Centroids are the ``n_centroids`` lowest-id corpus rows,
    improved by ``refine_iters`` deterministic Lloyd iterations
    (``kmeans_refine_centroids``) — seed rows need not span the space
    for recall to hold. Everything stays mirrorable in plain SQL.
    Scale shape: the candidate join is keyed on ``cell`` (shuffle or
    pruned bucket scan), never a full corpus × queries cross
    product; the refinement is the offline index-build pass."""
    # Persist the corpus projection once (r13, guide §2.4): the seed
    # collect, each Lloyd iteration, and the cell-assignment scan are
    # separate jobs that each re-read the corpus otherwise (and the
    # caller's query frame usually derives from it too). Spill-able
    # O(corpus) storage for one scan instead of 4-5; callers running
    # long-lived drivers release it via the scoped-query contract.
    corpus = corpus.persist()
    if refine_iters > 0:
        centroids = kmeans_refine_centroids(
            corpus, n_centroids, refine_iters, id_col=id_col, vec_col=vec_col
        )
    else:
        centroids = seed_centroids(corpus, n_centroids, id_col, vec_col)
    # Cell assignment as a map-only literal expression (the centroid
    # table is a few KB by construction): the corpus is scanned once
    # and never shuffled — the 100 TB shape, where the index-build
    # pass writes these cells out bucketed and probes prune on them.
    cent_rows = _collect_centroid_rows(centroids)
    # centroids derive from the corpus, so only the EXTERNAL side —
    # the query set — can disagree on dimension
    _check_dim_matches_centroids(queries, vec_col, cent_rows, "query")
    cells = with_nearest_cell(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("c_vec"),
            l2_norm(F.col(vec_col)).alias("c_norm"),
        ),
        cent_rows,
        "c_vec",
        "c_norm",
    )

    probes = _probe_cells(queries, centroids, nprobe, id_col, vec_col)
    return _score_probes(cells, probes, k)


def _probe_cells(
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Each query's ``nprobe`` nearest cells by centroid cosine:
    queries × broadcast(centroids) + a per-query ranking window.
    Output: (query_id, q_vec, q_norm, cell)."""
    qc = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        l2_norm(F.col(vec_col)).alias("q_norm"),
    ).crossJoin(
        F.broadcast(
            centroids.select(
                F.col("cent_id").alias("cell"),
                F.col("cent_vec"),
                l2_norm(F.col("cent_vec")).alias("cent_norm"),
            )
        )
    )
    wq = W.partitionBy("query_id").orderBy(
        F.try_divide(
            dot(F.col("q_vec"), F.col("cent_vec")),
            F.col("q_norm") * F.col("cent_norm"),
        ).desc(),
        F.col("cell"),
    )
    return (
        qc.withColumn("prk", F.row_number().over(wq))
        .filter(F.col("prk") <= nprobe)
        .select("query_id", "q_vec", "q_norm", "cell")
    )


def _nearest_cells(
    q_rows: list, cent_rows: list, nprobe: int
) -> list[tuple]:
    """Driver-side twin of ``_probe_cells`` for a query batch already on
    the driver: ``q_rows`` = [(query_id, vector)] → [(query_id, q_vec,
    q_norm, cell)] for each query's ``nprobe`` nearest cells. The same
    sequential-fold cosine and the same (cosine DESC, cell ASC) order
    with a null (zero-norm) cosine last, so the chosen cells are
    bit-identical (parity pinned by
    ``test_driver_side_probe_cells_match_probe_cells``); no Spark job.
    Raises on a query whose length is not the centroids' dim."""
    want = len(cent_rows[0][1])
    cent_norms = [_py_l2_norm(v) for _, v in cent_rows]
    out = []
    for qid, vec in q_rows:
        if vec is None or len(vec) != want:
            raise _dim_error("query", None if vec is None else len(vec), want)
        vec = [float(x) for x in vec]
        qn = _py_l2_norm(vec)

        def key(i: int):
            den = qn * cent_norms[i]
            cell = cent_rows[i][0]
            if den == 0:
                return (1, 0.0, cell)
            return (0, -(_py_dot(vec, cent_rows[i][1]) / den), cell)

        for i in sorted(range(len(cent_rows)), key=key)[:nprobe]:
            out.append((qid, vec, qn, cent_rows[i][0]))
    return out


def _score_probes(cells: DataFrame, probes: DataFrame, k: int) -> DataFrame:
    """Exact-cosine scoring of probed cell members + per-query top-k.
    ``cells``: (neighbor_id, c_vec, c_norm, cell). No distinct: a
    corpus row lives in exactly ONE cell and a query's probe list is
    row_number-ranked (distinct cells), so each (query, neighbor)
    pair joins at most once — deduping was a wasted full shuffle of
    the candidate set."""
    scored = (
        cells.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.try_divide(
                    dot(F.col("q_vec"), F.col("c_vec")),
                    F.col("q_norm") * F.col("c_norm"),
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# The persisted IVF index: ONE ``sources/txlog`` table. Its data files
# are the inverted lists ``(neighbor_id, c_vec, c_norm)`` partitioned
# by ``cell=``; its commit ``meta`` carries the centroid rows
# ``[[cell, vector], …]`` (and, for a retrieval index, the encoder's
# ``hash_fn``). Build, append and delete each write their new files,
# then install ONE commit (``txlog._commit_index``); every probe pins
# one ``snapshot_state`` and takes the centroids and the probed cells'
# live files from it. The centroid set is |cells| × dim doubles — the
# bound every caller already assumes when it ships the centroids as a
# one-row broadcast; JSON floats round-trip doubles exactly.
# ---------------------------------------------------------------------------

_IVF_BUILDER = "ivf_write_index"


def _ivf_read(
    spark: SparkSession, path: str, state: dict, cells=None
) -> DataFrame:
    """The live inverted lists of a pinned version (only ``cells`` if
    given), under the logged schema: no listing, no inference job."""
    return txlog.read_subset(
        spark,
        path,
        state,
        txlog._part_files(state, "cell", cells),
        state["schema"],
    )


def _write_cells(cells: DataFrame, path: str) -> list[dict]:
    """Write inverted lists as new (not yet visible) files; clustering
    each cell into one task first keeps it to one file per cell per
    write (unclustered: tasks × cells small files)."""
    return txlog._write_data_files(cells.repartition("cell"), path, ["cell"])


def _write_ivf_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int,
    refine_iters: int,
    id_col: str,
    vec_col: str,
    extra_meta: dict | None = None,
) -> None:
    """``ivf_write_index`` with ``extra_meta`` riding the same commit
    as the centroids (the retrieval index's encoder)."""
    if refine_iters > 0:
        centroids = kmeans_refine_centroids(
            corpus, n_centroids, refine_iters, id_col=id_col, vec_col=vec_col
        )
    else:
        centroids = seed_centroids(corpus, n_centroids, id_col, vec_col)
    cent_rows = _collect_centroid_rows(centroids)
    cells = with_nearest_cell(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("c_vec"),
            l2_norm(F.col(vec_col)).alias("c_norm"),
        ),
        cent_rows,
        "c_vec",
        "c_norm",
    )
    txlog._commit_build(
        path,
        {"centroids": [[c, v] for c, v in cent_rows], **(extra_meta or {})},
        _write_cells(cells, path),
        cells.schema.simpleString(),
        ["cell"],
    )


def ivf_write_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    refine_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the IVF index at rest: the corpus assigned to its
    nearest centroid and written as one inverted list per cell, and
    the centroids, installed together as one commit of a txlog table.

    This is the offline index-build pass of the 100 TB shape: the
    corpus is scanned once (map-only broadcast argmax assignment, see
    ``with_nearest_cell``), then laid out so every future probe reads
    the live files of nprobe cells only — no shuffle, no full-corpus
    read. Centroids are deterministic (``kmeans_refine_centroids``),
    so rebuilding the index on the same corpus is idempotent; a
    rebuild over an existing index is one more commit that replaces
    every live file, so a probe never sees a half-written index."""
    _write_ivf_index(
        corpus, path, n_centroids, refine_iters, id_col, vec_col
    )


def _centroid_rows(state: dict) -> list[tuple[int, list[float]]]:
    return [(int(c), v) for c, v in state["meta"]["centroids"]]


def ivf_append_index(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Incrementally maintain a persisted IVF index: assign a NEW
    batch of vectors to the index's FROZEN centroids and add them to
    the matching cells — the continual-ingest shape (like
    ``dedup.incremental_minhash_pairs`` for signatures): daily vector
    arrivals cost O(|batch|), never an O(|corpus|) rebuild. One
    add-only commit; probes planned after it see the new vectors.

    Centroids are deliberately not updated — the real-world IVF
    maintenance policy (FAISS-style): assignment must stay consistent
    with the lists already on disk, so centroids only move on an
    explicit offline re-build (``ivf_write_index``), typically when
    drift degrades recall.

    Replay guard: duplicate ids WITHIN the batch collapse first
    (at-least-once delivery can repeat an id inside one batch, where
    the index can't see it), then ids already live in the pinned
    version are dropped, so redelivery cannot double-insert a vector.
    The deduplicated batch is persisted and read once: the count, the
    dimension check (every row against the centroids) and the write
    see the same rows. Returns the number of vectors appended."""
    state = txlog._index_state(path, _IVF_BUILDER)
    cent_rows = _centroid_rows(state)
    fresh = (
        new_vectors.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("c_vec"),
            l2_norm(F.col(vec_col)).alias("c_norm"),
        )
        .dropDuplicates(["neighbor_id"])
        .join(
            _ivf_read(spark, path, state).select("neighbor_id"),
            "neighbor_id",
            "left_anti",
        )
        .persist()
    )
    try:
        row = fresh.agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.size("c_vec")).alias("lo"),
            F.max(F.size("c_vec")).alias("hi"),
        ).first()
        n = int(row["n"])
        if n == 0:
            return 0
        want = len(cent_rows[0][1])
        if row["lo"] != want or row["hi"] != want:
            got = row["lo"] if row["lo"] != want else row["hi"]
            raise _dim_error("batch", got, want)
        cells = with_nearest_cell(fresh, cent_rows, "c_vec", "c_norm")
        txlog._check_schema(state, cells)
        adds = _write_cells(cells, path)
    finally:
        fresh.unpersist()
    txlog._commit_index(path, state["version"], "append", None, adds)
    return n


def ivf_delete_index(
    spark,
    path: str,
    ids: DataFrame,
    id_col: str = "vec_id",
) -> int:
    """Targeted deletion from a persisted IVF index (the
    right-to-be-forgotten path): one id semi-join over the pinned
    version finds the cells holding the requested ids (the delete
    batch broadcasts), and ONLY those cells' survivors are rewritten,
    in one commit that removes the hit cells' files. Untouched cells
    keep their exact files; a cell whose every vector is deleted is
    left with no live file. Probes planned after the commit no longer
    see the ids; the removed files stay on disk for readers pinned to
    older versions until ``txlog.vacuum`` erases them, as for
    ``search.bm25_delete_index``. ``ids`` is read once (its distinct
    ids are persisted for the call). Returns vectors removed."""
    state = txlog._index_state(path, _IVF_BUILDER)
    id_set = ids.select(F.col(id_col).alias("neighbor_id")).distinct().persist()
    try:
        del_ids = F.broadcast(id_set)
        hit = (
            _ivf_read(spark, path, state)
            .join(del_ids, "neighbor_id", "left_semi")
            .groupBy("cell")
            .count()
            .collect()
        )
        if not hit:
            return 0
        cells = sorted(r["cell"] for r in hit)
        adds = _write_cells(
            _ivf_read(spark, path, state, cells).join(
                del_ids, "neighbor_id", "left_anti"
            ),
            path,
        )
    finally:
        id_set.unpersist()
    txlog._commit_index(
        path,
        state["version"],
        "delete",
        None,
        adds,
        txlog._part_files(state, "cell", cells),
    )
    return sum(r["count"] for r in hit)


def _literal_rows(spark: SparkSession, rows: list, ddl: str) -> DataFrame:
    """``rows`` (tuples in the column order of ``ddl``) as a frame
    planned in the JVM: one literal array of structs, inlined over a
    one-row range. A request's query batch is a few rows;
    ``spark.createDataFrame`` would plan it as a Python RDD, and every
    job that reads it would start a Python worker to unpickle them."""
    arr = F.array(*(F.struct(*(F.lit(v) for v in row)) for row in rows))
    return spark.range(1, numPartitions=1).select(
        F.inline(arr.cast(f"array<struct<{ddl}>>"))
    )


def _probe_pinned(
    spark: SparkSession,
    path: str,
    state: dict,
    q_rows: list,
    k: int,
    nprobe: int,
    id_type: str = "bigint",
) -> DataFrame:
    """The one probe core of a persisted IVF index: ``q_rows`` =
    [(query_id, vector)] on the driver, ``state`` one pinned version.
    The cells are chosen on the driver (``_nearest_cells``, which also
    checks the query dimension), the probe rows enter the plan as
    literals, and the scan reads only the probed cells' live files of
    that version. Output: (query_id, neighbor_id, cos_sim, rank)."""
    probe_rows = _nearest_cells(q_rows, _centroid_rows(state), nprobe)
    probes = _literal_rows(
        spark,
        probe_rows,
        f"query_id {id_type}, q_vec array<double>, q_norm double, "
        "cell bigint",
    )
    cells = _ivf_read(
        spark, path, state, sorted({r[3] for r in probe_rows})
    )
    return _score_probes(cells, probes, k)


def ivf_probe_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query a persisted IVF index (``ivf_write_index``): the query
    set is collected (bounded by the caller: a query batch), each
    query's ``nprobe`` cells are picked against the centroids of one
    pinned version, and the scan opens ONLY those cells' live files of
    that version — the rest of the corpus is never opened, and a frame
    collected after a later change answers from the version it was
    planned on. Scoring and ranking are byte-identical to the
    in-flight ``ivf_topk``, so a persisted index returns exactly the
    same top-k."""
    state = txlog._index_state(path, _IVF_BUILDER)
    q_rows = [tuple(r) for r in queries.select(id_col, vec_col).collect()]
    return _probe_pinned(
        spark, path, state, q_rows, k, nprobe, dict(queries.dtypes)[id_col]
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    dim: int = 64,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int = 1000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH-bucketed self-join
    (same sign pattern ⇒ likely high cosine), exact cosine verify,
    threshold. The scale path for semantic dedup — the bucket join
    replaces the O(n²) pair space.

    Buckets larger than ``max_bucket`` are dropped before the
    self-join (same policy as the MinHash path,
    ``dedup.lsh_candidate_pairs``): near-identical embeddings —
    precisely the near-dup case — concentrate in one bucket, and a
    degenerate bucket of B members would emit B²/2 pairs before the
    threshold filter. The cap bounds the worst case at
    max_bucket²/2 per bucket; mass-duplicate content belongs to
    exact dedup (hash of the vector bytes), not the pairwise path.
    The count uses a window over the SAME key the join shuffles on,
    so capping adds no extra exchange."""
    _check_dim(df, vec_col, dim)
    # Persist the bucketed frame (r13, guide §2.4 — the simhash
    # lesson applied here): both sides of the bucket self-join below
    # derive from it, and without a materialization the whole
    # upstream — scan, the n_planes × dim hyperplane dot products,
    # AND the bucket-cap window with its exchange — plans and
    # executes TWICE (the join's build side is a structurally
    # different subtree, so no ReusedExchange applies). The frame is
    # (id, vec, norm, bucket) — O(corpus) fixed-width rows — and the
    # MEMORY_AND_DISK default spills rather than OOMs at scale. The
    # caller (a scoped contract query / run_scoped pipeline) releases
    # the storage once the pair result is materialized.
    b = (
        df.select(
            F.col(id_col),
            F.col(vec_col),
            l2_norm(F.col(vec_col)).alias("_norm"),
            lsh_bucket(F.col(vec_col), dim, n_planes).alias("bucket"),
        )
        .withColumn("_n", F.count(F.lit(1)).over(W.partitionBy("bucket")))
        .filter(F.col("_n") <= max_bucket)
        .drop("_n")
        .persist()
    )
    a = b.select(
        F.col("bucket"),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        F.col("_norm").alias("na"),
    )
    c = b.select(
        F.col("bucket"),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        F.col("_norm").alias("nb"),
    )
    return (
        a.join(c, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.try_divide(
                    dot(F.col("va"), F.col("vb")),
                    F.col("na") * F.col("nb"),
                ),
                6,
            ).alias("cos_sim"),
        )
        # no .distinct(): each row has exactly ONE bucket, so the
        # self-join cannot emit a pair twice — a distinct here is a
        # wasted pair-scale shuffle
        .filter(F.col("cos_sim") >= threshold)
    )


def semantic_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = 16,
    refine_iters: int = 1,
    max_cell: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs (Abbas et al.
    2023, arXiv:2303.09540): cluster the corpus into ``n_centroids``
    k-means cells, then compare pairs ONLY within a cell — the cluster
    assignment replaces the O(n²) pair space exactly the way the paper
    prescribes, and unlike the LSH path the partition is semantic, so
    paraphrase-level duplicates that differ in sign pattern still land
    together.

    Composition, not new machinery: centroids come from
    ``kmeans_refine_centroids`` (driver-side few-KB table), assignment
    is the map-only broadcast argmax (``with_nearest_cell`` — the
    corpus is scanned once, never shuffled for assignment), and the
    in-cell self-join shuffles on ``cell`` — at 100 TB that is ONE
    corpus shuffle keyed by cell, then per-cell local pair math. Cells
    above ``max_cell`` members are dropped from the pairwise pass
    (window over the same key the join shuffles on — no extra
    exchange; same degenerate-bucket policy as
    ``embedding_near_dup_pairs``), because a B-member cell emits B²/2
    candidate pairs; at real scale you raise ``n_centroids`` so cells
    stay ~√corpus sized."""
    centroids = kmeans_refine_centroids(
        df, n_centroids, refine_iters, id_col=id_col, vec_col=vec_col
    )
    cells = with_nearest_cell(
        df.select(
            F.col(id_col),
            F.col(vec_col),
            l2_norm(F.col(vec_col)).alias("_norm"),
        ),
        _collect_centroid_rows(centroids),
        vec_col,
        "_norm",
    ).withColumn(
        "_n", F.count(F.lit(1)).over(W.partitionBy("cell"))
    ).filter(F.col("_n") <= max_cell).drop("_n")
    a = cells.select(
        F.col("cell"),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        F.col("_norm").alias("na"),
    )
    b = cells.select(
        F.col("cell"),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        F.col("_norm").alias("nb"),
    )
    return (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.try_divide(
                    dot(F.col("va"), F.col("vb")),
                    F.col("na") * F.col("nb"),
                ),
                6,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def semantic_dedup_keep(
    df: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = 16,
    refine_iters: int = 1,
    max_cell: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic-dedup survivors: drop every vector that has a
    sufficiently-similar neighbor with a LOWER id in the same cell
    (the deterministic stand-in for SemDeDup's keep-one-per-group —
    greedy min-id retention, the same policy the MinHash retention
    path uses, so mixed pipelines agree on who survives). The drop set
    is just the distinct ``id_b`` side of ``semantic_dedup_pairs``;
    survivors are a left-anti join against it — the corpus shuffles
    once on the join key, the drop set is pair-output sized (small)."""
    pairs = semantic_dedup_pairs(
        df, threshold, n_centroids, refine_iters, max_cell, id_col, vec_col
    )
    drops = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(drops, id_col, "left_anti")


def embedding_centroids(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    decimals: int = 5,
) -> DataFrame:
    """Per-group mean vector (average pooling), emitted LONG —
    ``(group, pos, centroid)`` — rather than re-assembled arrays.

    Plan: posexplode the vector (narrow, ×dim row blowup) → one
    hash-agg keyed (group, pos). Partial aggregation sums map-side, so
    the shuffle carries |groups|·dim partial sums per partition — at
    100 TB with dim=1024 and 10k groups that is ~10M rows per
    partition worst case, still tiny next to the input. The long form
    is deliberately join-ready for IVF assignment (``ivf_assign``)
    and keeps the oracle trivial (DuckDB
    ``generate_subscripts``+``unnest`` zip). Rounding bounds
    float-accumulation-order drift between engines.
    """
    exploded = df.select(
        F.col(group_col), F.posexplode(F.col(vec_col)).alias("pos", "v")
    )
    return (
        exploded.groupBy(group_col, "pos")
        .agg(F.round(F.avg("v"), decimals).alias("centroid"))
        .withColumn("pos", F.col("pos").cast("long"))
    )


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ's compression half)
# ---------------------------------------------------------------------------


def _subvec(vec_col: str, j: int, sub_dim: int) -> Column:
    """Subspace j's slice (1-based slice positions)."""
    return F.slice(F.col(vec_col), j * sub_dim + 1, sub_dim)


def pq_train_codebooks(
    corpus: DataFrame,
    m: int = 4,
    k: int = 16,
    iters: int = 3,
    decimals: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[tuple[int, list[float]]]]:
    """Train product-quantization codebooks: split each d-dim vector
    into ``m`` subvectors and k-means each subspace INDEPENDENTLY under
    L2 (Jégou, Douze & Schmid, "Product Quantization for Nearest
    Neighbor Search", TPAMI 2011 — public; the compression half of
    Faiss-style IVF-PQ). Returns per-subspace ``[(code, centroid)]``
    lists — ``m × k × (d/m)`` doubles, driver-bounded by construction
    (a few KB), the PQ analog of the IVF centroid table.

    Determinism matches ``kmeans_refine_centroids``: rank-based seeds
    (lowest-id rows), member means rounded to ``decimals``, no RNG.
    PQ quantizes under L2 (subvectors are not norm-1, so cosine would
    discard magnitude); nearest-code assignment maximizes
    ``2·v·c − |c|²``, which is argmin L2 without needing ``|v|²``.

    Cost: per subspace per iteration, one map-only assignment pass
    (one-row broadcast of the codebook) + a (code, pos)-keyed
    partial-agg mean — the corpus is never shuffled. The m× pass
    count is the price of independent subspaces; at 100 TB train on a
    deterministic sample (``sampling.deterministic_sample``) exactly
    as Faiss trains on a subset.
    """
    first = corpus.select(vec_col).first()
    if first is None or first[0] is None:
        # deliberate ValueError (the _collect_centroid_rows rule), not
        # a bare 'NoneType is not subscriptable' from an empty corpus
        raise ValueError(
            "cannot train PQ codebooks: corpus is empty or its first "
            f"{vec_col!r} is null"
        )
    dim = len(first[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub_dim = dim // m
    books: list[list[tuple[int, list[float]]]] = []
    for j in range(m):
        sub = corpus.select(
            F.col(id_col), _subvec(vec_col, j, sub_dim).alias("_sv")
        )
        rows = _collect_centroid_rows(
            sub.orderBy(id_col)
            .limit(k)
            .select(
                (F.row_number().over(W.orderBy(id_col)).cast("long") - 1).alias(
                    "cent_id"
                ),
                F.col("_sv").alias("cent_vec"),
            )
        )
        base = sub.select(F.col("_sv"))
        rows = _lloyd_iterations(
            base,
            rows,
            lambda b, r: _with_nearest_code_l2(b, r, "_sv").select(
                "code", "_sv"
            ),
            "code",
            "_sv",
            iters,
            decimals,
        )
        books.append(rows)
    return books


def _with_nearest_code_l2(
    df: DataFrame, code_rows: list[tuple[int, list[float]]], sv_col: str
) -> DataFrame:
    """Append the L2-nearest code id, map-only: one-row broadcast of
    the codebook matrix, argmax of ``2·v·c − |c|²`` structs (ties →
    lowest code). Same shape as ``with_nearest_cell``, L2 metric."""
    spark = df.sparkSession
    mat = [[float(x) for x in vec] for _, vec in code_rows]
    n2 = [sum(x * x for x in vec) for _, vec in code_rows]
    negs = [-int(code) for code, _ in code_rows]
    matrix = spark.createDataFrame(
        [(mat, n2, negs)],
        "_qmat array<array<double>>, _qn2 array<double>, _qnegs array<long>",
    )
    cands = F.transform(
        F.col("_qmat"),
        lambda cv, i: F.struct(
            (
                F.lit(2.0) * dot(F.col(sv_col), cv)
                - F.element_at(F.col("_qn2"), i + 1)
            ).alias("score"),
            F.element_at(F.col("_qnegs"), i + 1).alias("neg_code"),
        ),
    )
    return (
        df.crossJoin(F.broadcast(matrix))
        .withColumn("code", -F.array_max(cands)["neg_code"])
        .drop("_qmat", "_qn2", "_qnegs")
    )


def pq_encode(
    df: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Quantize every vector to ``m`` small codes: (id, codes
    array<long>). d float32 components become m byte-ish codes — the
    32×-compression that makes a 100 TB embedding column scannable.

    One projection over the corpus: the full m×k×(d/m) codebook rides
    in as a single one-row broadcast, and each subspace's argmin is an
    ``array_max`` fold over its k candidates. Map-only, no shuffle, no
    UDFs; the corpus is read once."""
    m = len(codebooks)
    sub_dim = len(codebooks[0][0][1])
    spark = df.sparkSession
    mats = [[[float(x) for x in vec] for _, vec in book] for book in codebooks]
    n2s = [[sum(x * x for x in vec) for _, vec in book] for book in codebooks]
    negs = [[-int(code) for code, _ in book] for book in codebooks]
    matrix = spark.createDataFrame(
        [(mats, n2s, negs)],
        "_pmat array<array<array<double>>>, _pn2 array<array<double>>, "
        "_pnegs array<array<long>>",
    )
    codes = F.transform(
        F.col("_pmat"),
        lambda book, j: -F.array_max(
            F.transform(
                book,
                lambda cv, i: F.struct(
                    (
                        F.lit(2.0)
                        * dot(
                            F.slice(
                                F.col(vec_col),
                                j * F.lit(sub_dim) + 1,
                                sub_dim,
                            ),
                            cv,
                        )
                        - F.element_at(
                            F.element_at(F.col("_pn2"), j + 1), i + 1
                        )
                    ).alias("score"),
                    F.element_at(
                        F.element_at(F.col("_pnegs"), j + 1), i + 1
                    ).alias("neg_code"),
                ),
            )
        )["neg_code"],
    )
    return (
        df.crossJoin(F.broadcast(matrix))
        .select(F.col(id_col), codes.alias("codes"))
    )


def _adc_lut_df(
    spark: SparkSession,
    queries: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Per-query ADC lookup tables as a broadcastable relation:
    ``LUT[j][c] = |q_j − centroid_{j,c}|²`` (|queries|·m·k doubles,
    driver-built). Shared by ``pq_topk`` and ``ivfpq_topk`` so the
    distance math lives in exactly one place."""
    sub_dim = len(codebooks[0][0][1])
    luts = []
    for r in queries.select(id_col, vec_col).collect():
        qv = [float(x) for x in r[vec_col]]
        lut = [
            [
                sum(
                    (qv[j * sub_dim + t] - cvec[t]) ** 2
                    for t in range(sub_dim)
                )
                for _, cvec in book
            ]
            for j, book in enumerate(codebooks)
        ]
        luts.append((r[id_col], lut))
    return spark.createDataFrame(
        luts, "query_id long, _lut array<array<double>>"
    )


def _adc_distance() -> Column:
    """Σ_j LUT[j][codes_j]: the asymmetric-distance fold over a row's
    code array against the joined query LUT."""
    return F.round(
        F.aggregate(
            F.zip_with(
                F.col("codes"),
                F.col("_lut"),
                lambda c, l: F.element_at(l, c.cast("int") + 1),
            ),
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v,
        ),
        6,
    )


def pq_topk(
    codes_df: DataFrame,
    queries: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: per query, precompute
    the ``m × k`` lookup table ``LUT[j][c] = |q_j − c_{j,c}|²``
    (driver-side — |queries|·m·k doubles, the ADC table of the PQ
    paper), broadcast it, and score each corpus row as
    ``Σ_j LUT[j][codes_j]`` — an array fold over m SMALL ints per
    (query, row) pair. The original vectors are never read: scan
    volume is the codes column (m bytes/row), which is the entire
    point at 100 TB. Output: (query_id, neighbor_id, adc_dist, rank),
    ascending distance, id tiebreak.

    Exactness: ADC is an approximation of true L2 (quantization
    error); recall tests pin it on separated data. For higher recall
    compose with IVF cells (probe then ADC-rerank) exactly as
    Faiss IVF-PQ does."""
    lut_df = _adc_lut_df(
        codes_df.sparkSession, queries, codebooks, id_col, vec_col
    )
    scored = (
        codes_df.crossJoin(F.broadcast(lut_df))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            _adc_distance().alias("adc_dist"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id")
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= k)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
    m: int = 4,
    k_codes: int = 16,
    pq_iters: int = 2,
    refine_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Full IVF-PQ: coarse cells bound WHICH rows each query scores,
    PQ codes bound WHAT is read to score them — together the Faiss
    IVF-PQ architecture (Jégou et al. 2011) on DataFrames.

    Offline (index build): Lloyd-refined coarse centroids → map-only
    cell assignment; PQ codebooks trained on RESIDUAL-free subvectors
    (plain PQ — residual encoding would couple the codebooks to the
    coarse step; this keeps both halves independently testable) →
    map-only encoding. The corpus is scanned twice (assign, encode),
    shuffled never; at rest the (id, cell, codes) index is m bytes +
    a cell id per vector, the form ``ivf_write_index`` would persist
    partitioned-by-cell.

    Online: probe ``nprobe`` cells per query (broadcast centroid
    ranking), then ADC-score ONLY probed members via the per-query
    LUT over codes — neither the corpus vectors nor unprobed cells
    are touched. Output: (query_id, neighbor_id, adc_dist, rank)."""
    if refine_iters > 0:
        centroids = kmeans_refine_centroids(
            corpus, n_centroids, refine_iters, id_col=id_col, vec_col=vec_col
        )
    else:
        centroids = seed_centroids(corpus, n_centroids, id_col, vec_col)
    cent_rows = _collect_centroid_rows(centroids)
    books = pq_train_codebooks(
        corpus, m=m, k=k_codes, iters=pq_iters, id_col=id_col, vec_col=vec_col
    )
    cells = with_nearest_cell(
        corpus.select(
            F.col(id_col), F.col(vec_col), l2_norm(F.col(vec_col)).alias("_vn")
        ),
        cent_rows,
        vec_col,
        "_vn",
    ).select(id_col, "cell", vec_col)
    index = pq_encode(cells, books, id_col=id_col, vec_col=vec_col).join(
        cells.select(id_col, "cell"), id_col
    )

    probes = _probe_cells(queries, centroids, nprobe, id_col, vec_col)

    lut_df = _adc_lut_df(
        corpus.sparkSession, queries, books, id_col, vec_col
    )
    scored = (
        index.join(
            F.broadcast(
                probes.select("query_id", "cell").join(lut_df, "query_id")
            ),
            "cell",
        )
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            _adc_distance().alias("adc_dist"),
        )
        # no distinct: one cell per indexed row × distinct probed
        # cells per query ⇒ each pair joins at most once (the
        # _score_probes rule) — deduping was a wasted pair-set shuffle
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id")
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= k)


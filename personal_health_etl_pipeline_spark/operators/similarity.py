"""Similarity search over embedding columns (array<float>).

Two paths, both UDF-free (array-lambda expressions on the JVM):

* **brute-force top-k** — the correctness baseline: broadcast the query
  set, score every (query, candidate) pair, per-query row_number <= k.
  O(Q x N); right answer, fine when Q is small.
* **hyperplane-LSH top-k** — the scale path: sign-random-projection
  bucketing (signs derived from md5, so fully deterministic and
  oracle-reproducible); candidates share the query's bucket, scoring is
  O(Q x N/2^planes) expected. Recall < 1 by construction; the tests
  measure it against brute force.

Determinism contract: embeddings are quantized to integer grids
(round(x * 1e6)) before any arithmetic, so dot products and norms are
*exact integers* — order-independent, hence identical in Spark's
partitioned execution and the serial DuckDB oracle. The final cosine is
one double division of exact ints (IEEE-deterministic).
"""

from __future__ import annotations

import hashlib

from personal_health_etl_pipeline_spark.operators.dedup import (
    LSH_BUCKET_CAP,
    pair_gen_sql,
)
from personal_health_etl_pipeline_spark.operators.partitioning import (
    SKETCH_MIN_BYTES_PER_PARTITION,
    spread,
)

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

QUANT_SCALE = 1_000_000


def _spread_vec(df: DataFrame) -> DataFrame:
    """Fan out a projected vector frame at the sketch-class floor.

    Per-row cost here is integer vector arithmetic over interpreted
    higher-order-function lambdas (~microseconds per 64-dim pair —
    thousands of times the scan cost of the bytes), the same
    compute-per-byte class as the shingle+multi-hash operators; the
    default 256 KB floor left the scoring stages of the whole ANN
    family on 2 tasks at bench scale (r15 stage profile: the
    BroadcastNestedLoopJoin + cosine + partial-top-k stage of
    ann_brute_force_topk ran 2 x 0.5 s with 30 cores idle)."""
    return spread(df, min_bytes=SKETCH_MIN_BYTES_PER_PARTITION)


def quantize(col: Column) -> Column:
    """array<float> -> array<bigint> on a 1e-6 grid (exact arithmetic)."""
    return F.transform(
        col, lambda x: F.round(x.cast("double") * QUANT_SCALE, 0).cast("bigint")
    )


def dot_int(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def norm2_int(a: Column) -> Column:
    return F.aggregate(
        F.transform(a, lambda x: x * x),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def cosine(a_q: Column, b_q: Column, round_to: int = 6) -> Column:
    """Cosine over quantized vectors; exact-int inputs -> deterministic."""
    return F.round(
        dot_int(a_q, b_q).cast("double")
        / (F.sqrt(norm2_int(a_q).cast("double")) * F.sqrt(norm2_int(b_q).cast("double"))),
        round_to,
    )


def cosine_pre(a_q: Column, b_q: Column, a_n2: Column, b_n2: Column,
               round_to: int = 6) -> Column:
    """Cosine with precomputed squared norms.

    ``norm2_int`` is O(dims) per evaluation; inside a pairwise join it
    would run once per *pair*. Computing it once per vector and joining
    it along turns the per-pair cost into a single dot product — same
    exact-integer math, same result, ~3x less array work in the hot
    join."""
    return F.round(
        dot_int(a_q, b_q).cast("double")
        / (F.sqrt(a_n2.cast("double")) * F.sqrt(b_n2.cast("double"))),
        round_to,
    )


def brute_force_topk(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    query_mod: int = 50,
    candidates: DataFrame | None = None,
    prepped: DataFrame | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for the query subset
    (id % query_mod == 0) against the full table.

    The query side is broadcast; the big side streams — no shuffle of
    the candidate table. Rank ties break on neighbor id (total order).

    ``candidates``: optional pre-filtered subset (same schema) to rank
    against — FILTERED vector search with PRE-filter semantics (always
    k results if k matches exist, unlike post-filtering a plain top-k).
    Queries still come from the full table. The filter lands on the
    streaming side BEFORE any distance arithmetic, so at scale it
    prunes the scan, not the scoring.

    ``prepped``: optional pre-quantized ``(_id, _q, _n2)`` frame (the
    exact columns this operator derives itself — same ``quantize`` /
    ``norm2_int`` recipe). Callers composing several vector operators
    over one corpus (e.g. the recall report) pass a shared checkpointed
    base so the corpus is scanned + quantized ONCE per job instead of
    once per leg; values are identical by construction."""

    def _prep(df: DataFrame) -> DataFrame:
        return (
            _spread_vec(df.select(F.col(id_col).alias("_id"), F.col(vec_col)))
            .select("_id", quantize(F.col(vec_col)).alias("_q"))
            .withColumn("_n2", norm2_int(F.col("_q")))
        )

    base = prepped.select("_id", "_q", "_n2") if prepped is not None else _prep(embeddings)
    cands = base if candidates is None else _prep(candidates)
    queries = base.where(F.col("_id") % query_mod == 0).select(
        F.col("_id").alias("query_id"),
        F.col("_q").alias("_qq"),
        F.col("_n2").alias("_qn2"),
    )
    sim = cosine_pre(F.col("_qq"), F.col("_q"), F.col("_qn2"), F.col("_n2"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        cands.join(F.broadcast(queries), F.col("_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("_id").alias("neighbor_id"),
            sim.alias("sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "sim")
    )


# --- hyperplane LSH -------------------------------------------------------

def hyperplane_signs(n_planes: int, dims: int, table: int = 0) -> list[list[int]]:
    """Deterministic ±1 hyperplane matrix derived from md5 — identical
    in any engine/language, so the oracle can embed it as literals.
    ``table`` seeds independent hash tables for multi-table LSH."""
    signs = []
    for p in range(n_planes):
        row = []
        for d in range(dims):
            digest = hashlib.md5(f"plane|{table}|{p}|{d}".encode()).hexdigest()
            row.append(1 if int(digest[:2], 16) % 2 == 0 else -1)
        signs.append(row)
    return signs


def lsh_bucket_sql(vec_sql: str, signs: list[list[int]]) -> str:
    """Bucket id as ONE SQL expression string: one sign bit per
    hyperplane (exact int projections).

    Built as text rather than composed ``Column`` objects on purpose:
    the sign matrix is n_planes x dims literals, and composing it
    through the Python Column API costs thousands of py4j round trips
    (measured: ~2-3 s of pure driver time per query at 6x64). A single
    ``F.expr`` string is parsed JVM-side in one call."""
    terms = []
    for p, row in enumerate(signs):
        arr = ",".join(f"{s}L" for s in row)
        proj = (
            f"aggregate(zip_with({vec_sql}, array({arr}), (x, s) -> x * s),"
            f" 0L, (a, x) -> a + x)"
        )
        terms.append(f"IF({proj} > 0, {2 ** p}L, 0L)")
    return "(" + " + ".join(terms) + ")"


def lsh_topk(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    query_mod: int = 50,
    n_planes: int = 4,
    n_tables: int = 4,
    dims: int = 64,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Approximate top-k via multi-table hyperplane LSH.

    ``n_tables`` independent hash tables of ``n_planes`` sign bits; a
    candidate is scored iff it shares a bucket with the query in at
    least one table (standard k/L LSH: L tables boost recall, k planes
    keep per-bucket candidate counts ~N/2^k). The bucket match is a
    plain equi-join on (table, bucket) — hash-partitionable; expected
    scored pairs ~= Q x N x (1 - (1-2^-k)^L) instead of Q x N.

    ``bucket_cap`` bounds the candidate list of a pathological hot
    bucket (e.g. a mass of identical vectors): each bucket contributes
    at most ``cap`` candidates per query, chosen deterministically by
    hashed id (unbiased w.r.t. id order), and cross-table dedup becomes
    an explicit ``dropDuplicates``. This trades recall inside oversized
    buckets for a hard per-bucket work bound — the default is OFF
    because capping visibly changes top-k results once buckets exceed
    the cap; prefer raising ``n_planes`` first so buckets stay small,
    and reach for the cap when the corpus can be degenerate.
    """
    base = (
        _spread_vec(embeddings.select(F.col(id_col).alias("_id"), F.col(vec_col)))
        .select("_id", quantize(F.col(vec_col)).alias("_q"))
        .withColumn("_n2", norm2_int(F.col("_q")))
        .withColumn(
            "_bks",
            F.expr(
                "array("
                + ",".join(
                    lsh_bucket_sql("_q", hyperplane_signs(n_planes, dims, t))
                    for t in range(n_tables)
                )
                + ")"
            ),
        )
    )
    # Carry (id, vec, norm, bucket-list) into the bucket groupBy so
    # (query, candidate) pairs are scored inline — no join back to the
    # vector table, and the first-matching-table rule (emit a pair only
    # in the lowest table where it collides) replaces the cross-table
    # dropDuplicates shuffle. One shuffle total before the top-k window;
    # per-bucket payload is bounded by the expected bucket size
    # N/2^planes (tune n_planes up at scale; AQE skew-split handles a
    # pathological hot bucket). The table index comes from a literal-
    # sequence explode so the bucket expressions are never inlined into
    # the Generate node (a derived-column generator input gets the full
    # expression tree substituted per reference — measured 25x cost in
    # the minhash twin of this pipeline).
    banded = base.select(
        "_id", "_q", "_n2", "_bks",
        F.explode(F.expr(f"sequence(0, {n_tables - 1})")).alias("tbl"),
    ).select(
        "tbl",
        F.expr("_bks[tbl]").alias("bucket"),
        F.struct("_id", "_q", "_n2", F.col("_bks").alias("bks")).alias("m"),
    )
    grouped = (
        banded.groupBy("tbl", "bucket")
        .agg(F.collect_list("m").alias("ms"))
        .where(F.size("ms") > 1)
    )
    if bucket_cap is not None:
        # deterministic, id-order-unbiased candidate cap: order bucket
        # members by their hashed id and keep the first `cap`
        hashed = (
            "array_sort(transform(ms, m -> struct("
            "cast(conv(substr(md5(cast(m._id as string)), 1, 15), 16, 10)"
            " as bigint) AS h, m AS m)))"
        )
        grouped = grouped.withColumn(
            "cs",
            F.expr(f"transform(slice({hashed}, 1, {bucket_cap}), x -> x.m)"),
        )
        qc = (
            grouped.select(
                "tbl",
                F.explode(
                    F.filter("ms", lambda m: m["_id"] % query_mod == 0)
                ).alias("q"),
                F.col("cs"),
            )
            .select("tbl", "q", F.explode("cs").alias("c"))
            .where(F.col("q._id") != F.col("c._id"))
        )
    else:
        qc = (
            grouped.select(
                "tbl",
                F.explode(
                    F.filter("ms", lambda m: m["_id"] % query_mod == 0)
                ).alias("q"),
                F.col("ms"),
            )
            .select("tbl", "q", F.explode("ms").alias("c"))
            .where(
                (F.col("q._id") != F.col("c._id"))
                & ~F.expr(
                    "exists(zip_with(slice(q.bks, 1, tbl), slice(c.bks, 1, tbl),"
                    " (x, y) -> x = y), v -> v)"
                )
            )
        )
    scored = qc.select(
        F.col("q._id").alias("query_id"),
        F.col("c._id").alias("neighbor_id"),
        cosine_pre(
            F.col("q._q"), F.col("c._q"), F.col("q._n2"), F.col("c._n2")
        ).alias("sim"),
    )
    if bucket_cap is not None:
        # capped emission loses the first-matching-table invariant;
        # dedup the (small) surviving pair set explicitly
        scored = scored.dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "sim")
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_planes: int = 6,
    n_tables: int = 2,
    dims: int = 64,
    bucket_cap: int | None = LSH_BUCKET_CAP,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine — the fifth member of
    the dedup family (exact / minhash / simhash / ngram / embedding).

    Candidates share a hyperplane-LSH bucket in >= 1 of ``n_tables``
    tables (grouped-bucket generation — sketches computed once, no
    self-join), then exact quantized cosine filters at ``threshold``.
    Returns (id_a, id_b, sim) with id_a < id_b.

    ``bucket_cap`` (see ``dedup.LSH_BUCKET_CAP``) switches oversized
    buckets from all-pairs to consecutive-chain emission — bounding the
    degenerate all-identical-vectors bucket at O(N) pairs — at the cost
    of one extra shuffle (explicit pair dedup instead of the shuffle-
    free first-matching-table rule).
    """
    base = (
        _spread_vec(embeddings.select(F.col(id_col).alias("_id"), F.col(vec_col)))
        .select("_id", quantize(F.col(vec_col)).alias("_q"))
        .withColumn("_n2", norm2_int(F.col("_q")))
        .withColumn(
            "_bks",
            F.expr(
                "array("
                + ",".join(
                    lsh_bucket_sql("_q", hyperplane_signs(n_planes, dims, t))
                    for t in range(n_tables)
                )
                + ")"
            ),
        )
    )

    # Carry-the-payload shape: vectors (plus each vector's full bucket
    # list) ride into the bucket groupBy, upper-triangle pairs are
    # scored inline. Cross-table duplicates are eliminated for free by
    # the first-matching-table rule — a pair is emitted only in the
    # lowest table where it collides — so the whole operator is ONE
    # shuffle (the bucket groupBy): scan -> group -> explode/score.
    # Literal-sequence explode: see lsh_topk for why the table index
    # must not come from a derived-column generator.
    banded = base.select(
        "_id", "_q", "_n2", "_bks",
        F.explode(F.expr(f"sequence(0, {n_tables - 1})")).alias("tbl"),
    ).select(
        "tbl",
        F.expr("_bks[tbl]").alias("bucket"),
        F.struct("_id", "_q", "_n2", F.col("_bks").alias("bks")).alias("m"),
    )
    grouped = (
        banded.groupBy("tbl", "bucket")
        .agg(F.sort_array(F.collect_list("m")).alias("ms"))  # struct sort = by _id
        .where(F.size("ms") > 1)
    )
    if bucket_cap is None:
        pairs = grouped.select(
            "tbl",
            F.explode(
                F.expr(
                    "flatten(transform(ms, (x, i) -> "
                    "transform(slice(ms, i + 2, size(ms)), "
                    "y -> struct(x AS a, y AS b))))"
                )
            ).alias("p"),
        ).where(
            # first-matching-table: no earlier table already bucketed them
            ~F.expr(
                "exists(zip_with(slice(p.a.bks, 1, tbl), slice(p.b.bks, 1, tbl),"
                " (x, y) -> x = y), v -> v)"
            )
        )
        dedup_pairs = False
    else:
        pairs = grouped.select(
            F.explode(F.expr(pair_gen_sql("ms", bucket_cap))).alias("p")
        )
        dedup_pairs = True
    out = pairs.select(
        F.col("p.a._id").alias("id_a"),
        F.col("p.b._id").alias("id_b"),
        cosine_pre(
            F.col("p.a._q"), F.col("p.b._q"), F.col("p.a._n2"), F.col("p.b._n2")
        ).alias("sim"),
    ).where(F.col("sim") >= threshold)
    if dedup_pairs:
        # cross-table duplicates survive capped emission; the surviving
        # pair set is tiny relative to the corpus, so one dedup shuffle
        # of it is the cheap side of the trade.
        out = out.dropDuplicates(["id_a", "id_b"])
    return out


# --- IVF (inverted-file) ANN ---------------------------------------------

def quantized_centroids(base: DataFrame, label_col: str = "label") -> DataFrame:
    """Coarse-quantizer centroids on the integer grid.

    ``round(sum_i / count)`` per dimension, computed from exact integer
    sums — the rounded centroid is again an exact integer vector, so
    every later distance comparison is overflow-free integer math,
    order-independent and bit-identical in any engine.
    """
    exploded = base.select(
        F.col(label_col).alias("cid"), F.posexplode("_q").alias("dim", "qv")
    )
    per_dim = exploded.groupBy("cid", "dim").agg(
        F.round(F.sum("qv").cast("double") / F.count(F.lit(1)), 0)
        .cast("bigint")
        .alias("cv")
    )
    return per_dim.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "cv"))), lambda s: s["cv"]
        ).alias("cvec")
    )


def ivf_topk(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 10,
    query_mod: int = 50,
    nprobe: int = 2,
    centroids: DataFrame | None = None,
    prepped: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: the scale path for ANN.

    ``prepped``: optional pre-quantized base frame carrying exactly
    what this operator derives itself — ``(_id, <label_col>, _q, _n2)``
    for the default per-label quantizer, ``(_id, _q, _n2)`` with
    ``centroids`` — so composite jobs (the recall report) quantize the
    corpus once across legs. Values identical by construction.

    Build: vectors are assigned to their nearest coarse centroid (one
    small broadcast join — the inverted file). Search: each query scores
    only the lists of its ``nprobe`` nearest centroids, cutting scored
    pairs by ~n_lists/nprobe vs brute force. All distances are exact
    integer math on the quantized grid; ties break on centroid id /
    neighbor id, so results are total-ordered and oracle-reproducible.

    The coarse quantizer defaults to per-``label_col`` centroids (a
    supplied partitioning); pass ``centroids`` — ``(cid, cvec)`` on the
    quantized grid, e.g. from ``clustering.kmeans_centroids`` — to use
    a LEARNED quantizer instead (the shape a real index build uses:
    labels don't exist at 100 TB, k-means lists do).
    """
    if centroids is None:
        if prepped is not None:
            base = prepped.select("_id", F.col(label_col), "_q", "_n2")
        else:
            base = (
                # default floor, not the vector-class one: this branch
                # also feeds the (cid, dim) centroid aggregation, whose
                # two-stage shuffle pays per-task scheduling on every
                # extra partition — interleaved A/B (r15, 9 trials) read
                # 1.25 s at the default vs 1.49 s at the 16 KB floor for
                # ann_ivf_topk
                spread(
                    embeddings.select(
                        F.col(id_col).alias("_id"), F.col(label_col), F.col(vec_col)
                    )
                )
                .select("_id", F.col(label_col), quantize(F.col(vec_col)).alias("_q"))
                .withColumn("_n2", norm2_int(F.col("_q")))
            )
        cents = quantized_centroids(base, label_col)
    else:
        if prepped is not None:
            base = prepped.select("_id", "_q", "_n2")
        else:
            base = (
                _spread_vec(embeddings.select(F.col(id_col).alias("_id"), F.col(vec_col)))
                .select("_id", quantize(F.col(vec_col)).alias("_q"))
                .withColumn("_n2", norm2_int(F.col("_q")))
            )
        cents = centroids

    # The coarse quantizer is tiny (one centroid per list) — broadcast
    # it as ONE collected array and rank lists per vector with a sorted
    # array expression. That replaces two row_number windows (two
    # shuffles of the full vector table, each recomputing the distance
    # cross join) with a map-only pass; ties break (d2, cid) exactly as
    # the window version did. A probe list never repeats a list_id, so
    # (query, neighbor) pairs are unique by construction and no
    # dropDuplicates shuffle is needed.
    cent_arr = cents.agg(F.collect_list(F.struct("cid", "cvec")).alias("cs"))
    ranked = base.crossJoin(F.broadcast(cent_arr)).withColumn(
        "_ranked",
        F.expr(
            "array_sort(transform(cs, c -> struct("
            "aggregate(zip_with(_q, c.cvec, (x, y) -> (x - y) * (x - y)),"
            " 0L, (a, x) -> a + x) AS d2, c.cid AS cid)))"
        ),
    )
    assigned = ranked.select(
        "_id", F.expr("_ranked[0].cid").alias("list_id"), "_q", "_n2"
    )
    probes = ranked.where(F.col("_id") % query_mod == 0).select(
        F.col("_id").alias("query_id"),
        F.col("_q").alias("_qq"),
        F.col("_n2").alias("_qn2"),
        F.explode(
            F.expr(f"transform(slice(_ranked, 1, {nprobe}), c -> c.cid)")
        ).alias("list_id"),
    )
    scored = (
        assigned.join(F.broadcast(probes), "list_id")
        .where(F.col("_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("_id").alias("neighbor_id"),
            cosine_pre(
                F.col("_qq"), F.col("_q"), F.col("_qn2"), F.col("_n2")
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "sim")
    )


def centroids_per_label(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Per-label centroid, one row per (label, dim): exact integer sums
    per dimension / count. posexplode + two-key groupBy — at scale this
    is a single shuffle keyed (label, dim), perfectly balanced."""
    q = quantize(F.col(vec_col))
    exploded = embeddings.select(
        F.col(label_col).alias("label"), F.posexplode(q).alias("dim", "qv")
    )
    return (
        exploded.groupBy("label", "dim")
        .agg(
            F.round(
                F.sum("qv").cast("double") / (F.count(F.lit(1)) * QUANT_SCALE),
                round_to,
            ).alias("centroid")
        )
    )


# --- product quantization (PQ encode + ADC top-k) ----------------------

PQ_K = 16        # centroids per subspace (codes fit 4 bits)
PQ_SUBDIM = 4    # dims per subspace: 64 dims -> 16 subspaces x 4 bits
PQ_SHORTLIST = 150  # ADC survivors re-ranked exactly, per query


def _pq_adc_expr(m_sub: int) -> str:
    """ADC distance: sum over subspaces of ``dtab[m][codes[m]]``.

    Unrolled into ``m_sub`` plain nested ``element_at`` terms instead
    of ``aggregate(zip_with(...))``: the fold form allocates an
    intermediate array and pays 2 lambda invocations per subspace for
    every (code row x query) pair — the dominant linear stage of a PQ
    search at scale. Left-associative bigint addition either way, so
    the distances are bit-identical (r15 A/B: neutral at sf0.1 where
    the broadcast-join overhead dominates the 128k-pair scan; strictly
    fewer interpreted ops per pair is the term that grows N x Q)."""
    return " + ".join(
        f"element_at(element_at(dtab, {m}),"
        f" cast(element_at(codes, {m}) as int) + 1)"
        for m in range(1, m_sub + 1)
    )


def unit_quantize(q: Column, n2: Column) -> Column:
    """Project an integer-grid vector onto the unit sphere, back onto
    the grid: ``round(q_i * 1e6 / sqrt(n2))``. Inputs are exact ints,
    so the double divide + round is IEEE-identical in any engine; on
    the unit sphere, squared L2 order == cosine order, which lets the
    PQ distance tables rank by the same metric the exact re-rank uses.
    """
    return F.transform(
        q,
        lambda x: F.round(
            x.cast("double") * QUANT_SCALE / F.sqrt(n2.cast("double")), 0
        ).cast("bigint"),
    )


def attach_cbs_sub(cb_arr: DataFrame, m_sub: int, subdim: int) -> DataFrame:
    """Pre-split the (one-row, broadcast) codebook per subspace:
    ``cbs_sub[m]`` = the ``PQ_K`` length-``subdim`` subvectors of
    subspace ``m``. Evaluated once per codebook row, so the per-DATA-row
    encode/dtab expressions stop re-slicing every codebook vector per
    (subspace x centroid) reference — the old inline form paid
    ``m_sub x PQ_K`` codebook slices plus as many data-vector slices
    per encoded row (r15 A/B: encode stage 0.260 -> 0.113 s at sf0.1,
    codes bit-identical)."""
    return cb_arr.withColumn(
        "cbs_sub",
        F.expr(
            f"transform(sequence(0, {m_sub - 1}),"
            f" m -> transform(cbs, cbj -> slice(cbj, m * {subdim} + 1, {subdim})))"
        ),
    )


def _pq_split_vec(vec: str, m_sub: int, subdim: int) -> str:
    """Split ``vec`` into its ``m_sub`` subvectors — once per row."""
    return (
        f"transform(sequence(0, {m_sub - 1}),"
        f" m -> slice({vec}, m * {subdim} + 1, {subdim}))"
    )


def _pq_sqdist(subdim: int) -> str:
    """Squared L2 between bound subvectors ``sv``/``sc``, unrolled to
    plain arithmetic: no inner ``zip_with``/``aggregate`` lambda
    invocations or intermediate arrays per (row x centroid) pair.
    Left-associative bigint sum — identical to the fold it replaces."""
    return " + ".join(
        f"(element_at(sv, {i}) - element_at(sc, {i}))"
        f" * (element_at(sv, {i}) - element_at(sc, {i}))"
        for i in range(1, subdim + 1)
    )


def _pq_data_dists(m_sub: int, subdim: int, vec: str) -> str:
    """Per-subspace distance arrays from ``vec`` to the pre-split
    codebook (requires the ``cbs_sub`` column — :func:`attach_cbs_sub`)."""
    return (
        f"zip_with({_pq_split_vec(vec, m_sub, subdim)}, cbs_sub,"
        f" (sv, cbm) -> transform(cbm, sc -> {_pq_sqdist(subdim)}))"
    )


def _pq_data_codes_expr(vec: str, m_sub: int, subdim: int) -> str:
    # argmin over the bound per-subspace distance row: the outer
    # transform binds each row once (interpreted HOF lambdas have no
    # subexpression elimination, so array_position(d, array_min(d))
    # over an unbound d would re-evaluate the distances per reference)
    return (
        f"transform({_pq_data_dists(m_sub, subdim, vec)}, "
        f"row -> array_position(row, array_min(row)) - 1)"
    )


def _pq_data_dtab_expr(vec: str, m_sub: int, subdim: int) -> str:
    return _pq_data_dists(m_sub, subdim, vec)


def pq_topk(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    query_mod: int = 50,
    subdim: int = PQ_SUBDIM,
    shortlist: int = PQ_SHORTLIST,
    queries: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k by product quantization: ADC shortlist, exact
    re-rank — the standard production shape.

    The 100 TB memory path: vectors are unit-normalized on the integer
    grid, compressed to ``64/subdim`` 4-bit codes (8 bytes at the
    defaults vs 256 bytes of floats at 64 dims) against DATA-SAMPLED
    codebooks (the ``PQ_K`` vectors with smallest portable hash —
    k-means init without the iterations, deterministic in any engine),
    then each query ranks candidates by ``64/subdim`` table lookups,
    keeps a ``shortlist``, and re-scores only those exactly.
    Everything integer-grid, so the oracle reproduces every value.
    Defaults (16 subspaces of 4 dims, 150-deep shortlist) measure
    recall@10 >= 0.96 vs brute force on the fixture corpora; the
    recall gate in ``tests/test_llm_operators.py`` holds the floor at
    0.9.

    SCALE CONTRACT: the ADC scan is a broadcast non-equi join of all
    codes x all queries — O(N x Q). That is the correct shape ONLY
    when the query side is a small bounded table; pass it via
    ``queries`` (same ``id_col``/``vec_col`` schema as the corpus).
    The default ``query_mod`` self-query set grows with the corpus
    (O(N^2 / query_mod) work) and exists for the deterministic oracle
    at test scale — at 100 TB use ``queries`` or IVF-PQ, whose probe
    join is an equi-join on ``list_id``.

    Returns (query_id, rank, neighbor_id, sim) — exact cosine on the
    shortlist; ties rank by neighbor id.
    """
    m_sub = 64 // subdim
    raw = _spread_vec(
        embeddings.select(F.col(id_col).alias("_id"), F.col(vec_col))
    ).select("_id", quantize(F.col(vec_col)).alias("_q"))
    base = (
        raw.withColumn("_n2", norm2_int(F.col("_q")))
        .select("_id", unit_quantize(F.col("_q"), F.col("_n2")).alias("_qn"))
        .withColumn("_n2n", norm2_int(F.col("_qn")))
    )
    # data-sampled codebook: PQ_K rows with smallest (hash, id); carried
    # as ONE collected array (tiny), ordered via struct sort on the
    # unique (hash, id) prefix
    from personal_health_etl_pipeline_spark.functions.hashing import md5_long

    sel = (
        base.select("_id", "_qn", md5_long("_id").alias("_h"))
        .orderBy("_h", "_id")
        .limit(PQ_K)
    )
    cb_arr = attach_cbs_sub(
        sel.agg(
            F.expr(
                "transform(array_sort(collect_list(struct(_h, _id, _qn))),"
                " s -> s._qn)"
            ).alias("cbs")
        ),
        m_sub,
        subdim,
    )
    with_cb = base.crossJoin(F.broadcast(cb_arr))
    codes = with_cb.select(
        "_id",
        "_qn",
        "_n2n",
        F.expr(_pq_data_codes_expr("_qn", m_sub, subdim)).alias("codes"),
    )
    if queries is None:
        q_src = with_cb.where(F.col("_id") % query_mod == 0)
    else:
        # bounded external query table: normalize on the same integer
        # grid and rank against the SAME corpus-sampled codebook
        q_src = (
            _spread_vec(
                queries.select(F.col(id_col).alias("_id"), F.col(vec_col))
            )
            .select("_id", quantize(F.col(vec_col)).alias("_q"))
            .withColumn("_n2", norm2_int(F.col("_q")))
            .select(
                "_id", unit_quantize(F.col("_q"), F.col("_n2")).alias("_qn")
            )
            .withColumn("_n2n", norm2_int(F.col("_qn")))
            .crossJoin(F.broadcast(cb_arr))
        )
    query_side = q_src.select(
        F.col("_id").alias("query_id"),
        F.col("_qn").alias("_qq"),
        F.col("_n2n").alias("_qn2"),
        F.expr(_pq_data_dtab_expr("_qn", m_sub, subdim)).alias("dtab"),
    )
    ws = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id")
    )
    # NARROW the ADC stream before the shortlist shuffle: only
    # (query_id, neighbor_id, adist) rides the window — the full
    # vectors and distance tables (~150 longs per row) would otherwise
    # shuffle N x Q times. Survivors re-fetch their exact vectors via
    # the dedup-verify pattern (broadcast the tiny shortlist against
    # the quantized base). At sf0.1 this measures NEUTRAL (the ADC
    # scoring dominates both shapes); it is kept because the
    # shuffle-volume term it removes is the one that grows as
    # N x Q x vector-width at cluster scale.
    # (r5 measurement note: an Arrow/numpy ADC scorer was prototyped
    # and REJECTED — the builtin scorer measures 0.3-0.5s at sf0.1
    # while the Python-worker round trip costs ~1.5s; the entry's
    # residual gap vs the in-process oracle is the shortlist window's
    # global shuffle, which any engine doing a distributed per-query
    # top-k must pay.)
    adc = (
        codes.select("_id", "codes")
        .join(
            F.broadcast(query_side.select("query_id", "dtab")),
            F.col("_id") != F.col("query_id"),
        )
        .select(
            "query_id",
            F.col("_id").alias("neighbor_id"),
            F.expr(_pq_adc_expr(m_sub)).alias("adist"),
        )
    )
    shortlisted_n = (
        adc.withColumn("srank", F.row_number().over(ws))
        .where(F.col("srank") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    neigh = base.select(
        F.col("_id").alias("neighbor_id"), "_qn", "_n2n"
    )
    qvec = query_side.select("query_id", "_qq", "_qn2")
    shortlisted = neigh.join(
        F.broadcast(shortlisted_n), "neighbor_id"
    ).join(F.broadcast(qvec), "query_id")
    sim = cosine_pre(F.col("_qq"), F.col("_qn"), F.col("_qn2"), F.col("_n2n"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        shortlisted.select("query_id", "neighbor_id", sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "sim")
    )


def ivfpq_topk(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 10,
    query_mod: int = 50,
    nprobe: int = 2,
    subdim: int = PQ_SUBDIM,
    shortlist: int = PQ_SHORTLIST,
    queries: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ: coarse inverted-file pruning + residual product codes +
    exact re-rank — the configuration real 100 TB vector stores run:
    candidates shrink by ~n_lists/nprobe AND each candidate costs 8
    table lookups on an 8-byte code instead of a 64-dim dot product
    over 256 bytes; only the ``shortlist`` survivors per query are
    scored exactly. Pass a bounded external query table via ``queries``
    ((id, vector) schema, no label needed) — the default ``query_mod``
    self-query set exists for the deterministic oracle at test scale.

    Classic residual encoding: each vector's PQ codes quantize
    ``x - centroid(list(x))``, and a query builds one distance table
    per PROBED list from ``q - centroid(list)`` — both exact integer
    arithmetic, so the oracle reproduces every distance. The residual
    codebook is DATA-SAMPLED exactly like :func:`pq_topk`'s (the
    ``PQ_K`` residual vectors with smallest portable hash): sampled
    residuals live on the residual scale, where fixed-range synthetic
    codebooks mis-quantize badly (measured recall 0.27 -> 0.8+ at
    defaults). Final ranking is exact cosine over the shortlist; ties
    break on neighbor id.
    """
    from personal_health_etl_pipeline_spark.functions.hashing import md5_long

    m_sub = 64 // subdim
    base = _spread_vec(
        embeddings.select(
            F.col(id_col).alias("_id"), F.col(label_col), F.col(vec_col)
        )
    ).select(
        "_id", F.col(label_col), quantize(F.col(vec_col)).alias("_q")
    ).withColumn("_n2", norm2_int(F.col("_q")))
    cents = quantized_centroids(base, label_col)
    cent_arr = cents.agg(F.collect_list(F.struct("cid", "cvec")).alias("cs"))
    ranked = base.crossJoin(F.broadcast(cent_arr)).withColumn(
        "_ranked",
        F.expr(
            "array_sort(transform(cs, c -> struct("
            "aggregate(zip_with(_q, c.cvec, (x, y) -> (x - y) * (x - y)),"
            " 0L, (a, x) -> a + x) AS d2, c.cid AS cid)))"
        ),
    )
    # residual w.r.t. the OWN list's centroid, PQ-encoded (map-only
    # once the sampled residual codebook rides in as one broadcast row)
    res = ranked.select(
        "_id",
        "_q",
        "_n2",
        F.expr("_ranked[0].cid").alias("list_id"),
        F.expr(
            "zip_with(_q, filter(cs, c -> c.cid = _ranked[0].cid)[0].cvec,"
            " (x, y) -> x - y)"
        ).alias("_r"),
    )
    sel = (
        res.select("_id", "_r", md5_long("_id").alias("_h"))
        .orderBy("_h", "_id")
        .limit(PQ_K)
    )
    rcb_arr = attach_cbs_sub(
        sel.agg(
            F.expr(
                "transform(array_sort(collect_list(struct(_h, _id, _r))),"
                " s -> s._r)"
            ).alias("cbs")
        ),
        m_sub,
        subdim,
    )
    assigned = res.crossJoin(F.broadcast(rcb_arr)).select(
        "_id", "_q", "_n2", "list_id",
        F.expr(_pq_data_codes_expr("_r", m_sub, subdim)).alias("codes"),
    )
    # per probed list: distance table from the query's residual vs that list
    if queries is None:
        ranked_q = ranked.where(F.col("_id") % query_mod == 0)
    else:
        # bounded external queries ranked against the SAME coarse
        # centroids (no label needed — lists come from the centroids)
        ranked_q = (
            _spread_vec(queries.select(F.col(id_col).alias("_id"), F.col(vec_col)))
            .select("_id", quantize(F.col(vec_col)).alias("_q"))
            .withColumn("_n2", norm2_int(F.col("_q")))
            .crossJoin(F.broadcast(cent_arr))
            .withColumn(
                "_ranked",
                F.expr(
                    "array_sort(transform(cs, c -> struct("
                    "aggregate(zip_with(_q, c.cvec, (x, y) -> (x - y) * (x - y)),"
                    " 0L, (a, x) -> a + x) AS d2, c.cid AS cid)))"
                ),
            )
        )
    probes = (
        ranked_q
        .select(
            F.col("_id").alias("query_id"),
            F.col("_q").alias("_qq"),
            F.col("_n2").alias("_qn2"),
            "cs",
            F.explode(
                F.expr(f"transform(slice(_ranked, 1, {nprobe}), c -> c.cid)")
            ).alias("list_id"),
        )
        .select(
            "query_id",
            "_qq",
            "_qn2",
            "list_id",
            F.expr(
                "zip_with(_qq, filter(cs, c -> c.cid = list_id)[0].cvec,"
                " (x, y) -> x - y)"
            ).alias("_r"),
        )
        .crossJoin(F.broadcast(rcb_arr))
        .select(
            "query_id", "_qq", "_qn2", "list_id",
            F.expr(_pq_data_dtab_expr("_r", m_sub, subdim)).alias("dtab"),
        )
    )
    # a neighbor lives in exactly one list and probe lists are distinct,
    # so (query, neighbor) pairs are unique — no dedup shuffle needed
    ws = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id")
    )
    shortlisted = (
        assigned.join(F.broadcast(probes), "list_id")
        .where(F.col("_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("_id").alias("neighbor_id"),
            F.expr(_pq_adc_expr(m_sub)).alias("adist"),
            "_q",
            "_n2",
            "_qq",
            "_qn2",
        )
        .withColumn("srank", F.row_number().over(ws))
        .where(F.col("srank") <= shortlist)
    )
    sim = cosine_pre(F.col("_qq"), F.col("_q"), F.col("_qn2"), F.col("_n2"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        shortlisted.select("query_id", "neighbor_id", sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "sim")
    )


def range_search(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_sim: float = 0.8,
    query_mod: int = 50,
) -> DataFrame:
    """RADIUS search: every neighbor with cosine >= ``min_sim`` for
    the query subset — the variable-result-size complement of top-k
    (the dedup-threshold / recall-sweep query shape). Same broadcast
    structure as :func:`brute_force_topk` but no window: the output is
    a plain filter on the scored stream, so there is NO per-query
    shuffle at all — scan, broadcast join, filter. Returns
    (query_id, neighbor_id, sim) ordered by (query_id, sim desc,
    neighbor_id)."""
    base = (
        _spread_vec(embeddings.select(F.col(id_col).alias("_id"), F.col(vec_col)))
        .select("_id", quantize(F.col(vec_col)).alias("_q"))
        .withColumn("_n2", norm2_int(F.col("_q")))
    )
    queries = base.where(F.col("_id") % query_mod == 0).select(
        F.col("_id").alias("query_id"),
        F.col("_q").alias("_qq"),
        F.col("_n2").alias("_qn2"),
    )
    sim = cosine_pre(F.col("_qq"), F.col("_q"), F.col("_qn2"), F.col("_n2"))
    return (
        base.join(F.broadcast(queries), F.col("_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("_id").alias("neighbor_id"),
            sim.alias("sim"),
        )
        .where(F.col("sim") >= F.lit(float(min_sim)))
        .orderBy("query_id", F.col("sim").desc(), "neighbor_id")
    )

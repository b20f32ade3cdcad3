"""K-means clustering and semantic (cluster-then-compare) dedup.

The dedup family finds near-duplicates whose *surface forms* collide
(shingles, simhash bits, LSH buckets). Semantic dedup — SemDeDup-style
— finds documents that say the same thing in different words: cluster
the embedding space with k-means, then compare pairs only *within* a
cluster. The reference repo has no clustering (its richest analytics
are two BigQuery probes, `composer_dags/dags/utils/data_sources/oura/
etl/load.py:220-247`); this is part of the engine's extended
training-data surface, like the LSH/ANN family it composes with.

Determinism contract (same as operators/similarity.py): vectors are
quantized to the 1e-6 integer grid, every distance is exact integer
math, centroid updates are round(sum/count) back onto the grid, and
ties break on cluster id — so Lloyd's iterations are bit-identical
between Spark's partitioned execution and a serial SQL oracle.

Scale design:

* Each Lloyd iteration is ONE Spark job: a map-side assignment (the k
  centroids are inlined as a literal array; argmin is an array
  expression — no join, no broadcast materialization) feeding one
  (cid, dim)-keyed centroid aggregation, whose k-row result the driver
  ferries into the next iteration's literal. Driver state is bounded
  at k x dims integers (MLlib's KMeans holds the same); the driver
  never does arithmetic — values come from the same JVM expressions
  the oracle mirrors, so results are bit-identical either way.
* ``k`` should grow with the corpus (k ~ N / target_cluster_size);
  the within-cluster pair step is O(sum of cluster_size^2), bounded by
  ``cluster_cap`` chain emission exactly like the LSH bucket cap
  (``dedup.pair_gen_sql``), so one runaway cluster degrades to O(N)
  pairs, not O(N^2).
* For big corpora pass ``persist=True`` so the quantized base is
  cached for the training collects (init + every Lloyd update reads
  ``InMemoryTableScan``) and released before the final lazy result is
  returned: the source is scanned exactly TWICE per run — once to fill
  the cache, once by the returned plan — independent of ``n_updates``
  (vs ``n_updates + 2`` scans without it), and no executor storage
  outlives the call. Callers that want the final pass cached too can
  persist the input frame themselves and manage its lifetime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from personal_health_etl_pipeline_spark.operators.dedup import (
    LSH_BUCKET_CAP,
    pair_gen_sql,
)
from personal_health_etl_pipeline_spark.operators.similarity import (
    _spread_vec,
    cosine_pre,
    norm2_int,
    quantize,
    quantized_centroids,
)

# argmin over the inlined centroid array: exact integer squared L2
# per centroid, ties broken on cluster id by the (d2, cid) struct sort.
_BEST_EXPR = (
    "array_sort(transform(cs, c -> struct("
    "aggregate(zip_with(_q, c.cvec, (x, y) -> (x - y) * (x - y)),"
    " 0L, (a, x) -> a + x) AS d2, c.cid AS cid)))[0]"
)


def _cents_literal(cents: list[tuple[int, list[int]]]):
    """The centroid set as one literal array-of-structs column: the
    assignment becomes a pure map — no broadcast-exchange job, no join
    node, whole plan is scan -> project."""
    return F.array(
        *[
            F.struct(
                F.lit(cid).alias("cid"),
                F.array(*[F.lit(int(v)) for v in cvec]).alias("cvec"),
            )
            for cid, cvec in cents
        ]
    )


def _assign_lit(
    base: DataFrame, cents: list[tuple[int, list[int]]]
) -> DataFrame:
    return (
        base.withColumn("cs", _cents_literal(cents))
        .withColumn("_best", F.expr(_BEST_EXPR))
        .select(
            "_id",
            "_q",
            "_n2",
            F.col("_best.cid").alias("cid"),
            F.col("_best.d2").alias("d2"),
        )
    )


def _quantized_base(
    embeddings: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    return (
        _spread_vec(embeddings.select(F.col(id_col).alias("_id"), F.col(vec_col)))
        .select("_id", quantize(F.col(vec_col)).alias("_q"))
        .withColumn("_n2", norm2_int(F.col("_q")))
    )


def _centroids_from(
    base: DataFrame, k: int, n_updates: int
) -> list[tuple[int, list[int]]]:
    """Lloyd's loop: init from the ``k`` smallest ids, ``n_updates``
    assign+update rounds; returns the final centroid set as a Python
    list (BOUNDED driver state: k x dims integers — the same contract
    as MLlib's KMeans, whose driver also holds every centroid).

    Each update is ONE Spark job (the existing quantized_centroids
    aggregation, collected); the k-row result is re-injected as a
    LITERAL array so the next assignment is a pure map. The centroid
    VALUES are still computed by the same JVM expressions the oracle
    mirrors — the driver only ferries them, it never does arithmetic —
    so results are bit-identical to the all-lazy formulation while the
    job count drops from ~3 per update (broadcast materialization +
    shuffle + probe) to 1.
    """
    init = base.select("_id", "_q").orderBy("_id").limit(k).collect()
    cents = [(i, list(r._q)) for i, r in enumerate(init)]
    for _ in range(n_updates):
        updated = quantized_centroids(_assign_lit(base, cents), "cid").collect()
        cents = sorted((r.cid, list(r.cvec)) for r in updated)
    return cents


def train_centroids(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_updates: int = 2,
    persist: bool = False,
) -> list[tuple[int, list[int]]]:
    """Run Lloyd's training alone and return the final centroid set as
    a plain Python list (k x dims integers — bounded driver state).

    This is the SHAREABLE model artifact: every consumer
    (:func:`kmeans_assign`, :func:`semantic_near_dup_pairs`, an IVF
    index build) accepts it via their ``centroids=`` parameter, so one
    training pass can serve many probe/assign passes — at real scale
    the list would be persisted alongside the index it quantizes.

    ``persist=True`` caches the quantized base across the training
    collects (ONE source scan instead of ``n_updates + 1``); the cache
    is released before returning.
    """
    base = _quantized_base(embeddings, id_col, vec_col)
    if persist:
        base = base.persist()
    try:
        return _centroids_from(base, k, n_updates)
    finally:
        if persist:
            base.unpersist()


def centroids_frame(
    spark, cents: list[tuple[int, list[int]]]
) -> DataFrame:
    """A trained centroid list as the ``(cid, cvec)`` frame shape
    :func:`similarity.ivf_topk` takes via ``centroids=``."""
    return spark.createDataFrame(
        [(cid, cvec) for cid, cvec in cents],
        "cid int, cvec array<bigint>",
    )


def kmeans_centroids(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_updates: int = 2,
    persist: bool = False,
) -> DataFrame:
    """The trained quantizer alone: ``(cid, cvec)`` on the integer
    grid — e.g. as the coarse quantizer for an IVF index
    (:func:`similarity.ivf_topk` accepts it via ``centroids=``).
    """
    return centroids_frame(
        embeddings.sparkSession,
        train_centroids(
            embeddings, id_col=id_col, vec_col=vec_col, k=k,
            n_updates=n_updates, persist=persist,
        ),
    )


def kmeans_assignments(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_updates: int = 2,
    persist: bool = False,
    centroids: list[tuple[int, list[int]]] | None = None,
) -> DataFrame:
    """Lloyd's k-means; returns the final assignment frame
    ``(_id, _q, _n2, cid, d2)`` (internal shape — see
    :func:`kmeans_assign` for the public scalar projection).

    * init: centroids = the ``k`` smallest-id vectors, ``cid`` 0..k-1
      in id order (deterministic, oracle-reproducible). Init quality
      therefore tracks id order: ids uncorrelated with content (hashes,
      ingestion counters) spread the seeds like random init; ids that
      cluster by content can clump the seeds, and Lloyd's does not
      recover from a clumped init — re-key by a hash first if needed;
    * ``n_updates`` times: recompute centroids as the per-dimension
      round(mean) of the current assignment (back on the integer
      grid), then re-assign;
    * a cluster that loses all members simply drops out of the
      centroid set (both engines compute centroids by grouping the
      assignment, so the oracle agrees).

    ``persist=True`` caches the quantized base for the duration of the
    training collects and RELEASES it before the final (lazy)
    assignment is returned: init + every Lloyd update read
    ``InMemoryTableScan``; the returned plan recomputes the base from
    source once when the caller materializes it. Two source scans per
    run, independent of ``n_updates``, and no cached storage survives
    the call (the returned frame does not pin the cache — after
    ``unpersist`` its execution simply recomputes).

    ``centroids``: a pre-trained list from :func:`train_centroids`;
    when given, training (and ``persist``) is skipped entirely and the
    call is a single map-side assignment pass.
    """
    base = _quantized_base(embeddings, id_col, vec_col)
    if centroids is not None:
        return _assign_lit(base, centroids)
    if persist:
        base = base.persist()
    try:
        cents = _centroids_from(base, k, n_updates)
    finally:
        if persist:
            base.unpersist()
    return _assign_lit(base, cents)


def kmeans_assign(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_updates: int = 2,
    persist: bool = False,
    centroids: list[tuple[int, list[int]]] | None = None,
) -> DataFrame:
    """Public k-means assignment: ``(vec_id, cluster_id, d2)`` — the
    exact squared grid distance to the vector's final centroid."""
    return kmeans_assignments(
        embeddings, id_col=id_col, vec_col=vec_col, k=k,
        n_updates=n_updates, persist=persist, centroids=centroids,
    ).select(
        F.col("_id").alias(id_col),
        F.col("cid").alias("cluster_id"),
        F.col("d2"),
    )


def semantic_near_dup_pairs(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_updates: int = 2,
    threshold: float = 0.4,
    cluster_cap: int = LSH_BUCKET_CAP,
    persist: bool = False,
    centroids: list[tuple[int, list[int]]] | None = None,
) -> DataFrame:
    """SemDeDup-style near-dup pairs: ``(id_a, id_b, sim)``,
    ``id_a < id_b``, cosine >= ``threshold``, both in the same k-means
    cluster.

    Clusters partition the corpus (unlike LSH buckets, which overlap
    across tables), so no cross-bucket pair dedup shuffle is needed:
    the pipeline is k-means, one groupBy(cid) with carried payloads,
    and an inline pair explode + cosine — capped per cluster by
    ``cluster_cap`` chain emission. ``centroids`` skips training —
    see :func:`kmeans_assignments`.
    """
    assigned = kmeans_assignments(
        embeddings, id_col=id_col, vec_col=vec_col, k=k,
        n_updates=n_updates, persist=persist, centroids=centroids,
    )
    grouped = (
        # zero-norm vectors have no defined cosine — they cluster fine
        # but cannot pair (ANSI division; the oracle filters identically)
        assigned.where(F.col("_n2") > 0)
        .select("cid", F.struct("_id", "_q", "_n2").alias("m"))
        .groupBy("cid")
        .agg(F.sort_array(F.collect_list("m")).alias("ms"))  # struct sort = by _id
        .where(F.size("ms") > 1)
    )
    pairs = grouped.select(
        F.explode(F.expr(pair_gen_sql("ms", cluster_cap))).alias("p")
    )
    return pairs.select(
        F.col("p.a._id").alias("id_a"),
        F.col("p.b._id").alias("id_b"),
        cosine_pre(
            F.col("p.a._q"), F.col("p.b._q"), F.col("p.a._n2"), F.col("p.b._n2")
        ).alias("sim"),
    ).where(F.col("sim") >= threshold)

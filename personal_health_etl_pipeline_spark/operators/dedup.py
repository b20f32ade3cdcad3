"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

The training-data-pipeline dedup family (BASELINE.json north star),
designed scale-first:

* **exact** — hash-groupBy on a portable digest; one shuffle on the
  digest, no skew (md5 keys are uniform).
* **MinHash + LSH** — signatures are computed as per-row *array
  expressions* (no explode, no shuffle); only the band keys are
  exploded (``bands`` rows per doc, a constant factor), then one
  shuffle groups band buckets; candidate pairs are verified with exact
  Jaccard. This is the 100 TB path: cost is O(docs x bands) + the
  bucket self-joins, never O(docs^2).
* **SimHash** — per-row bit-vote sketch (array aggregate), pairs by
  sketch equality / Hamming radius.
* **n-gram Jaccard** — exact inverted-index pair generation; the
  correctness baseline the sketches are measured against. ``max_df``
  drops corpus-ubiquitous shingles from the index before the self-join
  (the hot-key mitigation), with exact re-verification over full
  shingle sets so surviving scores never change.

All hashes are the portable md5 family (functions/hashing.py) so the
DuckDB oracle reproduces every value bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from personal_health_etl_pipeline_spark.functions.hashing import md5_hex, md5_long
from personal_health_etl_pipeline_spark.operators.partitioning import (
    SKETCH_MIN_BYTES_PER_PARTITION,
    spread,
)
from personal_health_etl_pipeline_spark.functions.text import (
    distinct_shingles,
    has_min_tokens,
)


# --- exact dedup -------------------------------------------------------

def exact_dup_groups(df: DataFrame, col: str, id_col: str) -> DataFrame:
    """One row per distinct value: digest, keeper id (min), group size."""
    return (
        df.groupBy(md5_hex(col).alias("content_hash"))
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def dedup_exact(df: DataFrame, col: str, id_col: str) -> DataFrame:
    """Keep the min-id row per distinct value of ``col``."""
    w = Window.partitionBy(md5_hex(col)).orderBy(F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


# --- MinHash + LSH ------------------------------------------------------

# Mersenne prime modulus for the linear min-wise hash family. One md5
# per shingle (materialized once per row), then every signature slot is
# a cheap ``(h * a + b) mod P`` re-mix — 32 signatures cost ~1 hash pass
# instead of 32. All arithmetic stays below 2^62, so it is overflow-free
# and bit-identical in Spark and DuckDB.
MINHASH_P = 2_147_483_647


def minhash_coeffs(n_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) coefficients of the linear hash family."""
    return [
        (
            ((2654435761 * (i + 1)) % MINHASH_P) or 1,
            (40503 * (i + 1) + 12345) % MINHASH_P,
        )
        for i in range(n_hashes)
    ]


def shingle_hashes(shingles: Column) -> Column:
    """Per-shingle 60-bit portable hashes (the one md5 pass per row).

    Callers materialize this as its own projection column before fanning
    out into per-signature expressions: higher-order-function lambdas
    are interpreted (no codegen subexpression elimination), so an
    inlined copy per signature would re-hash every shingle n_hashes
    times. CollapseProject keeps a multiply-referenced non-trivial alias
    as a separate projection, so the hash pass runs once.
    """
    return F.transform(shingles, lambda s: md5_long(s))


def mod_p_sql(hashes_sql: str) -> str:
    """The 60-bit hash array reduced mod P once, as one expression.

    Every signature slot computes ``(h % P * a + b) % P``; hoisting the
    ``h % P`` into ONE materialized pass saves ``n_hashes - 1`` mods per
    shingle (a quarter of the interpreted remix work at 32 slots) while
    producing bit-identical slot values — callers materialize this as
    its own projection column and feed it to
    :func:`minhash_signature_sql`."""
    return f"transform({hashes_sql}, h -> h % {MINHASH_P})"


def minhash_signature_sql(hashes_mod_sql: str, n_hashes: int) -> str:
    """MinHash signature as ONE SQL array expression: per-slot minimum
    of the re-mixed hash array. ``hashes_mod_sql`` must already be
    reduced mod P (see :func:`mod_p_sql`).

    A single ``F.expr`` string instead of ``n_hashes`` composed Column
    objects — the py4j round trips of building 32 lambda expressions
    driver-side cost more than executing them (see
    ``similarity.lsh_bucket_sql`` for the measurement).
    """
    slots = ",".join(
        f"array_min(transform({hashes_mod_sql},"
        f" h -> (h * {a}L + {b}L) % {MINHASH_P}))"
        for a, b in minhash_coeffs(n_hashes)
    )
    return f"array({slots})"


def band_hashes_sql(sig_sql: str, n_hashes: int, bands: int) -> str:
    """Per-band md5 keys from a signature array, as ONE SQL expression:
    ``array(md5('s0,s1,..'), md5('s4,s5,..'), ...)``."""
    rows = n_hashes // bands
    entries = []
    for b in range(bands):
        parts = ",".join(
            f"CAST({sig_sql}[{b * rows + r}] AS STRING)" for r in range(rows)
        )
        entries.append(f"md5(concat_ws(',', {parts}))")
    return f"array({','.join(entries)})"


def jaccard(a: Column, b: Column, round_to: int = 4) -> Column:
    """Exact Jaccard over two distinct-element arrays (deterministic:
    integer sizes divided once in double)."""
    shared = F.size(F.array_intersect(a, b))
    return F.round(
        shared.cast("double") / (F.size(a) + F.size(b) - shared), round_to
    )


# Buckets above this size switch from all-pairs to consecutive-chain
# emission (see pair_gen_sql): a degenerate corpus (every doc identical)
# otherwise creates ONE bucket whose pair explode is O(N^2) in a single
# task. The chain keeps the bucket connected for grouping at O(N) pairs.
LSH_BUCKET_CAP = 256

# The exact-verify joins broadcast the candidate pairs (then the
# candidate + shingle-array intermediate) only when the pair set is
# MEASURED small; above this the verify runs as ordinary shuffle joins
# instead of OOMing the driver at an extreme-dup-rate corpus
# (VERDICT-r10 item 3 codified the previously-manual fallback). With
# the shingle arrays attached, 65536 rows is ~tens of MB of broadcast.
VERIFY_BROADCAST_MAX_CANDIDATES = 65_536


def _gated_candidates(candidates: DataFrame, max_broadcast_rows: int | None):
    """Materialize the candidate pairs once and pick the verify shape.

    ``localCheckpoint`` truncates the sketch lineage, so the count and
    both verify joins reuse the same materialized bytes — the gate
    costs one cheap count, never a pipeline re-run. Returns the
    reusable frame plus a hint function: ``F.broadcast`` when the
    measured count fits ``max_broadcast_rows``, identity (shuffle
    join; AQE may still convert it at runtime) when it does not.
    ``max_broadcast_rows=None`` keeps the unconditional hint for
    callers that bound the candidate set structurally.
    """
    if max_broadcast_rows is None:
        return candidates, F.broadcast
    cand = candidates.localCheckpoint(eager=True)
    if cand.count() <= max_broadcast_rows:
        return cand, F.broadcast
    return cand, lambda df: df


def pair_gen_sql(ms: str, cap: int) -> str:
    """SQL expr emitting candidate pairs from a sorted bucket-member
    array ``ms``: all upper-triangle pairs while the bucket is small,
    a consecutive chain once it exceeds ``cap``.

    The chain bounds any bucket's output at ``size-1`` pairs, so a
    degenerate corpus (10k identical docs -> one bucket) costs O(N)
    instead of O(N^2), while verified connectivity is preserved —
    consecutive members of an all-near-dup bucket pass verification,
    so the group stays one connected component.
    """
    all_pairs = (
        f"flatten(transform({ms}, (x, i) -> "
        f"transform(slice({ms}, i + 2, size({ms})), "
        f"y -> struct(x AS a, y AS b))))"
    )
    chain = (
        f"transform(slice({ms}, 1, size({ms}) - 1), "
        f"(x, i) -> struct(x AS a, element_at({ms}, i + 2) AS b))"
    )
    return f"CASE WHEN size({ms}) <= {cap} THEN {all_pairs} ELSE {chain} END"


def _band_members(
    docs: DataFrame, text_col: str, n_hashes: int, bands: int, shingle_n: int
) -> DataFrame:
    """The MinHash sketch of already-spread ``(_id, text_col)`` docs, one
    row per doc and band: ``(_id, _bands, band_id)``, where ``_bands``
    is the doc's full band-hash list. Docs too short to shingle drop out.
    """
    if n_hashes % bands:
        raise ValueError("n_hashes must be divisible by bands")
    # empty-shingle docs are dropped with the tokenizer-only predicate
    # BELOW the shingle projection — a size filter on the derived
    # column would re-evaluate the whole shingle expression per row
    # (see functions.text.has_min_tokens, r16: ~6.5x on this stage)
    sigs = (
        docs.where(has_min_tokens(text_col, shingle_n))
        .select("_id", distinct_shingles(text_col, shingle_n).alias("_sh"))
        .withColumn("_hs", shingle_hashes(F.col("_sh")))
        .withColumn("_hm", F.expr(mod_p_sql("_hs")))
        .select("_id", F.expr(minhash_signature_sql("_hm", n_hashes)).alias("_sig"))
        .select("_id", F.expr(band_hashes_sql("_sig", n_hashes, bands)).alias("_bands"))
    )
    # Explode a LITERAL index sequence, not the _bands column: a
    # generator whose input references a derived column makes the
    # optimizer inline the full sketch expression into the Generate
    # node once per reference (measured 25x slowdown); a literal
    # sequence generator leaves _bands as a plain attribute.
    return sigs.select(
        "_id", "_bands", F.explode(F.expr(f"sequence(0, {bands - 1})")).alias("band_id")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.8,
    bucket_cap: int | None = LSH_BUCKET_CAP,
    max_broadcast_rows: int | None = VERIFY_BROADCAST_MAX_CANDIDATES,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding, verified with exact
    Jaccard. Returns (id_a, id_b, jaccard_sim) with id_a < id_b.

    ``bucket_cap`` bounds the per-bucket pair explode (chain emission
    above the cap, see :func:`pair_gen_sql`); pair dedup across bands
    then needs an explicit ``dropDuplicates`` of the (tiny) candidate
    set. ``bucket_cap=None`` keeps the shuffle-free first-matching-band
    dedup but is quadratic in the largest bucket — only safe when the
    corpus is known not to contain degenerate near-identical masses.

    ``max_broadcast_rows`` gates the verify-join broadcast on the
    MEASURED candidate count (see :func:`_gated_candidates`); pass
    ``None`` to force the unconditional hint.
    """
    docs = spread(
        df.select(F.col(id_col).alias("_id"), F.col(text_col)),
        min_bytes=SKETCH_MIN_BYTES_PER_PARTITION,
    )
    # lean banding: only (id, band-hash list) enters the shuffle — the
    # sketch pipeline runs ONCE (a self-join would evaluate it per
    # side), and candidate pairs come from grouped bucket members, not a
    # join. With a bucket_cap, oversized buckets emit a bounded chain
    # and cross-band dedup is an explicit dropDuplicates of the small
    # candidate set; without one, a pair colliding in several bands is
    # emitted only in its FIRST matching band (each member carries its
    # band-hash list), so no dedup shuffle is needed at all.
    banded = _band_members(docs, text_col, n_hashes, bands, shingle_n)
    if bucket_cap is None:
        # first-matching-band dedup needs every member's full band list
        # in the bucket, so the struct carries it
        buckets = (
            banded.select(
                "band_id",
                F.expr("_bands[band_id]").alias("band_hash"),
                F.struct("_id", F.col("_bands").alias("bands")).alias("m"),
            )
            .groupBy("band_id", "band_hash")
            .agg(F.sort_array(F.collect_list("m")).alias("ms"))
            .where(F.size("ms") > 1)
        )
        candidates = buckets.select(
            "band_id",
            F.explode(
                F.expr(
                    "flatten(transform(ms, (x, i) -> "
                    "transform(slice(ms, i + 2, size(ms)), "
                    "y -> struct(x AS a, y AS b))))"
                )
            ).alias("p"),
        ).where(
            ~F.expr(
                "exists(zip_with(slice(p.a.bands, 1, band_id),"
                " slice(p.b.bands, 1, band_id), (x, y) -> x = y), v -> v)"
            )
        ).select(F.col("p.a._id").alias("id_a"), F.col("p.b._id").alias("id_b"))
    else:
        # capped path dedups pairs with an explicit dropDuplicates, so
        # the band lists are DEAD WEIGHT in the bucket shuffle — band
        # members are bare ids (r15, guide §2.3 "project before the
        # exchange": 10.2 MB -> ~1.5 MB of bucket shuffle at sf0.1)
        buckets = (
            banded.select(
                "band_id", F.expr("_bands[band_id]").alias("band_hash"), "_id"
            )
            .groupBy("band_id", "band_hash")
            .agg(F.sort_array(F.collect_list("_id")).alias("ms"))
            .where(F.size("ms") > 1)
        )
        candidates = (
            buckets.select(
                F.explode(F.expr(pair_gen_sql("ms", bucket_cap))).alias("p")
            )
            .select(F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b"))
            .dropDuplicates()
        )
    # verification joins fetch shingle sets only for surviving pairs;
    # the candidate set is normally tiny relative to the corpus, so it
    # broadcasts (then the candidate+sh_a intermediate) and the shingle
    # table streams map-side with nothing big ever shuffling — but the
    # hint is GATED on the measured candidate count, so an extreme-dup
    # corpus degrades to ordinary shuffle joins instead of eating the
    # driver (VERDICT-r10 item 3).
    #
    # Join the RAW doc table and shingle AFTER the join: the shingle +
    # md5 projection is the pipeline's dominant per-row cost, and
    # projecting it before the join would re-run it over the whole
    # corpus on both verification passes (3x total with the sketch
    # pass); post-join it runs only on the ~|candidates| surviving rows.
    cand, hint = _gated_candidates(candidates, max_broadcast_rows)
    with_a = docs.join(
        hint(cand), docs["_id"] == F.col("id_a")
    ).select(
        "id_a", "id_b", distinct_shingles(text_col, shingle_n).alias("sh_a")
    )
    return (
        docs.join(hint(with_a), docs["_id"] == F.col("id_b"))
        # sh_b gets its own projection: jaccard references each side
        # twice, and an inlined shingle expression would re-evaluate
        # per reference (same CollapseProject note as shingle_hashes)
        .select(
            "id_a",
            "id_b",
            "sh_a",
            distinct_shingles(text_col, shingle_n).alias("sh_b"),
        )
        .select(
            "id_a",
            "id_b",
            jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard_sim"),
        )
        .where(F.col("jaccard_sim") >= threshold)
    )


# --- SimHash -------------------------------------------------------------

def simhash(hashes: Column, bits: int = 32) -> Column:
    """SimHash sketch: per-bit majority vote over shingle hashes.

    Computed as ``bits`` array-aggregate expressions over the per-row
    hash array — no explode, no shuffle. ``hashes`` must be a
    *materialized* hash-array column (see :func:`shingle_hashes`):
    the ``bits`` vote expressions each traverse it, and an inline hash
    computation would be re-evaluated per bit.
    """

    # single pass: one aggregate carries a per-bit vote array through
    # the hash list (bits separate ``aggregate`` expressions would
    # re-traverse the array per bit), then the finish lambda folds the
    # votes into the sketch integer. shiftright/shiftleft go through
    # call_function because the shift amount is a lambda variable.
    def sr(h: Column, b: Column) -> Column:
        return F.call_function("shiftright", h, b.cast("int"))

    def vote_step(acc: Column, h: Column) -> Column:
        return F.zip_with(
            acc,
            F.sequence(F.lit(0), F.lit(bits - 1)),
            lambda a, b: a
            + F.when(sr(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1).cast("bigint"))
            .otherwise(F.lit(-1).cast("bigint")),
        )

    def fold_sketch(acc: Column) -> Column:
        return F.aggregate(
            F.zip_with(
                acc,
                F.sequence(F.lit(0), F.lit(bits - 1)),
                lambda v, b: F.when(
                    v > 0,
                    F.call_function("shiftleft", F.lit(1).cast("bigint"), b.cast("int")),
                ).otherwise(F.lit(0).cast("bigint")),
            ),
            F.lit(0).cast("bigint"),
            lambda s, x: s + x,
        )

    return F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("bigint"), bits),
        vote_step,
        fold_sketch,
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
    max_hamming: int = 3,
    shingle_n: int = 3,
) -> DataFrame:
    """Near-duplicate pairs with SimHash Hamming distance <= radius.

    Candidate generation uses 4-way band partitioning of the sketch
    (any pair within Hamming r<=3 of a 32-bit sketch shares at least
    one of 4 8-bit bands exactly — pigeonhole), so the join is
    equi-join-able and shuffle-partitionable at scale.
    """
    # docs with no shingles (< n tokens) carry no signal and would all
    # collide on the zero sketch — exclude them, like minhash does,
    # with the cheap tokenizer-only predicate BELOW the projection
    # (see functions.text.has_min_tokens)
    base = (
        spread(
        df.select(F.col(id_col).alias("_id"), F.col(text_col)),
        min_bytes=SKETCH_MIN_BYTES_PER_PARTITION,
    )
        .where(has_min_tokens(text_col, shingle_n))
        .select("_id", distinct_shingles(text_col, shingle_n).alias("_sh"))
        .withColumn("_hs", shingle_hashes(F.col("_sh")))
        .select("_id", simhash(F.col("_hs"), bits).alias("sketch"))
    )
    n_bands = max_hamming + 1
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    # grouped-bucket candidates: sketches computed once, one shuffle on
    # the band key, pairs emitted from each bucket's member list. The
    # band index comes from a literal-sequence explode so the sketch
    # aggregate is never inlined into the Generate node (see minhash).
    banded = base.select(
        "_id", "sketch", F.explode(F.expr(f"sequence(0, {n_bands - 1})")).alias("band_id")
    ).select(
        "_id",
        "sketch",
        "band_id",
        F.expr(f"shiftright(sketch, band_id * {band_bits}) & {mask}").alias(
            "band_val"
        ),
    )
    buckets = (
        banded.groupBy("band_id", "band_val")
        .agg(
            F.array_sort(F.collect_list(F.struct("_id", "sketch"))).alias("ms")
        )
        .where(F.size("ms") > 1)
    )
    # A pair equal in several bands is emitted only in its FIRST equal
    # band — the check recomputes earlier band values from the sketches
    # both members already carry, so no dropDuplicates shuffle.
    first_band = (
        f"!exists(transform(sequence(0, {n_bands - 1}), b -> "
        f"b < band_id AND (shiftright(p.x.sketch, b * {band_bits}) & {mask}) = "
        f"(shiftright(p.y.sketch, b * {band_bits}) & {mask})), v -> v)"
    )
    pairs = (
        buckets.select(
            "band_id",
            F.explode(
                F.expr(
                    "flatten(transform(ms, (x, i) -> "
                    "transform(slice(ms, i + 2, size(ms)), "
                    "y -> struct(x AS x, y AS y))))"
                )
            ).alias("p"),
        )
        .where(F.expr(first_band))
        .select(
            F.col("p.x._id").alias("id_a"),
            F.col("p.y._id").alias("id_b"),
            F.expr("bit_count(p.x.sketch ^ p.y.sketch)").alias("hamming"),
        )
    )
    return pairs.where(F.col("hamming") <= max_hamming)


# --- exact n-gram Jaccard (inverted index) --------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
    max_broadcast_rows: int | None = VERIFY_BROADCAST_MAX_CANDIDATES,
) -> DataFrame:
    """Exact near-dup pairs: inverted index on shingles -> shared counts
    -> Jaccard filter. O(collisions), the ground truth for the sketches.

    ``max_df`` is the standard scale mitigation: shingles present in
    more than ``max_df`` docs are dropped from the *index* (a shingle
    with document frequency d contributes d^2 join rows, so one
    ubiquitous shingle is a quadratic hot key). The capped path is
    filter-verify (r11 redesign — the old any-shared-rare-shingle
    candidate set grew to millions of pairs and sank the verify
    broadcast):

    1. shared counts over the CAPPED index — the same one-shuffle
       inverted-index shape as the uncapped path, but every join key
       now has df <= max_df, so the quadratic hot key is gone by
       construction;
    2. a lossless exact upper bound prunes candidates before any
       shingle-array work: shared_full <= shared_rare +
       min(hot_a, hot_b) and J(s) = s/(na+nb-s) is increasing in s,
       so a pair whose bound cannot reach the (rounding-relaxed)
       threshold can never pass the final filter. When the corpus has
       no hot shingles at all the bound IS the final score and the
       verify stage only confirms;
    3. exact Jaccard over the FULL shingle sets for survivors — the
       capped index and the bound decide only who gets compared,
       never the score, so surviving pairs score identically to the
       uncapped path.

    The only reachable loss is a pair sharing *no* rare shingle at all
    — at threshold 0.8 that means near-identical docs made entirely of
    corpus-ubiquitous content, which is the degenerate case the capped
    MinHash path (:func:`minhash_lsh_pairs`) is built for.

    ``max_broadcast_rows`` gates the verify-join broadcast on the
    measured survivor count (see :func:`_gated_candidates`).
    """
    raw = spread(
        df.select(F.col(id_col).alias("_id"), F.col(text_col)),
        min_bytes=SKETCH_MIN_BYTES_PER_PARTITION,
    )
    sh = raw.where(has_min_tokens(text_col, shingle_n)).select(
        "_id",
        distinct_shingles(text_col, shingle_n).alias("_sh"),
    )
    if max_df is not None:
        # shingle ONCE: the capped path's plan references the shingled
        # corpus from six branches (hot, both shared_rare sides, the
        # per-doc counts, and the two verify sides), and without a
        # materialization each branch re-ran the tokenizer + shingle
        # projection over the whole corpus — the r15 stage profile
        # showed ~6 sequential re-shingle stages dominating the entry.
        # One eager checkpoint (the setsim_prefix_pairs recipe) makes
        # every branch a reader of the stored (id, shingles) blocks;
        # interleaved A/B at sf0.1: 3.51 -> 2.86 s median, results
        # bit-identical. (The r13 A/B that REJECTED eager checkpoints
        # here materialized the hot/counts aggregates — frames whose
        # recompute is cheap; the shingle projection is the expensive
        # subtree, which is exactly what a checkpoint should hold.)
        sh = sh.localCheckpoint(eager=True)
    sizes = sh.select("_id", F.size("_sh").alias("_n"))
    # OUTER explode: every row has >= 1 shingle (has_min_tokens above),
    # so the rows are identical — but on the uncapped path sh is a
    # DERIVED column and a plain explode makes InferFiltersFromGenerate
    # re-create the pushed-down size filter that re-evaluates the whole
    # shingle expression per row (functions.text.has_min_tokens, r16)
    inv = sh.select("_id", F.explode_outer("_sh").alias("tok"))
    if max_df is not None:
        # hot shingles are few by construction (each must appear in
        # > max_df docs), so the drop-list broadcasts. A NON-EAGER
        # localCheckpoint severs its lineage: four downstream consumers
        # reference hot (the anti-join, both self-join sides through
        # it, and the per-doc hot counter), and without the checkpoint
        # each re-derived the full inverted-index aggregation — the
        # entry plan re-scanned + re-shingled the documents table 15
        # times; with it, 8. Interleaved single-session A/B measured
        # this PERFORMANCE-NEUTRAL locally (sf0.1 2.46 vs 2.39 s, sf1
        # 15.6 vs 15.0 s medians, overlapping distributions — the sf
        # corpora are page-cached, so duplicate scans cost ~nothing on
        # one node). Kept anyway: at cluster scale the corpus does NOT
        # page-cache and per-pass I/O is the binding cost, so halving
        # the scan count is the right shape; hot is O(distinct hot
        # tokens), trivially materializable. EAGER checkpoints here
        # and on the per-doc counts frame were tried and REJECTED by
        # the same A/B (sf1 20.3 s / 17.9 s vs 15.5 s): serialized
        # materialization jobs cost real wall-clock, a severed lineage
        # alone costs none.
        hot = (
            inv.groupBy("tok")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > max_df)
            .select("tok", F.lit(1).alias("_hot"))
            .localCheckpoint(eager=False)
        )
        idx = inv.join(
            F.broadcast(hot.select("tok")), "tok", "left_anti"
        )
        a, b = idx.alias("a"), idx.alias("b")
        shared_rare = (
            a.join(
                b,
                (F.col("a.tok") == F.col("b.tok"))
                & (F.col("a._id") < F.col("b._id")),
            )
            .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("shared_rare"))
        )
        # per-doc totals in ONE corpus pass: full shingle count (_n,
        # replaces the separate sizes scan) and how many of them are
        # hot (_nh — docs whose every shingle is hot never reach
        # shared_rare and are the documented loss case). The broadcast
        # left join marks hot membership, count(_hot) counts the
        # non-nulls. NOT checkpointed: the survivor bound references it
        # through two aliases (ca/cb) and each duplicate costs a corpus
        # pass, but those passes pipeline inside the main job — the
        # measured A/B above showed materializing this frame loses.
        counts = (
            inv.join(F.broadcast(hot), "tok", "left")
            .groupBy("_id")
            .agg(
                F.count(F.lit(1)).alias("_n"),
                F.count("_hot").alias("_nh"),
            )
        )
        # the final filter compares the 4-decimal ROUNDED score, so a
        # true Jaccard as low as threshold - 5e-5 still rounds in; the
        # bound uses that relaxed threshold (plus float slack) to stay
        # strictly conservative
        t_ub = threshold - 6e-5
        ca, cb = counts.alias("ca"), counts.alias("cb")
        survivors = (
            shared_rare.join(ca, F.col("id_a") == F.col("ca._id"))
            .join(cb, F.col("id_b") == F.col("cb._id"))
            .select(
                "id_a",
                "id_b",
                (
                    F.col("shared_rare")
                    + F.least(F.col("ca._nh"), F.col("cb._nh"))
                ).alias("s_ub"),
                (F.col("ca._n") + F.col("cb._n")).alias("n_sum"),
            )
            .where(
                F.col("s_ub") * F.lit(1.0 + t_ub)
                >= F.lit(t_ub) * F.col("n_sum")
            )
            .select("id_a", "id_b")
        )
        # exact verification over FULL shingle sets: broadcast gated on
        # the measured survivor count (VERDICT-r10 item 3). Both sides
        # read the CHECKPOINTED shingle frame — the arrays are already
        # materialized, so the verify joins fetch stored blocks instead
        # of re-shingling the raw corpus.
        cand, hint = _gated_candidates(survivors, max_broadcast_rows)
        with_a = sh.join(hint(cand), sh["_id"] == F.col("id_a")).select(
            "id_a", "id_b", F.col("_sh").alias("sh_a")
        )
        return (
            sh.join(hint(with_a), sh["_id"] == F.col("id_b"))
            .select(
                "id_a",
                "id_b",
                jaccard(F.col("sh_a"), F.col("_sh")).alias("jaccard_sim"),
            )
            .where(F.col("jaccard_sim") >= threshold)
        )
    a, b = inv.alias("a"), inv.alias("b")
    shared = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a._id") < F.col("b._id")))
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    return (
        shared.join(sa, F.col("id_a") == F.col("sa._id"))
        .join(sb, F.col("id_b") == F.col("sb._id"))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("shared").cast("double")
                / (F.col("sa._n") + F.col("sb._n") - F.col("shared")),
                4,
            ).alias("jaccard_sim"),
        )
        .where(F.col("jaccard_sim") >= threshold)
    )


# --- incremental dedup: new batch vs a persisted index -----------------

def minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """The storable LSH index of a corpus: ``(band_id, band_hash, _id)``
    — what a production dedup pipeline persists so that tomorrow's
    batch probes yesterday's corpus WITHOUT re-sketching it. One scan,
    no shuffle (the write's partitioning is the caller's choice;
    bucketing by (band_id, band_hash) makes later probes co-located).
    """
    docs = spread(
        df.select(F.col(id_col).alias("_id"), F.col(text_col)),
        min_bytes=SKETCH_MIN_BYTES_PER_PARTITION,
    )
    return _band_members(docs, text_col, n_hashes, bands, shingle_n).select(
        "band_id", F.expr("_bands[band_id]").alias("band_hash"), "_id"
    )


def minhash_lookup(
    new_docs: DataFrame,
    index_docs: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.8,
    bucket_cap: int = LSH_BUCKET_CAP,
    index: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicates of a NEW batch against an EXISTING corpus:
    ``(index_id, new_id, jaccard_sim)`` with exact-Jaccard verification
    — the incremental shape (the reference's whole architecture is
    incremental by date range, `composer_dags/dags/utils/data_sources/
    oura/etl/extract.py:151-203`; this is the same idea for dedup).

    Probe = equi-join of the two band tables on (band_id, band_hash):
    only the new batch is sketched fresh. Pass ``index`` — a band table
    previously written by :func:`minhash_index` and read back from
    storage (bucket it by ``(band_id, band_hash)`` at write time so the
    probe join reads co-located buckets with no exchange on the index
    side) — to probe WITHOUT re-sketching the corpus; ``index_docs``
    then only supplies the raw text for the exact-Jaccard verify of the
    (tiny) surviving candidate set. The sketch parameters
    (``n_hashes``/``bands``/``shingle_n``) must match the ones the
    index was built with. When ``index`` is None the corpus is sketched
    in-memory (one extra scan of ``index_docs``).

    CAPPED-REGIME CONTRACT: hot index buckets are TRUNCATED to their
    ``bucket_cap`` smallest ids (deterministic) — unlike
    :func:`minhash_lsh_pairs`' chain emission, which preserves
    connectivity inside one corpus, truncation DROPS new-vs-index pairs
    whose index member ranks beyond the cap. Bounded probe work is the
    contract; recall inside degenerate buckets is the cost. The
    equivalence to the cross-side subset of full dedup therefore holds
    only while every shared bucket is within the cap — if hot buckets
    are real data, raise ``bands``/``n_hashes`` (smaller buckets) or
    dedup the index corpus first.
    """
    if index is None:
        index = minhash_index(
            index_docs, id_col, text_col, n_hashes, bands, shingle_n
        )
    idx = index
    probe = minhash_index(new_docs, id_col, text_col, n_hashes, bands, shingle_n)
    w = Window.partitionBy("band_id", "band_hash").orderBy("_id")
    idx_capped = (
        idx.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= bucket_cap)
        .select("band_id", "band_hash", F.col("_id").alias("index_id"))
    )
    cand = (
        probe.select("band_id", "band_hash", F.col("_id").alias("new_id"))
        .join(idx_capped, ["band_id", "band_hash"])
        .select("index_id", "new_id")
        .dropDuplicates()
    )
    # verify on raw docs joined BEFORE shingling (see minhash_lsh_pairs)
    with_idx = (
        index_docs.select(F.col(id_col).alias("index_id"), F.col(text_col))
        .join(F.broadcast(cand), "index_id")
        .select(
            "index_id", "new_id",
            distinct_shingles(text_col, shingle_n).alias("sh_a"),
        )
    )
    return (
        new_docs.select(F.col(id_col).alias("new_id"), F.col(text_col))
        .join(F.broadcast(with_idx), "new_id")
        .select(
            "index_id", "new_id", "sh_a",
            distinct_shingles(text_col, shingle_n).alias("sh_b"),
        )
        .select(
            "index_id",
            "new_id",
            jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard_sim"),
        )
        .where(F.col("jaccard_sim") >= threshold)
    )


# --- directed containment (partial-duplicate detection) -------------------

def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.9,
) -> DataFrame:
    """Directed near-dup containment: C(A ⊂ B) = |A∩B| / |A| over
    distinct shingle sets — the statistic that catches PARTIAL
    duplication (a doc quoted or embedded inside a larger one), which
    symmetric Jaccard structurally under-scores: a 100-shingle doc
    fully contained in a 10,000-shingle doc has containment 1.0 but
    Jaccard < 0.01. This is Broder's containment measure, the basis of
    quote/boilerplate removal in web-corpus pipelines.

    Same inverted-index shape as :func:`ngram_jaccard_pairs` (one
    shingle-collision join, counts grouped once per unordered pair),
    then BOTH directions are scored from the one ``shared`` count and
    the two set sizes; rows come back directed (``id_sub`` is the
    contained side). Output: ``id_sub``, ``id_super``, ``containment``.
    """
    sh = spread(
        df.select(F.col(id_col).alias("_id"), F.col(text_col)),
        min_bytes=SKETCH_MIN_BYTES_PER_PARTITION,
    ).where(has_min_tokens(text_col, shingle_n)).select(
        "_id",
        distinct_shingles(text_col, shingle_n).alias("_sh"),
    # FOUR plan branches consume this frame (both inv join sides and
    # both size lookups) — shingle once, not once per branch, the
    # setsim/ngram checkpoint recipe. Wall-clock is join-dominated at
    # scale (the exact shared-token count IS the algorithm; r16 sf1:
    # ~35 -> ~32 s), so this is a total-work cut (4 shingle passes ->
    # 1), not a latency one.
    ).localCheckpoint(eager=True)
    sizes = sh.select("_id", F.size("_sh").alias("_n"))
    # outer explode for the same InferFiltersFromGenerate reason as
    # ngram_jaccard_pairs (rows identical: has_min_tokens above)
    inv = sh.select("_id", F.explode_outer("_sh").alias("tok"))
    a, b = inv.alias("a"), inv.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    scored = (
        shared.join(sa, F.col("id_a") == F.col("sa._id"))
        .join(sb, F.col("id_b") == F.col("sb._id"))
        .select(
            "id_a",
            "id_b",
            "shared",
            F.col("sa._n").alias("n_a"),
            F.col("sb._n").alias("n_b"),
        )
    )
    fwd = scored.select(
        F.col("id_a").alias("id_sub"),
        F.col("id_b").alias("id_super"),
        F.round(F.col("shared").cast("double") / F.col("n_a"), 4).alias(
            "containment"
        ),
    )
    rev = scored.select(
        F.col("id_b").alias("id_sub"),
        F.col("id_a").alias("id_super"),
        F.round(F.col("shared").cast("double") / F.col("n_b"), 4).alias(
            "containment"
        ),
    )
    return fwd.unionByName(rev).where(F.col("containment") >= threshold)


# --- exact set-similarity self-join via prefix filtering ---------------
#
# The AllPairs / PPJoin family (Bayardo et al. 2007, Xiao et al. 2008):
# unlike the MinHash/LSH paths above, this join is EXACT — no false
# negatives at any threshold, no probabilistic recall argument. The
# filter theorem: order every set by one GLOBAL token order; two sets
# with Jaccard >= t = p/q must share a token within each set's PREFIX
# of length n - ceil(t*n) + 1, so candidate generation is an equi-join
# on prefix tokens only. Rarest-first ordering (ascending document
# frequency) makes prefixes fall in the sparse tail of the token
# distribution — candidate volume tracks genuinely-similar pairs, not
# hot-token fan-out.


def setsim_prefix_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold_num: int = 4,
    threshold_den: int = 5,
    positional_filter: bool = True,
) -> DataFrame:
    """Exact Jaccard >= ``threshold_num/threshold_den`` pairs over
    distinct word-shingle sets: ``(id_a, id_b, jaccard_sim)``,
    ``id_a < id_b``.

    Every comparison is INTEGER: the prefix length uses the exact
    rational ceil ``(num*n + den - 1) div den`` (never IEEE ``0.8*n``,
    whose representation error can flip a ceil at exact multiples) and
    the accept test is ``den*shared >= num*(union)``. The reported
    similarity is the one rounded double at the end.

    Scale: one shuffle to rank tokens rarest-first (window per doc),
    an equi-join on prefix tokens for candidates, and an
    ``array_intersect`` verify against the carried sets — never an
    all-pairs product. Verification volume = candidate pairs, which
    prefix filtering bounds by actual similarity structure; the
    LENGTH filter (AllPairs, Bayardo 2007 §3) prunes it further at
    the join: J(a,b) <= min(n_a,n_b)/max(n_a,n_b), so any pair with
    ``den*min < num*max`` can never verify — integer-exact and
    lossless, it drops ~2/3 of candidates on this corpus before the
    distinct and the array_intersect ever see them (r15). The
    POSITIONAL filter (PPJoin, Xiao et al. 2008) prunes again on the
    match positions — see the inline proof sketch at the join
    condition (r16).
    """
    base = spread(
        docs.select(F.col(id_col).alias("_id"), F.col(text_col)),
        # shingle+hash per input byte is sketch-class compute — fan
        # out from the small floor like the minhash/simhash/ngram
        # paths (r15: the default floor left the whole shingle +
        # checkpoint pass on ONE task at bench scale)
        min_bytes=SKETCH_MIN_BYTES_PER_PARTITION,
    ).where(has_min_tokens(F.col(text_col), shingle_n)).select(
        "_id", distinct_shingles(F.col(text_col), shingle_n).alias("s")
    )
    sets = (
        base.select("_id", "s", F.size("s").alias("n"))
        # four plan branches scan this frame (inv -> df + rank, and the
        # two verify sides) — shingle once, not once per branch
        .localCheckpoint(eager=True)
    )
    inv = sets.select("_id", "n", F.explode("s").alias("tok"))
    dfreq = inv.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("_id").orderBy("df", "tok")
    prefix = (
        inv.join(dfreq, "tok")
        .withColumn("rk", F.row_number().over(w))
        .where(
            F.col("rk")
            <= F.col("n")
            - F.expr(
                f"({threshold_num} * n + {threshold_den - 1})"
                f" div {threshold_den}"
            )
            + 1
        )
        # rk rides along for the positional filter below (one int per
        # prefix row — the candidate cut it buys dwarfs the width)
        .select("_id", "n", "tok", "rk")
    )
    join_cond = (
        (F.col("a.tok") == F.col("b.tok"))
        & (F.col("a._id") < F.col("b._id"))
        # length filter: J <= min(n)/max(n), so den*min >= num*max
        # is necessary for J >= num/den — prunes before distinct
        # + verify, never changes the surviving pair set
        & (
            F.lit(threshold_den) * F.least(F.col("a.n"), F.col("b.n"))
            >= F.lit(threshold_num) * F.greatest(F.col("a.n"), F.col("b.n"))
        )
    )
    if positional_filter:
        # positional filter (PPJoin, Xiao et al. 2008 §3.2): for a
        # match at global-order positions (rk_a, rk_b), the overlap of
        # any pair whose FIRST shared token this is can be at most
        # 1 + min(n_a - rk_a, n_b - rk_b) (the shared token itself
        # plus shared tokens after it on both sides), while
        # J >= num/den needs overlap >= num*(n_a+n_b)/(num+den).
        # Lossless for the PAIR set: a qualifying pair's first shared
        # token lies inside both prefixes (the prefix-filter theorem)
        # and has zero shared tokens before it, so THAT occurrence
        # always survives — other occurrences of the same pair may be
        # pruned, which only helps the distinct. Integer-exact:
        # ubound >= ceil(x/y) <=> y*ubound >= x. The kwarg exists so
        # tests can pin filtered-vs-unfiltered equality.
        join_cond = join_cond & (
            F.lit(threshold_num + threshold_den)
            * (
                F.lit(1)
                + F.least(
                    F.col("a.n") - F.col("a.rk"),
                    F.col("b.n") - F.col("b.rk"),
                )
            )
            >= F.lit(threshold_num) * (F.col("a.n") + F.col("b.n"))
        )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), join_cond)
        .select(
            F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b")
        )
        .distinct()
    )
    sa = sets.select(
        F.col("_id").alias("id_a"), F.col("s").alias("s_a"), F.col("n").alias("n_a")
    )
    sb = sets.select(
        F.col("_id").alias("id_b"), F.col("s").alias("s_b"), F.col("n").alias("n_b")
    )
    verified = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("shared", F.size(F.array_intersect("s_a", "s_b")))
        .where(
            F.lit(threshold_den) * F.col("shared")
            >= F.lit(threshold_num)
            * (F.col("n_a") + F.col("n_b") - F.col("shared"))
        )
    )
    return verified.select(
        "id_a",
        "id_b",
        F.round(
            F.col("shared").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("shared")),
            4,
        ).alias("jaccard_sim"),
    )

"""Semantic tests for the training-data-pipeline operators: sketch
recall against exact ground truth, quality-score bounds, constructed
duplicate detection."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from personal_health_etl_pipeline_spark.functions.text import (
    lang_id,
    quality_score,
    token_count,
)
from personal_health_etl_pipeline_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from personal_health_etl_pipeline_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_minhash_recovers_exact_pairs(spark, docs):
    """MinHash-LSH must find every >=0.8-Jaccard pair the exact
    inverted-index method finds (at this similarity the banding miss
    probability is ~0)."""
    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, "doc_id", "text").collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, "doc_id", "text").collect()
    }
    assert exact, "fixture should contain planted near-duplicates"
    assert lsh == exact


def test_simhash_finds_most_near_dups(spark, docs):
    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, "doc_id", "text").collect()
    }
    sh = {
        (r["id_a"], r["id_b"]) for r in simhash_pairs(docs, "doc_id", "text").collect()
    }
    # sketch: every reported pair must be a true near-dup region
    # (hamming<=3 at 32 bits is selective), and recall should be high
    assert len(sh & exact) >= 0.7 * len(exact)


def test_constructed_duplicates_detected(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    near = base.replace("kappa", "lambda", 1)
    far = "one two three four five six seven eight nine ten " * 3
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id int, text string"
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.5).collect()
    }
    assert (1, 2) in pairs and (1, 3) not in pairs
    lsh = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(df, "doc_id", "text", threshold=0.5).collect()
    }
    assert (1, 2) in lsh and (1, 3) not in lsh


def test_quality_score_bounds(spark, docs):
    stats = docs.select(quality_score("text").alias("q")).agg(
        F.min("q").alias("lo"), F.max("q").alias("hi")
    ).first()
    assert 0.0 <= stats["lo"] <= stats["hi"] <= 1.0


def test_token_count_matches_python(spark):
    df = spark.createDataFrame([("a b  c",), ("",), ("single",)], "text string")
    counts = [r[0] for r in df.select(token_count("text")).collect()]
    assert counts == [3, 0, 1]


def test_lang_id_deterministic_and_sensible(spark):
    df = spark.createDataFrame(
        [
            ("the cat sat on the mat and it is warm",),
            ("el perro y la casa de los vecinos en madrid",),
            ("der hund und die katze mit den kindern",),
            ("qwzx bnmp vcxz",),
        ],
        "text string",
    )
    langs = [r[0] for r in df.select(lang_id("text")).collect()]
    assert langs == ["en", "es", "de", "unknown"]


def test_lsh_topk_recall_floor(spark, emb):
    bf = brute_force_topk(emb, k=10, query_mod=50).select("query_id", "neighbor_id")
    ls = lsh_topk(emb, k=10, query_mod=50).select("query_id", "neighbor_id")
    total = bf.count()
    hit = bf.intersect(ls).count()
    assert total > 0
    # multi-table LSH on weakly-clustered synthetic data: assert a
    # floor well above the ~6% random-candidate baseline
    assert hit / total >= 0.2, f"LSH recall too low: {hit}/{total}"


def test_prepped_base_matches_self_derived(spark, emb):
    """`prepped=` (the shared quantized base the recall report builds
    once for both legs) must yield rows identical to each operator
    deriving the base itself — same quantize/norm recipe, so only the
    scan count changes, never a value."""
    from pyspark.sql import functions as F

    from personal_health_etl_pipeline_spark.operators.similarity import (
        _spread_vec,
        ivf_topk,
        norm2_int,
        quantize,
    )

    base = (
        _spread_vec(emb.select(F.col("vec_id").alias("_id"), "label", "embedding"))
        .select("_id", "label", quantize(F.col("embedding")).alias("_q"))
        .withColumn("_n2", norm2_int(F.col("_q")))
        .localCheckpoint(eager=True)
    )
    bf_self = sorted(map(tuple, brute_force_topk(emb, k=5, query_mod=50).collect()))
    bf_prep = sorted(
        map(
            tuple,
            brute_force_topk(
                emb, k=5, query_mod=50, prepped=base.select("_id", "_q", "_n2")
            ).collect(),
        )
    )
    assert bf_prep == bf_self and bf_self
    ivf_self = sorted(map(tuple, ivf_topk(emb, k=5, query_mod=50).collect()))
    ivf_prep = sorted(
        map(tuple, ivf_topk(emb, k=5, query_mod=50, prepped=base).collect())
    )
    assert ivf_prep == ivf_self and ivf_self


def test_brute_force_topk_shape(spark, emb):
    out = brute_force_topk(emb, k=5, query_mod=100).collect()
    by_query = {}
    for r in out:
        by_query.setdefault(r["query_id"], []).append(r)
    for q, rows in by_query.items():
        assert [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])] == list(
            range(1, len(rows) + 1)
        )
        sims = [r["sim"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert sims == sorted(sims, reverse=True)
        assert all(r["neighbor_id"] != q for r in rows)


class TestBucketCap:
    """Degenerate-content skew: identical docs collapse every band into
    ONE bucket whose all-pairs explode would be O(N^2) in a single task;
    the cap bounds it at a verified N-1 chain (same connected group)."""

    def test_minhash_degenerate_corpus_bounded(self, spark):
        n = 2000
        docs = spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.lit("the same exact document body repeated everywhere").alias(
                "text"
            ),
        )
        from personal_health_etl_pipeline_spark.operators.dedup import (
            minhash_lsh_pairs,
        )

        pairs = minhash_lsh_pairs(
            docs, "doc_id", "text", bucket_cap=64
        ).collect()
        # chain emission: exactly n-1 pairs, all verified at jaccard 1.0
        assert len(pairs) == n - 1
        assert all(r.jaccard_sim == 1.0 for r in pairs)
        # connectivity: the chain touches every doc -> one dedup group
        touched = {r.id_a for r in pairs} | {r.id_b for r in pairs}
        assert len(touched) == n

    def test_embedding_degenerate_corpus_bounded(self, spark):
        n = 2000
        vec = [0.5] * 64
        emb = spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.array(*[F.lit(v) for v in vec]).alias("embedding"),
        )
        from personal_health_etl_pipeline_spark.operators.similarity import (
            embedding_near_dup_pairs,
        )

        pairs = embedding_near_dup_pairs(emb, bucket_cap=64).collect()
        assert len(pairs) == n - 1
        assert all(r.sim == 1.0 for r in pairs)
        touched = {r.id_a for r in pairs} | {r.id_b for r in pairs}
        assert len(touched) == n

    def test_cap_is_a_noop_on_real_data(self, spark, sf_dir):
        """No sf0.001 bucket exceeds the cap, so capped and uncapped
        paths must emit the identical pair set."""
        from personal_health_etl_pipeline_spark.operators.dedup import (
            minhash_lsh_pairs,
        )
        from personal_health_etl_pipeline_spark.sources.tables import load_table

        docs = load_table(spark, sf_dir, "documents")
        capped = {
            (r.id_a, r.id_b, r.jaccard_sim)
            for r in minhash_lsh_pairs(docs, "doc_id", "text").collect()
        }
        uncapped = {
            (r.id_a, r.id_b, r.jaccard_sim)
            for r in minhash_lsh_pairs(
                docs, "doc_id", "text", bucket_cap=None
            ).collect()
        }
        assert capped == uncapped

    def test_ngram_max_df_cap_preserves_pairs(self, spark, sf_dir):
        """The df-capped index may only change WHO gets compared, not
        the scores: on the real corpus the capped path must reproduce
        the exact pair set."""
        from personal_health_etl_pipeline_spark.operators.dedup import (
            ngram_jaccard_pairs,
        )
        from personal_health_etl_pipeline_spark.sources.tables import load_table

        docs = load_table(spark, sf_dir, "documents")
        exact = {
            (r.id_a, r.id_b, r.jaccard_sim)
            for r in ngram_jaccard_pairs(docs, "doc_id", "text").collect()
        }
        capped = {
            (r.id_a, r.id_b, r.jaccard_sim)
            for r in ngram_jaccard_pairs(
                docs, "doc_id", "text", max_df=50
            ).collect()
        }
        assert capped == exact
        assert exact  # non-vacuous: the corpus does contain near-dups

    def test_ngram_max_df_biting_cap_keeps_scores_exact(self, spark):
        """A corpus where the cap is ACTIVE (ubiquitous boilerplate ->
        hot shingles above max_df) but every true pair also shares
        cluster-specific rare shingles: the capped path must find
        exactly the uncapped pairs with bit-identical scores — the
        capped index and the upper-bound prune decide who gets
        compared, never the score."""
        from personal_health_etl_pipeline_spark.operators.dedup import (
            ngram_jaccard_pairs,
        )

        boiler = "standard legal disclaimer text appended to every document"
        rows = []
        for c in range(50):
            body = f"cluster {c} payload alpha beta gamma delta epsilon {c}"
            rows.append((2 * c, f"{body} {boiler}"))
            # the twin differs in one tail token: J strictly between
            # the threshold and 1.0, so a wrong upper bound or a score
            # computed over rare-only sets would show up
            rows.append((2 * c + 1, f"{body} {boiler} extra"))
        docs = spark.createDataFrame(rows, ["doc_id", "text"])

        # the boilerplate shingles really are hot at max_df=8
        from pyspark.sql import functions as F
        from personal_health_etl_pipeline_spark.functions.text import (
            distinct_shingles,
        )
        dfreq = (
            docs.select(F.explode(distinct_shingles("text", 3)).alias("t"))
            .groupBy("t").count()
        )
        assert dfreq.where(F.col("count") > 8).count() > 0

        uncapped = {
            (r.id_a, r.id_b, r.jaccard_sim)
            for r in ngram_jaccard_pairs(
                docs, "doc_id", "text", threshold=0.6
            ).collect()
        }
        capped = {
            (r.id_a, r.id_b, r.jaccard_sim)
            for r in ngram_jaccard_pairs(
                docs, "doc_id", "text", threshold=0.6, max_df=8
            ).collect()
        }
        assert capped == uncapped
        assert len(capped) == 50  # one pair per cluster, none spurious
        assert all(0.6 <= s < 1.0 for *_ids, s in capped)

    def test_ngram_max_df_bounds_degenerate_corpus(self, spark):
        """2000 identical docs: every shingle exceeds the cap, the index
        empties, and the operator completes without the d^2 hot-key join
        (this corpus is the capped-MinHash path's job, which does pair
        it — see test_minhash_degenerate_corpus_bounded)."""
        from personal_health_etl_pipeline_spark.operators.dedup import (
            ngram_jaccard_pairs,
        )

        docs = spark.range(2000).select(
            F.col("id").alias("doc_id"),
            F.lit("identical body of repeated text content").alias("text"),
        )
        out = ngram_jaccard_pairs(
            docs, "doc_id", "text", max_df=64
        ).collect()
        assert out == []

    def test_lsh_topk_bucket_cap_bounds_degenerate_corpus(self, spark):
        """All-identical vectors put every row in one bucket per table;
        the cap bounds per-query candidate work while still returning a
        full (sim=1.0) top-k for each query."""
        n, k = 3000, 10
        vec = [0.25] * 64
        emb = spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.array(*[F.lit(v) for v in vec]).alias("embedding"),
        )
        from personal_health_etl_pipeline_spark.operators.similarity import (
            lsh_topk,
        )

        out = lsh_topk(emb, k=k, query_mod=100, bucket_cap=64).collect()
        n_queries = len(range(0, n, 100))
        assert len(out) == n_queries * k
        assert all(r.sim == 1.0 for r in out)

    def test_lsh_topk_cap_noop_on_real_data(self, spark, sf_dir):
        """sf0.001 buckets stay under the cap, so capped == uncapped."""
        from personal_health_etl_pipeline_spark.operators.similarity import (
            lsh_topk,
        )
        from personal_health_etl_pipeline_spark.sources.tables import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        a = {tuple(r) for r in lsh_topk(emb).collect()}
        b = {tuple(r) for r in lsh_topk(emb, bucket_cap=10_000).collect()}
        assert a == b


class TestProductQuantization:
    def test_codes_in_range_and_deterministic(self, spark, sf_dir):
        from personal_health_etl_pipeline_spark.operators.similarity import (
            pq_topk,
        )
        from personal_health_etl_pipeline_spark.sources.tables import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        out = pq_topk(emb, k=5).collect()
        assert out
        assert all(-1.0 <= r.sim <= 1.0 for r in out)
        again = pq_topk(emb, k=5).collect()
        assert sorted(map(tuple, out)) == sorted(map(tuple, again))

    def test_identical_vector_is_nearest_with_zero_gap(self, spark):
        """A duplicate of the query vector shares all PQ codes, so its
        ADC distance equals the query's own self-distance — rank 1."""
        from personal_health_etl_pipeline_spark.operators.similarity import (
            pq_topk,
        )

        import random

        rng = random.Random(7)
        rows = []
        for i in range(200):
            rows.append((i, [rng.uniform(-1, 1) for _ in range(64)]))
        # vec 150 duplicates query vec 100 exactly
        rows[150] = (150, rows[100][1])
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        out = pq_topk(emb, k=3, query_mod=100)
        top = {r.query_id: r for r in out.where(F.col("rank") == 1).collect()}
        assert top[100].neighbor_id == 150

    def test_ivfpq_structure_and_determinism(self, spark, sf_dir):
        from personal_health_etl_pipeline_spark.operators.similarity import (
            ivfpq_topk,
        )
        from personal_health_etl_pipeline_spark.sources.tables import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        out = ivfpq_topk(emb, k=5).collect()
        assert out and all(-1.0 <= r.sim <= 1.0 for r in out)
        # per query: ranks are 1..n with no gaps, neighbors distinct
        from collections import defaultdict

        per_q = defaultdict(list)
        for r in out:
            per_q[r.query_id].append(r)
        for q, rows in per_q.items():
            assert sorted(r.rank for r in rows) == list(range(1, len(rows) + 1))
            assert len({r.neighbor_id for r in rows}) == len(rows)
        again = ivfpq_topk(emb, k=5).collect()
        assert sorted(map(tuple, out)) == sorted(map(tuple, again))

    def test_pq_recall_floor_vs_brute_force(self, spark, sf_dir):
        """The production default must be a GOOD index, not merely a
        deterministic one: 16 subspaces of 4 dims (4-bit codes, same 8
        bytes/vector) + a 150-deep exact re-rank measure recall@10 of
        0.98 (sf0.001) / 0.96 (sf0.01); gate at 0.9 — all inputs are
        fixed, so no flake margin is needed."""
        from personal_health_etl_pipeline_spark.operators.similarity import (
            brute_force_topk,
            pq_topk,
        )
        from personal_health_etl_pipeline_spark.sources.tables import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        bf = brute_force_topk(emb, k=10).select("query_id", "neighbor_id")
        pq = pq_topk(emb, k=10).select("query_id", "neighbor_id")
        total = bf.count()
        hit = bf.intersect(pq).count()
        assert total > 0
        assert hit / total >= 0.9, f"PQ recall too low: {hit}/{total}"

    def test_ivfpq_recall_floor_vs_brute_force(self, spark, sf_dir):
        """An approximate index whose oracle mirrors the approximation
        is certified deterministic, not certified good — recall vs the
        exact brute force is the only quality measurement. With
        DATA-SAMPLED residual codebooks (fixed-range synthetic ones
        mis-quantized the residual scale), probing 6 of the 10 lists
        with a 200-deep ADC shortlist measures 0.71 at sf0.001 and
        0.75 at sf0.01 — the remaining loss is coarse-probe loss
        (cosine neighbors living in unprobed lists); gate at 0.7."""
        from personal_health_etl_pipeline_spark.operators.similarity import (
            brute_force_topk,
            ivfpq_topk,
        )
        from personal_health_etl_pipeline_spark.sources.tables import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        bf = brute_force_topk(emb, k=10).select("query_id", "neighbor_id")
        iv = ivfpq_topk(emb, k=10, nprobe=6, shortlist=200).select(
            "query_id", "neighbor_id"
        )
        total = bf.count()
        hit = bf.intersect(iv).count()
        assert total > 0
        assert hit / total >= 0.7, f"IVF-PQ recall too low: {hit}/{total}"

    def test_pq_external_query_table_matches_self_query(self, spark, sf_dir):
        """The bounded-external-queries path (the 100 TB shape: the
        broadcast side no longer grows with the corpus) must return the
        same rows as the default query_mod self-query set when given
        exactly those vectors."""
        from pyspark.sql import functions as F
        from personal_health_etl_pipeline_spark.operators.similarity import (
            ivfpq_topk,
            pq_topk,
        )
        from personal_health_etl_pipeline_spark.sources.tables import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        ext = emb.where(F.col("vec_id") % 50 == 0).select("vec_id", "embedding")
        for op, kwargs in ((pq_topk, {}), (ivfpq_topk, {"nprobe": 2})):
            default = op(emb, k=5, query_mod=50, **kwargs).collect()
            external = op(emb, k=5, queries=ext, **kwargs).collect()
            assert sorted(map(tuple, default)) == sorted(map(tuple, external))


class TestSequencePacking:
    def test_stream_is_contiguous_and_zero_waste(self, spark, sf_dir):
        """Per shard, the packed token stream must be gapless: each
        doc starts exactly where the previous one ended, spans cover
        the right sequence count, and the shard's last position equals
        its total token count (zero padding waste by construction)."""
        from personal_health_etl_pipeline_spark.plans.llm_surface2 import (
            SEQ_LEN,
            corpus_pack_sequences,
        )

        rows = corpus_pack_sequences(spark, sf_dir).collect()
        assert rows
        by_shard = {}
        for r in rows:
            by_shard.setdefault(r.shard, []).append(r)
        for shard, docs in by_shard.items():
            docs.sort(key=lambda r: r.doc_id)
            pos = 0
            for r in docs:
                assert r.seq_id == pos // SEQ_LEN
                assert r.seq_offset == pos % SEQ_LEN
                end = pos + r.n_tok
                assert r.seq_span == (end - 1) // SEQ_LEN - pos // SEQ_LEN + 1
                pos = end
            # no gaps: every token position 0..pos-1 is claimed exactly once
            assert pos == sum(r.n_tok for r in docs)


class TestIncrementalLookup:
    def test_matches_cross_side_subset_of_full_dedup(self, spark, sf_dir):
        """Probing the persisted index with a new batch must find
        exactly the cross-side pairs the full-corpus pipeline finds
        (identical band hashes on both paths; caps never trigger at
        this scale)."""
        from pyspark.sql import functions as F
        from personal_health_etl_pipeline_spark.operators.dedup import (
            minhash_lookup,
            minhash_lsh_pairs,
        )
        from personal_health_etl_pipeline_spark.sources.tables import load_table

        docs = load_table(spark, sf_dir, "documents")
        new = docs.where(F.col("doc_id") % 10 == 0)
        index = docs.where(F.col("doc_id") % 10 != 0)
        looked = {
            (r.index_id, r.new_id, r.jaccard_sim)
            for r in minhash_lookup(new, index, "doc_id", "text").collect()
        }
        full = minhash_lsh_pairs(docs, "doc_id", "text").collect()
        cross = set()
        for r in full:
            a_new, b_new = r.id_a % 10 == 0, r.id_b % 10 == 0
            if a_new != b_new:  # exactly one side in the new batch
                idx_id, new_id = (r.id_b, r.id_a) if a_new else (r.id_a, r.id_b)
                cross.add((idx_id, new_id, r.jaccard_sim))
        assert looked == cross and looked

    def test_persisted_index_roundtrip_and_colocated_probe(self, spark, sf_dir):
        """The production incremental shape end-to-end: the band table
        is WRITTEN to parquet bucketed by (band_id, band_hash) — the
        layout minhash_index's own docstring prescribes — read back,
        and probed. Pairs must equal the in-memory path exactly, and
        the probe join must read co-located buckets: zero exchanges on
        the index side (only the fresh batch shuffles to the join)."""
        from pyspark.sql import functions as F
        from personal_health_etl_pipeline_spark.operators.dedup import (
            minhash_index,
            minhash_lookup,
        )
        from personal_health_etl_pipeline_spark.sources.bucketed import (
            read_table,
            write_bucketed,
        )
        from personal_health_etl_pipeline_spark.sources.tables import load_table

        docs = load_table(spark, sf_dir, "documents")
        new = docs.where(F.col("doc_id") % 10 == 0)
        corpus = docs.where(F.col("doc_id") % 10 != 0)
        write_bucketed(
            minhash_index(corpus, "doc_id", "text"),
            "mh_band_index",
            ["band_id", "band_hash"],
            n_buckets=8,
        )
        stored = read_table(spark, "mh_band_index")
        out = minhash_lookup(new, corpus, "doc_id", "text", index=stored)
        in_mem = minhash_lookup(new, corpus, "doc_id", "text")
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            got = sorted(map(tuple, out.collect()))
            assert got == sorted(map(tuple, in_mem.collect())) and got
            # AQE's toString prints Final AND Initial plans; count in the
            # final section only
            plan = (
                out._jdf.queryExecution().executedPlan().toString()
                .split("== Initial Plan ==")[0]
            )
            assert "SelectedBucketsCount" in plan  # bucketed scan used
            # the only (band_id, band_hash) shuffle is the fresh batch's;
            # the index side (window cap + join) rides the bucketing
            assert plan.count("Exchange hashpartitioning(band_id") == 1, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    def test_capped_bucket_truncates_to_smallest_index_ids(self, spark):
        """Pin the capped-regime contract the docstring states: a probe
        bucket over ``bucket_cap`` keeps only the cap smallest index
        ids as candidates — pairs beyond the cap are DROPPED (bounded
        probe work; no chain fallback across the index boundary)."""
        from personal_health_etl_pipeline_spark.operators.dedup import (
            minhash_lookup,
        )

        text = "an identical document body that lands in identical buckets"
        corpus = spark.createDataFrame(
            [(i, text) for i in range(10)], "doc_id long, text string"
        )
        new = spark.createDataFrame(
            [(100, text), (101, text)], "doc_id long, text string"
        )
        out = minhash_lookup(
            new, corpus, "doc_id", "text", bucket_cap=4
        ).collect()
        assert {r.index_id for r in out} == {0, 1, 2, 3}
        assert {r.new_id for r in out} == {100, 101}
        assert all(r.jaccard_sim == 1.0 for r in out)


class TestBigramLogprob:
    def test_pipe_in_token_does_not_inflate_counts(self, spark):
        """Two distinct (a, b) splits can render to the same 'x|y' join
        string when a token itself contains '|' ("x|" + "y" vs "x" +
        "|y"). The count join keys on (a, ab), so each bigram occurrence
        must match exactly one count row — n_bigrams equals the doc's
        true bigram count even under collisions."""
        from personal_health_etl_pipeline_spark.plans.llm_surface2 import (
            bigram_logprob,
        )

        docs = spark.createDataFrame(
            [(1, "x| y q"), (2, "x |y q")],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in bigram_logprob(docs).collect()}
        # doc 1 bigrams: ("x|","y"), ("y","q"); doc 2: ("x","|y"), ("|y","q")
        assert out[1].n_bigrams == 2
        assert out[2].n_bigrams == 2


class TestDocumentChunking:
    def test_windows_cover_every_token_with_exact_overlap(self, spark, sf_dir):
        """Chunk windows must tile each document: chunk i starts at
        i*STRIDE, consecutive chunks overlap by CHUNK-STRIDE tokens,
        the union covers every token, and rebuilding the text from
        the stride-aligned prefixes reproduces the token stream."""
        from personal_health_etl_pipeline_spark.plans.llm_surface2 import (
            CHUNK_STRIDE,
            CHUNK_TOKENS,
            corpus_chunk_documents,
        )

        rows = corpus_chunk_documents(spark, sf_dir).collect()
        assert rows
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r.doc_id, []).append(r)
        saw_multi = False
        for doc_id, chunks in by_doc.items():
            chunks.sort(key=lambda r: r.chunk_id)
            n = chunks[-1].chunk_start + chunks[-1].n_tok  # doc token count
            saw_multi = saw_multi or len(chunks) > 1
            for i, r in enumerate(chunks):
                assert r.chunk_id == i
                assert r.chunk_start == i * CHUNK_STRIDE
                assert r.n_tok == min(CHUNK_TOKENS, n - r.chunk_start)
                assert r.n_tok >= 1  # no empty windows ever emitted
                assert len(r.chunk_text.split()) == r.n_tok
            # full coverage: last window reaches the end, and every
            # window start is within the document
            assert chunks[-1].chunk_start < n
            if len(chunks) > 1:
                # the PREVIOUS window must not already cover the doc
                assert chunks[-2].chunk_start + CHUNK_TOKENS < n
        assert saw_multi, "fixture should contain at least one long doc"


class TestVocabOov:
    def test_full_vocab_coverage_means_zero_oov(self, spark, sf_dir):
        """Corpus invariants at sf0.001 (well under VOCAB_SIZE distinct
        terms per the fixture's vocabulary): counts are consistent and
        rates bounded."""
        from personal_health_etl_pipeline_spark.plans.llm_surface2 import (
            text_vocab_oov,
        )

        rows = text_vocab_oov(spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert 0 <= r.n_oov <= r.n_tokens
            assert 0.0 <= r.oov_rate <= 1.0
            assert r.oov_rate == round(r.n_oov / r.n_tokens, 6)
        # OOV mass is exactly the traffic of terms beyond the top-V:
        # a corpus with <= V distinct terms must see zero OOV, a larger
        # one must see some — and frequency-ranked coverage must still
        # dominate either way
        from personal_health_etl_pipeline_spark.functions import text as T
        from personal_health_etl_pipeline_spark.plans.llm_surface2 import (
            VOCAB_SIZE,
        )
        from personal_health_etl_pipeline_spark.sources.tables import load_table

        docs = load_table(spark, sf_dir, "documents")
        distinct_terms = (
            docs.select(F.explode(T.tokens("text")).alias("t"))
            .distinct()
            .count()
        )
        total_tok = sum(r.n_tokens for r in rows)
        total_oov = sum(r.n_oov for r in rows)
        if distinct_terms <= VOCAB_SIZE:
            assert total_oov == 0
        else:
            assert 0 < total_oov < 0.5 * total_tok


class TestInt8Quantize:
    def test_code_range_and_error_bound(self, spark, sf_dir):
        """Every code fits int8 and the reconstruction error respects
        the scalar-quantization bound: per-dim error <= amax/254 + 0.5
        grid units (half a quantization step + rounding)."""
        from personal_health_etl_pipeline_spark.plans.sketches import (
            emb_int8_quantize,
        )

        rows = emb_int8_quantize(spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert 0 < r.max_abs_code <= 127
            step = r.amax / 254 + 1  # half-step + round-up slack, grid units
            assert r.l2_err <= 64 * step * step, (r.vec_id, r.l2_err)

    def test_axis_vectors_reconstruct_exactly(self, spark):
        """A vector whose components are exact multiples of amax/127
        round-trips with zero error."""
        from personal_health_etl_pipeline_spark.plans.sketches import (
            emb_int8_quantize,
        )
        from personal_health_etl_pipeline_spark.sources import tables

        # 127 micro-units -> codes are exact integers
        vec = [0.000127 if i % 2 == 0 else -0.000127 for i in range(64)]
        emb = spark.createDataFrame(
            [(1, vec)], "vec_id long, embedding array<double>"
        )
        import personal_health_etl_pipeline_spark.plans.sketches as sk
        from personal_health_etl_pipeline_spark.operators.similarity import (
            quantize,
        )
        from pyspark.sql import functions as F

        # drive the same expressions through a local frame by swapping
        # the loader is overkill; inline the operator body instead
        out = (
            emb.select(F.col("vec_id"), quantize(F.col("embedding")).alias("_q"))
            .withColumn(
                "amax", F.expr("aggregate(_q, 0L, (a, x) -> greatest(a, abs(x)))")
            )
            .where(F.col("amax") > 0)
            .withColumn(
                "_c",
                F.expr(
                    "transform(_q, x -> cast(round(x * 127"
                    " / cast(amax as double), 0) as bigint))"
                ),
            )
            .select(
                F.expr(
                    "aggregate(zip_with(_q, transform(_c, c -> cast(round("
                    "c * amax / cast(127 as double), 0) as bigint)),"
                    " (x, r) -> (x - r) * (x - r)), 0L, (a, x) -> a + x)"
                ).alias("l2_err")
            )
            .first()
        )
        assert out.l2_err == 0


class TestFilteredAnn:
    def test_prefilter_semantics(self, spark, sf_dir):
        """Every neighbor satisfies the predicate; every query still
        gets a full k (pre-filter, not post-filter), and the result
        genuinely differs from the unfiltered top-k."""
        from personal_health_etl_pipeline_spark.plans.llm_surface import (
            ANN_FILTER_MOD,
            ann_brute_force_topk,
            ann_filtered_topk,
        )
        from personal_health_etl_pipeline_spark.sources.tables import load_table

        filt = ann_filtered_topk(spark, sf_dir).collect()
        labels = {
            r.vec_id: r.label
            for r in load_table(spark, sf_dir, "embeddings")
            .select("vec_id", "label")
            .collect()
        }
        assert filt
        assert all(labels[r.neighbor_id] % ANN_FILTER_MOD == 0 for r in filt)
        per_query = {}
        for r in filt:
            per_query.setdefault(r.query_id, []).append(r.rank)
        assert all(sorted(v) == list(range(1, 11)) for v in per_query.values())
        plain = {
            (r.query_id, r.rank): r.neighbor_id
            for r in ann_brute_force_topk(spark, sf_dir).collect()
        }
        assert any(
            plain[(r.query_id, r.rank)] != r.neighbor_id for r in filt
        )


def test_integral_div_exact_beyond_double_envelope(spark):
    """The r12 quality_score recipe rests on Spark's native integral
    division staying exact for ANY bigint (ADVICE-r11: the previous
    (a - a%b)/b double recipe was exact only while the numerator was
    representable — its real envelope, ulp analysis included, was
    ~2^58 thanks to b = 4000n carrying 2^5). Pin the primitive on a
    numerator the double path provably gets wrong: a = 3*(2^53 + 1)
    is not representable (odd multiple of 1 in the ulp-4 band), the
    double recipe rounds it UP and emits quotient+1, while div stays
    exact."""
    a = 3 * (2**53 + 1)
    b = 3
    row = (
        spark.range(1)
        .select(
            F.call_function(
                "div", F.lit(a).cast("bigint"), F.lit(b).cast("bigint")
            ).alias("exact"),
            (
                (F.lit(a).cast("bigint") - F.lit(a).cast("bigint") % b)
                / F.lit(b).cast("bigint")
            )
            .cast("bigint")
            .alias("via_double"),
        )
        .first()
    )
    assert row["exact"] == 2**53 + 1
    assert row["via_double"] != row["exact"]  # the retired recipe's bug


def test_quality_score_exact_vs_python_rational(spark):
    """quality_score must equal exact-rational half-up rounding
    computed in Python over the same (n, d, s) — including a ~100k
    token document (far past any per-row test corpus) and boundary
    docs sitting exactly on a rounding boundary (q*10^6 + 0.5)."""
    from fractions import Fraction

    big = " ".join(f"w{i % 997}" for i in range(100_000))
    docs = [
        ("x",),
        ("a a a a a",),
        (big,),
        ("alpha beta gamma delta epsilon zeta",),
    ]
    df = spark.createDataFrame(docs, "text string")
    got = [
        r[0]
        for r in df.select(quality_score("text").alias("q")).collect()
    ]

    def expected(text: str) -> float:
        toks = [t for t in text.split() if t]
        n, d = len(toks), len(set(toks))
        s = sum(len(t) for t in toks)
        num = 6 * n * min(n, 100) + 800 * d + 75 * min(s, 8 * n)
        den = 2000 * n
        q_scaled = (2 * num * 10**6 + den) // (2 * den)
        assert Fraction(num, den) <= 1
        return q_scaled / 1e6

    assert got == [expected(t) for (t,) in docs]


class TestPQFilePlan:
    """Output sizing of the persisted PQ index is derived from the
    MEASURED row count (guide §6: 128 MB-1 GB files), with 128 MB as a
    per-file UPPER bound (ceiling division) and a vectors partition
    count that scales past one-per-bucket once a bucket would exceed
    the target (VERDICT-r15 item 6 / ADVICE-r15)."""

    def test_small_payload_floors(self):
        from personal_health_etl_pipeline_spark.plans.llm_surface import (
            PQ_PERS_BUCKETS,
            _pq_file_plan,
        )

        codes_files, vec_parts = _pq_file_plan(10_000)
        assert codes_files == 1
        assert vec_parts == PQ_PERS_BUCKETS

    def test_ceiling_keeps_target_an_upper_bound(self):
        from personal_health_etl_pipeline_spark.plans.llm_surface import (
            PQ_CODE_ROW_BYTES,
            PQ_TARGET_FILE_BYTES,
            _pq_file_plan,
        )

        # just under 2x the target used to floor to ONE ~256 MB file
        n = 2 * PQ_TARGET_FILE_BYTES // PQ_CODE_ROW_BYTES - 1
        codes_files, _ = _pq_file_plan(n)
        assert codes_files == 2
        assert n * PQ_CODE_ROW_BYTES <= codes_files * PQ_TARGET_FILE_BYTES

    def test_vectors_scale_past_one_file_per_bucket(self):
        from personal_health_etl_pipeline_spark.plans.llm_surface import (
            PQ_PERS_BUCKETS,
            PQ_TARGET_FILE_BYTES,
            PQ_VEC_ROW_BYTES,
            _pq_file_plan,
        )

        # a payload of ~64 target-files' worth of vectors must split
        # within buckets, not land one multi-GB file per bucket
        n = 64 * PQ_TARGET_FILE_BYTES // PQ_VEC_ROW_BYTES
        _, vec_parts = _pq_file_plan(n)
        assert vec_parts >= 64 > PQ_PERS_BUCKETS
        assert n * PQ_VEC_ROW_BYTES <= vec_parts * PQ_TARGET_FILE_BYTES

    def test_file_count_enforced_when_growing_and_shrinking(self, spark):
        from personal_health_etl_pipeline_spark.plans.llm_surface import (
            _to_partitions,
        )

        df = spark.range(0, 1000, numPartitions=4)
        grown = _to_partitions(df, 9)
        assert grown.rdd.getNumPartitions() == 9
        shrunk = _to_partitions(df, 2)
        assert shrunk.rdd.getNumPartitions() == 2
        # shrinking merges partitions in place: no shuffle is planned
        assert "Exchange" not in shrunk._jdf.queryExecution().executedPlan().toString()
        assert sorted(r.id for r in grown.collect()) == list(range(1000))
        assert sorted(r.id for r in shrunk.collect()) == list(range(1000))

    def test_range_branch_scales_files_and_preserves_probe(
        self, spark, monkeypatch
    ):
        """Force the big-payload path with a tiny per-file target: the
        vectors table must split into MORE than one file per bucket
        (the 100 TB shape — no multi-GB single-file buckets) and the
        probe entry must return byte-identical rows over either
        layout."""
        import glob
        import os

        from personal_health_etl_pipeline_spark.plans import (
            llm_surface as L,
        )
        from personal_health_etl_pipeline_spark.plans.catalog import CATALOG

        sf = "/root/testdata/sf0.001"
        app = spark.sparkContext.applicationId
        probe = CATALOG["ann_pq_persisted_probe"][0]
        L._PQ_INDEX_MEMO.pop((app, sf), None)
        for k in [k for k in L._PQ_PROBE_MEMO if k[0] == app and k[1] == sf]:
            L._PQ_PROBE_MEMO.pop(k)
        rows_default = sorted(map(tuple, probe(spark, sf).collect()))

        L._PQ_INDEX_MEMO.pop((app, sf), None)
        for k in [k for k in L._PQ_PROBE_MEMO if k[0] == app and k[1] == sf]:
            L._PQ_PROBE_MEMO.pop(k)
        monkeypatch.setattr(L, "PQ_TARGET_FILE_BYTES", 4096)
        rows_range = sorted(map(tuple, probe(spark, sf).collect()))
        root_range, _ = L._PQ_INDEX_MEMO[(app, sf)]
        files = glob.glob(
            os.path.join(root_range, "vectors", "bucket=*", "*.parquet")
        )
        assert rows_default == rows_range and rows_default
        assert len(files) > L.PQ_PERS_BUCKETS
        # cleanup: drop the tiny-file index so later tests rebuild real
        L._PQ_INDEX_MEMO.pop((app, sf), None)
        for k in [k for k in L._PQ_PROBE_MEMO if k[0] == app and k[1] == sf]:
            L._PQ_PROBE_MEMO.pop(k)

#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"q1_pricing_summary": sec, ...}, "sf": 0.1}

Each query is executed to completion (collect) after a session warm-up;
timings are per-query wall clock. Headline set = the flagship
relational plans + the heaviest extended operators, i.e. the queries
whose scaling behavior matters at 100 TB.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from personal_health_etl_pipeline_spark import get_spark  # noqa: E402
from personal_health_etl_pipeline_spark.plans.catalog import CATALOG  # noqa: E402

HEADLINE = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_volume",
    "q6_revenue_delta",
    "q10_returned_items",
    "q13_order_count_distribution",
    "q18_large_volume_orders",
    "q7_nation_trade_volume",
    "q9_product_profit",
    "q16_supplier_part_distribution",
    "q21_blocking_suppliers",
    "j4_asof_last_click",
    "j5_views_before_purchase",
    "j1_multiway_outer_combine",
    "w1_rolling_7day_revenue",
    "w3_sessionize",
    "st_sliding_window_agg",
    "dedup_minhash_lsh",
    "dedup_simhash",
    # r11: the df-capped exact-Jaccard production path joined the
    # headline once its sf1 scaling flag closed
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "ann_brute_force_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "text_quality_score",
    "text_tfidf_top_terms",
    "emb_centroids",
    "mm_byte_stats",
    "decontaminate_ngram",
    "text_repetition_stats",
    "pii_scrub_emails",
    "corpus_curate_pipeline",
    "emb_kmeans_assign",
    "dedup_semantic",
    "ann_ivf_kmeans_topk",
    "corpus_pack_sequences",
    "text_bigram_logprob",
    "dedup_incremental_lookup",
    "j9_oura_end_to_end",
    "ann_pq_external_topk",
    # round-4 additions: one representative per new family
    "m1_scd2_merge",
    "j10_bloom_semi_join",
    "ts1_gap_fill_ffill",
    "corpus_split_groupsafe",
    "text_pmi_top_pairs",
    "emb_covariance",
    # round-4 third batch: the heavy new operators
    "dedup_substring_spans",
    "corpus_dsir_weights",
    "text_nb_langid",
    "graph_pagerank",
    "text_bpe_learned_segment",
    # round-5 additions: the data-scaling new operators (the audit /
    # streaming-sink entries stay out — their cost is side-effect IO,
    # not query execution)
    "dedup_substring_cut",
    "text_bpe_apply_corpus",
    "graph_triangles",
    "dq4_column_profile_hll",
    # round-6 additions
    "ann_pq_persisted_probe",
    "text_bm25_topk",
    "dedup_setsim_prefix",
    # round-6 tail: the new operator families of the r7 window.
    # mm_audio_energy stays OUT like the other synth-media entries
    # (fixed 300-item fixture — nothing scales; mm_byte_stats is the
    # family's bench representative over a real table)
    "graph_bfs_hops",
    "ts5_ewma_halflife",
    "sketch_kmv_set_ops",
    "text_phrase_topk",
    "w8_windowed_distinct",
    "corpus_token_budget",
    "ann_filtered_topk",
    # round-7 additions: the data-scaling new entries (the j22-j26
    # fixture transforms stay out — fixed-size synth fixtures)
    "text_hashing_tf",
    "corpus_shuffle_deterministic",
    "graph_kcore",
    "ts9_autocorr",
    "dq7_benford_deviation",
    "a26_histogram_fixed_bins",
    "w10_ranking_function_sweep",
    "ann_recall_report",
    "sql3_recursive_cte",
    # round-8 additions: the data-scaling new entries (the DataSource
    # writer audit stays out — its cost is side-effect IO)
    "a30_ks_statistic",
    "a31_mannwhitney_u",
    "j31_cogroup_pandas_asof",
    "text_bpe_train_batched",
    "udtf_ngram_grid",
    "f24_xml_parse",
    "sql5_session_variables",
    "corpus_perplexity_filter",
    "f25_scalar_udf_modes",
    "a32_cohort_retention",
    "w12_funnel_steps",
    # round-9 additions
    "w13_sessionized_funnel",
    "sql6_lateral_topk",
    "a33_approx_percentile_window",
    "f26_map_in_arrow",
)

# Heavy-subset membership rule (VERDICT-r12 item 6). The subset exists
# because the naive headline total is dominated by sub-50 ms oracle
# queries where Spark pays its fixed scheduling floor; the subset is
# the comparison that scales with data volume. Membership was
# originally computed live ("DuckDB oracle median >= 1 s this run"),
# which made the ratio incomparable round-over-round: the ORACLE moves
# across driver machine windows, so borderline ~1 s entries flapped in
# and out (14 members in r11, 12 in r12 — the 0.172 -> 0.22 "drift"
# was membership change, not code; the "12 in r12" figure is the
# PRE-refresh driver run — the post-refresh r12/r13 local twins read
# 16 live members on their machine windows, ADVICE-r13). The
# membership is therefore PINNED to the union of the r11 and r12
# live-rule members; the live rule's current members are still
# emitted (heavy_subset.rule_members_now in BENCH_LAST.json) so drift
# stays visible. Revisit the pin only if the live rule diverges by
# more than ~2 entries for consecutive rounds. Adjudicated r14
# (VERDICT-r13 item 3): divergence read 2 in r13
# (ann_pq_persisted_probe, dedup_substring_spans) but reverted to 1
# in r14 (dedup_substring_spans only) — oracle-window flap on the
# borderline ~1 s entries, not a regime change; the pin stands.
HEAVY_PINNED = (
    "ann_lsh_topk",
    "ann_recall_report",
    "corpus_split_groupsafe",
    "dedup_embedding_cosine",
    "dedup_incremental_lookup",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_setsim_prefix",
    "dedup_simhash",
    "dedup_substring_cut",
    "graph_kcore",
    "graph_pagerank",
    "text_bpe_learned_segment",
    "text_bpe_train_batched",
)
assert set(HEAVY_PINNED) <= set(HEADLINE)


CALIB_EXPR = "sum(pmod(xxhash64(id), 1000003))"
CALIB_JOBS = {"cpu32": (32, 2_000_000_000), "cpu1": (1, 60_000_000)}


def _machine_calib(spark, trials: int = 5) -> dict[str, float]:
    """Median seconds for the fixed calibration jobs (fresh lineage
    per trial — see the call-site comment on shuffle-stage reuse)."""
    out = {}
    for key, (parts, rows) in CALIB_JOBS.items():
        spark.range(0, rows, 1, parts).selectExpr(CALIB_EXPR).collect()
        ts = []
        for _ in range(trials):
            q = spark.range(0, rows, 1, parts).selectExpr(CALIB_EXPR)
            t0 = time.perf_counter()
            q.collect()
            ts.append(time.perf_counter() - t0)
        out[key] = round(sorted(ts)[len(ts) // 2], 3)
    return out


def run_record(payload: str, sf_dir: str) -> dict:
    """One BENCH_RUNS.jsonl line: the run's payload plus its metadata.
    The payload is spread first, so a payload key named ``cpus``,
    ``sf_dir`` or ``wall_unix`` can never overwrite the metadata."""
    return {
        **json.loads(payload),
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
        "sf_dir": sf_dir,
        "wall_unix": round(time.time(), 1),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    spark = get_spark(app_name="personal-health-etl-pipeline-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm up the JVM / codegen / parquet footer caches outside timings
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for t in ("lineitem", "documents", "embeddings", "events"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").limit(1).collect()
    # ...and the Python UDF workers (Arrow serializer + daemon fork),
    # so mapInPandas queries measure steady-state, not cold-start
    import pandas as _pd  # noqa: F401

    spark.range(64).mapInPandas(
        lambda it: it, "id long"
    ).selectExpr("sum(id)").collect()

    # Machine-window calibration (r14): two fixed, deterministic,
    # CPU-bound JVM jobs timed at session start, so round-over-round
    # comparisons can separate "the box is slower" from "the code is
    # slower" WITHOUT a DuckDB dependency (the oracle total is the
    # other tell, but it shares the box too). cpu32 exercises all
    # executor threads (2e9-row range -> xxhash64 -> sum), cpu1 one
    # thread (60M rows, single partition). A FRESH plan is built per
    # trial: re-collecting one DataFrame lets Spark skip the partial-
    # aggregate map stage via shuffle-output reuse and times ~0.05 s
    # of scheduling instead of the work (measured while building this).
    machine_calib = _machine_calib(spark)

    # Session-memoized corpus artifacts (graph edge lists, minhash band
    # index, near-dup groups, TF/NB/BPE/bigram models, centroids, the
    # PQ index) are force-built and TIMED here, as their own line
    # items, BEFORE any per-query pass — r11's driver bench charged
    # graph_kcore 24.0 s and corpus_split_groupsafe 14.1 s for builds
    # the local twin charged elsewhere (1.15 s / 0.18 s), because the
    # build landed on whichever query touched the memo first. With the
    # builds pinned to this section, per-query numbers are comparable
    # across environments and run orders (VERDICT-r11 item 2).
    from personal_health_etl_pipeline_spark.plans.artifacts import (
        SESSION_ARTIFACTS,
        force_all,
    )

    artifacts = force_all(spark, sf_dir)
    artifacts_total = round(sum(artifacts.values()), 3)

    # One untimed warm pass (pays per-plan codegen/compile), then three
    # timed passes taken ROUND-ROBIN across the whole set, best-of-3
    # per query. Round-robin decorrelates transient system load from
    # individual queries: consecutive trials of one query all land in
    # the same noisy window, interleaved trials don't — round-over-round
    # comparisons stay meaningful on sub-2 s queries.
    for name in HEADLINE:
        CATALOG[name][0](spark, sf_dir).collect()
    trials: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _ in range(3):
        # re-touch every artifact before the pass: a no-op when the
        # memo holds (the registry forcing fns return immediately), but
        # if an environment ever drops session state mid-run the
        # rebuild lands HERE, outside every per-query timing window
        for fn in SESSION_ARTIFACTS.values():
            fn(spark, sf_dir)
        # One GC per PASS, with a settle pause, not one per query: a
        # per-query System.gc() returns before concurrent collector
        # phases finish, so the induced GC work bled into the next
        # query's timing window (measured as a uniform ~0.1-0.3 s tax
        # on sub-second queries in round 3).
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.5)
        for name in HEADLINE:
            fn = CATALOG[name][0]
            start = time.perf_counter()
            fn(spark, sf_dir).collect()
            trials[name].append(time.perf_counter() - start)
    timings = {name: round(min(ts), 3) for name, ts in trials.items()}
    # median (middle of 3) alongside best: best is the headline number
    # (least-noise estimate of the plan's cost), median shows whether a
    # round-over-round delta is jitter (medians overlap) or real
    medians = {name: round(sorted(ts)[1], 3) for name, ts in trials.items()}

    total = round(sum(timings.values()), 3)

    # DuckDB-oracle wall-clock over the SAME headline set and parquet:
    # the measured baseline (the reference publishes no numbers), so
    # bench_vs_baseline is a recorded ratio instead of a README estimate.
    # Best-effort: a baseline failure (duckdb missing, an oracle that
    # needs non-view setup) must not discard the Spark timings already
    # collected — emit them with the oracle fields null instead.
    oracle_medians: dict[str, float] = {}
    oracle_median_total = 0.0
    try:
        import duckdb

        con = duckdb.connect()
        for t in (
            "region", "nation", "customer", "supplier", "part", "orders",
            "lineitem", "events", "documents", "embeddings",
        ):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')"
            )
        oracle_set = [n for n in HEADLINE if CATALOG[n][1] is not None]
        bad: list[str] = []
        for name in oracle_set:  # warm pass (catalog/IO caches)
            # Per-query isolation: one oracle failing (e.g. a dialect
            # overflow that only shows at this sf) drops that query
            # from the baseline instead of nulling the whole of it.
            try:
                con.execute(CATALOG[name][1]).fetchall()
            except Exception as exc:
                print(
                    f"oracle {name} skipped: {exc!r}", file=sys.stderr
                )
                bad.append(name)
        oracle_set = [n for n in oracle_set if n not in bad]
        o_trials: dict[str, list[float]] = {n: [] for n in oracle_set}
        for _ in range(3):
            for name in oracle_set:
                start = time.perf_counter()
                con.execute(CATALOG[name][1]).fetchall()
                o_trials[name].append(time.perf_counter() - start)
        con.close()
        oracle_medians = {
            n: round(sorted(ts)[1], 3) for n, ts in o_trials.items()
        }
        oracle_median_total = round(sum(oracle_medians.values()), 3)
    except Exception as exc:  # pragma: no cover - environment-dependent
        print(f"oracle baseline skipped: {exc!r}", file=sys.stderr)
    median_total = round(sum(medians.values()), 3)
    # data-weighted subset: PINNED membership (see HEAVY_PINNED above);
    # the live >=1 s rule's current members ride along for drift
    # visibility only (see README "Benchmarking notes").
    heavy = [n for n in HEAVY_PINNED if n in oracle_medians]
    heavy_spark = round(sum(medians[n] for n in heavy), 3)
    heavy_oracle = round(sum(oracle_medians[n] for n in heavy), 3)
    rule_members_now = sorted(
        n for n in oracle_medians if oracle_medians[n] >= 1.0
    )

    summary = {
        "metric": "headline_queries_total_wall_clock",
        "value": total,
        "unit": "sec",
        "sf": sf,
        # session-artifact builds, timed separately so no query's
        # number carries a build (order-insensitive attribution)
        "artifacts": artifacts,
        "artifacts_total": artifacts_total,
        "queries": medians,
        "median_total": median_total,
        # fixed CPU-bound jobs timed at session start: the cross-round
        # machine-window tell that needs no oracle (see _machine_calib)
        "machine_calib": machine_calib,
        "oracle_median_total": oracle_median_total or None,
        "bench_vs_baseline": round(median_total / oracle_median_total, 3)
        if oracle_median_total
        else None,
        "heavy_subset": {
            "queries": heavy,
            "membership": "pinned (HEAVY_PINNED, r11-r12 union)",
            "rule_members_now": rule_members_now,
            "spark_total": heavy_spark,
            "oracle_total": heavy_oracle,
            "ratio": round(heavy_spark / heavy_oracle, 3)
            if heavy_oracle
            else None,
        },
    }
    payload = json.dumps(
        {
            **summary,
            "queries_best": timings,
            "oracle_queries_median": oracle_medians or None,
        }
    )
    # The driver tail-captures a bounded (~2 KB) stdout window and
    # parses the LAST JSON line. Rounds 5-8 lost it because the final
    # line still carried a per-query dict (84 entries ~= 3 KB measured
    # at r8). So: the full payload (all per-query dicts) goes on an
    # EARLIER line + the durable BENCH_LAST.json sibling, and the FINAL
    # stdout line is totals/ratios ONLY (~300 bytes — no per-query
    # dicts, heavy-subset query list replaced by its count) so the tail
    # window can never clip it.
    final_line = {
        "metric": summary["metric"],
        "value": summary["value"],
        "unit": summary["unit"],
        "sf": summary["sf"],
        "n_queries": len(medians),
        "artifacts_total": artifacts_total,
        "median_total": summary["median_total"],
        "machine_calib": machine_calib,
        "oracle_median_total": summary["oracle_median_total"],
        "bench_vs_baseline": summary["bench_vs_baseline"],
        "heavy_subset": {
            "n_queries": len(heavy),
            "spark_total": heavy_spark,
            "oracle_total": heavy_oracle,
            "ratio": summary["heavy_subset"]["ratio"],
        },
        "detail": "BENCH_LAST.json",
    }
    print(payload)
    final_json = json.dumps(final_line)
    # regression guard for the rounds-5-8 parse failure: the driver
    # tail-captures ~2 KB of stdout and parses the LAST line, so the
    # final line must stay far under that window no matter how many
    # queries join the headline set
    # explicit raise, not assert: python -O strips asserts, which would
    # silently disable this protection (ADVICE-r10)
    if len(final_json) >= 1024:
        raise RuntimeError(
            f"final bench line grew to {len(final_json)} bytes — it must "
            "stay under 1 KB so the driver's bounded tail capture can "
            "always parse it; move detail to BENCH_LAST.json"
        )
    print(final_json)
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_LAST.json"), "w") as fh:
        fh.write(payload + "\n")
    # Append-only per-run archive (VERDICT-r15 item 2): BENCH_LAST.json
    # is overwritten by every run, so when the driver benches twice
    # (32-core then 8-core) the second run clobbers the first run's
    # per-query payload and round-over-round per-query comparison
    # becomes impossible. Each run therefore ALSO appends its full
    # payload to BENCH_RUNS.jsonl, keyed by cpu count + machine calib +
    # wall time. Additions only: stdout contract (<1 KB final line) and
    # BENCH_LAST.json are unchanged.
    with open(os.path.join(here, "BENCH_RUNS.jsonl"), "a") as fh:
        fh.write(json.dumps(run_record(payload, sf_dir)) + "\n")
    spark.stop()


if __name__ == "__main__":
    main()

"""The three benchmark workloads and the closed loop that drives them.

Each workload calls the engine only through its public functions and
checks the outputs against an independent recomputation after the
timed window. End-to-end metrics have one meaning per workload:

==============  ==========================  ==========================  ===============================
metric          etl_daily                   analytics_mix               corpus_curate
==============  ==========================  ==========================  ===============================
``op_p50_s``    one daily ``run_pipeline``  one catalog query           one probe set: lookup + 3 top-k
``bulk_s``      the backfill of the history one pass over every query   one dedup build pass
==============  ==========================  ==========================  ===============================

With one client in a closed loop, operations per second is the
reciprocal of the mean operation time, so no throughput metric is
bounded separately.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import random
import sys
import time
from statistics import median

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.harness import NullTracer, Tracer, log, peak_rss_mb, tail

# (name, unit, better) of every per-layer metric; a workload that does
# not reach a layer reports 0 for it
PER_LAYER = (
    ("session.get_spark_s", "s", "lower"),
    ("session.warmup_s", "s", "lower"),
    ("raw_zone.landed_ranges_s", "s", "lower"),
    ("raw_zone.partitions_listed", "count", "lower"),
    ("raw_zone.scan_raw_s", "s", "lower"),
    ("raw_zone.write_raw_s", "s", "lower"),
    ("raw_zone.files_written", "count", "lower"),
    ("raw_zone.bytes_written", "bytes", "lower"),
    ("etl.run_extract_s", "s", "lower"),
    ("etl.run_transform_s", "s", "lower"),
    ("etl.spark_jobs_per_run", "count", "lower"),
    ("etl.spark_tasks_per_run", "count", "lower"),
    ("conflict.assert_unique_key_s", "s", "lower"),
    ("flatten.flatten_s", "s", "lower"),
    ("combine.combine_on_key_s", "s", "lower"),
    ("schema.align_to_schema_s", "s", "lower"),
    ("warehouse.files", "count", "lower"),
    ("warehouse.bytes_per_row", "bytes", "lower"),
    ("sources.load_table_s", "s", "lower"),
    ("plans.build_s", "s", "lower"),
    ("plans.execute_s", "s", "lower"),
    ("plans.jobs_per_query", "count", "lower"),
    ("plans.tasks_per_query", "count", "lower"),
    ("dedup.minhash_index_s", "s", "lower"),
    ("dedup.minhash_lsh_pairs_s", "s", "lower"),
    ("dedup.pairs_returned", "count", "higher"),
    ("dedup.pair_precision", "ratio", "higher"),
    ("dedup.pair_recall", "ratio", "higher"),
    ("dedup.minhash_lookup_s", "s", "lower"),
    ("similarity.brute_force_topk_s", "s", "lower"),
    ("similarity.lsh_topk_s", "s", "lower"),
    ("similarity.ivf_topk_s", "s", "lower"),
    ("similarity.lsh_recall_at_10", "ratio", "higher"),
    ("similarity.ivf_recall_at_10", "ratio", "higher"),
    ("trace.overhead_s", "s", "lower"),
)

# A window holds fewer than 21 operations, too few for a tail with ten
# samples above it that is not below the median; the tail (the slowest
# operation) is in the report line, and is not a bounded metric.
END_TO_END = (
    ("setup_s", "s"),
    ("cold_setup_s", "s"),
    ("peak_rss_mb", "MB"),
    ("op_p50_s", "s"),
    ("bulk_s", "s"),
)

# the first set-up starts the JVM (cold_setup_s); the others restart the
# session inside it (setup_s is their median)
SETUP_CYCLES = 3


class Check:
    def __init__(self, name: str, ok: bool, detail: str = ""):
        self.name, self.ok, self.detail = name, bool(ok), detail

    def as_dict(self) -> dict:
        return {"name": self.name, "ok": self.ok, "detail": self.detail}


def _dir_stats(root: str, suffix: str = "") -> tuple[int, int]:
    """(data files, bytes) under ``root``; Spark's ``_``/``.`` files skipped."""
    files = size = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.startswith(("_", ".")) or not n.endswith(suffix):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


class Workload:
    """One workload: generated inputs, engine set-up, a bulk step, the
    repeated operation and the output checks."""

    name = ""
    probe_kinds: tuple[str, ...] | None = None  # None: every op is a probe
    rep_len = 1  # a window ends only between repetitions of this many ops
    warm_reps = 0  # untimed repetitions before the timed window

    def __init__(self, seed: int, scale: float, work: str):
        self.seed, self.scale, self.work = seed, scale, work
        self.bulk_times: list[float] = []
        self.figures: dict = {}

    def generate(self) -> None: ...
    def prepare(self, spark) -> None: ...
    def bulk(self, spark) -> int:
        """A timed step before the loop; returns the operations it ran."""
        return 0
    def op(self, spark, tr: Tracer, i: int) -> str: ...
    def instrument(self, tr: Tracer) -> None: ...
    def check(self, spark) -> list[Check]: ...
    def layer_counts(self, tr: Tracer) -> dict: return {}


# --- etl_daily -------------------------------------------------------------

class EtlDaily(Workload):
    """The reference DAG in steady state: a 90-day raw-zone history,
    one backfill, then one ``run_pipeline`` per new day."""

    name = "etl_daily"
    HISTORY_DAYS = 90

    def generate(self) -> None:
        from personal_health_etl_pipeline_spark.pipeline import PipelineConfig

        days = max(7, round(self.HISTORY_DAYS * self.scale))
        self.anchor = gen.history_anchor(self.seed)
        self.first = self.anchor - dt.timedelta(days=days)
        self.raw_root = os.path.join(self.work, "raw")
        self.wh = os.path.join(self.work, "warehouse")
        gen.write_raw_history(
            self.raw_root, gen.DAILY_TYPES, self.first, self.anchor - dt.timedelta(days=1)
        )
        self.cfg = PipelineConfig(
            raw_root=self.raw_root, warehouse_path=self.wh,
            data_types=gen.DAILY_TYPES, historical_days=days,
        )
        self.today = self.anchor
        self.runs: list[dict] = []

    def bulk(self, spark) -> int:
        from personal_health_etl_pipeline_spark.pipeline import run_pipeline

        t0 = time.perf_counter()
        out = run_pipeline(spark, self.cfg, self.anchor)
        self.bulk_times.append(time.perf_counter() - t0)
        self.backfill_rows = out["new_rows"]
        return 1

    def op(self, spark, tr: Tracer, i: int) -> str:
        from personal_health_etl_pipeline_spark.pipeline import run_pipeline

        self.today += dt.timedelta(days=1)
        before = _dir_stats(self.raw_root) if tr.enabled else None
        with tr.span("etl.run_pipeline", op=i):
            out = run_pipeline(spark, self.cfg, self.today)
        if before is not None:
            after = _dir_stats(self.raw_root)
            tr.op_counts.setdefault("raw_zone.files_written", []).append(after[0] - before[0])
            tr.op_counts.setdefault("raw_zone.bytes_written", []).append(after[1] - before[1])
        self.runs.append(out)
        if out["new_rows"] != 1:
            raise AssertionError(f"day {self.today - dt.timedelta(days=1)}: "
                                 f"{out['new_rows']} rows appended, expected 1")
        return "daily"

    def instrument(self, tr: Tracer) -> None:
        from personal_health_etl_pipeline_spark.pipeline import etl, raw_zone

        tr.wrap(etl, "run_extract", "etl.run_extract")
        tr.wrap(etl, "run_transform", "etl.run_transform")
        tr.wrap(raw_zone, "landed_ranges", "raw_zone.landed_ranges",
                attrs=lambda r: {"partitions": len(r)})
        tr.wrap(etl, "scan_raw", "raw_zone.scan_raw")
        tr.wrap(etl, "write_raw", "raw_zone.write_raw")
        tr.wrap(etl, "assert_unique_key", "conflict.assert_unique_key")
        tr.wrap(etl, "flatten", "flatten.flatten")
        tr.wrap(etl, "combine_on_key", "combine.combine_on_key")
        tr.wrap(etl, "align_to_schema", "schema.align_to_schema")

    def layer_counts(self, tr: Tracer) -> dict:
        files, size = _dir_stats(self.wh, ".parquet")
        rows = pq.ParquetDataset(self.wh).read(columns=["day"]).num_rows
        per_op = _per_op_totals(tr, "etl.run_pipeline")
        return {
            "raw_zone.partitions_listed": _per_op_attr(tr, "raw_zone.landed_ranges", "partitions"),
            "raw_zone.files_written": median(tr.op_counts.get("raw_zone.files_written", [0])),
            "raw_zone.bytes_written": median(tr.op_counts.get("raw_zone.bytes_written", [0])),
            "etl.spark_jobs_per_run": median([t["jobs"] for t in per_op] or [0]),
            "etl.spark_tasks_per_run": median([t["tasks"] for t in per_op] or [0]),
            "warehouse.files": files,
            "warehouse.bytes_per_row": size / rows if rows else 0,
        }

    def check(self, spark) -> list[Check]:
        from personal_health_etl_pipeline_spark.pipeline.fixtures import fetch_range

        table = pq.ParquetDataset(self.wh).read()
        days = table.column("day").to_pylist()
        expected = self.today - self.first  # days [first, today)
        checks = [
            Check("etl.one_row_per_day", len(days) == expected.days == len(set(days)),
                  f"{len(days)} rows, {len(set(days))} distinct days, {expected.days} expected"),
            Check("etl.day_range",
                  bool(days) and min(days) == self.first
                  and max(days) == self.today - dt.timedelta(days=1),
                  f"{min(days) if days else None}..{max(days) if days else None}"),
        ]
        rows = {r["day"]: r for r in table.to_pylist()}
        rng = random.Random(self.seed)
        sample = rng.sample(sorted(rows), min(24, len(rows)))
        bad = []
        for day in sample:
            for dtype in gen.DAILY_TYPES:
                rec = fetch_range(dtype, day, day)[0]
                want = {
                    "id": rec["id"],
                    "score": rec["score"],
                    "temperature_deviation": rec["temperature_deviation"],
                    "contributors__deep_sleep": rec["contributors"]["deep_sleep"],
                    "contributors__efficiency": rec["contributors"]["efficiency"],
                    "contributors__latency": rec["contributors"]["latency"],
                    "timestamp": dt.datetime.fromisoformat(rec["timestamp"]).timestamp(),
                    "met_items": rec["met_items"],
                }
                got = {k: rows[day][f"{dtype}__{k}"] for k in want}
                got["timestamp"] = _epoch(got["timestamp"])
                got["met_items"] = json.loads(got["met_items"]) if got["met_items"] else None
                if got != want:
                    bad.append(f"{day} {dtype}: {got} != {want}")
        checks.append(Check("etl.sampled_cells", not bad, "; ".join(bad[:3])))
        self.figures = {
            "etl_backfill_s": self.bulk_times[0] if self.bulk_times else None,
            "backfill_rows": getattr(self, "backfill_rows", None),
            "history_days": (self.anchor - self.first).days,
            "days_appended": len(self.runs),
        }
        return checks


def _epoch(ts) -> float | None:
    if ts is None:
        return None
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=dt.timezone.utc)
    return ts.timestamp()


# --- analytics_mix ---------------------------------------------------------

# relational and temporal catalog entries with DuckDB oracles
ANALYTICS_QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_volume",
    "q6_revenue_delta",
    "j4_asof_last_click", "j5_views_before_purchase",
    "w1_rolling_7day_revenue", "w3_sessionize", "st_sliding_window_agg",
    "j1_multiway_outer_combine", "j9_oura_end_to_end",
)
STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events")


class AnalyticsMix(Workload):
    """A read-only analyst session: a seed-shuffled closed loop over the
    relational and temporal catalog entries that have DuckDB oracles."""

    name = "analytics_mix"
    rep_len = len(ANALYTICS_QUERIES)
    # each query's first run compiles its plan's generated code, a cost
    # that depends on where the shuffled order puts it; one pass first
    # makes the timed queries equally warm
    warm_reps = 1
    SF = 0.1

    def generate(self) -> None:
        self.sf_dir = os.path.join(self.work, "star")
        gen.write_star_schema(self.sf_dir, self.seed, self.SF * self.scale)
        self.passes = 0
        self.order: list[str] = []
        self.pass_s = 0.0
        self.results: dict[str, _Collected] = {}

    def prepare(self, spark) -> None:
        from personal_health_etl_pipeline_spark.sources.tables import load_table

        for t in STAR_TABLES:
            load_table(spark, self.sf_dir, t)

    def next_query(self) -> str:
        if not self.order:
            self.order = gen.query_order(list(ANALYTICS_QUERIES), self.seed * 1009 + self.passes)
            self.passes += 1
        return self.order.pop(0)

    def op(self, spark, tr: Tracer, i: int) -> str:
        from personal_health_etl_pipeline_spark.plans.catalog import CATALOG

        name = self.next_query()
        t0 = time.perf_counter()
        with tr.span("plans.query", op=i, query=name):
            with tr.span("plans.build"):
                df = CATALOG[name][0](spark, self.sf_dir)
            with tr.span("plans.execute"):
                rows = df.collect()
        self.results.setdefault(name, _Collected(df, rows))
        self.pass_s += time.perf_counter() - t0
        if not self.order:  # a pass over every query ended: bulk_s sample
            self.bulk_times.append(self.pass_s)
            self.pass_s = 0.0
        return name

    def instrument(self, tr: Tracer) -> None:
        from personal_health_etl_pipeline_spark.sources import tables

        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith("personal_health_etl_pipeline_spark.plans")
                    and getattr(mod, "load_table", None) is tables.load_table):
                tr.wrap(mod, "load_table", "sources.load_table")

    def layer_counts(self, tr: Tracer) -> dict:
        per_op = _per_op_totals(tr, "plans.query")
        return {
            "plans.jobs_per_query": median([t["jobs"] for t in per_op] or [0]),
            "plans.tasks_per_query": median([t["tasks"] for t in per_op] or [0]),
        }

    def check(self, spark) -> list[Check]:
        """Each query's first result against its DuckDB oracle, with the
        repository's own compare (``tests/parity.py``)."""
        import parity
        from personal_health_etl_pipeline_spark.plans.catalog import CATALOG

        checks = []
        for name in ANALYTICS_QUERIES:
            try:
                parity.assert_scalar_output(self.results[name], name)
                parity.compare(self.results[name], *parity.run_oracle(CATALOG[name][1], self.sf_dir))
                checks.append(Check(f"oracle.{name}", True))
            except Exception as e:
                checks.append(Check(f"oracle.{name}", False, f"{type(e).__name__}: {str(e)[:400]}"))
        self.figures = {"passes_started": self.passes}
        return checks


class _Collected:
    """A query's schema and the rows the timed window collected, in the
    shape ``parity.compare`` reads, so the check does not run it again."""

    def __init__(self, df, rows):
        self.columns, self.dtypes, self.schema = list(df.columns), list(df.dtypes), df.schema
        self.rows = rows

    def collect(self):
        return self.rows


# --- corpus_curate ---------------------------------------------------------

class CorpusCurate(Workload):
    """LLM-data curation: each repetition builds the MinHash index and
    all near-duplicate pairs of the corpus (one operation), then probes
    it (a second operation): a lookup of a new batch and the three top-k
    searches over the embeddings."""

    name = "corpus_curate"
    probe_kinds = ("probe",)
    SEQUENCE = ("build", "probe")
    PROBES = ("lookup", "brute", "lsh", "ivf")
    rep_len = len(SEQUENCE)
    # four times the sf0.1 documents table: from about 10 000 documents
    # up, doubling the corpus doubles the build pass
    N_DOCS = 20_000
    DUP_SHARE = 0.1
    N_NEW = 200
    N_VEC = 2_000
    DIMS = 64
    CLUSTERS = 16
    QUERY_MOD = 50
    K = 10

    def generate(self) -> None:
        n_docs = max(200, round(self.N_DOCS * self.scale))
        n_vec = max(400, round(self.N_VEC * self.scale))
        docs, self.planted, new, self.planted_lookup = gen.make_corpus(
            self.seed, n_docs, self.DUP_SHARE, max(20, round(self.N_NEW * self.scale))
        )
        self.texts = dict(docs) | dict(new)
        self.n_docs = n_docs
        self.docs_path = os.path.join(self.work, "corpus.parquet")
        self.new_path = os.path.join(self.work, "new.parquet")
        self.emb_path = os.path.join(self.work, "embeddings.parquet")
        self.index_path = os.path.join(self.work, "index")
        gen.write_docs(self.docs_path, docs)
        gen.write_docs(self.new_path, new)
        self.vecs = gen.make_embeddings(self.seed, n_vec, self.DIMS, self.CLUSTERS)
        gen.write_embeddings(self.emb_path, self.vecs, self.CLUSTERS)
        self.out: dict[str, list] = {}
        self.probe_times: dict[str, list[float]] = {k: [] for k in self.PROBES}

    def prepare(self, spark) -> None:
        self.docs = spark.read.parquet(self.docs_path)
        self.new = spark.read.parquet(self.new_path)
        self.emb = spark.read.parquet(self.emb_path)

    def op(self, spark, tr: Tracer, i: int) -> str:
        from personal_health_etl_pipeline_spark.operators import dedup, similarity as S

        kind = self.SEQUENCE[i % len(self.SEQUENCE)]
        if kind == "build":
            t0 = time.perf_counter()
            with tr.span("dedup.build", op=i):
                with tr.span("dedup.minhash_index"):
                    dedup.minhash_index(self.docs, "doc_id", "text").write.mode(
                        "overwrite").parquet(self.index_path)
                with tr.span("dedup.minhash_lsh_pairs"):
                    pairs = dedup.minhash_lsh_pairs(self.docs, "doc_id", "text").collect()
            self.bulk_times.append(time.perf_counter() - t0)
            self.out["pairs"] = pairs
            return kind
        with tr.span("corpus.probe", op=i):
            t0 = time.perf_counter()
            with tr.span("dedup.minhash_lookup"):
                index = spark.read.parquet(self.index_path)
                self.out["lookup"] = dedup.minhash_lookup(
                    self.new, self.docs, "doc_id", "text", index=index).collect()
            self.probe_times["lookup"].append(time.perf_counter() - t0)
            for probe, fn, extra, span in (
                ("brute", S.brute_force_topk, {}, "similarity.brute_force_topk"),
                ("lsh", S.lsh_topk, {"n_planes": 4, "n_tables": 4, "dims": self.DIMS},
                 "similarity.lsh_topk"),
                ("ivf", S.ivf_topk, {"nprobe": 2}, "similarity.ivf_topk"),
            ):
                t0 = time.perf_counter()
                with tr.span(span):
                    self.out[probe] = fn(self.emb, k=self.K, query_mod=self.QUERY_MOD,
                                         **extra).collect()
                self.probe_times[probe].append(time.perf_counter() - t0)
        return kind

    def _topk(self, kind: str) -> dict[int, list]:
        out: dict[int, list] = {}
        for r in self.out.get(kind, []):
            out.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"], r["sim"]))
        return {q: sorted(v) for q, v in out.items()}

    def recall_at_k(self, kind: str) -> float:
        exact = self._topk("brute")
        got = self._topk(kind)
        hit = sum(len({n for _, n, _ in got.get(q, [])} & {n for _, n, _ in v})
                  for q, v in exact.items())
        total = sum(len(v) for v in exact.values())
        return hit / total if total else 0.0

    def check(self, spark) -> list[Check]:
        sh = {}

        def shingles(i):
            if i not in sh:
                sh[i] = gen.shingles(self.texts[i])
            return sh[i]

        checks = []
        # dedup: every returned pair is a true near-duplicate, most planted ones found
        pairs = {(r["id_a"], r["id_b"]): r["jaccard_sim"] for r in self.out.get("pairs", [])}
        # the engine rounds half-up to 4 places, then applies the threshold
        wrong = [p for p, s in pairs.items()
                 if abs(gen.jaccard(shingles(p[0]), shingles(p[1])) - s) > 0.5e-4 + 1e-12
                 or s < gen.DUP_THRESHOLD]
        found = len(self.planted & set(pairs))
        self.pair_recall = found / len(self.planted) if self.planted else 1.0
        self.pair_precision = (len(pairs) - len(wrong)) / len(pairs) if pairs else 0.0
        self.pairs_returned = len(pairs)
        checks.append(Check("dedup.pairs_verified", "pairs" in self.out and not wrong,
                            f"{len(wrong)} of {len(pairs)} pairs below threshold or misreported"))
        checks.append(Check("dedup.pair_recall", self.pair_recall >= 0.9,
                            f"{found}/{len(self.planted)} planted pairs found"))
        # lookup: same, against the planted new-vs-corpus pairs
        look = {(r["index_id"], r["new_id"]) for r in self.out.get("lookup", [])}
        lwrong = [p for p in look
                  if gen.jaccard(shingles(p[0]), shingles(p[1])) < gen.DUP_THRESHOLD]
        lfound = len(self.planted_lookup & look)
        self.lookup_recall = lfound / len(self.planted_lookup)
        checks.append(Check("dedup.lookup", "lookup" in self.out and not lwrong
                            and self.lookup_recall >= 0.9,
                            f"{lfound}/{len(self.planted_lookup)} found, {len(lwrong)} wrong"))
        # brute force equals an exact recomputation on the same integer grid
        err = self._check_brute()
        checks.append(Check("similarity.brute_force_exact", err is None, err or ""))
        self.lsh_recall = self.recall_at_k("lsh")
        self.ivf_recall = self.recall_at_k("ivf")
        checks.append(Check("similarity.lsh_recall", self.lsh_recall >= 0.5,
                            f"recall@{self.K} {self.lsh_recall:.4f}"))
        checks.append(Check("similarity.ivf_recall", self.ivf_recall >= 0.5,
                            f"recall@{self.K} {self.ivf_recall:.4f}"))
        docs_per_s = self.n_docs / median(self.bulk_times) if self.bulk_times else None
        self.figures = {
            "dedup_docs_per_s": docs_per_s,
            "dedup_pair_recall": self.pair_recall,
            "dedup_pair_precision": self.pair_precision,
            "lookup_recall": self.lookup_recall,
            "ann_recall_at_10": {"lsh": self.lsh_recall, "ivf": self.ivf_recall},
            "probe_p50_s": {k: median(v) for k, v in self.probe_times.items() if v},
            "corpus_docs": self.n_docs,
            "planted_pairs": len(self.planted),
            "dup_share": self.DUP_SHARE,
        }
        return checks

    def _check_brute(self) -> str | None:
        if "brute" not in self.out:
            return "brute force never ran"
        q = np.round(self.vecs.astype(np.float64) * 1_000_000).astype(np.int64)
        n2 = np.sqrt((q * q).sum(axis=1).astype(np.float64))
        got = self._topk("brute")
        queries = [i for i in range(len(q)) if i % self.QUERY_MOD == 0]
        if sorted(got) != queries:
            return f"{len(got)} queries answered, {len(queries)} expected"
        for qi in queries:
            sims = (q @ q[qi]).astype(np.float64) / (n2 * n2[qi])
            sims[qi] = -np.inf
            want = np.sort(sims)[::-1][: self.K]
            have = [s for _, _, s in got[qi]]
            if len(have) != self.K or np.max(np.abs(np.asarray(have) - want)) > 2e-6:
                return f"query {qi}: sims {have[:3]} vs {list(np.round(want[:3], 6))}"
        return None

    def layer_counts(self, tr: Tracer) -> dict:
        return {
            "dedup.pairs_returned": self.pairs_returned,
            "dedup.pair_precision": self.pair_precision,
            "dedup.pair_recall": self.pair_recall,
            "similarity.lsh_recall_at_10": self.lsh_recall,
            "similarity.ivf_recall_at_10": self.ivf_recall,
        }


WORKLOADS = {w.name: w for w in (EtlDaily, AnalyticsMix, CorpusCurate)}


# --- per-layer aggregation -----------------------------------------------

def _per_op_totals(tr: Tracer, op_span: str) -> list[dict]:
    tot = tr.totals()
    return [tot[s.span_id] for s in tr.spans if s.name == op_span]


def _per_op_attr(tr: Tracer, name: str, key: str) -> float:
    per: dict = {}
    for s in tr.spans:
        if s.name == name:
            per[s.attrs.get("op")] = per.get(s.attrs.get("op"), 0) + s.attrs.get(key, 0)
    return median(list(per.values())) if per else 0


def layer_seconds(tr: Tracer) -> dict[str, float]:
    """Per span name: the median over ops of that op's summed span time
    (ops that never reached the layer are left out)."""
    per: dict[str, dict] = {}
    for s in tr.spans:
        d = per.setdefault(s.name, {})
        d[s.attrs.get("op")] = d.get(s.attrs.get("op"), 0.0) + s.duration
    return {name: median(list(d.values())) for name, d in per.items()}


# --- the closed loop -------------------------------------------------------

def _warmup(spark) -> None:
    """A small job through the operators every workload uses (scan,
    shuffle aggregate, join, window), so each timed window starts with
    the JVM's common paths compiled."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    base = spark.range(0, 50_000, 1, 4).withColumn("k", F.col("id") % 97)
    agg = base.groupBy("k").agg(F.sum("id").alias("s"))
    w = Window.partitionBy("k").orderBy(F.col("id").desc())
    (base.join(agg, "k").withColumn("r", F.row_number().over(w))
     .where("r <= 3").agg(F.count(F.lit(1)), F.max("s")).collect())


def _window(wl: Workload, spark, tr: Tracer, seconds: float, start_op: int):
    """Run ops back to back until ``seconds`` have passed, then up to the
    end of the current repetition."""
    ops: list[tuple[str, float, bool]] = []
    deadline = time.perf_counter() + seconds
    i = start_op
    while not ops or time.perf_counter() < deadline or (i - start_op) % wl.rep_len:
        t0 = time.perf_counter()
        try:
            kind = wl.op(spark, tr, i)
            ok = True
        except Exception as e:  # a failed op counts, the run goes on
            kind, ok = "failed", False
            log(f"{wl.name} op {i} failed: {type(e).__name__}: {str(e)[:400]}")
        ops.append((kind, time.perf_counter() - t0, ok))
        i += 1
    return ops


def _measured(wl: Workload, spark, tr: Tracer, seconds: float, start_op: int):
    """A timed window and its bulk samples: the ones it took, or, when
    the workload takes none in the loop (the ``etl_daily`` backfill),
    those of the bulk step."""
    n = len(wl.bulk_times)
    ops = _window(wl, spark, tr, seconds, start_op)
    return ops, wl.bulk_times[n:] or wl.bulk_times[:n]


def _end_to_end(wl: Workload, ops, bulk, setups) -> tuple[dict, dict | None]:
    probe = [t for k, t, ok in ops if ok and (wl.probe_kinds is None or k in wl.probe_kinds)]
    values = {
        "setup_s": median(setups[1:]),
        "cold_setup_s": setups[0],
        "peak_rss_mb": peak_rss_mb(),
        "op_p50_s": median(probe) if probe else float("nan"),
        "bulk_s": median(bulk) if bulk else float("nan"),
    }
    return values, (tail(probe) if probe else None)


def shutdown_spark() -> None:
    """Stop the session, if any, and wait until its JVM has exited."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None


def run_workload(name, seed, seconds, trace, scale, work, conf):
    """One run; returns (result line, report)."""
    try:
        return _run(name, seed, seconds, trace, scale, work, conf)
    finally:
        shutdown_spark()


def _run(name, seed, seconds, trace, scale, work, conf):
    from personal_health_etl_pipeline_spark.session import get_spark

    wl = WORKLOADS[name](seed, scale, work)
    if trace:  # the status store must still hold every traced job at the end
        conf = {**conf, "spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"}
    t0 = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t0

    setups, get_s, warm_s = [], [], []
    spark = None
    for _ in range(SETUP_CYCLES):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(extra_conf=conf)
        t1 = time.perf_counter()
        _warmup(spark)
        t2 = time.perf_counter()
        wl.prepare(spark)
        setups.append(time.perf_counter() - t0)
        get_s.append(t1 - t0)
        warm_s.append(t2 - t1)
    log(f"{name}: generate {gen_s:.2f}s, set-ups {[round(s, 2) for s in setups]} "
        f"(first: get_spark {get_s[0]:.2f}s, warm-up job {warm_s[0]:.2f}s)")

    failures = attempted = 0
    try:
        attempted += wl.bulk(spark)
    except Exception as e:
        attempted += 1
        failures += 1
        log(f"{name} bulk step failed: {type(e).__name__}: {str(e)[:400]}")

    report: dict = {"workload": name, "seed": seed, "seconds": seconds, "scale": scale,
                    "generate_s": gen_s, "setup_cycles_s": setups}
    e2e, tail_rec = None, None
    # untimed repetitions first: the workload's own, and when traced at
    # least one, so the untraced and the traced window both run warm and
    # their difference is the tracing cost
    t0 = time.perf_counter()
    warm: list = []
    for _ in range(max(wl.warm_reps, int(trace))):
        warm += _window(wl, spark, NullTracer(), 0, len(warm))
    if not trace:
        timed, bulk = _measured(wl, spark, NullTracer(), seconds, len(warm))
        ops = warm + timed
        e2e, tail_rec = _end_to_end(wl, timed, bulk, setups)
    else:
        uops, bulk = _measured(wl, spark, NullTracer(), seconds, len(warm))
        untraced, _ = _end_to_end(wl, uops, bulk, setups)
        tr = Tracer(spark.sparkContext, f"{name}-{seed}")
        wl.instrument(tr)
        try:
            tops, bulk = _measured(wl, spark, tr, seconds, len(warm) + len(uops))
        finally:
            tr.unwrap_all()
        ops, timed = warm + uops + tops, tops
        traced, tail_rec = _end_to_end(wl, tops, bulk, setups)
        report["tracing"] = {"untraced": untraced, "traced": traced,
                             "overhead_op_p50_s": traced["op_p50_s"] - untraced["op_p50_s"]}

    t1 = time.perf_counter()
    checks = []
    try:
        checks = wl.check(spark)
    except Exception as e:
        checks = [Check("checks", False, f"{type(e).__name__}: {str(e)[:400]}")]
    attempted += len(ops) + len(checks)
    failures += sum(1 for _, _, ok in ops if not ok) + sum(1 for c in checks if not c.ok)
    for c in checks:
        if not c.ok:
            log(f"{name} check failed: {c.name}: {c.detail}")
    log(f"{name}: loop {t1 - t0:.2f}s ({len(warm)} warm-up ops), "
        f"checks {time.perf_counter() - t1:.2f}s")

    if trace:
        metrics = {m: 0 for m, _, _ in PER_LAYER}
        secs = layer_seconds(tr)
        for m, unit, _ in PER_LAYER:
            if unit == "s" and m[:-2] in secs:
                metrics[m] = secs[m[:-2]]
        metrics["session.get_spark_s"] = median(get_s)
        metrics["session.warmup_s"] = median(warm_s)
        metrics.update(wl.layer_counts(tr))
        metrics["trace.overhead_s"] = report["tracing"]["overhead_op_p50_s"]
        units = {m: u for m, u, _ in PER_LAYER}
        out_metrics = {m: {"value": float(v), "unit": units[m]} for m, v in metrics.items()}
        report["spans_summary"] = tr.summary()
        report["spans"] = tr.records()  # every span, written out at the end
        report["per_layer"] = metrics
    else:
        units = dict(END_TO_END)
        out_metrics = {m: {"value": float(v), "unit": units[m]} for m, v in e2e.items()}

    kinds: dict[str, list] = {}  # the timed (when traced, the traced) window
    for k, t, ok in timed:
        kinds.setdefault(k, []).append(t)
    report.update({
        "end_to_end": e2e,
        "tail": tail_rec,
        "ops": {k: {"n": len(v), "p50_s": median(v)} for k, v in sorted(kinds.items())},
        "warm_up_ops": len(warm),
        "bulk_times_s": wl.bulk_times,
        "figures": wl.figures,
        "checks": [c.as_dict() for c in checks],
    })
    correct = failures == 0 and all(
        isinstance(v["value"], float) and math.isfinite(v["value"])
        for v in out_metrics.values()
    )
    result = {"correct": correct, "attempted": attempted, "failed": failures,
              "metrics": out_metrics}
    return result, report

"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its arguments: the same seed
writes the same bytes, a different seed a different history window,
table contents, corpus and query order. Nothing here touches Spark —
the engine only ever sees the files these functions write.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from personal_health_etl_pipeline_spark.pipeline.fixtures import fetch_range

# --- etl_daily: raw-zone history ----------------------------------------

# the six DAILY types of the reference's oura_day table
DAILY_TYPES = (
    "daily_activity",
    "daily_sleep",
    "daily_readiness",
    "daily_stress",
    "daily_resilience",
    "daily_cardiovascular_age",
)


def history_anchor(seed: int) -> dt.date:
    """First ``today`` of the daily loop; the seed moves the whole
    history window, and every fixture record is a hash of (type, day)."""
    return dt.date(2022, 1, 1) + dt.timedelta(days=random.Random(seed).randrange(730))


def write_raw_history(
    root: str, data_types: tuple[str, ...], first: dt.date, last: dt.date
) -> int:
    """Land one single-day range per type per day in ``[first, last]``,
    in the partition layout of ``pipeline.raw_zone`` (JSON lines plus a
    ``_SUCCESS`` marker, as a Spark JSON write leaves it). Returns the
    number of data files written."""
    files = 0
    day = first
    while day <= last:
        ds = day.isoformat()
        for dtype in data_types:
            part = f"{root}/data_type={dtype}/range_start={ds}/range_end={ds}"
            os.makedirs(part)
            lines = [
                json.dumps(rec, separators=(",", ":"))
                for rec in fetch_range(dtype, day, day)
            ]
            with open(f"{part}/part-00000.json", "w") as fh:
                fh.write("\n".join(lines) + "\n")
            open(f"{part}/_SUCCESS", "w").close()
            files += 1
        day += dt.timedelta(days=1)
    return files


# --- analytics_mix: the star schema + events tables ---------------------

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
ORDER_STATUS = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
RETURN_FLAGS = ("A", "N", "R")
LINE_STATUS = ("F", "O")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

# row counts at scale 1 (the sf0.1 fixture is scale 0.1)
_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}
_DAY_US = 86_400 * 1_000_000


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    """Uniform midnight timestamps (µs) in ``[lo, hi]``."""
    d0 = np.datetime64(lo, "D").astype(np.int64)
    d1 = np.datetime64(hi, "D").astype(np.int64)
    return rng.integers(d0, d1 + 1, n) * _DAY_US


def _pick(rng, words, n: int) -> pa.Array:
    return pa.array(np.asarray(words, dtype=object)[rng.integers(0, len(words), n)])


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), f"{out_dir}/{name}.parquet")


def write_star_schema(out_dir: str, seed: int, scale: float = 0.1) -> dict[str, int]:
    """The TPC-H-shaped tables plus ``events`` the relational and
    temporal catalog entries read, with the column types, value domains
    and uniform distributions of the repo's sf fixtures (one parquet
    file per table, one row group). Returns rows per table."""
    rng = np.random.default_rng(seed)
    n = {t: max(10, int(r * scale)) for t, r in _ROWS.items()}
    os.makedirs(out_dir, exist_ok=True)
    ts_us = pa.timestamp("us")

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    c = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, c).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, c)),
        "c_mktsegment": _pick(rng, SEGMENTS, c),
    })
    s = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(s, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, s).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s)),
    })
    p = n["part"]
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, 8, p)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, 8, p)]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(p, dtype=np.int64)),
        "p_name": pa.array(adj + " " + noun),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, p)]),
        "p_type": _pick(rng, PART_TYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (np.arange(p) % 1000) / 10.0),
    })
    o = n["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, c, o)),
        "o_orderstatus": _pick(rng, ORDER_STATUS, o),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, o)),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", o), ts_us),
        "o_orderpriority": _pick(rng, PRIORITIES, o),
    })
    li = n["lineitem"]
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, o, li)),
        "l_partkey": pa.array(rng.integers(0, p, li)),
        "l_suppkey": pa.array(rng.integers(0, s, li)),
        "l_linenumber": pa.array(rng.integers(1, 8, li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64)),
        # whole hundreds: every revenue sum then has no part of a cent
        # (price x (1 - discount) x (1 + tax) has at most six decimals,
        # all zero past the cents), so no group total sits on a half cent,
        # where the DuckDB oracles (ROUND of a DOUBLE) and the engine's
        # exact decimal rounding can differ by one cent
        "l_extendedprice": pa.array(rng.integers(9, 1051, li) * 100.0),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100.0),
        "l_returnflag": _pick(rng, RETURN_FLAGS, li),
        "l_linestatus": _pick(rng, LINE_STATUS, li),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", li), ts_us),
    })
    e = n["events"]
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(rng.integers(t0, t0 + 30 * _DAY_US, e))
    # strictly increasing, so event_id order == ts order and no as-of tie
    ts = np.maximum.accumulate(ts - np.arange(e)) + np.arange(e)
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(e, dtype=np.int64)),
        "ts": pa.array(ts, ts_us),
        "user_id": pa.array(rng.integers(0, max(10, e // 66), e)),
        "event_type": _pick(rng, EVENT_TYPES, e),
        "value": pa.array(np.round(rng.exponential(50.0, e), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
    })
    # no query here reads these two; they exist so that every table view
    # of the repository's oracle harness (tests/parity.py) binds
    write_docs(f"{out_dir}/documents.parquet", [(i, f"doc {i}") for i in range(10)])
    write_embeddings(f"{out_dir}/embeddings.parquet", make_embeddings(seed, 10, 4, 2), 2)
    return n


def query_order(names: list[str], seed: int) -> list[str]:
    """One closed-loop pass: every query once, in a seed-shuffled order."""
    order = sorted(names)
    random.Random(seed).shuffle(order)
    return order


# --- corpus_curate: documents with planted near-duplicates ---------------

SHINGLE_N = 3
DUP_THRESHOLD = 0.8


def shingles(text: str, n: int = SHINGLE_N) -> set[str]:
    """Distinct word n-shingles, the set ``functions.text`` builds."""
    t = text.split()
    return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


def _vocab(rng: random.Random, size: int) -> list[str]:
    syl = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]
    words = set()
    while len(words) < size:
        words.add("".join(rng.choice(syl) for _ in range(rng.randint(2, 4))))
    return sorted(words)


def make_corpus(
    seed: int, n_docs: int, dup_share: float, n_new: int
) -> tuple[list[tuple[int, str]], set[tuple[int, int]], list[tuple[int, str]], set[tuple[int, int]]]:
    """Corpus of ``n_docs`` random-word documents of which ``dup_share``
    are planted near-copies (a few word substitutions) of an earlier
    original, each kept only if its exact shingle Jaccard to the
    original is >= ``DUP_THRESHOLD``. Also a new batch of ``n_new``
    documents, half of them near-copies of corpus documents.

    Returns ``(docs, planted_pairs, new_docs, planted_lookup)`` where
    pairs are ``(id_a, id_b)`` with ``id_a < id_b`` and lookup pairs
    are ``(index_id, new_id)``.
    """
    rng = random.Random(seed)
    vocab = _vocab(rng, 4000)

    def fresh() -> list[str]:
        return [rng.choice(vocab) for _ in range(rng.randint(60, 140))]

    def near_copy(tokens: list[str]) -> list[str]:
        while True:
            out = list(tokens)
            for _ in range(rng.randint(1, 3)):
                out[rng.randrange(len(out))] = rng.choice(vocab)
            if jaccard(shingles(" ".join(out)), shingles(" ".join(tokens))) >= DUP_THRESHOLD:
                return out

    docs: list[tuple[int, str]] = []
    planted: set[tuple[int, int]] = set()
    n_dups = int(n_docs * dup_share)
    originals = n_docs - n_dups
    for i in range(originals):
        docs.append((i, " ".join(fresh())))
    for j, src in enumerate(rng.sample(range(originals), n_dups)):
        i = originals + j
        docs.append((i, " ".join(near_copy(docs[src][1].split()))))
        planted.add((src, i))

    new_docs: list[tuple[int, str]] = []
    lookup: set[tuple[int, int]] = set()
    for k in range(n_new):
        nid = n_docs + k
        if k % 2 == 0:
            src = rng.randrange(originals)
            new_docs.append((nid, " ".join(near_copy(docs[src][1].split()))))
            lookup.add((src, nid))
        else:
            new_docs.append((nid, " ".join(fresh())))
    return docs, planted, new_docs, lookup


def write_docs(path: str, docs: list[tuple[int, str]]) -> None:
    ids, texts = zip(*docs)
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts)}),
        path,
    )


def make_embeddings(seed: int, n: int, dims: int, clusters: int) -> np.ndarray:
    """Gaussian clusters, float32 rounded to 4 decimals; row i belongs
    to cluster ``i % clusters``."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(0.0, 1.0, (clusters, dims))
    labels = np.arange(n) % clusters
    vecs = centers[labels] + rng.normal(0.0, 0.35, (n, dims))
    return np.round(vecs, 4).astype(np.float32)


def write_embeddings(path: str, vecs: np.ndarray, clusters: int) -> None:
    n = len(vecs)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array((np.arange(n) % clusters).astype(np.int32)),
        }),
        path,
    )

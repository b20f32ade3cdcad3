"""Self-tests of the benchmark harness: ``python3 -m pytest perfbench -q``.

The arithmetic and generator tests need no JVM; the smoke tests run
every workload end to end at a tiny input scale (about half a minute
each, most of it JVM start-up).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import subprocess
import sys
from types import SimpleNamespace

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.harness import Span, Tracer, covered, self_times, tail  # noqa: E402
from perfbench.run import WORKLOADS as CLI_WORKLOADS  # noqa: E402
from perfbench.workloads import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402


# --- tail percentile -------------------------------------------------------

def test_tail_keeps_ten_samples_beyond():
    values = list(range(100, 0, -1))  # 1..100, unsorted
    t = tail(values)
    assert t == {"value": 90, "percentile": 90.0, "n": 100, "beyond": 10}
    assert sum(v > t["value"] for v in values) == 10


def test_tail_never_below_the_median():
    t = tail([float(v) for v in range(21)])
    assert t["value"] == 10.0 and t["beyond"] == 10
    assert t["percentile"] == pytest.approx(100 * 11 / 21)
    assert tail([float(v) for v in range(20)])["value"] == 19.0


def test_tail_falls_back_to_max_when_too_few():
    assert tail([3.0, 1.0, 2.0]) == {"value": 3.0, "percentile": 100.0, "n": 3, "beyond": 0}


# --- span self time --------------------------------------------------------

def _span(i, parent, start, end):
    return Span(f"s{i}", i, parent, "t", start, end)


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (8, 12)], 0, 10) == 6
    assert covered([], 0, 10) == 0
    assert covered([(11, 12)], 0, 10) == 0


def test_self_time_subtracts_children_once():
    spans = [
        _span(2, 1, 1.0, 3.0),
        _span(3, 1, 2.0, 5.0),   # overlaps its sibling: counted once
        _span(4, 3, 2.5, 4.0),   # grandchild: only its own parent loses it
        _span(1, None, 0.0, 10.0),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 4.0)
    assert st[3] == pytest.approx(3.0 - 1.5)
    assert st[2] == pytest.approx(2.0)
    assert st[4] == pytest.approx(1.5)


class _FakeSparkContext:
    """Just enough of a SparkContext for the tracer: job groups, a
    listener bus to drain and a status tracker over fixed jobs."""

    def __init__(self, jobs):  # group -> {job id: {stage id: tasks}}
        self.jobs, self.drained, self.groups_set = jobs, False, []
        bus = SimpleNamespace(waitUntilEmpty=lambda: setattr(self, "drained", True))
        self._jsc = SimpleNamespace(sc=lambda: SimpleNamespace(listenerBus=lambda: bus))

    def setJobGroup(self, group, description):
        self.groups_set.append(group)

    def setLocalProperty(self, key, value):
        pass

    def statusTracker(self):
        assert self.drained, "status tracker read before the listener bus drained"
        jobs = {j: st for g in self.jobs.values() for j, st in g.items()}
        stages = {s: t for st in jobs.values() for s, t in st.items()}
        return SimpleNamespace(
            getJobIdsForGroup=lambda g: list(self.jobs.get(g, {})),
            getJobInfo=lambda j: SimpleNamespace(stageIds=list(jobs[j])),
            getStageInfo=lambda st: SimpleNamespace(numCompletedTasks=stages[st],
                                                    numFailedTasks=0),
        )


def test_tracer_counts_each_span_group_after_the_bus_drains():
    sc = _FakeSparkContext({
        "r-span-1": {0: {0: 4}},  # the outer span's own job
        "r-span-2": {1: {1: 8, 2: 2}, 2: {3: 1}},
    })
    tr = Tracer(sc, "r")
    with tr.span("outer", op=0):
        with tr.span("inner"):
            pass
    assert sc.groups_set == ["r-span-1", "r-span-2", "r-span-1"]
    assert not sc.drained  # nothing is read while spans run
    tot = tr.totals()
    assert sc.drained
    inner, outer = tr.spans
    assert (inner.jobs, inner.stages, inner.tasks) == (2, 3, 11)
    assert (outer.jobs, outer.stages, outer.tasks) == (1, 1, 4)
    assert tot[outer.span_id] == {"jobs": 3, "stages": 4, "tasks": 15}
    assert inner.attrs["op"] == 0


# --- generator determinism -------------------------------------------------

def _tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for name in sorted(files):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_raw_history_same_seed_same_bytes(tmp_path):
    digests = []
    for run, seed in enumerate((5, 5, 6)):
        anchor = gen.history_anchor(seed)
        first = anchor - dt.timedelta(days=3)
        root = str(tmp_path / f"raw{run}")
        files = gen.write_raw_history(root, gen.DAILY_TYPES, first, anchor)
        assert files == 4 * len(gen.DAILY_TYPES)
        digests.append(_tree_digest(root))
    assert digests[0] == digests[1] != digests[2]


def test_star_schema_same_seed_same_bytes(tmp_path):
    digests = []
    for run, seed in enumerate((5, 5, 6)):
        out = str(tmp_path / f"star{run}")
        rows = gen.write_star_schema(out, seed, scale=0.002)
        assert rows["lineitem"] == 12_000
        digests.append(_tree_digest(out))
    assert digests[0] == digests[1] != digests[2]


def test_corpus_and_embeddings_per_seed(tmp_path):
    a = gen.make_corpus(5, 300, 0.1, 20)
    b = gen.make_corpus(5, 300, 0.1, 20)
    c = gen.make_corpus(6, 300, 0.1, 20)
    assert a == b and a[0] != c[0]
    docs, planted, new, lookup = a
    assert len(docs) == 300 and len(planted) == 30 and len(lookup) == 10
    for i, j in planted:
        assert gen.jaccard(gen.shingles(docs[i][1]), gen.shingles(docs[j][1])) >= gen.DUP_THRESHOLD
    for name, d in (("a", a), ("b", b)):
        gen.write_docs(str(tmp_path / f"{name}.parquet"), d[0])
    assert (tmp_path / "a.parquet").read_bytes() == (tmp_path / "b.parquet").read_bytes()
    e = gen.make_embeddings(5, 100, 8, 4)
    assert (e == gen.make_embeddings(5, 100, 8, 4)).all()
    assert not (e == gen.make_embeddings(6, 100, 8, 4)).all()


def test_query_order_is_a_seeded_permutation():
    names = [f"q{i}" for i in range(16)]
    assert gen.query_order(names, 1) == gen.query_order(names, 1)
    assert gen.query_order(names, 1) != gen.query_order(names, 2)
    assert sorted(gen.query_order(names, 1)) == sorted(names)


# --- BENCHMARK.json agrees with the code -----------------------------------

def test_benchmark_json_names_what_the_code_reports():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS) == list(CLI_WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == list(PER_LAYER)


# --- tiny end-to-end runs ---------------------------------------------------

def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.05"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.splitlines()[-1])


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke_run(workload):
    res = _run(workload, 0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert [(m, v["unit"]) for m, v in res["metrics"].items()] == list(END_TO_END)
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_smoke_traced_run():
    res = _run("etl_daily", 1)
    assert res["correct"]
    got = {m: v["unit"] for m, v in res["metrics"].items()}
    assert got == {m: u for m, u, _ in PER_LAYER}
    assert res["metrics"]["etl.spark_jobs_per_run"]["value"] > 0

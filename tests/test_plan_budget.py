"""Unit tests for the catalog-wide plan-budget parser.

``scripts/plan_budget.py`` pins every catalog entry's physical-plan
node counts (PLAN_BUDGET.json) and fails the compare mode when a
scale-hostile kind grew. These tests pin the PARSER against a canned
formatted-explain string (no Spark session needed) so a Spark-version
format drift or a regex regression is caught by the suite, not by a
silently-empty ledger; the 268-entry walk itself is a standing script,
not a suite member (it builds every memoized artifact).
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from scripts.plan_budget import _HOSTILE, count_nodes  # noqa: E402

# Representative of Spark 4.x ExplainMode "formatted": codegen stars,
# ":-" branch art, a two-word scan kind, a broadcast vs a shuffle
# exchange, a reused exchange, a pandas node, a row-UDF node, a details
# section whose "(id) Kind" lines must NOT be double-counted, and a
# subquery tree whose ids are globally unique.
_CANNED = """\
== Physical Plan ==
AdaptiveSparkPlan (13)
+- Sort (12)
   +- Exchange (11)
      +- * HashAggregate (10)
         +- BroadcastHashJoin Inner BuildRight (9)
            :- * Project (4)
            :  +- ArrowEvalPython (3)
            :     +- BatchEvalPython (2)
            :        +- Scan parquet  (1)
            +- BroadcastExchange (8)
               +- ReusedExchange (7)
                  +- Scan parquet  (6)

(1) Scan parquet
Output [2]: [id#0L, v#1]
Arguments: none

(11) Exchange
Arguments: hashpartitioning(id#0L, 32)

Subquery:1 Hosting operator id = 10 Hosting Expression = scalar-subquery#7
* HashAggregate (16)
+- Exchange (15)
   +- Scan parquet  (14)
"""


def test_count_nodes_on_canned_plan():
    c = count_nodes(_CANNED)
    # ids 11 and 15 are shuffles; 8 is broadcast; 7 reused (neither)
    assert c["shuffles"] == 2
    assert c["broadcasts"] == 1
    assert c["sorts"] == 1
    assert c["scans"] == 3  # ids 1, 6, 14 — the details re-print of 1
    # must not double-count
    assert c["python"] == 2  # ArrowEvalPython + BatchEvalPython
    assert c["row_udf"] == 1
    assert c["cartesian"] == 0 and c["bnlj"] == 0
    # every numbered node exactly once: 12 main-tree (ids 1-4, 6-13)
    # + 3 subquery (14-16)
    assert c["nodes"] == 15


def test_duplicate_ids_counted_once():
    doubled = _CANNED + _CANNED
    assert count_nodes(doubled) == count_nodes(_CANNED)


def test_details_section_lines_do_not_match():
    details_only = "(1) Scan parquet\nOutput [2]: [id#0L]\nArguments: none\n"
    assert count_nodes(details_only)["nodes"] == 0


def test_ledger_is_valid_and_complete():
    """The committed pin must cover the live catalog name-for-name with
    sane values — an empty or stale ledger would make the compare mode
    vacuous."""
    from personal_health_etl_pipeline_spark.plans.catalog import CATALOG

    with open(os.path.join(ROOT, "PLAN_BUDGET.json")) as f:
        ledger = json.load(f)
    entries = ledger["entries"]
    assert set(entries) == set(CATALOG)
    for name, counts in entries.items():
        assert counts["nodes"] > 0, name
        assert counts["row_udf"] == 0, f"{name}: pinned plan has a row UDF"
        assert counts["cartesian"] == 0, f"{name}: pinned cartesian product"
        for kind in _HOSTILE:
            assert counts[kind] >= 0, name


def _counts(**over):
    base = {
        "shuffles": 1, "broadcasts": 1, "sorts": 1, "scans": 2,
        "python": 0, "row_udf": 0, "cartesian": 0, "bnlj": 0, "nodes": 9,
    }
    base.update(over)
    return base


class TestCompare:
    """The compare mode's verdict logic on synthetic ledgers: hostile
    growth fails, neutral drift and hostile improvement only note,
    membership changes note (full walk) or stay silent (subset), and a
    row-UDF node fails regardless of the pin."""

    def test_clean_match_passes(self):
        from scripts.plan_budget import compare

        cur = {"q": _counts()}
        failures, notes = compare(cur, {"q": _counts()})
        assert failures == [] and notes == []

    def test_hostile_growth_fails_and_improvement_notes(self):
        from scripts.plan_budget import compare

        failures, notes = compare(
            {"grew": _counts(shuffles=3), "shrank": _counts(python=0)},
            {"grew": _counts(shuffles=1), "shrank": _counts(python=2)},
        )
        assert any("grew: shuffles 1 -> 3" in f for f in failures)
        assert not any("shrank" in f for f in failures)
        assert any("shrank" in n and "improved" in n for n in notes)

    def test_neutral_drift_notes_not_fails(self):
        from scripts.plan_budget import compare

        failures, notes = compare(
            {"q": _counts(sorts=5, broadcasts=0)}, {"q": _counts()}
        )
        assert failures == []
        assert len(notes) == 1 and "drift" in notes[0]

    def test_row_udf_fails_even_if_pinned(self):
        from scripts.plan_budget import compare

        # a pin that (wrongly) contains a row UDF must not license one
        failures, _ = compare(
            {"q": _counts(row_udf=1, python=1)},
            {"q": _counts(row_udf=1, python=1)},
        )
        assert any("row-UDF ban" in f for f in failures)

    def test_membership_changes_note_full_walk_only(self):
        from scripts.plan_budget import compare

        cur, pin = {"new": _counts()}, {"old": _counts()}
        _, notes_full = compare(cur, pin, subset=False)
        assert any("new entry" in n for n in notes_full)
        assert any("not in catalog" in n for n in notes_full)
        _, notes_sub = compare(cur, pin, subset=True)
        assert any("new entry" in n for n in notes_sub)
        assert not any("not in catalog" in n for n in notes_sub)


class TestWriteLedger:
    """``--write --only`` must MERGE the subset into the existing
    ledger, never replace it (a subset write that truncated the
    268-entry pin would silently disable the budget for every other
    entry); a full-walk ``--write`` replaces."""

    def test_subset_write_merges_not_truncates(self, tmp_path):
        from scripts.plan_budget import write_ledger

        path = str(tmp_path / "ledger.json")
        full = {"a": _counts(), "b": _counts(), "c": _counts()}
        write_ledger(path, full, only=False, sf_dir="sf")
        out = write_ledger(
            path, {"b": _counts(shuffles=9)}, only=True, sf_dir="sf"
        )
        assert set(out) == {"a", "b", "c"}
        assert out["b"]["shuffles"] == 9 and out["a"] == _counts()
        with open(path) as f:
            on_disk = json.load(f)
        assert on_disk["n_entries"] == 3
        assert set(on_disk["entries"]) == {"a", "b", "c"}

    def test_subset_write_without_ledger_starts_empty(self, tmp_path):
        from scripts.plan_budget import write_ledger

        path = str(tmp_path / "ledger.json")
        out = write_ledger(path, {"a": _counts()}, only=True, sf_dir="sf")
        assert out == {"a": _counts()}
        with open(path) as f:
            assert json.load(f)["entries"] == {"a": _counts()}

    def test_full_write_replaces(self, tmp_path):
        from scripts.plan_budget import write_ledger

        path = str(tmp_path / "ledger.json")
        write_ledger(path, {"a": _counts(), "b": _counts()}, False, "sf")
        out = write_ledger(path, {"a": _counts()}, only=False, sf_dir="sf")
        assert set(out) == {"a"}

"""``bench.py``'s per-run archive line: payload plus run metadata."""

from __future__ import annotations

import json


def test_run_metadata_wins_over_payload_keys(monkeypatch):
    import bench

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    payload = json.dumps(
        {"value": 1.5, "cpus": "payload", "sf_dir": "payload", "wall_unix": -1}
    )
    rec = bench.run_record(payload, "/data/sf0.1")
    assert rec["value"] == 1.5
    assert rec["cpus"] == "8"
    assert rec["sf_dir"] == "/data/sf0.1"
    assert rec["wall_unix"] > 0

"""bench.py's round-over-round comparison must never sink a timed run."""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import bench


def _snapshot(path: Path, sf: float, queries: dict[str, float]) -> None:
    path.write_text(json.dumps({"sf": sf, "queries": queries}))


def test_vs_prev_round_skips_non_round_snapshots(tmp_path):
    _snapshot(tmp_path / "BENCH_FULL_r8.json", 0.1, {"a": 4.0, "b": 4.0})
    _snapshot(tmp_path / "BENCH_FULL_r10.json", 0.1, {"a": 2.0, "b": 2.0})
    # same-day reruns share the prefix but are not round snapshots; the
    # old parser did int("9_sameday") on this name after every row had run
    _snapshot(tmp_path / "BENCH_FULL_r9_sameday.json", 0.1, {"a": 1.0})
    _snapshot(tmp_path / "BENCH_FULL_r11.json.bak", 0.1, {"a": 1.0})
    got = bench._vs_prev_round(str(tmp_path), 0.1, {"a": 3.0, "b": 3.0, "c": 9.0})
    assert got == {
        "prev_round": 10,
        "n_common": 2,
        "cur_common_sec": 6.0,
        "prev_common_sec": 4.0,
        "ratio": 1.5,
    }


def test_vs_prev_round_tolerates_bad_and_missing_snapshots(tmp_path):
    assert bench._vs_prev_round(str(tmp_path), 0.1, {"a": 1.0}) is None
    (tmp_path / "BENCH_FULL_r9_sameday.json").write_text("{}")
    assert bench._vs_prev_round(str(tmp_path), 0.1, {"a": 1.0}) is None
    (tmp_path / "BENCH_FULL_r10.json").write_text("not json")
    assert bench._vs_prev_round(str(tmp_path), 0.1, {"a": 1.0}) is None
    _snapshot(tmp_path / "BENCH_FULL_r10.json", 0.01, {"a": 1.0})
    assert bench._vs_prev_round(str(tmp_path), 0.1, {"a": 1.0}) is None
    assert bench._vs_prev_round(str(tmp_path / "missing"), 0.1, {"a": 1.0}) is None

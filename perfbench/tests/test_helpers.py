"""Tests for the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402
from perfbench.oracle import Oracle, where  # noqa: E402
from perfbench.workload import DECKS, Dealer, make_request, reference_namespace  # noqa: E402


# ------------------------------------------------------------ percentiles
def test_percentile_nearest_rank():
    values = list(range(1, 101))
    assert stats.percentile(values, 50) == 50
    assert stats.percentile(values, 95) == 95
    assert stats.percentile([7.0], 99) == 7.0


def test_samples_beyond_and_supported_percentile():
    # p95 keeps ten samples above it from 200 samples on, not before
    assert stats.samples_beyond(200, 95) == 10
    assert stats.samples_beyond(199, 95) == 9
    assert stats.highest_supported_percentile(200) == 95
    assert stats.highest_supported_percentile(199) == 90
    assert stats.highest_supported_percentile(40) == 75
    assert stats.highest_supported_percentile(15) is None


def test_tail_reports_sample_count_and_support():
    t = stats.tail([float(i) for i in range(40)], 75)
    assert t["samples"] == 40 and t["beyond"] == 10 and t["supported"]
    t = stats.tail([float(i) for i in range(39)], 75)
    assert t["samples"] == 39 and t["beyond"] == 9 and not t["supported"]


# --------------------------------------------------------------- failures
def test_tally_counts_wrong_answers_as_failures():
    tally = stats.Tally()
    tally.record(True)
    tally.record(False, "mismatch: /filter?x")
    tally.record(False, "http 500: boom")
    tally.record(True)
    assert (tally.attempted, tally.failed) == (4, 2)
    assert tally.failed_frac == 0.5
    assert tally.reasons == {"mismatch": 1, "http 500": 1}


def test_empty_tally_is_all_failed():
    assert stats.Tally().failed_frac == 1.0


def test_ingest_version_tracking_rejects_going_back():
    from perfbench.run import Versions

    v = Versions([100, 300, 500])
    assert v._version_of({"body": b"300"}) == 1
    v.current = 2
    assert v._version_of({"body": b"300"}) is None  # served an older snapshot
    assert v._version_of({"body": b"401"}) is None  # matches no version


# ----------------------------------------------------------------- decks
def test_same_seed_same_requests():
    ns = reference_namespace(2, 3)
    a = [Dealer("rest_interactive", 7, ns).deal().url for _ in range(40)]
    b = [Dealer("rest_interactive", 7, ns).deal().url for _ in range(40)]
    c = [Dealer("rest_interactive", 8, ns).deal().url for _ in range(40)]
    assert a == b and a != c


def test_one_deck_pass_deals_every_card():
    ns = reference_namespace(2, 3)
    dealer = Dealer("sweep_heavy", 1, ns)
    kinds = sorted(dealer.deal().kind for _ in DECKS["sweep_heavy"])
    assert kinds == sorted(DECKS["sweep_heavy"])


def test_where_translates_deck_filters():
    assert where("fileSize:gt:1024,user:eq:etl", "type = 'file'") == (
        "type = 'file' AND \"fileSize\" > 1024 AND \"user\" = 'etl'"
    )
    assert where(None) == "TRUE"


# ---------------------------------------------------------------- oracle
@pytest.fixture(scope="module")
def tiny():
    duckdb = pytest.importorskip("duckdb")
    from nnanalytics_spark.inode import fixture

    pdf = fixture.generate_pandas(levels=2, dirs_per_level=3, files_per_dir=12, seed=5)
    con = duckdb.connect()
    con.register("tiny_pdf", pdf)
    con.execute("CREATE TABLE tiny AS SELECT * FROM tiny_pdf")
    return Oracle(con), pdf[pdf["type"] == "file"], pdf


def _check(oracle, req, body):
    return oracle.check(req, "tiny", 200, body.encode())


def test_oracle_filter_sum_and_histogram(tiny):
    oracle, files, _ = tiny
    req = make_request("filter_sum", random.Random(0), reference_namespace(2, 3))
    req.params.update(filters="fileSize:gt:1024,user:eq:etl", sum="fileSize")
    sel = files[(files.fileSize > 1024) & (files.user == "etl")]
    assert _check(oracle, req, str(int(sel.fileSize.sum()))) == (True, "")
    assert not _check(oracle, req, str(int(sel.fileSize.sum()) + 1))[0]

    req = make_request("hist_user", random.Random(0), reference_namespace(2, 3))
    req.params.update(sum="count", filters="fileSize:gt:0")
    want = files[files.fileSize > 0].groupby("user").size().to_dict()
    assert _check(oracle, req, json.dumps({k: int(v) for k, v in want.items()}))[0]
    want[next(iter(want))] += 1
    assert not _check(oracle, req, json.dumps({k: int(v) for k, v in want.items()}))[0]


def test_oracle_consistency_divide_summary_paths(tiny):
    oracle, files, pdf = tiny
    ns = reference_namespace(2, 3)
    req = make_request("hist_filetype", random.Random(0), ns)
    req.params["filters"] = "user:eq:hdfs"
    n = int((files.user == "hdfs").sum())
    assert _check(oracle, req, json.dumps({"A": n - 1, "B": 1}))[0]
    assert not _check(oracle, req, json.dumps({"A": n, "B": 1}))[0]

    req = make_request("divide", random.Random(0), ns)
    sel = files[files.user == req.params["filters1"].split(":")[2]]
    ratio = (sel.fileSize * sel.fileReplica).sum() / sel.fileSize.sum()
    assert _check(oracle, req, repr(float(ratio)))[0]
    assert not _check(oracle, req, repr(float(ratio) * 1.01))[0]

    req = make_request("summary", random.Random(0), ns)
    req.params["path"] = "/dir1"
    sub = pdf[(pdf.path == "/dir1") | pdf.path.str.startswith("/dir1/")]
    sub_files = sub[sub.type == "file"]
    body = {"fileCount": len(sub_files), "dirCount": int((sub.type == "dir").sum()),
            "length": int(sub_files.fileSize.sum()),
            "spaceConsumed": int((sub_files.fileSize * sub_files.fileReplica).sum())}
    assert _check(oracle, req, json.dumps(body))[0]
    body["dirCount"] += 1
    assert not _check(oracle, req, json.dumps(body))[0]

    req = make_request("paths", random.Random(0), ns)
    req.params["filters"] = "fileSize:gt:0,user:eq:etl"
    paths = sorted(files[(files.fileSize > 0) & (files.user == "etl")].path)[:1000]
    assert len(paths) >= 2
    assert _check(oracle, req, "\n".join(paths) + "\n")[0]
    assert not _check(oracle, req, "\n".join(reversed(paths)) + "\n")[0]


def test_oracle_subtree_histogram_matches_a_path_walk(tiny):
    oracle, files, pdf = tiny
    req = make_request("subtree", random.Random(0), reference_namespace(2, 3))
    req.params["filters"] = "dirSubTreeNumFiles:gt:20"
    want: dict[str, int] = {}
    for d in pdf[pdf.type == "dir"].itertuples():
        under = files.path.str.startswith("/" if d.path == "/" else d.path + "/").sum()
        if under > 20:
            want[d.user] = want.get(d.user, 0) + 1
    assert want, "the tiny namespace must have dirs above the threshold"
    assert _check(oracle, req, json.dumps(want))[0]
    want[next(iter(want))] += 1
    assert not _check(oracle, req, json.dumps(want))[0]


def test_oracle_counts_http_errors_as_failures(tiny):
    oracle, _, _ = tiny
    req = make_request("probe", None, None)
    ok, why = oracle.check(req, "tiny", 500, b"boom")
    assert not ok and why.startswith("http 500")
    ok, why = oracle.check(req, "tiny", 200, b"not a number")
    assert not ok and why.startswith("unparseable")

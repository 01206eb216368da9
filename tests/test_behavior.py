"""Closed-form tests for the behavior / retrieval / layout operators
added late in r4: funnel, retention, BM25, paragraph dedup, shard-layout
verification, compaction."""

from __future__ import annotations

import hashlib
import math
import os

import pytest
from pyspark.sql import functions as F

from nnanalytics_spark.pipeline import behavior, retrieval
from nnanalytics_spark.pipeline.dedup import paragraph_dedup
from nnanalytics_spark.sources import layout


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, user_id long, ts_us long, event_type string"
    )


class TestFunnel:
    def test_strict_order_progression(self, spark):
        ev = _events(
            spark,
            [
                # u1 completes the funnel in order
                (1, 1, 100, "view"),
                (2, 1, 200, "click"),
                (3, 1, 300, "purchase"),
                # u2 clicks before viewing: click can't count, funnel stops at view
                (4, 2, 100, "click"),
                (5, 2, 200, "view"),
                # u3 views only
                (6, 3, 100, "view"),
                # u4 never views: purchase/click alone count nothing
                (7, 4, 100, "purchase"),
                (8, 4, 200, "click"),
            ],
        )
        out = behavior.funnel_steps(
            ev, ["view", "click", "purchase"], ts="ts_us"
        )
        got = {r["step"]: (r["event_type"], r["users"]) for r in out.collect()}
        assert got == {1: ("view", 3), 2: ("click", 1), 3: ("purchase", 1)}

    def test_equal_timestamps_do_not_advance(self, spark):
        ev = _events(spark, [(1, 1, 100, "view"), (2, 1, 100, "click")])
        out = behavior.funnel_steps(ev, ["view", "click"], ts="ts_us")
        got = {r["step"]: r["users"] for r in out.collect()}
        assert got == {1: 1, 2: 0}

    def test_later_view_cannot_resurrect_earlier_click(self, spark):
        # Greedy earliest-first is what the SQL oracle computes: the
        # click at t=50 precedes the first view, so step 2 is empty even
        # though (view@100, no later click) exists.
        ev = _events(spark, [(1, 1, 50, "click"), (2, 1, 100, "view")])
        out = behavior.funnel_steps(ev, ["view", "click"], ts="ts_us")
        got = {r["step"]: r["users"] for r in out.collect()}
        assert got == {1: 1, 2: 0}


class TestRetention:
    def test_cohort_and_offsets(self, spark):
        ev = spark.createDataFrame(
            [
                (1, "2024-01-01 10:00:00"),
                (1, "2024-01-09 10:00:00"),  # day 8 → week 1
                (2, "2024-01-02 00:00:00"),
                (2, "2024-01-02 23:59:59"),  # same day → week 0 once
            ],
            "user_id long, ts string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        out = behavior.retention_cohorts(ev)
        got = {
            (str(r["cohort_day"]), r["week_offset"]): r["active_users"]
            for r in out.collect()
        }
        assert got == {
            ("2024-01-01", 0): 1,
            ("2024-01-01", 1): 1,
            ("2024-01-02", 0): 1,
        }


class TestBM25:
    def test_rare_term_outranks_common(self, spark):
        docs = spark.createDataFrame(
            [
                (0, "rare word word"),
                (1, "word word word"),
                (2, "word other other"),
                (3, "other other other"),
            ],
            "doc_id long, text string",
        )
        out = retrieval.bm25_topk(docs, ["rare", "word"], k=3)
        rows = out.collect()
        assert [r["doc_id"] for r in rows][0] == 0  # unique term dominates
        assert len(rows) == 3
        # closed-form check for doc 0: N=4, df(rare)=1, df(word)=3, dl=3, avgdl=3
        idf_rare = math.log(1 + (4 - 1 + 0.5) / 1.5)
        idf_word = math.log(1 + (4 - 3 + 0.5) / 3.5)
        s = idf_rare * (1 * 2.2) / (1 + 1.2) + idf_word * (2 * 2.2) / (2 + 1.2)
        assert abs(rows[0]["score"] - round(s, 6)) < 1e-9

    def test_k_boundary_tiebreak_is_doc_id(self, spark):
        docs = spark.createDataFrame(
            [(i, "same text here") for i in range(5)], "doc_id long, text string"
        )
        out = retrieval.bm25_topk(docs, ["same"], k=2)
        assert [r["doc_id"] for r in out.collect()] == [0, 1]


class TestParagraphDedup:
    def test_first_occurrence_wins_and_rewrite_hash(self, spark):
        a = " ".join(["w%d" % i for i in range(16)])  # chunk A
        b = " ".join(["x%d" % i for i in range(16)])  # chunk B
        docs = spark.createDataFrame(
            [(0, f"{a} {b}"), (1, f"{b} {a}"), (2, a)],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in paragraph_dedup(docs, 16).collect()}
        # doc 0 keeps both chunks; docs 1/2 lose everything they share
        assert (out[0]["n_chunks"], out[0]["n_kept"]) == (2, 2)
        assert (out[1]["n_chunks"], out[1]["n_kept"]) == (2, 0)
        assert (out[2]["n_chunks"], out[2]["n_kept"]) == (1, 0)
        assert out[0]["text_md5"] == hashlib.md5(f"{a} {b}".encode()).hexdigest()
        assert out[1]["text_md5"] == hashlib.md5(b"").hexdigest()


class TestShardLayout:
    def test_valid_layout_passes(self, spark, tmp_path):
        df = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        d = str(tmp_path)
        layout.range_shard_write(df, d, "k", num_shards=4)
        row = layout.verify_shard_layout(spark, d, "k").collect()[0]
        assert row["n_shards"] == 4
        assert row["total_rows"] == 1000
        assert row["distinct_keys"] == 1000
        assert bool(row["all_sorted"]) is True
        assert row["overlap_pairs"] == 0

    def test_hash_partitioned_layout_is_flagged(self, spark, tmp_path):
        # hash partitioning interleaves key ranges → overlaps must show up
        df = spark.range(0, 1000).select(F.col("id").alias("k"))
        d = str(tmp_path)
        df.repartition(4, "k").write.mode("overwrite").parquet(d)
        row = layout.verify_shard_layout(spark, d, "k").collect()[0]
        assert row["overlap_pairs"] > 0

    def test_unsorted_shard_is_flagged(self, spark, tmp_path):
        df = spark.range(0, 100).select(
            (F.lit(99) - F.col("id")).alias("k")
        ).coalesce(1)
        d = str(tmp_path)
        df.write.mode("overwrite").parquet(d)
        row = layout.verify_shard_layout(spark, d, "k").collect()[0]
        assert bool(row["all_sorted"]) is False


class TestCompaction:
    def test_counts_and_content(self, spark, tmp_path):
        base = str(tmp_path)
        small, out = f"{base}/in", f"{base}/out"
        spark.range(0, 500).repartition(8).write.parquet(small)
        before, after = layout.compact_small_files(spark, small, out, 2)
        assert (before, after) == (8, 2)
        assert spark.read.parquet(out).count() == 500


class TestInterEventGaps:
    def test_gaps_are_per_user_per_type(self, spark):
        ev = _events(
            spark,
            [
                (1, 1, 1_000_000, "view"),
                (2, 1, 3_000_000, "view"),   # gap 2 s
                (3, 1, 2_000_000, "click"),  # different type: no gap with views
                (4, 2, 10_000_000, "view"),  # different user: no cross-user gap
                (5, 2, 14_000_000, "view"),  # gap 4 s
            ],
        )
        from nnanalytics_spark.pipeline.behavior import inter_event_gaps

        out = {r["event_type"]: r for r in inter_event_gaps(ev).collect()}
        assert "click" not in out  # a single event has no gap
        v = out["view"]
        assert v["n_gaps"] == 2
        assert v["mean_gap_s"] == 3.0
        assert v["p50_gap_s"] == 3.0  # interpolated between 2 and 4


class TestSampleKPerGroup:
    def test_exact_k_and_determinism(self, spark):
        from nnanalytics_spark.pipeline.sampling import sample_k_per_group

        docs = spark.createDataFrame(
            [(i, "s%d" % (i % 3)) for i in range(100)], "doc_id long, source string"
        )
        a = sample_k_per_group(docs, "source", k=5, id_col="doc_id")
        counts = {r["source"]: r["n"] for r in a.groupBy("source").agg(
            F.count(F.lit(1)).alias("n")).collect()}
        assert counts == {"s0": 5, "s1": 5, "s2": 5}
        assert sorted(map(tuple, a.collect())) == sorted(
            map(tuple, sample_k_per_group(docs, "source", k=5).collect())
        )

    def test_small_stratum_keeps_all(self, spark):
        from nnanalytics_spark.pipeline.sampling import sample_k_per_group

        docs = spark.createDataFrame(
            [(1, "tiny"), (2, "tiny")], "doc_id long, source string"
        )
        assert sample_k_per_group(docs, "source", k=5).count() == 2


class TestZoneMap:
    def test_prune_skips_files_and_preserves_answer(self, spark, tmp_path):
        d = str(tmp_path)
        df = spark.range(0, 10_000).select(F.col("id").alias("k"))
        layout.range_shard_write(df, d, "k", num_shards=8)
        zmap = layout.zone_map(spark, d, "k")
        assert zmap.count() == 8
        files = layout.prune_files(spark, zmap, 2_000, 2_999)
        assert 0 < len(files) < 8  # the index actually skipped shards
        got = (
            spark.read.parquet(*files)
            .filter(F.col("k").between(2_000, 2_999))
            .count()
        )
        assert got == 1000


class TestSchemaEvolution:
    def test_legacy_files_surface_nulls(self, spark, tmp_path):
        base = str(tmp_path)
        spark.range(0, 10).select(F.col("id")).write.parquet(f"{base}/v1")
        spark.range(10, 20).select(
            F.col("id"), F.lit("new").alias("tag")
        ).write.parquet(f"{base}/v2")
        merged = layout.read_merged_schema(spark, base)
        assert set(merged.columns) == {"id", "tag"}
        assert merged.filter(F.col("tag").isNull()).count() == 10


class TestTwoStageDistinct:
    def test_matches_count_distinct(self, spark):
        from nnanalytics_spark.core.aggregates import exact_distinct_two_stage

        df = spark.createDataFrame(
            [(i % 4, i % 7) for i in range(200)], "g int, v int"
        )
        got = {r["g"]: r["n_distinct"] for r in
               exact_distinct_two_stage(df, "g", "v").collect()}
        want = {r["g"]: r["n"] for r in df.groupBy("g").agg(
            F.count_distinct("v").alias("n")).collect()}
        assert got == want


class TestIntegrityAudits:
    def test_orphans_detected(self, spark):
        from nnanalytics_spark.core.profile import pk_uniqueness, referential_integrity

        child = spark.createDataFrame(
            [(1,), (2,), (2,), (9,), (None,)], "fk long"
        )
        parent = spark.createDataFrame([(1,), (2,), (3,)], "pk long")
        row = referential_integrity(child, parent, "fk", "pk").collect()[0]
        assert row["orphan_rows"] == 1          # the fk=9 row
        assert row["distinct_orphan_keys"] == 1
        assert row["null_fk_rows"] == 1
        dup = pk_uniqueness(child.filter(F.col("fk").isNotNull()), "fk").collect()[0]
        assert (dup["total_rows"], dup["distinct_keys"], dup["duplicate_rows"]) == (4, 3, 1)


class TestIncrementalRollup:
    def test_merge_equals_full_recompute(self, spark):
        from nnanalytics_spark.core.aggregates import (
            merge_partial_aggregates,
            partial_aggregate,
        )

        df = spark.createDataFrame(
            [(i, "g%d" % (i % 3), float(i)) for i in range(100)],
            "event_id long, event_type string, value double",
        )
        state = partial_aggregate(df.filter(F.col("event_id") < 40), "event_type", "value")
        batch = partial_aggregate(df.filter(F.col("event_id") >= 40), "event_type", "value")
        merged = merge_partial_aggregates(state, batch, "event_type")
        full = partial_aggregate(df, "event_type", "value")
        got = {r["event_type"]: (r["cnt"], float(r["sum_value"])) for r in merged.collect()}
        want = {r["event_type"]: (r["cnt"], float(r["sum_value"])) for r in full.collect()}
        assert got == want

    def test_merge_handles_new_and_missing_keys(self, spark):
        from nnanalytics_spark.core.aggregates import (
            merge_partial_aggregates,
            partial_aggregate,
        )

        a = spark.createDataFrame([(1, "x", 1.0)], "event_id long, event_type string, value double")
        b = spark.createDataFrame([(2, "y", 2.0)], "event_id long, event_type string, value double")
        merged = merge_partial_aggregates(
            partial_aggregate(a, "event_type", "value"),
            partial_aggregate(b, "event_type", "value"),
            "event_type",
        )
        got = {r["event_type"]: r["cnt"] for r in merged.collect()}
        assert got == {"x": 1, "y": 1}


class TestHourlyAnomalies:
    def test_spike_is_flagged(self, spark):
        from nnanalytics_spark.pipeline.behavior import hourly_anomalies

        # 9 quiet hours at 10 events + one 100-event spike
        rows = []
        eid = 0
        for h in range(10):
            n = 100 if h == 5 else 10
            for i in range(n):
                rows.append((eid, 1, "2024-01-01 %02d:00:%02d" % (h, i % 60), "view"))
                eid += 1
        ev = spark.createDataFrame(
            rows, "event_id long, user_id long, ts string, event_type string"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        out = hourly_anomalies(ev, z_threshold=2.0)
        got = out.collect()
        assert len(got) == 1
        assert got[0]["cnt"] == 100 and got[0]["z"] > 2


class TestEventTransitions:
    def test_matrix_counts_and_probs(self, spark):
        from nnanalytics_spark.pipeline.behavior import event_transitions

        ev = _events(
            spark,
            [
                (1, 1, 100, "a"), (2, 1, 200, "b"), (3, 1, 300, "a"),
                (4, 2, 100, "a"), (5, 2, 200, "b"),
            ],
        )
        got = {(r["from_type"], r["to_type"]): (r["cnt"], r["p"])
               for r in event_transitions(ev).collect()}
        assert got == {("a", "b"): (2, 1.0), ("b", "a"): (1, 1.0)}


class TestHLLRollup:
    def test_merged_sketch_matches_exact_within_bound(self, spark):
        from nnanalytics_spark.core.aggregates import (
            hll_estimate,
            hll_partial,
            merge_hll_partials,
        )

        df = spark.createDataFrame(
            [(i, "g", i % 500) for i in range(2000)],
            "event_id long, event_type string, user_id long",
        )
        a = hll_partial(df.filter(F.col("event_id") < 1000), "event_type", "user_id")
        b = hll_partial(df.filter(F.col("event_id") >= 1000), "event_type", "user_id")
        est = hll_estimate(merge_hll_partials(a, b, "event_type"), "event_type")
        got = est.collect()[0]["approx_distinct"]
        assert abs(got - 500) / 500 <= 0.05


class TestStats:
    def test_trend_recovers_known_slope(self, spark):
        from nnanalytics_spark.pipeline import stats

        # y = 2.0 * hour + 5.0, exact
        rows = [
            (i, "g", i * 3_600_000_000, 2.0 * i + 5.0) for i in range(10)
        ]
        ev = spark.createDataFrame(
            rows, "event_id long, event_type string, ts_us long, value double"
        )
        r = stats.trend_by_group(ev).collect()[0]
        assert r["slope_per_hour"] == 2.0
        assert r["intercept"] == 5.0
        assert r["pearson_r"] == 1.0

    def test_chi_square_zero_for_independent_uniform(self, spark):
        from nnanalytics_spark.pipeline import stats

        # 2 types × 2 hours, perfectly proportional counts → chi2 == 0
        rows = []
        eid = 0
        for t, h, n in [("a", 0, 10), ("a", 1, 20), ("b", 0, 30), ("b", 1, 60)]:
            for _ in range(n):
                rows.append((eid, t, h * 3_600_000_000))
                eid += 1
        ev = spark.createDataFrame(rows, "event_id long, event_type string, ts_us long")
        r = stats.chi_square_independence(ev).collect()[0]
        assert r["chi2"] == 0.0
        assert r["dof"] == 1
        assert r["cells"] == 4

    def test_winsorized_mean_resists_outlier(self, spark):
        from nnanalytics_spark.pipeline import stats

        vals = [float(i) for i in range(1, 20)] + [10_000.0]
        ev = spark.createDataFrame(
            [(i, "g", v) for i, v in enumerate(vals)],
            "event_id long, event_type string, value double",
        )
        r = stats.winsorized_stats(ev).collect()[0]
        raw_mean = sum(vals) / len(vals)
        assert r["winsorized_mean"] < raw_mean / 5  # outlier clamped away
        assert r["clamp_hi"] < 10_000.0


class TestReviewEdgeCases:
    """Regressions for the r4 code-review findings: ANSI divide-by-zero
    guards, NULL-distinct semantics, under-split compaction, NULL-stats
    pruning."""

    def test_anomalies_survive_zero_variance_type(self, spark):
        from nnanalytics_spark.pipeline.behavior import hourly_anomalies

        # 'solo' lives in exactly one hour bucket → n=1, var=0: must be
        # skipped, not crash the query under ANSI mode
        rows = [(0, 1, "2024-01-01 03:00:00", "solo")]
        eid = 1
        for h in range(10):
            n = 100 if h == 5 else 10
            for i in range(n):
                rows.append((eid, 1, "2024-01-01 %02d:00:%02d" % (h, i % 60), "view"))
                eid += 1
        ev = spark.createDataFrame(
            rows, "event_id long, user_id long, ts string, event_type string"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        out = hourly_anomalies(ev, z_threshold=2.0).collect()
        assert {r["event_type"] for r in out} == {"view"}

    def test_trend_degenerate_groups_yield_null_not_crash(self, spark):
        from nnanalytics_spark.pipeline import stats

        ev = spark.createDataFrame(
            [
                (0, "single", 0, 5.0),                     # n=1: var_x=var_y=0
                (1, "flat_y", 0, 7.0),                     # constant value
                (2, "flat_y", 3_600_000_000, 7.0),
                (3, "ok", 0, 1.0),
                (4, "ok", 3_600_000_000, 2.0),
            ],
            "event_id long, event_type string, ts_us long, value double",
        )
        got = {r["event_type"]: r for r in stats.trend_by_group(ev).collect()}
        assert got["single"]["slope_per_hour"] is None
        assert got["single"]["pearson_r"] is None
        assert got["flat_y"]["slope_per_hour"] == 0.0   # var_x>0, var_y=0
        assert got["flat_y"]["pearson_r"] is None
        assert got["ok"]["slope_per_hour"] == 1.0

    def test_two_stage_distinct_null_semantics(self, spark):
        from nnanalytics_spark.core.aggregates import exact_distinct_two_stage

        df = spark.createDataFrame(
            [("a", 1), ("a", 2), ("a", None), ("b", None)], "g string, v int"
        )
        got = {r["g"]: r["n_distinct"] for r in
               exact_distinct_two_stage(df, "g", "v").collect()}
        # count(DISTINCT v): NULL never counts, all-NULL group shows 0
        assert got == {"a": 2, "b": 0}

    def test_compaction_reaches_target_when_scan_undersplits(self, spark, tmp_path):
        base = str(tmp_path)
        small, out = f"{base}/in", f"{base}/out"
        spark.range(0, 100).coalesce(1).write.parquet(small)  # 1 tiny file
        before, after = layout.compact_small_files(spark, small, out, 4)
        assert (before, after) == (1, 4)
        assert spark.read.parquet(out).count() == 100

    def test_prune_keeps_files_with_null_stats(self, spark):
        zmap = spark.createDataFrame(
            [("f_in", 100, 0, 10), ("f_out", 100, 50, 60), ("f_null", 100, None, None)],
            "file string, n_rows long, min_key long, max_key long",
        )
        assert layout.prune_files(spark, zmap, 0, 20) == ["f_in", "f_null"]

    def test_integrity_audit_on_empty_child_is_zero(self, spark):
        from nnanalytics_spark.core.profile import referential_integrity

        child = spark.createDataFrame([], "fk long")
        parent = spark.createDataFrame([(1,)], "pk long")
        row = referential_integrity(child, parent, "fk", "pk").collect()[0]
        assert (row["orphan_rows"], row["null_fk_rows"]) == (0, 0)


class TestEarlyR4ReviewFixes:
    """Regressions for the early-r4 review findings."""

    def test_span_removal_survives_short_docs(self, spark):
        from nnanalytics_spark.pipeline.dedup import remove_dup_spans

        docs = spark.createDataFrame(
            [(0, "only three tokens"), (1, "a b c d e f g h i j"),
             (2, "a b c d e f g h i j")],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in remove_dup_spans(docs, n=8).collect()}
        assert out[0]["n_removed"] == 0           # short doc untouched, no crash
        assert out[0]["clean_text"] == "only three tokens"
        assert out[2]["n_removed"] > 0            # dup doc still rewritten

    def test_cms_absent_token_estimates_zero(self, spark):
        from nnanalytics_spark.pipeline.text import count_min_estimates, count_min_table

        docs = spark.createDataFrame([(0, "aa aa bb")], "doc_id long, text string")
        sketch = count_min_table(docs, width=64)
        q = spark.createDataFrame([("zz_absent",), ("aa",)], "tok string")
        got = {r["tok"]: r["cms_estimate"] for r in
               count_min_estimates(sketch, q, width=64).collect()}
        assert got["aa"] >= 2
        assert "zz_absent" in got        # absent token must NOT vanish
        assert got["zz_absent"] >= 0     # and min includes empty buckets

    def test_malformed_basic_auth_is_auth_error(self):
        from nnanalytics_spark.core.authn import (
            AuthenticationError,
            LocalPasswordSet,
            SecurityManager,
        )

        sm = SecurityManager(local=LocalPasswordSet({"u": "p"}))
        import pytest as _pytest

        with _pytest.raises(AuthenticationError):
            sm.resolve(authorization="Basic !!!not-base64!!!")
        with _pytest.raises(AuthenticationError):
            sm.resolve(authorization="Basic " + "//5hAGIA")  # non-UTF-8 bytes

    def test_jwt_revocation_set_prunes_expired(self):
        from nnanalytics_spark.core.authn import JwtManager

        clock = [1_000_000_000_000]
        jm = JwtManager(secret="s", ttl_ms=1000, now_ms=lambda: clock[0])
        t1 = jm.generate("u")
        jm.revoke(t1)
        assert len(jm._revoked) == 1
        clock[0] += 10_000            # t1 now expired
        t2 = jm.generate("u")
        jm.revoke(t2)                 # prune happens on revoke
        assert t1 not in jm._revoked and t2 in jm._revoked


class TestR3ReviewFixes:
    """Regressions for the r3-range review findings (codec hardening,
    zero-frame videos)."""

    def test_zero_frame_avi_falls_back_not_crashes(self, spark):
        import struct

        from nnanalytics_spark.pipeline import codecs

        # structurally-valid AVI with headers but an empty movi list
        avih = struct.pack("<10I", 33333, 0, 0, 0, 0, 0, 1, 0, 8, 8) + b"\x00" * 16
        hdrl = b"avih" + struct.pack("<I", len(avih)) + avih
        hdrl_list = b"LIST" + struct.pack("<I", 4 + len(hdrl)) + b"hdrl" + hdrl
        movi_list = b"LIST" + struct.pack("<I", 4) + b"movi"
        body = b"AVI " + hdrl_list + movi_list
        payload = b"RIFF" + struct.pack("<I", len(body)) + body
        meta = codecs.decode_avi(payload)
        assert meta["n_frames"] == 0

        from nnanalytics_spark.pipeline.multimodal import sample_frames

        df = spark.createDataFrame(
            [(1, "video", payload, {"duration_ms": 2000})],
            "media_id long, kind string, payload binary, meta map<string,int>",
        )
        rows = sample_frames(df, every_ms=1000).collect()  # must not IndexError
        assert all(r["payload"] is not None for r in rows)

    def test_truncated_header_chunk_raises_value_error(self):
        import struct

        import pytest as _pytest

        from nnanalytics_spark.pipeline import codecs

        # avih chunk declares size=4 — far short of the 40-byte struct
        avih = b"\x00" * 4
        hdrl = b"avih" + struct.pack("<I", len(avih)) + avih
        hdrl_list = b"LIST" + struct.pack("<I", 4 + len(hdrl)) + b"hdrl" + hdrl
        body = b"AVI " + hdrl_list
        payload = b"RIFF" + struct.pack("<I", len(body)) + body
        with _pytest.raises(ValueError):
            codecs.decode_avi(payload)


class TestR2ReviewFixes:
    """Regressions for the r1/r2-range review findings."""

    def test_multi_transform_triples_are_position_aligned(self, spark, engine):
        from nnanalytics_spark.core.url import parse_url

        # user u1 -> replica 2, user u2 -> replica 3: each condition must
        # keep ITS output (AND-merging them would match nothing)
        _, q = parse_url(
            "/histogram?set=files&type=user&sum=numReplicas"
            "&transformConditions=user:eq:etl;user:eq:web"
            "&transformFields=fileReplica,fileReplica"
            "&transformOutputs=2,3",
            now_ms=0,
        )
        assert len(q.transforms) == 2
        got = {r[0]: r[1] for r in engine.histogram(q).collect()}
        base = {
            r[0]: r[1]
            for r in engine.histogram(
                parse_url("/histogram?set=files&type=user&sum=numBlocks", now_ms=0)[1]
            ).collect()
        }
        # numReplicas = numBlocks * replica: transformed users match their
        # own replacement factor exactly
        assert got["etl"] == base["etl"] * 2
        assert got["web"] == base["web"] * 3

    def test_sql_set_is_request_scoped(self, spark, engine):
        """SET applies to later statements in the SAME request (the
        reference parses each /sql request with a fresh SqlParser) and
        never leaks into other requests."""
        from nnanalytics_spark.sql import dialect
        from nnanalytics_spark.web.server import AnalyticsWebServer

        srv = AnalyticsWebServer(engine, now_ms=0)
        select = "SELECT parentDir, COUNT(*) FROM files GROUP BY parentDir"
        status, _, body = srv.handle(
            "POST", "/sql", "", f"SET parentDirDepth = 1; {select}", "u"
        )
        assert status == 200
        depth1_keys = {line.split(",")[0] for line in body.splitlines()[1:]}
        # every depth-1 parent is a single path segment under /
        assert depth1_keys and all(k.count("/") == 1 for k in depth1_keys)
        # a following request with no SET sees the default depth again
        status2, _, body2 = srv.handle("POST", "/sql", "", select, "u")
        assert status2 == 200
        default_keys = {line.split(",")[0] for line in body2.splitlines()[1:]}
        expected = {
            r[0]
            for r in dialect.execute(select, engine, dialect.SqlSession()).collect()
        }
        assert default_keys == {str(k) for k in expected}
        assert default_keys != depth1_keys

    def test_sql_set_only_request_returns_empty(self, spark, engine):
        from nnanalytics_spark.web.server import AnalyticsWebServer

        srv = AnalyticsWebServer(engine, now_ms=0)
        status, ctype, body = srv.handle(
            "POST", "/sql", "", "SET parentDirDepth = 5", "u"
        )
        assert status == 200
        import json as _json

        assert _json.loads(body) == []

    def test_dialect_rejects_extra_aggregates(self, spark, engine):
        import pytest as _pytest

        from nnanalytics_spark.sql import dialect

        with _pytest.raises(dialect.UnsupportedSqlError):
            dialect.execute(
                "SELECT user, COUNT(*), SUM(fileSize) FROM files GROUP BY user",
                engine,
            )

    def test_wav_zero_sample_rate_is_value_error(self):
        import struct

        import pytest as _pytest

        from nnanalytics_spark.pipeline import codecs

        fmt = struct.pack("<HHIIHH", 1, 1, 0, 0, 1, 8)  # sample_rate = 0
        chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
        chunks += b"data" + struct.pack("<I", 4) + b"\x00" * 4
        payload = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
        with _pytest.raises(ValueError):
            codecs.decode_wav(payload)


class TestNgramDiversity:
    def test_closed_form(self, spark):
        from nnanalytics_spark.pipeline.text import ngram_diversity

        docs = spark.createDataFrame(
            [
                (0, "a b a b a", "tpl"),   # bigrams: ab ba ab ba → 2 distinct / 4
                (1, "c d e f", "var"),     # 3 distinct / 3
                (2, "x", "var"),           # < n tokens: contributes nothing
            ],
            "doc_id long, text string, source string",
        )
        got = {r["source"]: r for r in ngram_diversity(docs, n=2).collect()}
        assert (got["tpl"]["total_ngrams"], got["tpl"]["distinct_ngrams"]) == (4, 2)
        assert got["tpl"]["diversity"] == 0.5
        assert (got["var"]["total_ngrams"], got["var"]["distinct_ngrams"]) == (3, 3)

    def test_plan_has_no_expand(self, spark):
        from nnanalytics_spark.pipeline.text import ngram_diversity

        docs = spark.createDataFrame(
            [(0, "a b c", "s")], "doc_id long, text string, source string"
        )
        plan = ngram_diversity(docs)._jdf.queryExecution().executedPlan().toString()
        assert "Expand" not in plan, plan

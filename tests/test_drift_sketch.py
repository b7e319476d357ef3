"""Hand-case oracles for the round-6 drift family (operators/drift.py)
and the count-min sketch (operators/sketches.py cms_*), plus the
mergeability / overestimate invariants the sketches must guarantee."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from ts_pymfe_spark.operators.drift import (KS_C_5PCT, daily_drift,
                                            ks_drift, psi_drift)
from ts_pymfe_spark.operators.sketches import (cms_estimate, cms_merge,
                                               cms_sketch, cms_topk)


def _pop(spark, rows):
    return spark.createDataFrame(
        rows, "event_type string, value double, user_id long")


def _grp():
    return F.col("user_id") % 2  # pop 0 = even user_id, pop 1 = odd


class TestKsDrift:
    def test_identical_populations_d_zero(self, spark):
        rows = [("a", float(v), g) for v in (1, 2, 3, 4) for g in (0, 1)]
        out = ks_drift(_pop(spark, rows), _grp()).collect()[0]
        assert out["ks_d"] == 0.0
        assert out["n0"] == out["n1"] == 4
        assert out["drifted"] is False

    def test_disjoint_populations_d_one(self, spark):
        rows = ([("b", float(v), 0) for v in (1, 2)]
                + [("b", float(v), 1) for v in (10, 20)])
        out = ks_drift(_pop(spark, rows), _grp()).collect()[0]
        assert out["ks_d"] == 1.0
        # crit = 1.358 * sqrt(4 / 4) = 1.358: D=1 < crit at n=2+2
        assert out["ks_crit"] == round(KS_C_5PCT, 6)
        assert out["drifted"] is False

    def test_ties_see_full_tie_group(self, spark):
        # F0 steps at 1 -> 2/3, 2 -> 1;  F1: 1 -> 1/3, 3 -> 1.
        # D at x=2: |1 - 1/3| = 2/3  (a ROW frame would miscount ties)
        rows = ([("c", float(v), 0) for v in (1, 1, 2)]
                + [("c", float(v), 1) for v in (1, 3, 3)])
        out = ks_drift(_pop(spark, rows), _grp()).collect()[0]
        assert out["ks_d"] == round(2 / 3, 6)

    def test_empty_side_yields_null(self, spark):
        rows = [("d", float(v), 0) for v in (1, 2, 3)]
        out = ks_drift(_pop(spark, rows), _grp()).collect()[0]
        assert out["n1"] == 0
        assert out["ks_d"] is None and out["drifted"] is None

    def test_large_shift_flags(self, spark):
        rows = ([("e", float(v), 0) for v in range(100)]
                + [("e", float(v + 80), 1) for v in range(100)])
        out = ks_drift(_pop(spark, rows), _grp()).collect()[0]
        assert out["ks_d"] == 0.8
        assert out["drifted"] is True


class TestPsiDrift:
    def test_identical_populations_psi_zero(self, spark):
        rows = [("a", float(v), g) for v in range(20) for g in (0, 1)]
        out = psi_drift(_pop(spark, rows), _grp()).collect()[0]
        assert out["psi"] == 0.0

    def test_degenerate_baseline_null(self, spark):
        rows = ([("b", 5.0, 0) for _ in range(3)]
                + [("b", float(v), 1) for v in (1, 9)])
        out = psi_drift(_pop(spark, rows), _grp()).collect()[0]
        assert out["psi"] is None

    def test_hand_computed_shift(self, spark):
        # baseline 0..9 (one per unit cell, width (9-0)/2 = 4.5 at
        # bins=2): cells 0..1; current all mass in top cell.
        base = [("c", float(v), 0) for v in range(10)]
        cur = [("c", 9.0, 1) for _ in range(10)]
        out = psi_drift(_pop(spark, base + cur), _grp(), bins=2).collect()[0]
        # cells: v<4.5 -> 0 (5 rows), else 1 (5 rows); current: all 1.
        p0, p1 = [0.5, 0.5], [1e-6, 1.0]
        exp = sum((b - a) * math.log(b / a) for a, b in zip(p0, p1))
        assert out["psi"] == round(exp, 6)

    def test_out_of_range_mass_lands_in_edge_cells(self, spark):
        base = [("d", float(v), 0) for v in range(11)]       # 0..10
        cur = ([("d", -100.0, 1)] * 3 + [("d", 100.0, 1)] * 7)
        out = psi_drift(_pop(spark, base + cur), _grp(), bins=10).collect()[0]
        assert out["psi"] is not None and out["psi"] > 0.25  # major shift


class TestDailyDrift:
    def test_profile_and_dod_delta(self, spark):
        rows = [
            ("2025-01-01 10:00:00", 1.0), ("2025-01-01 11:00:00", 3.0),
            ("2025-01-02 10:00:00", 5.0), ("2025-01-02 11:00:00", None),
        ]
        df = spark.createDataFrame(rows, "ts string, value double") \
            .withColumn("ts", F.to_timestamp("ts"))
        out = {r["day"]: r for r in daily_drift(df).collect()}
        d1, d2 = out["2025-01-01"], out["2025-01-02"]
        assert (d1["n"], d1["n_null"], d1["null_frac"]) == (2, 0, 0.0)
        assert d1["mean_v"] == 2.0 and d1["dod_mean_delta"] is None
        assert (d2["n"], d2["n_null"], d2["null_frac"]) == (2, 1, 0.5)
        assert d2["mean_v"] == 5.0  # NULL skipped by avg
        assert d2["dod_mean_delta"] == 3.0
        assert (d2["min_v"], d2["max_v"]) == (5.0, 5.0)

    def test_multi_column_stack(self, spark):
        df = spark.createDataFrame(
            [("2025-01-01 00:00:00", 1.0, 10.0)],
            "ts string, value double, other double") \
            .withColumn("ts", F.to_timestamp("ts"))
        out = daily_drift(df, cols=("value", "other")).collect()
        assert {r["col_name"] for r in out} == {"value", "other"}


def _vals(spark, counts: dict):
    rows = [(k,) for k, n in counts.items() for _ in range(n)]
    return spark.createDataFrame(rows, "val string")


class TestCms:
    COUNTS = {"a": 50, "b": 30, "c": 10, "d": 5, "e": 1}

    def test_estimate_upper_bounds_truth_and_is_exact_when_sparse(
            self, spark):
        df = _vals(spark, self.COUNTS)
        got = {r["val"]: r["est_count"]
               for r in cms_topk(df, "val", k=10).collect()}
        for k, n in self.COUNTS.items():
            assert got[k] >= n          # CMS never undercounts
            assert got[k] == n          # 5 keys in 4x2048: no collisions

    def test_topk_order_and_limit(self, spark):
        df = _vals(spark, self.COUNTS)
        top = cms_topk(df, "val", k=3).collect()
        assert [(r["val"], r["est_count"]) for r in top] == [
            ("a", 50), ("b", 30), ("c", 10)]

    def test_merge_equals_sketch_of_union(self, spark):
        a = _vals(spark, {"a": 5, "b": 7})
        b = _vals(spark, {"a": 3, "c": 2})
        merged = cms_merge(cms_sketch(a, "val"), cms_sketch(b, "val"))
        whole = cms_sketch(a.unionByName(b), "val")
        assert (sorted(map(tuple, merged.collect()))
                == sorted(map(tuple, whole.collect())))
        est = {r["val"]: r["est_count"] for r in cms_estimate(
            merged, a.unionByName(b).select("val").distinct(),
            "val").collect()}
        assert est == {"a": 8, "b": 7, "c": 2}

    def test_null_values_skipped(self, spark):
        df = spark.createDataFrame([("a",), (None,), ("a",)], "val string")
        sk = cms_sketch(df, "val")
        assert sk.agg(F.sum("cnt")).collect()[0][0] == 2 * 4  # d rows each

    def test_sketch_size_bounded(self, spark):
        df = _vals(spark, {f"k{i}": 1 for i in range(500)})
        sk = cms_sketch(df, "val", d=4, w=64).collect()
        assert len(sk) <= 4 * 64


class TestTfidfTopk:
    def test_hand_scores(self, spark):
        from ts_pymfe_spark.operators.textpipe import tfidf_topk
        docs = spark.createDataFrame(
            [(1, "apple apple banana", "s1"),
             (2, "apple cherry", "s1"),
             (3, "banana banana banana", "s2")],
            "doc_id long, text string, source string")
        out = {(r["source"], r["term"]): r
               for r in tfidf_topk(docs, k=10).collect()}
        n = 3
        idf = lambda df_t: math.log((1 + n) / (1 + df_t)) + 1
        # s1: apple tf 2+1=3 docs(df=2); banana tf 1 (df=2); cherry tf 1 (df=1)
        assert out[("s1", "apple")]["score"] == round(3 * idf(2), 6)
        assert out[("s1", "banana")]["score"] == round(1 * idf(2), 6)
        assert out[("s1", "cherry")]["score"] == round(1 * idf(1), 6)
        assert out[("s2", "banana")]["score"] == round(3 * idf(2), 6)
        assert out[("s1", "apple")]["n_docs_stratum"] == 2
        assert out[("s1", "apple")]["rank"] == 1

    def test_k_limit_and_deterministic_ties(self, spark):
        from ts_pymfe_spark.operators.textpipe import tfidf_topk
        docs = spark.createDataFrame(
            [(i, "t%d common" % i, "s") for i in range(5)],
            "doc_id long, text string, source string")
        out = tfidf_topk(docs, k=3).collect()
        assert len(out) == 3
        # unique terms t0..t4 tie on score; term asc breaks the tie
        assert [r["term"] for r in out[1:]] == ["t0", "t1"]


class TestKeyOls:
    def test_exact_line_recovered(self, spark):
        from ts_pymfe_spark.operators.trend import key_ols
        rows = [("k", float(x), 3.0 * x + 7.0) for x in range(10)]
        df = spark.createDataFrame(rows, "k string, x double, y double")
        out = key_ols(df, key="k", x_col="x", y_col="y").collect()[0]
        assert (out["corr_xy"], out["slope"], out["intercept"]) == \
            (1.0, 3.0, 7.0)
        assert out["n"] == 10

    def test_anticorrelated(self, spark):
        from ts_pymfe_spark.operators.trend import key_ols
        rows = [("k", float(x), -2.0 * x) for x in range(5)]
        df = spark.createDataFrame(rows, "k string, x double, y double")
        out = key_ols(df, key="k", x_col="x", y_col="y").collect()[0]
        assert (out["corr_xy"], out["slope"]) == (-1.0, -2.0)

    def test_degenerate_sides_null(self, spark):
        from ts_pymfe_spark.operators.trend import key_ols
        rows = ([("flat_y", float(x), 5.0) for x in range(4)]
                + [("flat_x", 2.0, float(y)) for y in range(4)]
                + [("single", 1.0, 1.0)])
        df = spark.createDataFrame(rows, "k string, x double, y double")
        out = {r["k"]: r for r in
               key_ols(df, key="k", x_col="x", y_col="y").collect()}
        assert out["flat_y"]["corr_xy"] is None      # syy = 0
        assert out["flat_y"]["slope"] == 0.0         # fit still defined
        assert out["flat_x"]["slope"] is None        # sxx = 0
        assert out["single"]["corr_xy"] is None      # n = 1

    def test_timestamp_x_casts_to_epoch(self, spark):
        from ts_pymfe_spark.operators.trend import key_ols
        rows = [("k", "2025-01-01 00:00:%02d" % s, float(s))
                for s in range(10)]
        df = spark.createDataFrame(rows, "k string, ts string, y double") \
            .withColumn("ts", F.to_timestamp("ts"))
        out = key_ols(df, key="k", x_col="ts", y_col="y").collect()[0]
        assert out["slope"] == 1.0 and out["corr_xy"] == 1.0


class TestMovingMedian:
    def test_hand_case_odd_frame(self, spark):
        from ts_pymfe_spark.operators import local_stats as LS
        rows = [("c", i, float(v)) for i, v in
                enumerate([5, 1, 9, 2, 8, 3, 7])]
        df = spark.createDataFrame(
            rows, "conv_id string, turn_idx long, value double")
        out = {r["turn_idx"]: r["stat"] for r in
               LS.rolling(df, "moving_median", 1,
                          drop_edges=False).collect()}
        # frame [-1, +1]: median(5,1)=3, median(5,1,9)=5, median(1,9,2)=2
        assert out[0] == 3.0 and out[1] == 5.0 and out[2] == 2.0
        assert out[6] == 5.0  # median(3, 7)

    def test_median_resists_outlier_where_avg_does_not(self, spark):
        from ts_pymfe_spark.operators import local_stats as LS
        rows = [("c", i, 1000.0 if i == 5 else 1.0) for i in range(11)]
        df = spark.createDataFrame(
            rows, "conv_id string, turn_idx long, value double")
        med = LS.rolling(df, "moving_median", 2, drop_edges=True)
        assert all(r["stat"] == 1.0 for r in med.collect())


# ---------------------------------------------------------------------------
# Property layer (hypothesis over pure-Python mirrors, each validated
# against Spark on one fixed case — the HLL-register test pattern).
# ---------------------------------------------------------------------------

def _py_ks(xs0, xs1):
    """Literal two-sample KS: max over pooled values of |F0 - F1|."""
    n0, n1 = len(xs0), len(xs1)
    if not n0 or not n1:
        return None
    pool = sorted(set(xs0) | set(xs1))
    return max(abs(sum(1 for v in xs0 if v <= x) / n0
                   - sum(1 for v in xs1 if v <= x) / n1)
               for x in pool)


def _py_cms(values, d=4, w=2048):
    """Independent replica of cms_sketch's counter table."""
    import hashlib

    def coef(which, i):
        h = int(hashlib.md5(f"cms{which}:{i}".encode()).hexdigest()[:8], 16)
        return (h % ((1 << 22) - 1)) + 1

    P = (1 << 61) - 1
    sk = {}
    for v in values:
        x = int(hashlib.md5(str(v).encode()).hexdigest()[:10], 16)
        for i in range(d):
            b = ((coef("a", i) * x + coef("b", i)) % P) % w
            sk[(i, b)] = sk.get((i, b), 0) + 1
    return sk


def test_ks_mirror_properties():
    """D in [0, 1]; symmetric under group swap; 0 on identical
    multisets; 1 on disjoint ranges (hypothesis)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    vals = st.lists(st.integers(-50, 50), min_size=1, max_size=60)

    @settings(max_examples=200, deadline=None)
    @given(vals, vals)
    def check(a, b):
        d = _py_ks(a, b)
        assert 0.0 <= d <= 1.0
        assert d == _py_ks(b, a)
        assert _py_ks(a, a) == 0.0
        lo, hi = [x - 1000 for x in a], [x + 1000 for x in b]
        assert _py_ks(lo, hi) == 1.0

    check()


def test_ks_spark_matches_mirror_once(spark):
    xs0 = [((i * 37) % 23) * 1.0 for i in range(40)]
    xs1 = [((i * 41) % 29) * 1.3 + 2.0 for i in range(55)]
    rows = ([("k", v, 0) for v in xs0] + [("k", v, 1) for v in xs1])
    out = ks_drift(_pop(spark, rows), _grp()).collect()[0]
    assert out["ks_d"] == round(_py_ks(xs0, xs1), 6)


def test_psi_nonnegative_property(spark):
    """Every PSI term (p1-p0)ln(p1/p0) >= 0 because both factors share
    sign — so psi >= 0 for ANY split; checked via the Spark op over a
    deterministic family of skewed populations."""
    cases = []
    for shift in (0, 1, 5, 17):
        cases += [(f"s{shift}", float((i * 13) % 31), 0) for i in range(64)]
        cases += [(f"s{shift}", float((i * 7) % 31 + shift), 1)
                  for i in range(64)]
    for r in psi_drift(_pop(spark, cases), _grp()).collect():
        assert r["psi"] is not None and r["psi"] >= 0.0


def test_cms_mirror_properties():
    """Estimate >= truth for every key; sketches sum-merge; the
    counter table never exceeds d*w cells (hypothesis)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    vals = st.lists(st.text(alphabet="abcdef", min_size=1, max_size=4),
                    max_size=200)

    def est(sk, v, d=4, w=64):
        import hashlib

        def coef(which, i):
            h = int(hashlib.md5(
                f"cms{which}:{i}".encode()).hexdigest()[:8], 16)
            return (h % ((1 << 22) - 1)) + 1

        P = (1 << 61) - 1
        x = int(hashlib.md5(str(v).encode()).hexdigest()[:10], 16)
        return min(sk.get((i, ((coef("a", i) * x + coef("b", i)) % P) % w),
                          0) for i in range(d))

    @settings(max_examples=150, deadline=None)
    @given(vals, vals)
    def check(a, b):
        ska, skb = _py_cms(a, d=4, w=64), _py_cms(b, d=4, w=64)
        merged = dict(ska)
        for k, v in skb.items():
            merged[k] = merged.get(k, 0) + v
        assert merged == _py_cms(a + b, d=4, w=64)
        assert len(merged) <= 4 * 64
        for v in set(a):
            assert est(ska, v) >= a.count(v)

    check()


def test_cms_spark_matches_mirror_once(spark):
    vals = [f"v{(i * 7) % 13}" for i in range(100)]
    df = spark.createDataFrame([(v,) for v in vals], "val string")
    got = {(r["row"], r["bucket"]): r["cnt"]
           for r in cms_sketch(df, "val").collect()}
    assert got == _py_cms(vals)


def test_drift_report_job_end_to_end(spark, tmp_path):
    """The CLI drift job (jobs/drift_report.py) produces every report
    table with sane shapes from one events parquet."""
    import sys

    sys.path.insert(0, "jobs")
    import drift_report

    in_dir = str(tmp_path / "ev")
    out = str(tmp_path / "report")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet") \
        .write.mode("overwrite").parquet(in_dir)
    argv = sys.argv
    sys.argv = ["drift_report.py", "--input", in_dir, "--output", out,
                "--cpus", "4", "--topk", "10"]
    try:
        drift_report.main()
    finally:
        sys.argv = argv
    ks = spark.read.parquet(f"{out}/ks_drift")
    assert ks.count() > 0
    assert set(ks.columns) == {"event_type", "n0", "n1", "ks_d",
                               "ks_crit", "drifted"}
    assert spark.read.parquet(f"{out}/psi_drift").count() > 0
    for tbl in ("daily_quantiles", "benford", "predictability"):
        assert spark.read.parquet(f"{out}/{tbl}").count() > 0
    hh = spark.read.parquet(f"{out}/heavy_hitters")
    assert hh.count() <= 10
    # the counter store is bounded by d*w cells, never row count
    assert spark.read.parquet(f"{out}/cms_counters").count() <= 4 * 2048


class TestTransitionEntropy:
    def _seq(self, spark, states):
        rows = [("u", i, s) for i, s in enumerate(states)]
        return spark.createDataFrame(
            rows, "user_id string, event_id long, event_type string") \
            .withColumn("ts", F.to_timestamp(F.lit("2025-01-01 00:00:00")))

    def test_deterministic_cycle_entropy_zero(self, spark):
        from ts_pymfe_spark.operators.funnel import transition_entropy
        df = self._seq(spark, list("abababab"))
        out = transition_entropy(df, tiebreak_col="event_id").collect()[0]
        assert out["entropy_nats"] == 0.0
        assert out["n_states"] == 2
        assert out["predictability"] == 1.0
        assert out["n_transitions"] == 7

    def test_hand_computed_mixed(self, spark):
        import math
        from ts_pymfe_spark.operators.funnel import transition_entropy
        # a,a,b,b -> a->a, a->b, b->b: pi(a)=2/3 with H_a=ln2, H_b=0
        df = self._seq(spark, list("aabb"))
        out = transition_entropy(df, tiebreak_col="event_id").collect()[0]
        exp = (2 / 3) * math.log(2)
        assert out["entropy_nats"] == round(exp, 6)
        assert out["max_entropy_nats"] == round(math.log(2), 6)
        assert out["predictability"] == round(1 - exp / math.log(2), 6)

    def test_single_state_loop(self, spark):
        from ts_pymfe_spark.operators.funnel import transition_entropy
        df = self._seq(spark, list("aaaa"))
        out = transition_entropy(df, tiebreak_col="event_id").collect()[0]
        assert (out["n_states"], out["entropy_nats"],
                out["predictability"]) == (1, 0.0, 1.0)

    def test_single_event_key_emits_nothing(self, spark):
        from ts_pymfe_spark.operators.funnel import transition_entropy
        df = self._seq(spark, ["a"])
        assert transition_entropy(df, tiebreak_col="event_id").count() == 0


class TestBenford:
    def _vals(self, spark, vals, key="k"):
        return spark.createDataFrame(
            [(key, float(v)) for v in vals],
            "event_type string, value double")

    def test_single_digit_pile_flagged(self, spark):
        from ts_pymfe_spark.operators.drift import (
            BENFORD_P, benford_deviation)
        out = benford_deviation(self._vals(spark, [9.0] * 100)) \
            .collect()[0]
        e9 = BENFORD_P[9]
        # chi2 = (100-100*e9)^2/(100*e9) + 100*(1 - e9)
        exp = (100 - 100 * e9) ** 2 / (100 * e9) + 100 * (1 - e9)
        assert out["chi2"] == round(exp, 6)
        assert out["benford_ok"] is False

    def test_digit_is_magnitude_invariant(self, spark):
        from ts_pymfe_spark.operators.drift import benford_deviation
        a = benford_deviation(self._vals(spark, [0.02, 2000.0, -250.0,
                                                 2.5e8])).collect()[0]
        b = benford_deviation(self._vals(spark, [2.0] * 4)).collect()[0]
        assert a["chi2"] == b["chi2"]  # all leading digit 2

    def test_zero_values_excluded(self, spark):
        from ts_pymfe_spark.operators.drift import benford_deviation
        assert benford_deviation(self._vals(spark, [0.0, 0.0])).count() == 0

    def test_benford_like_sample_passes(self, spark):
        from ts_pymfe_spark.operators.drift import (BENFORD_P,
                                                    benford_deviation)
        # counts proportional to Benford probabilities (n=1000)
        vals = []
        for d, p in BENFORD_P.items():
            vals += [float(d)] * round(p * 1000)
        out = benford_deviation(self._vals(spark, vals)).collect()[0]
        assert out["benford_ok"] is True
        assert out["chi2"] < 1.0  # rounding residue only


class TestKsBucketed:
    def test_value_equal_to_single_window_plan(self, spark):
        rows = []
        for k in ("a", "b", "c"):
            rows += [(k, float((i * 37 + ord(k)) % 50), i % 2)
                     for i in range(300)]
        # ties straddling bucket-boundary candidates + empty side key
        rows += [("d", 5.0, 0)] * 10 + [("d", 5.0, 1)] * 3
        rows += [("e", 1.0, 0)] * 4
        df = _pop(spark, rows)
        plain = {r["event_type"]: r
                 for r in ks_drift(df, _grp()).collect()}
        for B in (2, 7, 64):
            bucketed = {r["event_type"]: r
                        for r in ks_drift(df, _grp(),
                                          buckets=B).collect()}
            assert set(bucketed) == set(plain)
            for k in plain:
                for c in ("n0", "n1", "ks_d", "ks_crit", "drifted"):
                    assert bucketed[k][c] == plain[k][c], (k, c, B)

    def test_bucketed_window_splits_across_tasks(self, spark):
        """The ordered-window stage must partition by (key, bucket) —
        the hot key's rows split across B tasks instead of one."""
        from tests.test_plan_audits import plan as _plan

        rows = [("hot", float(i % 97), i % 2) for i in range(500)]
        p = _plan(ks_drift(_pop(spark, rows), _grp(), buckets=16))
        assert "windowspecdefinition(event_type" in p
        # the local cumulative window clusters by (key, _b)
        assert "hashpartitioning(event_type#" in p
        assert "_b#" in p.split("Window")[1], p  # bucket in the spec


class TestEventPaths:
    def _stream(self, spark, seqs):
        rows = []
        for u, states in seqs.items():
            rows += [(u, i, s) for i, s in enumerate(states)]
        return spark.createDataFrame(
            rows, "user_id string, event_id long, event_type string") \
            .withColumn("ts", F.to_timestamp(F.lit("2025-01-01")))

    def test_hand_counts(self, spark):
        from ts_pymfe_spark.operators.funnel import event_paths_topk
        df = self._stream(spark, {"u1": list("abcabc"),
                                  "u2": list("abc")})
        out = {r["path"]: (r["total_count"], r["n_keys"])
               for r in event_paths_topk(df, n=3, k=10,
                                         tiebreak_col="event_id")
               .collect()}
        # u1 windows: abc, bca, cab, abc; u2: abc
        assert out["a>b>c"] == (3, 2)
        assert out["b>c>a"] == (1, 1)
        assert out["c>a>b"] == (1, 1)

    def test_short_keys_excluded_and_k_limit(self, spark):
        from ts_pymfe_spark.operators.funnel import event_paths_topk
        df = self._stream(spark, {"u1": list("ab"), "u2": list("xyz")})
        out = event_paths_topk(df, n=3, k=1,
                               tiebreak_col="event_id").collect()
        assert len(out) == 1 and out[0]["path"] == "x>y>z"


class TestDailyQuantileDrift:
    def test_hand_case(self, spark):
        from ts_pymfe_spark.operators.drift import daily_quantile_drift
        rows = ([("2025-01-01 05:00:00", float(v)) for v in range(1, 101)]
                + [("2025-01-02 05:00:00", float(v) + 10.0)
                   for v in range(1, 101)])
        df = spark.createDataFrame(rows, "ts string, value double") \
            .withColumn("ts", F.to_timestamp("ts"))
        out = {r["day"]: r for r in daily_quantile_drift(df).collect()}
        d1, d2 = out["2025-01-01"], out["2025-01-02"]
        assert (d1["p50"], d1["p95"]) == (50.5, 95.05)
        assert d1["d_p50"] is None
        assert (d2["d_p50"], d2["d_p95"]) == (10.0, 10.0)

    def test_name_collision_raises(self, spark):
        from ts_pymfe_spark.operators.drift import daily_quantile_drift
        df = spark.createDataFrame([("2025-01-01 00:00:00", 1.0)],
                                   "ts string, value double") \
            .withColumn("ts", F.to_timestamp("ts"))
        with pytest.raises(ValueError):
            daily_quantile_drift(df, qs=(0.5, 0.5))


def test_driver_window_is_the_planned_set():
    """The driver's ~50-query correctness window is the FIRST 50
    registered queries.  Derive the expectation from the rotation's own
    inputs (committed CORRECTNESS artifacts + _DRIVER_PRIORITY) rather
    than pinning a literal list, so the test stays green across driver
    artifact drops (VERDICT r6 item #1) while still catching an
    accidental reorder or an unlisted new query."""
    import __spark_entry__ as e

    names = list(e.queries())
    unranked = [n for n in names if n not in e._DRIVER_PRIORITY]
    assert unranked == [], f"queries missing from _DRIVER_PRIORITY: {unranked}"

    # The invariant that matters: every never-driver-green query sorts
    # inside the first 50 (the driver window), so the next artifact
    # lands a hard-signal row for it.
    green = e._last_green_round()
    never_green = [n for n in names if n not in green]
    window = set(names[:50])
    outside = [n for n in never_green if n not in window]
    assert len(never_green) <= 50, (
        f"{len(never_green)} never-green queries cannot all fit the window")
    assert outside == [], f"never-green queries outside the window: {outside}"

    # And the full order must be exactly what the rotation computes
    # from its inputs, with the production sort key (force-expire pop,
    # ascending last-green round, _DRIVER_PRIORITY, registration order).
    assert names == sorted(names, key=e._driver_window_key())


def test_driver_window_key_force_expires():
    """The six r4-greens sort as never-green until some query has a
    round-6 (or later) green row, then by their own last-green round."""
    import __spark_entry__ as e

    forced = e._driver_window_key({"ann_ivf": 4, "rollup_1m": 5})
    assert forced("ann_ivf")[0] == 0
    assert forced("rollup_1m")[0] == 5
    expired = e._driver_window_key({"ann_ivf": 4, "rollup_1m": 6})
    assert expired("ann_ivf")[0] == 4


class TestTextQuality6:
    def _docs(self, spark, texts):
        return spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)],
            "doc_id long, text string")

    def test_readability_hand_case(self, spark):
        from ts_pymfe_spark.operators.textpipe import readability
        # "the cat sat. it ran!" -> 5 words, 2 sentences,
        # syllables: the=1 cat=1 sat.=1 it=1 ran!=1 -> 5
        out = readability(self._docs(spark, ["the cat sat. it ran!"])) \
            .collect()[0]
        assert (out["n_words"], out["n_sentences"],
                out["n_syllables"]) == (5, 2, 5)
        exp = 206.835 - 1.015 * (5 / 2) - 84.6 * (5 / 5)
        assert out["flesch"] == round(exp, 6)

    def test_readability_monotone_in_complexity(self, spark):
        from ts_pymfe_spark.operators.textpipe import readability
        simple = "the cat sat on the mat. it was fun."
        dense = ("extraordinary organizational responsibilities "
                 "necessitate unambiguous prioritization")
        out = {r["doc_id"]: r["flesch"] for r in readability(
            self._docs(spark, [simple, dense])).collect()}
        assert out[0] > out[1]

    def test_char_entropy_extremes(self, spark):
        from ts_pymfe_spark.operators.textpipe import char_entropy
        import math
        out = {r["doc_id"]: r for r in char_entropy(
            self._docs(spark, ["aaaaaaaa", "abcdefgh",
                               "the quick brown fox"])).collect()}
        assert out[0]["char_entropy_nats"] == 0.0      # one symbol
        assert out[1]["char_entropy_nats"] == round(math.log(8), 6)
        assert 0.0 < out[2]["char_entropy_nats"] < math.log(19)
        assert out[1]["n_distinct_chars"] == 8

    def test_char_entropy_empty_doc_no_row(self, spark):
        from ts_pymfe_spark.operators.textpipe import char_entropy
        assert char_entropy(self._docs(spark, [""])).count() == 0


class TestEmbDimStats:
    def test_hand_case_dead_and_live_dims(self, spark):
        from ts_pymfe_spark.operators.textpipe import emb_dim_stats
        rows = [(i, [float(i), 5.0, -float(i)]) for i in range(4)]
        df = spark.createDataFrame(rows,
                                   "vec_id long, embedding array<float>")
        out = {r["dim"]: r for r in emb_dim_stats(df).collect()}
        assert out[0]["mean_v"] == 1.5 and out[0]["dead"] is False
        assert out[1]["sd_v"] == 0.0 and out[1]["dead"] is True
        assert out[2]["min_v"] == -3.0 and out[2]["max_v"] == 0.0
        import math
        exp_sd = math.sqrt(sum((v - 1.5) ** 2 for v in range(4)) / 3)
        assert out[0]["sd_v"] == round(exp_sd, 6)

    def test_single_row_corpus_all_dead(self, spark):
        from ts_pymfe_spark.operators.textpipe import emb_dim_stats
        df = spark.createDataFrame([(1, [1.0, 2.0])],
                                   "vec_id long, embedding array<float>")
        out = emb_dim_stats(df).collect()
        assert all(r["dead"] is True and r["sd_v"] is None for r in out)


class TestKsBinned:
    def test_lower_bounds_exact_and_converges(self, spark):
        from ts_pymfe_spark.operators.drift import ks_drift_binned
        rows = []
        for k in ("a", "b"):
            rows += [(k, float((i * 37 + ord(k)) % 211) / 3.0, i % 2)
                     for i in range(600)]
        rows += [("b", float(i) + 40.0, 1) for i in range(120)]  # shift
        df = _pop(spark, rows)
        exact = {r["event_type"]: r["ks_d"]
                 for r in ks_drift(df, _grp()).collect()}
        prev = {k: -1.0 for k in exact}
        for B in (8, 64, 4096):
            binned = {r["event_type"]: r["ks_d"]
                      for r in ks_drift_binned(df, _grp(),
                                               bins=B).collect()}
            for k in exact:
                assert binned[k] <= exact[k] + 1e-9, (k, B)
                assert binned[k] >= prev[k] - 1e-9, (k, B)  # refines
                prev[k] = binned[k]
        # at 4096 cells over these value ranges the bins separate
        # every distinct value -> binned == exact
        for k in exact:
            assert prev[k] == exact[k]

    def test_degenerate_pooled_range_null(self, spark):
        from ts_pymfe_spark.operators.drift import ks_drift_binned
        rows = [("c", 7.0, g) for g in (0, 1) for _ in range(5)]
        out = ks_drift_binned(_pop(spark, rows), _grp()).collect()[0]
        assert out["ks_d"] is None  # documented degenerate convention


class TestDailyDistDrift:
    def _days(self, spark, day_vals):
        rows = [(f"2025-01-0{d} 06:00:00", float(v))
                for d, vals in day_vals.items() for v in vals]
        return spark.createDataFrame(rows, "ts string, value double") \
            .withColumn("ts", F.to_timestamp("ts"))

    def test_identical_days_zero_shifted_day_flagged(self, spark):
        from ts_pymfe_spark.operators.drift import daily_dist_drift
        base = [v % 50 for v in range(200)]
        df = self._days(spark, {1: base, 2: base,
                                3: [v + 120 for v in base]})
        out = {r["day"]: r for r in
               daily_dist_drift(df, lo=0.0, hi=200.0).collect()}
        assert "2025-01-01" not in out          # no predecessor
        assert out["2025-01-02"]["ks_d"] == 0.0
        assert out["2025-01-02"]["drifted"] is False
        assert out["2025-01-03"]["ks_d"] == 1.0  # disjoint supports
        assert out["2025-01-03"]["drifted"] is True
        assert (out["2025-01-03"]["n_prev"],
                out["2025-01-03"]["n_cur"]) == (200, 200)

    def test_partial_shift_hand_value(self, spark):
        from ts_pymfe_spark.operators.drift import daily_dist_drift
        # day1 uniform 0..99; day2: half below 100, half at 150+
        d1 = list(range(100))
        d2 = list(range(50)) + [150 + v for v in range(50)]
        out = daily_dist_drift(self._days(spark, {1: d1, 2: d2}),
                               lo=0.0, hi=200.0).collect()[0]
        # at x->100: F1 = 1.0, F2 = 0.5
        assert out["ks_d"] == 0.5

    def test_missing_day_breaks_the_chain(self, spark):
        from ts_pymfe_spark.operators.drift import daily_dist_drift
        df = self._days(spark, {1: [1.0, 2.0], 3: [1.0, 2.0]})
        out = daily_dist_drift(df).collect()
        assert out == []  # day 3's literal predecessor (day 2) absent


def test_null_key_cells_match_oracles(spark, tmp_path):
    """A NULL key is a group of its own in the psi_drift and
    drift_cells_ks oracles (window / GROUP BY semantics) and is dropped
    by ks_drift_binned's (JOIN ... USING): the drift-cell path must
    bin a NULL key against its own bounds, exactly as each oracle
    scores it."""
    import duckdb

    import __spark_entry__ as e

    rows = ([("a", float(v), 2 * v) for v in range(1, 9)]
            + [("a", float(v + 3), 2 * v + 1) for v in range(1, 9)]
            + [(None, float(v), 2 * i)
               for i, v in enumerate((10, 20, 30, 40))]
            + [(None, float(v), 2 * i + 1)
               for i, v in enumerate((30, 40, 50, 60))]
            + [(None, None, 0)])
    path = tmp_path / "events.parquet"
    spark.createDataFrame(
        rows, "event_type string, value double, user_id long") \
        .write.parquet(str(path))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{path}/*.parquet'")
    for name in ("psi_drift", "ks_drift_binned", "drift_cells_ks"):
        got = sorted((tuple(r) for r in
                      e.queries()[name](spark, str(tmp_path)).collect()),
                     key=repr)
        exp = sorted(con.execute(e.oracle_sql()[name]).fetchall(), key=repr)
        assert got == exp, (name, got, exp)
        null_rows = [r for r in got if r[0] is None]
        if name == "ks_drift_binned":
            assert null_rows == []
        else:
            assert len(null_rows) == 1 and null_rows[0][3] is not None

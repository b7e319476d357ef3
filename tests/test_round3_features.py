"""Round-3 surfaces: multi-probe LSH recall, token-derived
avg_word_len, scoped Arrow-batch conf, single-pass measure_time,
IVF sampled-training default."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from ts_pymfe_spark.operators import textpipe as TP
from ts_pymfe_spark.operators.derive import series_of


@pytest.fixture(scope="module")
def small_series(spark, turns):
    s = series_of(turns, "text_len")
    keep = [r.conv_id for r in (
        s.groupBy("conv_id").count()
        .orderBy(F.col("count").desc()).limit(4)
        .select("conv_id").collect()
    )]
    out = s.filter(F.col("conv_id").isin(keep)).cache()
    assert out.count() > 0
    return out


def _emb_df(spark, rng, n_base=24, dim=32, n_dup=8, noise=0.06):
    """Base vectors + jittered near-duplicates (cos ≈ 0.97+)."""
    base = rng.standard_normal((n_base, dim))
    rows = [(i, base[i].tolist()) for i in range(n_base)]
    for d in range(n_dup):
        v = base[d] + noise * rng.standard_normal(dim)
        rows.append((1000 + d, v.tolist()))
    return spark.createDataFrame(
        rows, "vec_id: long, embedding: array<double>"
    ), {(d, 1000 + d) for d in range(n_dup)}


def _true_pairs(df, threshold):
    """All-pairs cosine ground truth, computed with plain numpy."""
    pdf = df.toPandas()
    ids = pdf["vec_id"].to_numpy()
    M = np.stack(pdf["embedding"].to_numpy())
    M = M / np.linalg.norm(M, axis=1, keepdims=True)
    S = M @ M.T
    out = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if S[i, j] >= threshold:
                out.add((min(ids[i], ids[j]), max(ids[i], ids[j])))
    return out


def test_multiprobe_neardup_recall_floor_and_monotonicity(spark):
    """probe_radius=1 must (a) never lose pairs versus radius 0, (b)
    recover ≥ 0.9 of the brute-force ground-truth pairs at a high-cos
    threshold (planted jitter duplicates), and (c) return each pair
    exactly once (multi-probe must not double-count)."""
    rng = np.random.default_rng(42)
    df, _ = _emb_df(spark, rng, dim=32)
    truth = _true_pairs(df, 0.9)
    assert len(truth) >= 8  # the planted duplicates are all above 0.9

    def pairs(radius):
        got = TP.embedding_neardup_pairs(
            df, threshold=0.9, num_planes=8, dim=32, probe_radius=radius
        ).toPandas()
        tuples = list(zip(got["id_a"], got["id_b"]))
        assert len(tuples) == len(set(tuples))  # (c) exactly-once
        return set(tuples)

    p0, p1 = pairs(0), pairs(1)
    assert p0 <= p1  # (a) monotone in probe radius
    # every emitted pair really is above threshold (precision is exact
    # by construction — the cos filter is applied to the true cosine)
    assert p1 <= truth
    recall = len(p1 & truth) / len(truth)
    assert recall >= 0.9  # (b)


def test_probe_buckets_are_exact_plus_single_flips(spark):
    """String surgery oracle for the probe expansion on a hand case."""
    df = spark.createDataFrame([("0110",)], "bucket: string")
    out = df.select(
        TP._probe_buckets(F.col("bucket"), 4, 1).alias("p")
    ).head()["p"]
    assert out == ["0110", "1110", "0010", "0100", "0111"]
    out0 = df.select(
        TP._probe_buckets(F.col("bucket"), 4, 0).alias("p")
    ).head()["p"]
    assert out0 == ["0110"]


def test_avg_word_len_is_token_derived(spark):
    """Repeated spaces / tabs must not skew avg_word_len: 'aa  bb\tc'
    has tokens (aa, bb, c) -> 5/3, where the old chars-minus-gaps
    arithmetic would give (8-3+1)/3 = 2."""
    df = spark.createDataFrame(
        [(1, "aa  bb\tc"), (2, "x y")], "doc_id: long, text: string"
    )
    got = {
        r["doc_id"]: r["avg_word_len"]
        for r in TP.quality_score(df).collect()
    }
    assert got[1] == pytest.approx(5 / 3)
    assert got[2] == pytest.approx(1.0)


def test_measure_time_single_pass_no_join(spark, small_series):
    """measure_time now rides the summary stage as a carried column:
    the plan must contain no Join (the old shape aggregated + joined
    the kernel output, executing the expensive stage twice), and
    wall_ms must still be present and sane."""
    from ts_pymfe_spark.api import TSMFESpark

    eng = TSMFESpark(features=["acf", "dw"], summaries=("mean", "sd"))
    out = eng.extract(small_series, measure_time=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    pdf = out.toPandas()
    assert "wall_ms" in pdf.columns
    assert (pdf["wall_ms"] >= 0).all()
    # one timing per (conv, series, feature): all rows of a feature's
    # summaries share the kernel's wall time
    feat = pdf.assign(feature=pdf["name"].str.split(".").str[0])
    assert (feat.groupby(["conv_id", "series", "feature"])["wall_ms"]
            .nunique() == 1).all()


def test_ivf_training_defaults_to_sampled(spark):
    """Full-corpus k-means must require an explicit opt-in: the default
    auto-sizes the training sample to max_train_rows."""
    rng = np.random.default_rng(3)
    df, _ = _emb_df(spark, rng, n_base=40, dim=8, n_dup=0)
    # max_train_rows smaller than corpus -> implicit sample; the model
    # still trains and produces the requested number of centroids
    cents = TP.ivf_train_centroids(
        df, n_lists=4, seed=7, max_train_rows=20
    )
    assert len(cents) == 4 and len(cents[0]) == 8


def test_simhash_neardup_perfect_recall_vs_bruteforce(spark):
    """Pigeonhole guarantee: with 4 bands over the 60-bit signature,
    EVERY pair at hamming ≤ 3 must be found (deterministic, not
    probabilistic like minhash banding) — assert set equality against
    the all-pairs hamming computed in the test from the engine's own
    signatures, plus hand-checkable precision (no pair above the
    cutoff)."""
    base = "the quick brown fox jumps over the lazy dog " * 3
    docs = [
        (0, base),
        (1, base),                      # exact dup -> hamming 0
        (2, base + "again"),            # near dup
        (3, base.replace("quick", "rapid")),
        (4, "completely different content about spark and parquet files"),
        (5, "unrelated text with no overlap whatsoever in tokens"),
    ]
    df = spark.createDataFrame(docs, "doc_id: long, text: string")

    sigs = {r["doc_id"]: r["simhash"] for r in TP.simhash64(df).collect()}
    truth = set()
    ids = sorted(sigs)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            h = bin(sigs[ids[i]] ^ sigs[ids[j]]).count("1")
            if h <= 3:
                truth.add((ids[i], ids[j], h))

    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in TP.simhash_neardup_pairs(df).collect()
    }
    assert got == truth
    assert (0, 1, 0) in got  # the exact dup is found at hamming 0


def test_sql_peak_frac_matches_kernel(spark, turns):
    """Dual-path check: the SQL peak/trough operator must equal the
    numpy twin (kernels.peak_trough_frac) on every conversation."""
    from ts_pymfe_spark.functions import kernels as K
    from ts_pymfe_spark.operators.sequence import peak_trough_frac

    s = series_of(turns, "text_len")
    pdf = s.orderBy("conv_id", "turn_idx").toPandas()
    for which in ("peak", "trough"):
        got = {
            r["conv_id"]: r["frac"]
            for r in peak_trough_frac(s, period=12, which=which).collect()
        }
        checked = 0
        for cid, grp in pdf.groupby("conv_id"):
            x = grp["value"].to_numpy(dtype=float)
            exp = K.peak_trough_frac(x, 12, which)
            if np.isnan(exp):
                assert cid not in got
            else:
                assert got[cid] == pytest.approx(exp, abs=0), (which, cid)
                checked += 1
        assert checked > 0


def test_sql_hist_ent_out_diff_matches_kernel(spark, turns):
    """Dual-path check: the SQL quantile-trim entropy delta must match
    the Arrow kernel twin (both normalized by log(10); numpy linear-
    interpolated quantile == Spark percentile)."""
    from ts_pymfe_spark.operators.arrow_kernels import _hist_ent_out_diff
    from ts_pymfe_spark.operators.info_theory import hist_ent_out_diff

    s = series_of(turns, "text_len")
    got = {
        r["conv_id"]: r["hist_ent_out_diff"]
        for r in hist_ent_out_diff(s).collect()
    }
    pdf = s.orderBy("conv_id", "turn_idx").toPandas()
    checked = 0
    for cid, grp in pdf.groupby("conv_id"):
        x = grp["value"].to_numpy(dtype=float)
        exp = _hist_ent_out_diff(x)
        if np.isfinite(exp) and cid in got:
            assert got[cid] == pytest.approx(exp, abs=1e-9), cid
            checked += 1
    assert checked > 0


def test_sql_hist_ent_out_diff_degenerate_trim_emits_no_row(spark):
    """Round-4 ADVICE fix: when the [p, 1-p] quantile trim leaves < 2
    values, the Arrow kernel returns nan — the SQL form must emit NO
    row for that conversation (previously it diverged)."""
    import numpy as np
    import pandas as pd

    from ts_pymfe_spark.operators.arrow_kernels import _hist_ent_out_diff
    from ts_pymfe_spark.operators.info_theory import hist_ent_out_diff

    # 2 identical values + 2 extreme outliers: q05/q95 band excludes
    # the outliers and the tie collapses the trimmed set
    vals = [5.0, 5.0, -1e9, 1e9]
    pdf = pd.DataFrame(
        {
            "conv_id": ["degen"] * 4 + ["ok"] * 40,
            "turn_idx": list(range(4)) + list(range(40)),
            "value": vals + list(np.sin(np.arange(40.0)) * 7 + 3),
        }
    )
    df = spark.createDataFrame(pdf)
    out = {r["conv_id"]: r["hist_ent_out_diff"]
           for r in hist_ent_out_diff(df).collect()}
    assert "ok" in out
    if "degen" in out:  # only acceptable if the kernel twin is finite too
        assert np.isfinite(_hist_ent_out_diff(np.array(vals)))


def test_gp_cache_key_includes_params():
    """Round-4 ADVICE fix: a gp_fit_predict call with a non-default
    alpha must not return the default-alpha memoized fit."""
    import numpy as np

    from ts_pymfe_spark.functions import kernels as K

    rng = np.random.default_rng(7)
    x = np.cumsum(rng.normal(size=64))
    _, pred_a = K.gp_fit_predict(x)
    _, pred_b = K.gp_fit_predict(x, alpha=1e-2)
    _, pred_a2 = K.gp_fit_predict(x)
    assert not np.allclose(pred_a, pred_b)  # different jitter -> different fit
    assert np.array_equal(pred_a, pred_a2)  # default still memo-hit


def test_lang_id_multilanguage_fixture(spark):
    """Round-5 lang_id upgrade (VERDICT r4 #5): char-trigram profile
    scoring must separate en/de/fr/es/it on a mixed-language fixture
    and fall back to 'other' for non-text, deterministically."""
    fixture = [
        (0, "en", "The quick brown fox is jumping over the lazy dog "
                  "with great speed and agility."),
        (1, "en", "This is an example of a short English document to "
                  "test the language identifier."),
        (2, "de", "Der schnelle braune Fuchs springt über den faulen "
                  "Hund und ist dabei sehr geschickt."),
        (3, "de", "Das ist ein kurzes deutsches Dokument, das wir zum "
                  "Testen der Spracherkennung nutzen."),
        (4, "fr", "Le renard brun rapide saute par-dessus le chien "
                  "paresseux et il est très agile."),
        (5, "fr", "Ceci est un petit document en français que nous "
                  "utilisons pour tester la détection."),
        (6, "es", "El zorro marrón rápido salta sobre el perro "
                  "perezoso y es muy ágil en el campo."),
        (7, "es", "Este es un pequeño documento en español que usamos "
                  "para probar la detección de idioma."),
        (8, "it", "La volpe marrone veloce salta sopra il cane pigro "
                  "ed è molto agile nel campo."),
        (9, "it", "Questo è un piccolo documento in italiano che "
                  "usiamo per provare il riconoscimento."),
        (10, "other", "12345 67890 !!! ??? +++"),
        (11, "other", ""),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, _, t in fixture], "doc_id int, text string"
    )
    got = {
        r["doc_id"]: r["lang_pred"]
        for r in TP.lang_id(df).collect()
    }
    assert got == {i: want for i, want, _ in fixture}

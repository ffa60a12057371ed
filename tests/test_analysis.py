"""Analysis dispatcher (≙ analytics_factory) + the ops/stats operators.

The stats catalog queries are thin framings over the ops/stats.py
operators the dispatcher hands user frames to, so the DuckDB oracle
gate certifies the code users call. ``test_stats_query_calls_its_operator``
pins that delegation; the ``*_matches_catalog`` tests check that the
dispatcher's argument plumbing (column names, defaults, corrections)
reaches the same hash-verified outputs.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ckg_spark.analysis import Analysis, run_analysis
from ckg_spark.queries.catalog import CATALOG

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def lineitem(spark):
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").cache()
    yield df
    df.unpersist()  # a lingering cache would hijack later plan-shape tests


def _sorted_pdf(df):
    pdf = df.toPandas()
    cols = sorted(pdf.columns)
    return pdf[cols].sort_values(cols).reset_index(drop=True)


def test_generic_welch_matches_catalog(spark, lineitem):
    generic = run_analysis(
        lineitem,
        "ttest",
        {
            "feature_col": "l_returnflag",
            "group_col": "l_linestatus",
            "value_col": "l_quantity",
            "group_a": "F",
            "group_b": "O",
            "correction": "none",
        },
    )
    catalog = CATALOG["q_welch_ttest"].spark_fn(spark, SF_DIR)
    a = _sorted_pdf(generic.withColumnRenamed("t_stat", "t_stat"))
    b = _sorted_pdf(catalog)
    assert a.equals(b)


def test_generic_anova_matches_catalog(spark, lineitem):
    generic = run_analysis(
        lineitem,
        "anova",
        {
            "feature_col": "l_linestatus",
            "group_col": "l_returnflag",
            "value_col": "l_quantity",
            "correction": "none",
        },
    )
    catalog = CATALOG["q_anova_oneway"].spark_fn(spark, SF_DIR)
    assert _sorted_pdf(generic).equals(_sorted_pdf(catalog))


def test_generic_quantile_normalize_matches_catalog(spark):
    cell_q = CATALOG["q_quantile_normalize"]
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    from ckg_spark.queries.catalog import _first_event_cell

    cell = _first_event_cell(spark, SF_DIR)
    generic = run_analysis(
        cell,
        "normalization",
        {
            "method": "quantile",
            "sample_col": "event_type",
            "key_cols": ["user_id"],
            "value_col": "v",
        },
    )
    catalog = cell_q.spark_fn(spark, SF_DIR)
    assert _sorted_pdf(generic).equals(_sorted_pdf(catalog))
    assert events.count() > 0


def test_generic_median_polish_matches_catalog(spark):
    from ckg_spark.queries.catalog import _first_event_cell

    cell = _first_event_cell(spark, SF_DIR)
    generic = run_analysis(
        cell,
        "normalization",
        {
            "method": "median_polish",
            "row_col": "user_id",
            "sample_col": "event_type",
            "value_col": "v",
        },
    )
    catalog = CATALOG["q_median_polish"].spark_fn(spark, SF_DIR)
    assert _sorted_pdf(generic).equals(_sorted_pdf(catalog))


def test_bh_adjust_matches_catalog_fdr(spark, lineitem):
    from ckg_spark.ops import stats

    welch = stats.welch_ttest(
        lineitem, "l_returnflag", "l_linestatus", "l_quantity", "F", "O"
    ).select("l_returnflag", "p_value")
    adj = stats.bh_adjust(welch, "p_value", ["l_returnflag"])
    catalog = CATALOG["q_ttest_fdr"].spark_fn(spark, SF_DIR)
    assert _sorted_pdf(adj).equals(_sorted_pdf(catalog))


def test_bh_twostage_matches_catalog(spark, lineitem):
    from ckg_spark.ops import stats

    welch = stats.welch_ttest(
        lineitem, "l_returnflag", "l_linestatus", "l_quantity", "F", "O"
    ).select("l_returnflag", "p_value")
    adj = stats.bh_twostage(welch, "p_value", ["l_returnflag"])
    catalog = CATALOG["q_ttest_fdr_twostage"].spark_fn(spark, SF_DIR)
    assert _sorted_pdf(adj).equals(_sorted_pdf(catalog))


# every stats catalog query → the ops/stats operator(s) it must call
STATS_QUERY_OPS = {
    "q_welch_ttest": ["welch_ttest"],
    "q_ttest_fdr": ["welch_ttest", "bh_adjust"],
    "q_ttest_fdr_twostage": ["welch_ttest", "bh_twostage"],
    "q_anova_oneway": ["anova_oneway"],
    "q_quantile_normalize": ["quantile_normalize"],
    "q_median_polish": ["median_polish"],
    "q_anova_twoway": ["anova_twoway"],
    "q_rm_anova": ["rm_anova"],
    "q_enrichment_fisher": ["fisher_enrichment"],
    "q_tukey_hsd": ["tukey_hsd"],
    "q_bootstrap_meandiff": ["bootstrap_meandiff"],
    "q_wilcoxon_signed": ["wilcoxon_signed_rank"],
    "q_normality_check": ["normality_test"],
    "q_effect_sizes": ["effect_sizes"],
    "q_levene_bf": ["levene_bf"],
    "q_mannwhitney": ["mann_whitney_u"],
    "q_spearman_corr": ["correlation"],
}


@pytest.mark.parametrize("query", sorted(STATS_QUERY_OPS))
def test_stats_query_calls_its_operator(spark, monkeypatch, query):
    """The catalog keeps no second Spark spelling of a library operator:
    building the query must go through ops/stats.py, so its DuckDB twin
    certifies the function run_analysis dispatches to."""
    from ckg_spark.ops import stats

    called = []
    for name in STATS_QUERY_OPS[query]:

        def recording(*args, _real=getattr(stats, name), _name=name, **kwargs):
            called.append(_name)
            return _real(*args, **kwargs)

        monkeypatch.setattr(stats, name, recording)
    CATALOG[query].spark_fn(spark, SF_DIR)
    assert set(called) == set(STATS_QUERY_OPS[query]), (query, called)


def test_corrections_plan_size_stays_linear(spark, lineitem):
    """A correction over a computed p-value must not copy the p-value's
    expression tree: filtering on the Welch t tail (a 200-level
    incomplete-beta continued fraction) lets Catalyst push the predicate
    below the projection and inline the whole tail into it (~39x the
    input's optimized plan). Partitioning the windows by the validity
    flag keeps each correction's plan within 2x of its input's."""
    from ckg_spark.ops import stats

    def size(df):
        return len(df._jdf.queryExecution().optimizedPlan().toString())

    welch = stats.welch_ttest(
        lineitem, "l_returnflag", "l_linestatus", "l_quantity", "F", "O"
    ).select("l_returnflag", "p_value")
    corrections = {
        "bh_adjust": stats.bh_adjust(welch, "p_value", ["l_returnflag"]),
        "bh_twostage": stats.bh_twostage(welch, "p_value", ["l_returnflag"]),
    }
    for method in ("bonferroni", "sidak", "holm"):
        corrections[method] = stats.pvalue_correction(
            welch, "p_value", ["l_returnflag"], method=method
        )
    base = size(welch)
    for name, df in corrections.items():
        assert size(df) <= 2 * base, (name, size(df), base)


def _twostage_reference(pvals, alpha=0.05):
    """From-scratch statsmodels fdrcorrection_twostage (method='bh',
    maxiter=1) — independent of the engine's window-math spelling."""
    m = len(pvals)
    order = sorted(range(m), key=lambda i: pvals[i])
    padj = [0.0] * m
    run = float("inf")
    for pos in range(m - 1, -1, -1):
        i = order[pos]
        run = min(run, pvals[i] * m / (pos + 1))
        padj[i] = min(1.0, run)
    r1 = sum(1 for v in padj if v <= alpha)
    if r1 == 0 or r1 == m:
        return padj, [v <= alpha for v in padj], m
    m0 = m - r1
    alpha_star = alpha * m / m0
    return [v * m0 / m for v in padj], [v <= alpha_star for v in padj], m0


@pytest.mark.parametrize(
    "pvals",
    [
        [0.001, 0.008, 0.039, 0.041, 0.042, 0.06, 0.074, 0.205, 0.212, 0.216],
        [0.3, 0.5, 0.7, 0.9],          # r1 == 0: falls back to plain BH
        [1e-8, 1e-7, 1e-6, 1e-5],      # r1 == m: falls back to plain BH
    ],
)
def test_bh_twostage_matches_independent_reference(spark, pvals):
    from ckg_spark.ops import stats

    df = spark.createDataFrame(
        [(f"f{i:02d}", p) for i, p in enumerate(pvals)], ["feature", "p_value"]
    )
    got = {
        r["feature"]: (r["p_adj"], r["m0"], r["rejected"])
        for r in stats.bh_twostage(df, "p_value", ["feature"]).collect()
    }
    padj, rej, m0 = _twostage_reference(pvals)
    for i, p in enumerate(pvals):
        g = got[f"f{i:02d}"]
        assert g[0] == pytest.approx(round(padj[i], 9), abs=1e-12)
        assert g[1] == m0
        assert g[2] == int(rej[i])


def test_dispatch_survival_and_graph(spark):
    # survival: the catalog's duration framing through the dispatcher
    from ckg_spark.queries.catalog import _km_duration_frame

    d = _km_duration_frame(spark, SF_DIR)
    km = run_analysis(
        d, "survival", {"time_col": "t", "event_col": "ev", "group_cols": ["grp"]}
    )
    assert km.count() > 0 and "survival" in km.columns
    lr = run_analysis(d, "logrank", {"time_col": "t", "event_col": "ev", "group_col": "grp"})
    row = lr.collect()[0]
    assert 0.0 <= row["p_value"] <= 1.0

    # graph ops via dispatch on a toy symmetric edge list
    edges = spark.createDataFrame(
        pd.DataFrame(
            {"subj": ["a", "b", "b", "c"], "obj": ["b", "a", "c", "b"]}
        )
    )
    pr = run_analysis(edges, "pagerank", {"iters": 5})
    assert pr.count() == 3
    ev = run_analysis(edges, "eigenvector", {"src": "subj", "dst": "obj", "iters": 10})
    assert ev.count() == 3


def test_dispatch_summary_imputation_clustering(spark):
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    s = run_analysis(
        events, "summary", {"value_col": "value", "group_cols": ["event_type"]}
    )
    assert set(s.columns) >= {"n", "mean", "stddev", "median"}
    imp = run_analysis(
        events,
        "imputation",
        {
            "method": "group_median",
            "group_cols": ["event_type"],
            "value_col": "value",
            "is_missing": F.col("value") < 10.0,
        },
    )
    assert "value_imputed" in imp.columns

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    pts = emb.select("vec_id", F.posexplode("embedding").alias("dim", "val"))
    cl = run_analysis(pts, "clustering", {"k": 4, "iters": 2, "id_col": "vec_id"})
    assert cl.count() == emb.count()


def test_analysis_container_and_unknown_type(spark, lineitem):
    a = Analysis(
        "proj1",
        "ttest",
        {
            "feature_col": "l_returnflag",
            "group_col": "l_linestatus",
            "value_col": "l_quantity",
            "group_a": "F",
            "group_b": "O",
        },
        lineitem,
    )
    res = a.generate_result()
    assert "ttest" in res and "p_adj" in res["ttest"].columns
    with pytest.raises(ValueError, match="unsupported analysis_type"):
        run_analysis(lineitem, "snf", {})


# ----------------------------------------------------------------------
# stats parity pack #2: Mann-Whitney / Levene / effect sizes.
# The catalog oracle mirrors each implementation's arithmetic, so these
# are the INDEPENDENT subject-level references (the q_logrank lesson):
# dict-based ranking / statistics.median / numpy std, not window SQL.
# ----------------------------------------------------------------------

import math
import statistics
from collections import Counter


def _mwu_reference(pairs):
    """[(group, value)] -> (u1, z, p) for group 'a' vs 'b'."""
    cnt = Counter(v for _, v in pairs)
    ranks, pos = {}, 1
    for v in sorted(cnt):
        ranks[v] = pos + (cnt[v] - 1) / 2.0
        pos += cnt[v]
    n1 = sum(1 for g, _ in pairs if g == "a")
    n2 = len(pairs) - n1
    r1 = sum(ranks[v] for g, v in pairs if g == "a")
    u1 = r1 - n1 * (n1 + 1) / 2.0
    n = n1 + n2
    tie = sum(c**3 - c for c in cnt.values())
    var_u = n1 * n2 / 12.0 * ((n + 1) - tie / (n * (n - 1)))
    bigu = max(u1, n1 * n2 - u1)
    z = (bigu - n1 * n2 / 2.0 - 0.5) / math.sqrt(var_u)
    p = min(1.0, math.erfc(z / math.sqrt(2.0)))
    return u1, z, p


MWU_FIXTURE = {
    "A": {"a": [1, 2, 2, 3, 5, 7, 7, 8], "b": [2, 4, 4, 5, 6, 9, 9]},
    "B": {"a": [1.5, 2.5, 9.0, 12.5, 0.5], "b": [3.5, 6.5, 7.0, 11.0]},
}


def _fixture_df(spark):
    rows = [
        (f, g, float(v))
        for f, groups in MWU_FIXTURE.items()
        for g, vals in groups.items()
        for v in vals
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["f", "g", "x"]))


def test_mann_whitney_matches_independent_reference(spark):
    from ckg_spark.ops.stats import mann_whitney_u

    got = {
        r["f"]: r
        for r in mann_whitney_u(_fixture_df(spark), "f", "g", "x", "a", "b").collect()
    }
    for feat, groups in MWU_FIXTURE.items():
        pairs = [(g, v) for g, vals in groups.items() for v in vals]
        u1, z, p = _mwu_reference(pairs)
        assert got[feat]["n1"] == len(groups["a"])
        assert got[feat]["n2"] == len(groups["b"])
        assert got[feat]["u_stat"] == pytest.approx(u1, abs=1e-9), feat
        assert got[feat]["z_stat"] == pytest.approx(round(z, 6), abs=1e-6), feat
        assert got[feat]["p_value"] == pytest.approx(p, abs=3e-7), feat


def test_levene_bf_matches_independent_reference(spark):
    from test_special import betainc_ref

    from ckg_spark.ops.stats import levene_bf

    got = {
        r["f"]: r for r in levene_bf(_fixture_df(spark), "f", "g", "x").collect()
    }
    for feat, groups in MWU_FIXTURE.items():
        zs = {
            g: [abs(v - statistics.median(vals)) for v in vals]
            for g, vals in groups.items()
        }
        k = len(zs)
        n = sum(len(z) for z in zs.values())
        means = {g: sum(z) / len(z) for g, z in zs.items()}
        grand = sum(sum(z) for z in zs.values()) / n
        ssb = sum(len(z) * (means[g] - grand) ** 2 for g, z in zs.items())
        ssw = sum((v - means[g]) ** 2 for g, z in zs.items() for v in z)
        w = (ssb / (k - 1)) / (ssw / (n - k))
        d1, d2 = float(k - 1), float(n - k)
        p = betainc_ref(d2 / 2.0, d1 / 2.0, d2 / (d2 + d1 * w))
        assert got[feat]["n_groups"] == k and got[feat]["n_obs"] == n
        assert got[feat]["w_stat"] == pytest.approx(w, abs=1e-6), feat
        assert got[feat]["p_value"] == pytest.approx(p, abs=1e-8), feat


def test_impute_mixed_matches_independent_reference(spark):
    """From-scratch per-group KNN + post-KNN downshift mirror of
    imputation_mixed_norm_KNN (analytics.py:268-291): nan-euclidean
    distances over the group's eligible-feature submatrix, k nearest by
    (distance, id), then per-SAMPLE mean - 1.8*std over the sample's
    observed ∪ KNN-imputed values for everything the cutoff excluded
    (stage 2 transposes in the reference — analytics.py:306 — so its
    stats are per sample across features, not per feature)."""
    import numpy as np

    from ckg_spark.ops.impute import impute_mixed

    rng = np.random.RandomState(7)
    rows = []
    # 2 groups × 6 samples × 4 features; missingness planted so that per
    # group some features pass the 0.6 cutoff and some do not
    miss_plan = {
        ("g0", "f1"): {"s1"},               # 5/6 observed -> eligible
        ("g0", "f2"): {"s1", "s2", "s3"},   # 3/6 = 0.5    -> downshift
        ("g0", "f3"): set(),                # complete      -> eligible
        ("g0", "f4"): {"s0", "s4"},         # 4/6           -> eligible
        ("g1", "f1"): {"s0", "s1", "s2"},   # 0.5           -> downshift
        ("g1", "f2"): {"s5"},               # eligible
        ("g1", "f3"): {"s3"},               # eligible
        ("g1", "f4"): set(),                # eligible
    }
    vals = {}
    for (g, f), missing in miss_plan.items():
        for i in range(6):
            s = f"s{i}"
            v = float(np.round(rng.uniform(5, 25), 3))
            vals[(g, s, f)] = (v, s in missing)
            rows.append((g, s, f, v, s in missing))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["grp", "smp", "feat", "v", "miss"])
    )
    got = {
        (r["grp"], r["smp"], r["feat"]): (r["value_imputed"], r["method"])
        for r in impute_mixed(
            df, "smp", "feat", "v", F.col("miss"), "grp", cutoff=0.6, shift=1.8, k=3
        ).collect()
    }

    cutoff, shift, k = 0.6, 1.8, 3
    groups = sorted({g for (g, _, _) in vals})
    feats = sorted({f for (_, _, f) in vals})
    samples = sorted({s for (_, s, _) in vals})
    elig = {
        (g, f)
        for g in groups
        for f in feats
        if np.mean([0.0 if vals[(g, s, f)][1] else 1.0 for s in samples]) >= cutoff
    }
    expected = {}
    knn_fills = []
    for g in groups:
        efs = sorted(f for (gg, f) in elig if gg == g)
        d = float(len(efs))
        obs = {
            (s, f): vals[(g, s, f)][0]
            for s in samples
            for f in efs
            if not vals[(g, s, f)][1]
        }
        for s in samples:
            for f in efs:
                if not vals[(g, s, f)][1]:
                    continue
                dists = []
                for s2 in samples:
                    if s2 == s or (s2, f) not in obs:
                        continue
                    shared = [
                        (obs[(s, f2)], obs[(s2, f2)])
                        for f2 in efs
                        if (s, f2) in obs and (s2, f2) in obs
                    ]
                    if not shared:
                        continue
                    ssd = sum((x - y) ** 2 for x, y in shared)
                    dists.append((math.sqrt(d * ssd / len(shared)), s2))
                if dists:
                    nearest = sorted(dists)[:k]
                    fill = sum(obs[(s2, f)] for _, s2 in nearest) / len(nearest)
                else:
                    fmean = [obs[(s2, f)] for s2 in samples if (s2, f) in obs]
                    fill = sum(fmean) / len(fmean)
                fill = round(fill, 6)
                expected[(g, s, f)] = (fill, "knn")
                knn_fills.append((g, s, fill))
    for g in groups:
        for s in samples:
            post = [
                vals[(g, s, f)][0] for f in feats if not vals[(g, s, f)][1]
            ] + [v for gg, ss, v in knn_fills if (gg, ss) == (g, s)]
            fill = np.mean(post) - shift * np.std(post, ddof=1)
            for f in feats:
                if (g, f) in elig:
                    continue
                if vals[(g, s, f)][1]:
                    expected[(g, s, f)] = (fill, "downshift")

    assert set(got) == set(expected)
    for key, (v, method) in expected.items():
        assert got[key][1] == method, key
        assert got[key][0] == pytest.approx(v, abs=1e-6), key


def test_effect_sizes_match_independent_reference(spark):
    import numpy as np

    from ckg_spark.ops.stats import effect_sizes

    got = {
        r["f"]: r
        for r in effect_sizes(_fixture_df(spark), "f", "g", "x", "a", "b").collect()
    }
    for feat, groups in MWU_FIXTURE.items():
        g1 = np.array(groups["a"], dtype=float)
        g2 = np.array(groups["b"], dtype=float)
        n1, n2 = g1.size, g2.size
        d = (g1.mean() - g2.mean()) / math.sqrt(
            ((n1 - 1) * g1.std() ** 2 + (n2 - 1) * g2.std() ** 2) / (n1 + n2 - 2)
        )
        sdp = np.concatenate([g1, g2]).std()
        g_val = (g1.mean() - g2.mean()) / sdp
        if n1 + n2 < 50:  # the reference's small-sample correction
            g_val *= ((n1 + n2 - 3) / (n1 + n2 - 2.25)) * math.sqrt(
                (n1 + n2 - 2) / (n1 + n2)
            )
        assert got[feat]["cohen_d"] == pytest.approx(d, abs=1e-6), feat
        assert got[feat]["hedges_g"] == pytest.approx(g_val, abs=1e-6), feat


def test_dispatch_mannwhitney_levene_effect_size(spark, lineitem):
    args = {
        "feature_col": "l_returnflag",
        "group_col": "l_linestatus",
        "value_col": "l_quantity",
        "group_a": "F",
        "group_b": "O",
    }
    mw = run_analysis(lineitem, "mannwhitney", dict(args, correction="fdr_bh"))
    assert {"u_stat", "z_stat", "p_value", "p_adj"} <= set(mw.columns)
    lv = run_analysis(lineitem, "levene", args)
    assert {"w_stat", "p_value"} <= set(lv.columns)
    es = run_analysis(lineitem, "effect_size", args)
    assert {"cohen_d", "hedges_g"} <= set(es.columns)
    # generic spellings reproduce the catalog's oracle-checked outputs
    for q, generic in (
        ("q_mannwhitney", mw.drop("p_adj", "rejected")),
        ("q_levene_bf", lv),
        ("q_effect_sizes", es),
    ):
        cat = CATALOG[q].spark_fn(spark, SF_DIR)
        assert _sorted_pdf(generic).equals(_sorted_pdf(cat)), q


# ----------------------------------------------------------------------
# Wilcoxon signed-rank (paired branch): independent reference on a
# fixture exercising multi-row sides, missing-side subjects, zero
# diffs, and tied |d| ranks.
# ----------------------------------------------------------------------

WSR_FIXTURE = {
    # feature -> subject -> ([a-side rows], [b-side rows] or None)
    "A": {
        1: ([3.0, 2.0], [1.0]),
        2: ([5.0], [5.0]),          # zero diff -> dropped ('wilcox')
        3: ([2.0], [6.0]),
        4: ([8.0, 1.0], [4.0]),
        5: ([1.0], [5.0]),
        6: ([9.0], [2.0, 3.0]),
        7: ([4.0], None),           # missing b side -> dropped
    },
    "B": {
        1: ([1.0], [2.0]),
        2: ([7.0], [3.0]),
        3: ([6.5], [6.0]),
        4: ([2.0], [9.0]),
        5: ([10.0], [4.5]),
    },
}


def _wsr_reference(pairs):
    """[(sum_a, sum_b)] -> (n, T, z, p) per scipy wilcoxon
    (zero_method='wilcox', normal approx, no continuity correction)."""
    ds = [a - b for a, b in pairs if a - b != 0]
    n = len(ds)
    cnt = Counter(abs(d) for d in ds)
    ranks, pos = {}, 1
    for v in sorted(cnt):
        ranks[v] = pos + (cnt[v] - 1) / 2.0
        pos += cnt[v]
    w_plus = sum(ranks[abs(d)] for d in ds if d > 0)
    t = min(w_plus, n * (n + 1) / 2.0 - w_plus)
    mu = n * (n + 1) / 4.0
    tie = sum(c**3 - c for c in cnt.values())
    var = n * (n + 1) * (2 * n + 1) / 24.0 - tie / 48.0
    z = (t - mu) / math.sqrt(var)
    p = min(1.0, math.erfc(abs(z) / math.sqrt(2.0)))
    return n, t, z, p


def test_wilcoxon_matches_independent_reference(spark):
    from ckg_spark.ops.stats import wilcoxon_signed_rank

    rows = [
        (f, s, g, v)
        for f, subs in WSR_FIXTURE.items()
        for s, (avals, bvals) in subs.items()
        for g, vals in (("a", avals), ("b", bvals))
        if vals is not None
        for v in vals
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["f", "s", "g", "x"]))
    got = {
        r["f"]: r
        for r in wilcoxon_signed_rank(df, "f", "s", "g", "x", "a", "b").collect()
    }
    for feat, subs in WSR_FIXTURE.items():
        pairs = [
            (sum(a), sum(b)) for a, b in subs.values() if a is not None and b is not None
        ]
        n, t, z, p = _wsr_reference(pairs)
        assert got[feat]["n_pairs"] == n, feat
        assert got[feat]["w_stat"] == pytest.approx(t, abs=1e-9), feat
        assert got[feat]["z_stat"] == pytest.approx(round(z, 6), abs=1e-6), feat
        assert got[feat]["p_value"] == pytest.approx(p, abs=3e-7), feat


def test_dispatch_wilcoxon(spark, lineitem):
    wx = run_analysis(
        lineitem,
        "wilcoxon",
        {
            "feature_col": "l_returnflag",
            "subject_col": "l_orderkey",
            "group_col": "l_linestatus",
            "value_col": "l_quantity",
            "group_a": "F",
            "group_b": "O",
            "correction": "fdr_bh",
        },
    )
    assert {"n_pairs", "w_stat", "z_stat", "p_value", "p_adj"} <= set(wx.columns)
    cat = CATALOG["q_wilcoxon_signed"].spark_fn(spark, SF_DIR)
    assert _sorted_pdf(wx.drop("p_adj", "rejected")).equals(_sorted_pdf(cat))


# ----------------------------------------------------------------------
# Normality gate (D'Agostino-Pearson K^2): independent pure-Python
# reference implementing the published D'Agostino (1970) /
# Anscombe-Glynn (1983) transforms from scratch, plus the behavioral
# property the reference uses check_normality FOR (pass normal data,
# fail skewed data).
# ----------------------------------------------------------------------


def _k2_reference(xs):
    n = float(len(xs))
    mean = sum(xs) / n
    m2 = sum((x - mean) ** 2 for x in xs) / n
    m3 = sum((x - mean) ** 3 for x in xs) / n
    m4 = sum((x - mean) ** 4 for x in xs) / n
    g1 = m3 / m2**1.5
    b2 = m4 / m2**2
    # skewness z (D'Agostino 1970)
    y = g1 * math.sqrt((n + 1) * (n + 3) / (6.0 * (n - 2)))
    beta2 = 3.0 * (n**2 + 27 * n - 70) * (n + 1) * (n + 3) / (
        (n - 2) * (n + 5) * (n + 7) * (n + 9)
    )
    w2 = math.sqrt(2 * (beta2 - 1)) - 1
    delta = 1 / math.sqrt(0.5 * math.log(w2))
    alpha = math.sqrt(2.0 / (w2 - 1))
    if y == 0:
        y = 1.0
    zs = delta * math.asinh(y / alpha)
    # kurtosis z (Anscombe-Glynn 1983)
    e = 3.0 * (n - 1) / (n + 1)
    var = 24.0 * n * (n - 2) * (n - 3) / ((n + 1) ** 2 * (n + 3) * (n + 5))
    x = (b2 - e) / math.sqrt(var)
    sb1 = (6.0 * (n * n - 5 * n + 2) / ((n + 7) * (n + 9))) * math.sqrt(
        6.0 * (n + 3) * (n + 5) / (n * (n - 2) * (n - 3))
    )
    a = 6.0 + 8.0 / sb1 * (2.0 / sb1 + math.sqrt(1 + 4.0 / sb1**2))
    denom = 1 + x * math.sqrt(2.0 / (a - 4.0))
    t2 = math.copysign(abs((1 - 2.0 / a) / denom) ** (1 / 3.0), denom)
    zk = (1 - 2.0 / (9.0 * a) - t2) / math.sqrt(2.0 / (9.0 * a))
    k2 = zs * zs + zk * zk
    return k2, math.exp(-k2 / 2.0)


def test_normality_matches_independent_reference(spark):
    import random

    from ckg_spark.ops.stats import normality_test

    rng = random.Random(7)
    samples = {
        ("F1", "normal"): [rng.gauss(10.0, 2.0) for _ in range(400)],
        ("F1", "skewed"): [rng.expovariate(0.5) for _ in range(400)],
        ("F2", "uniformish"): [rng.uniform(0.0, 50.0) for _ in range(300)],
        ("F2", "tiny"): [1.0, 2.0, 3.0],  # n < 20 -> dropped
    }
    rows = [(f, g, v) for (f, g), vs in samples.items() for v in vs]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["f", "g", "x"]))
    got = {
        (r["f"], r["g"]): r
        for r in normality_test(df, "f", "g", "x").collect()
    }
    assert ("F2", "tiny") not in got
    for key, vs in samples.items():
        if key == ("F2", "tiny"):
            continue
        k2, p = _k2_reference(vs)
        assert got[key]["n"] == len(vs)
        assert got[key]["k2_stat"] == pytest.approx(k2, rel=1e-6), key
        assert got[key]["p_value"] == pytest.approx(p, abs=1e-8), key
    # the decision role check_normality exists for:
    assert got[("F1", "normal")]["passes"] is True
    assert got[("F1", "skewed")]["passes"] is False


def test_dispatch_normality(spark, lineitem):
    nm = run_analysis(
        lineitem,
        "normality",
        {
            "feature_col": "l_returnflag",
            "group_col": "l_linestatus",
            "value_col": "l_quantity",
        },
    )
    assert {"n", "k2_stat", "p_value", "passes"} <= set(nm.columns)
    cat = CATALOG["q_normality_check"].spark_fn(spark, SF_DIR)
    got = nm.withColumn("passes", F.col("passes").cast("int"))
    assert _sorted_pdf(got).equals(_sorted_pdf(cat))


def test_bootstrap_meandiff_matches_catalog(spark, lineitem):
    li = lineitem.withColumn(
        "rid", F.col("l_orderkey") * 8 + F.col("l_linenumber")
    )
    generic = run_analysis(
        li,
        "dabest",
        {
            "feature_col": "l_returnflag",
            "group_col": "l_linestatus",
            "value_col": "l_quantity",
            "id_col": "rid",
            "group_a": "F",
            "group_b": "O",
        },
    )
    catalog = CATALOG["q_bootstrap_meandiff"].spark_fn(spark, SF_DIR)
    assert _sorted_pdf(generic).equals(_sorted_pdf(catalog))


def _lowbias_u(x: int) -> float:
    """From-scratch lowbias32 uniform — independent of ops/curation."""
    m = 2**32
    h = x % m
    for _ in range(2):
        h = (((h >> 16) ^ h) * 0x45D9F3B) % m
    return ((h >> 16) ^ h) / m


def test_bootstrap_meandiff_matches_independent_reference(spark):
    """Pure-python Poisson-bootstrap mirror: same (id, replicate) →
    Poisson(1) weight construction, naive per-replicate loops, numpy
    percentile. Values are exact binary quarters so replicate means are
    bitwise comparable."""
    import numpy as np

    from ckg_spark.ops.stats import bootstrap_meandiff

    n_boot = 100
    rows = []
    for i in range(30):
        feat = "feat1" if i < 20 else "feat2"
        grp = "A" if i % 2 == 0 else "B"
        v = float((i * 7) % 13 + 0.25 * (i % 4))
        rows.append((i, feat, grp, v))
    df = spark.createDataFrame(rows, ["sid", "feature", "grp", "val"])
    got = {
        r["feature"]: r
        for r in bootstrap_meandiff(
            df, "feature", "grp", "val", "sid", "A", "B", n_boot=n_boot
        ).collect()
    }

    cdf, acc = [], 0.0
    for j in range(8):
        acc += 1.0 / math.factorial(j)
        cdf.append(acc * math.exp(-1.0))

    def weight(i: int, b: int) -> int:
        u = _lowbias_u((i % 2**32) * n_boot + b)
        return sum(1 for c in cdf if u >= c)

    for feat in ("feat1", "feat2"):
        sub = [(i, g, v) for (i, f, g, v) in rows if f == feat]
        m_a = np.mean([v for _, g, v in sub if g == "A"])
        m_b = np.mean([v for _, g, v in sub if g == "B"])
        diffs = []
        for b in range(n_boot):
            wa = [(weight(i, b), v) for i, g, v in sub if g == "A"]
            wb = [(weight(i, b), v) for i, g, v in sub if g == "B"]
            sa, sb = sum(w for w, _ in wa), sum(w for w, _ in wb)
            if sa > 0 and sb > 0:
                diffs.append(
                    round(
                        sum(w * v for w, v in wa) / sa
                        - sum(w * v for w, v in wb) / sb,
                        6,
                    )
                )
        r = got[feat]
        assert r["mean_diff"] == pytest.approx(round(float(m_a - m_b), 6), abs=1e-9)
        assert r["n_valid_boot"] == len(diffs)
        assert r["ci_low"] == pytest.approx(
            round(float(np.percentile(diffs, 2.5)), 6), abs=1e-6
        )
        assert r["ci_high"] == pytest.approx(
            round(float(np.percentile(diffs, 97.5)), 6), abs=1e-6
        )


def test_tukey_hsd_matches_catalog(spark, lineitem):
    generic = run_analysis(
        lineitem,
        "thsd",
        {
            "feature_col": "l_linestatus",
            "group_col": "l_returnflag",
            "value_col": "l_quantity",
        },
    )
    catalog = CATALOG["q_tukey_hsd"].spark_fn(spark, SF_DIR)
    assert _sorted_pdf(generic).equals(_sorted_pdf(catalog))


def _py_avg_ranks(vals):
    """Independent average-rank implementation (scipy rankdata 'average')."""
    order = sorted(range(len(vals)), key=lambda i: vals[i])
    ranks = [0.0] * len(vals)
    i = 0
    while i < len(order):
        j = i
        while j + 1 < len(order) and vals[order[j + 1]] == vals[order[i]]:
            j += 1
        avg = (i + j) / 2.0 + 1.0
        for k in range(i, j + 1):
            ranks[order[k]] = avg
        i = j + 1
    return ranks


def test_spearman_matches_independent_reference(spark):
    import numpy as np

    xs = [1.0, 2.0, 2.0, 3.0, 5.0, 5.0, 5.0, 8.0, 9.0, 4.0]
    ys = [2.0, 1.0, 4.0, 4.0, 6.0, 7.0, 7.0, 9.0, 8.0, 3.0]
    df = spark.createDataFrame(
        [("g", x, y) for x, y in zip(xs, ys)], "grp string, x double, y double"
    )
    got = run_analysis(
        df,
        "correlation",
        {"x_col": "x", "y_col": "y", "group_cols": ["grp"], "method": "spearman"},
    ).collect()[0]
    rho_ref = float(np.corrcoef(_py_avg_ranks(xs), _py_avg_ranks(ys))[0, 1])
    assert got["n"] == 10
    assert abs(got["coefficient"] - round(rho_ref, 6)) < 1e-9
    assert 0.0 < got["p_value"] < 0.05  # strong monotone association


def test_generic_spearman_matches_catalog(spark, lineitem):
    generic = run_analysis(
        lineitem,
        "correlation",
        {
            "x_col": "l_discount",
            "y_col": "l_quantity",
            "group_cols": ["l_returnflag"],
            "method": "spearman",
        },
    )
    catalog = CATALOG["q_spearman_corr"].spark_fn(spark, SF_DIR)
    assert _sorted_pdf(generic).equals(_sorted_pdf(catalog))


def _py_corrections(pvals, method, alpha=0.05):
    """Independent statsmodels-multipletests mirror for the one-step /
    step-down family (analytics.py:859-886)."""
    m = len(pvals)
    if method == "bonferroni":
        adj = [min(1.0, p * m) for p in pvals]
    elif method == "sidak":
        adj = [1.0 - (1.0 - p) ** m for p in pvals]
    elif method == "holm":
        order = sorted(range(m), key=lambda i: pvals[i])
        adj = [0.0] * m
        running = 0.0
        for rank, i in enumerate(order):
            running = max(running, (m - rank) * pvals[i])
            adj[i] = min(1.0, running)
    return adj, [a <= alpha for a in adj]


@pytest.mark.parametrize("method", ["bonferroni", "sidak", "holm"])
def test_pvalue_correction_matches_independent_reference(spark, method):
    from ckg_spark.ops.stats import pvalue_correction

    pvals = [0.001, 0.008, 0.039, 0.041, 0.042, 0.06, 0.074, 0.205, 0.212, 0.216]
    df = spark.createDataFrame(
        [(f"f{i:02d}", p) for i, p in enumerate(pvals)], "feat string, p_value double"
    )
    got = (
        pvalue_correction(df, "p_value", ["feat"], alpha=0.05, method=method)
        .orderBy("feat")
        .collect()
    )
    adj_ref, rej_ref = _py_corrections(pvals, method)
    for row, a, rj in zip(got, adj_ref, rej_ref):
        # 2e-9 absorbs a last-ulp Java-vs-CPython pow() disagreement
        # landing on a ROUND(9) boundary
        assert abs(row["p_adj"] - round(a, 9)) < 2e-9, (method, row["feat"])
        assert row["rejected"] == int(rj)


def test_dispatch_ttest_with_onestep_corrections(spark, lineitem):
    from ckg_spark.ops.stats import pvalue_correction  # noqa: F401 (API presence)

    base = run_analysis(
        lineitem,
        "ttest",
        {
            "feature_col": "l_returnflag",
            "group_col": "l_linestatus",
            "value_col": "l_quantity",
            "group_a": "F",
            "group_b": "O",
            "correction": "none",
        },
    ).collect()
    m = len(base)
    corrected = run_analysis(
        lineitem,
        "ttest",
        {
            "feature_col": "l_returnflag",
            "group_col": "l_linestatus",
            "value_col": "l_quantity",
            "group_a": "F",
            "group_b": "O",
            "correction": "bonferroni",
        },
    ).collect()
    by_flag = {r["l_returnflag"]: r for r in corrected}
    for r in base:
        exp = round(min(1.0, r["p_value"] * m), 9)
        assert abs(by_flag[r["l_returnflag"]]["p_adj"] - exp) < 1e-9


def test_corrections_exclude_null_and_nan_pvalues(spark):
    """NULL/NaN p-values (untestable features — e.g. zero variance in
    both groups) must not enter any correction's ranking: ascending sort
    puts NULL first, so one such row would seed BH's reverse running-min
    and reject every feature. They come back p_adj NULL / rejected 0."""
    import math

    from ckg_spark.ops import stats

    pdf = [("f1", 0.001), ("f2", 0.04), ("f3", None), ("f4", float("nan")), ("f5", 0.9)]
    df = spark.createDataFrame(pdf, ["identifier", "p_value"])
    clean = spark.createDataFrame(
        [r for r in pdf if r[1] is not None and not math.isnan(r[1])],
        ["identifier", "p_value"],
    )
    for fn in (
        lambda d: stats.bh_adjust(d, "p_value", ["identifier"]),
        lambda d: stats.bh_twostage(d, "p_value", ["identifier"]),
        lambda d: stats.pvalue_correction(d, "p_value", ["identifier"], method="holm"),
        lambda d: stats.pvalue_correction(d, "p_value", ["identifier"], method="bonferroni"),
    ):
        got = {r["identifier"]: (r["p_adj"], r["rejected"]) for r in fn(df).collect()}
        exp = {r["identifier"]: (r["p_adj"], r["rejected"]) for r in fn(clean).collect()}
        # valid rows: identical to running on the pre-cleaned frame
        for k, v in exp.items():
            assert got[k] == v, (k, got[k], v)
        # invalid rows present, never rejected, p_adj NULL
        assert got["f3"] == (None, 0) and got["f4"] == (None, 0)


def test_feature_correlation_matrix_matches_numpy(spark):
    """All-pairs long-format correlation == np.corrcoef over the wide
    matrix (the reference's run_efficient_correlation), p == t-tail."""
    import numpy as np

    rng_rows = []
    # deterministic 6 samples x 4 features with real structure
    vals = {
        "f1": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0],
        "f2": [2.1, 3.9, 6.2, 8.1, 9.9, 12.2],   # ~2*f1
        "f3": [5.0, 3.0, 6.0, 1.0, 2.0, 4.0],    # shuffled
        "f4": [0.5, 0.4, 0.3, 0.2, 0.1, 0.0],    # -f1
    }
    for f, vs in vals.items():
        for i, v in enumerate(vs):
            rng_rows.append((f"s{i}", f, v))
    df = spark.createDataFrame(rng_rows, ["sample", "identifier", "value"])

    from ckg_spark.ops.stats import feature_correlation_matrix

    got = {
        (r["node1"], r["node2"]): (r["weight"], r["p_value"], r["n"])
        for r in feature_correlation_matrix(df, "sample", "identifier", "value").collect()
    }
    keys = sorted(vals)
    mat = np.array([vals[k] for k in keys])
    c = np.corrcoef(mat)
    assert len(got) == 6
    for i, a in enumerate(keys):
        for j in range(i + 1, len(keys)):
            b = keys[j]
            w, p, n = got[(a, b)]
            assert n == 6
            assert abs(w - round(c[i, j], 6)) < 1e-9, (a, b, w, c[i, j])
            assert 0.0 <= p <= 1.0
    assert got[("f1", "f4")][0] == -1.0 and got[("f1", "f4")][1] < 1e-6


def test_feature_correlation_matrix_spearman_rank_semantics(spark):
    """Spearman == Pearson of average ranks (scipy tie handling):
    a monotone nonlinear pair must hit rho == 1 exactly."""
    rows = []
    xs = [1.0, 2.0, 3.0, 4.0, 5.0]
    for i, x in enumerate(xs):
        rows.append((f"s{i}", "lin", x))
        rows.append((f"s{i}", "exp", float(2 ** x)))
    df = spark.createDataFrame(rows, ["sample", "identifier", "value"])
    from ckg_spark.ops.stats import feature_correlation_matrix

    r = feature_correlation_matrix(df, "sample", "identifier", "value", method="spearman").collect()
    assert len(r) == 1 and r[0]["weight"] == 1.0


def test_multi_correlation_inner_merge_semantics(spark):
    """run_multi_correlation parity: only samples present in EVERY frame
    count, features are dataset-tagged, correction columns present."""
    from ckg_spark.analysis import multi_correlation

    prot = spark.createDataFrame(
        [("s1", "p1", 1.0), ("s2", "p1", 2.0), ("s3", "p1", 3.0), ("s4", "p1", 4.0)],
        ["sample", "identifier", "value"],
    )
    clin = spark.createDataFrame(
        [("s1", "age", 10.0), ("s2", "age", 20.0), ("s3", "age", 30.0)],
        ["sample", "identifier", "value"],
    )  # s4 missing here -> excluded everywhere
    out = multi_correlation({"proteomics": prot, "clinical": clin}, {})
    rows = out.collect()
    assert len(rows) == 1
    r = rows[0]
    assert {r["node1"], r["node2"]} == {"proteomics~p1", "clinical~age"}
    assert r["n"] == 3 and r["weight"] == 1.0
    assert "p_adj" in out.columns and "rejected" in out.columns


def test_correlation_matrix_dispatch(spark):
    from ckg_spark.analysis import run_analysis

    df = spark.createDataFrame(
        [("s1", "a", 1.0), ("s2", "a", 2.0), ("s3", "a", 3.0),
         ("s1", "b", 3.0), ("s2", "b", 2.0), ("s3", "b", 1.0)],
        ["sample", "identifier", "value"],
    )
    r = run_analysis(df, "correlation_matrix", {}).collect()
    assert len(r) == 1 and r[0]["weight"] == -1.0


def test_l2_normalization_zero_sample_kept(spark):
    """An all-zero sample keeps its zeros (the unguarded division threw
    DIVIDE_BY_ZERO under this session's ANSI config)."""
    from ckg_spark.analysis import run_analysis

    df = spark.createDataFrame(
        [("s1", "f1", 0.0), ("s1", "f2", 0.0), ("s2", "f1", 3.0), ("s2", "f2", 4.0)],
        "sample string, identifier string, value double",
    )
    out = run_analysis(df, "normalization", {"method": "l2"})
    vals = {(r["sample"], r["identifier"]): r["value_norm"] for r in out.collect()}
    assert vals[("s1", "f1")] == 0.0 and vals[("s1", "f2")] == 0.0
    assert vals[("s2", "f1")] == pytest.approx(0.6) and vals[("s2", "f2")] == pytest.approx(0.8)


def test_degenerate_inputs_yield_null_not_ansi_abort(spark):
    """Zero-variance / singleton inputs must flow the documented
    'untestable feature' path (NULL statistic, row absorbed by
    _split_valid_p or the op's own isNotNull filter) instead of killing
    the whole job with SparkArithmeticException DIVIDE_BY_ZERO under
    this session's ANSI config. Each case below crashed before the
    _nz guards landed (seventh review batch)."""
    from ckg_spark.ops.stats import (
        anova_oneway,
        effect_sizes,
        levene_bf,
        mann_whitney_u,
        normality_test,
        welch_ttest,
        zscore,
    )

    # constant in BOTH groups: t, dof, d, g are all 0/0.
    flat = spark.createDataFrame(
        [("f1", "A", 1.0), ("f1", "A", 1.0), ("f1", "B", 2.0), ("f1", "B", 2.0)],
        "feature string, grp string, value double",
    )
    t = welch_ttest(flat, "feature", "grp", "value", "A", "B").collect()
    assert len(t) == 1 and t[0]["t_stat"] is None and t[0]["p_value"] is None
    e = effect_sizes(flat, "feature", "grp", "value", "A", "B").collect()
    assert len(e) == 1 and e[0]["cohen_d"] is None

    # every group internally constant -> ssw == 0 -> F undefined;
    # levene_bf GUARANTEES this whenever every group has exactly 2 rows.
    a = anova_oneway(flat, "feature", "grp", "value").collect()
    assert len(a) == 1 and a[0]["f_stat"] is None and a[0]["p_value"] is None
    lv = levene_bf(flat, "feature", "grp", "value").collect()
    assert len(lv) == 1 and lv[0]["w_stat"] is None

    # constant group: z-score NULL for that group, exact elsewhere.
    z = zscore(
        spark.createDataFrame(
            [("g1", 5.0), ("g1", 5.0), ("g2", 1.0), ("g2", 3.0)],
            "grp string, value double",
        ),
        "value",
        ["grp"],
    ).collect()
    by_grp = {}
    for r in z:
        by_grp.setdefault(r["grp"], []).append(r["value_norm"])
    assert by_grp["g1"] == [None, None]
    assert sorted(by_grp["g2"]) == [pytest.approx(-0.707107), pytest.approx(0.707107)]

    # single-observation feature: n*(n-1)==0 inside var_u; the var_u>0
    # filter must DROP the row (NULL>0 is not true), not evaluate-abort.
    single = spark.createDataFrame(
        [("f1", "A", 1.0)], "feature string, grp string, value double"
    )
    assert mann_whitney_u(single, "feature", "grp", "value", "A", "B").count() == 0

    # constant group: skewness/kurtosis 0/0 -> row dropped by the
    # existing isNotNull filter rather than aborting at its evaluation.
    flat8 = spark.createDataFrame(
        [("f1", "A", 3.0)] * 8, "feature string, grp string, value double"
    )
    assert normality_test(flat8, "feature", "grp", "value").count() == 0


def test_generic_anova_twoway_matches_catalog(spark, lineitem):
    generic = run_analysis(
        lineitem,
        "2-way anova",
        {
            "factor_a": "l_returnflag",
            "factor_b": "l_linestatus",
            "value_col": "l_quantity",
            "order_cols": ["l_orderkey", "l_linenumber"],
        },
    )
    catalog = CATALOG["q_anova_twoway"].spark_fn(spark, SF_DIR)
    assert _sorted_pdf(generic).equals(_sorted_pdf(catalog))


def test_generic_rm_anova_matches_catalog(spark):
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    generic = run_analysis(
        events,
        "repeated_measurements_anova",
        {
            "subject_col": "user_id",
            "condition_col": "event_type",
            "value_col": "value",
        },
    )
    catalog = CATALOG["q_rm_anova"].spark_fn(spark, SF_DIR)
    assert _sorted_pdf(generic).equals(_sorted_pdf(catalog))


def test_generic_enrichment_matches_catalog(spark):
    part = spark.read.parquet(f"{SF_DIR}/part.parquet")
    generic = run_analysis(
        part,
        "regulation_enrichment",
        {"term_col": "p_type", "foreground": "p_retailprice > 975"},
    )
    catalog = CATALOG["q_enrichment_fisher"].spark_fn(spark, SF_DIR)
    assert _sorted_pdf(generic).equals(_sorted_pdf(catalog))


def test_dispatch_reshape_family(spark):
    """wide_format / long_format round-trip + ranking markers + CV
    (transform_into_wide_format analytics.py:90-132, _long_format
    :133-159, get_ranking_with_markers :160-187,
    get_coefficient_variation :493-544) — pandas-computed references."""
    import math

    long = spark.createDataFrame(
        [
            ("s1", "g1", "fA", 1.0), ("s1", "g1", "fB", 2.0),
            ("s2", "g1", "fA", 3.0), ("s2", "g1", "fB", 4.0),
            ("s3", "g2", "fA", 5.0), ("s3", "g2", "fB", 6.0),
        ],
        schema="sample string, grp string, name string, y double",
    )
    wide = run_analysis(
        long,
        "wide_format",
        {"index": "sample", "columns": "name", "values": "y", "extra": ["grp"]},
    )
    assert set(wide.columns) == {"sample", "fA", "fB", "grp"}
    w = {r["sample"]: r for r in wide.collect()}
    assert w["s2"]["fA"] == 3.0 and w["s2"]["grp"] == "g1" and len(w) == 3

    back = run_analysis(
        wide, "long_format", {"drop_columns": ["sample"], "group": "grp"}
    )
    # melt of the pivot recovers the original (grp, name, y) multiset
    assert sorted(map(tuple, back.collect())) == sorted(
        (g, n, y) for _, g, n, y in long.collect()
    )

    ranked = run_analysis(
        back,
        "ranking_with_markers",
        {
            "group": "grp",
            "list_markers": ["fA"],
            "annotation": {"fA": "DiseaseX"},
        },
    )
    rows = {(r["grp"], r["name"]): r for r in ranked.collect()}
    m = rows[("g1", "fA marker in DiseaseX")]
    assert (m["symbol"], m["size"]) == (17, 25)
    nm = rows[("g1", "fB")]
    assert (nm["symbol"], nm["size"]) == (0, 7)

    cv = run_analysis(
        long,
        "coefficient_of_variation",
        {"group": "grp", "name_col": "name", "value_col": "y"},
    )
    got = {(r["group"], r["name"]): r for r in cv.collect()}
    # reference semantics: population std of 2^x over its mean, x100
    xs = [2.0**1.0, 2.0**3.0]
    mu = sum(xs) / 2
    sd = math.sqrt(sum((x - mu) ** 2 for x in xs) / 2)
    assert got[("g1", "fA")]["x"] == pytest.approx(sd / mu * 100, abs=1e-6)
    assert got[("g1", "fA")]["y"] == pytest.approx(2.0, abs=1e-9)


def test_anova_twoway_unbalanced_without_balance_raises(spark, lineitem):
    import pytest as _pytest

    from ckg_spark.ops.stats import anova_twoway

    with _pytest.raises(ValueError, match="unbalanced"):
        anova_twoway(
            lineitem,
            "l_returnflag",
            "l_linestatus",
            "l_quantity",
            order_cols=["l_orderkey", "l_linenumber"],
            balance=False,
        ).collect()


def test_anova_twoway_incomplete_crossing_raises(spark):
    """A fully absent (a, b) cell invalidates the closed form (df_err,
    cell-weighted divisors) — both modes must refuse, not emit a wrong F
    (un-guarded, pure noise reported interaction p=0.014)."""
    import pytest as _pytest

    from ckg_spark.ops.stats import anova_twoway

    rows = [
        ("A1", "B1", float(v)) for v in (1, 2, 3)
    ] + [("A1", "B2", float(v)) for v in (2, 3, 4)] + [
        ("A2", "B1", float(v)) for v in (3, 4, 5)
    ]  # (A2, B2) absent
    df = spark.createDataFrame(rows, schema="fa string, fb string, v double")
    for bal in (True, False):
        with _pytest.raises(ValueError, match="incomplete crossing"):
            anova_twoway(df, "fa", "fb", "v", order_cols=["v"], balance=bal)


def test_reshape_duplicate_cells_and_nonnumeric_melt(spark):
    """wide_format duplicate (index, columns) pairs resolve by MIN
    deterministically (pandas .pivot raises there; F.first would be
    partitioning-dependent); long_format TRY_CASTs, so a forgotten
    string column melts to NULLs instead of an ANSI mid-job abort."""
    from ckg_spark.ops.reshape import long_format, wide_format

    dup = spark.createDataFrame(
        [("s1", "fA", 5.0), ("s1", "fA", 3.0), ("s1", "fB", 1.0)],
        schema="sample string, name string, y double",
    )
    w1 = wide_format(dup, "sample", "name", "y")
    w2 = wide_format(dup.repartition(7), "sample", "name", "y")
    assert w1.collect() == w2.collect()
    assert w1.collect()[0]["fA"] == 3.0

    mixed = spark.createDataFrame(
        [("g1", 1.0, "oops"), ("g1", 2.0, "nope")],
        schema="grp string, f1 double, note string",
    )
    out = long_format(mixed, [], "grp").collect()
    notes = [r for r in out if r["name"] == "note"]
    assert len(notes) == 2 and all(r["y"] is None for r in notes)


def test_embed_requires_id_cols(spark):
    import pytest as _pytest

    from ckg_spark.ops.tsne import tsne_embed, umap_embed

    df = spark.createDataFrame([(1.0, 2.0)] * 8, schema="f0 double, f1 double")
    with _pytest.raises(ValueError, match="id_cols is required"):
        tsne_embed(df, ["f0", "f1"], [])
    with _pytest.raises(ValueError, match="id_cols is required"):
        umap_embed(df, ["f0", "f1"], [])


def test_fisher_enrichment_distinct_identifier_population(spark):
    """id_col mode counts DISTINCT identifiers for k/cat_n/n_fg/n_all (the
    reference's foreground_pop/background_pop model, analytics.py:2020-2035)
    so multi-term identifiers count once per population; verified against a
    pure-python hypergeometric upper tail."""
    from math import comb

    from ckg_spark.ops.stats import fisher_enrichment

    rows = [
        # (identifier, term, fg) — g1..g4 multi-term on purpose
        ("g1", "tA", True), ("g1", "tB", True),
        ("g2", "tA", True), ("g2", "tC", True),
        ("g3", "tB", False), ("g3", "tC", False),
        ("g4", "tA", False), ("g4", "tB", False), ("g4", "tC", False),
        ("g5", "tA", True),
        ("g6", "tC", False),
        ("g6", "tC", False),  # duplicate pair row must not double-count
    ]
    df = spark.createDataFrame(rows, schema="ident string, term string, fg boolean")
    got = {
        r["term"]: r
        for r in fisher_enrichment(
            df, "term", F.col("fg"), id_col="ident"
        ).collect()
    }
    idents = {}
    fg_ids = set()
    for ident, term, fg in rows:
        idents.setdefault(term, set()).add(ident)
        if fg:
            fg_ids.add(ident)
    n_all = len({i for s in idents.values() for i in s})
    n_fg = len(fg_ids)

    def hyper_sf(k, cat_n, n_fg, n_all):
        # P[X >= k], X ~ Hypergeom(n_all, n_fg, cat_n)
        return sum(
            comb(n_fg, x) * comb(n_all - n_fg, cat_n - x) / comb(n_all, cat_n)
            for x in range(k, min(cat_n, n_fg) + 1)
        )

    for term, members in idents.items():
        k = len(members & fg_ids)
        r = got[term]
        assert r["fg_count"] == k
        assert r["bg_count"] == len(members)
        assert r["p_value"] == pytest.approx(
            min(1.0, hyper_sf(k, len(members), n_fg, n_all)), abs=1e-6
        )


def test_ttest_permutations_routes_to_permutation_fdr(spark):
    """run_analysis('ttest', permutations>0) takes the reference's SAMR
    route (analytics.py:1239-1260) — here the deterministic
    label-permutation FDR — and must equal the direct op call."""
    from ckg_spark.ops.stats import ttest_permutation_fdr

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    base = li.filter(F.col("l_linestatus").isin("F", "O")).select(
        F.col("l_returnflag").alias("feat"),
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("rid"),
        F.col("l_quantity").cast("double").alias("v"),
        "l_linestatus",
    )
    args = {
        "feature_col": "feat",
        "group_col": "l_linestatus",
        "value_col": "v",
        "group_a": "F",
        "group_b": "O",
        "permutations": 20,
        "rid_col": "rid",
    }
    via = _sorted_pdf(run_analysis(base, "ttest", args))
    direct = _sorted_pdf(
        ttest_permutation_fdr(
            base, "feat", "l_linestatus", "v", "F", "O", "rid", 20
        )
    )
    assert via.equals(direct)
    assert set(via.columns) == {"feat", "t_stat", "p_perm", "p_adj"}
    with pytest.raises(ValueError, match="rid_col"):
        run_analysis(base, "ttest", {**args, "rid_col": None})


def test_ttest_permutation_drops_degenerate_features(spark):
    """A feature with 0 or 1 usable rows in either group must be DROPPED,
    mirroring welch_ttest's n1>1 AND n2>1 emission — not emitted with a
    spuriously strong p_perm = 1/(K+1) from NULL-vs-NULL comparisons
    (ADVICE r3). Also: a degenerate feature must not distort the BH m or
    tail-min for the valid features."""
    from ckg_spark.ops.stats import ttest_permutation_fdr, welch_ttest

    rows = []
    rid = 0
    # f_ok: 4 per group; f_single_a: 1 a-row; f_empty_b: only a-rows;
    # f_nullv: 3 a-rows but all-NULL v (value count 0)
    for i in range(4):
        rows.append(("f_ok", rid, 1.0 + i, "a")); rid += 1
        rows.append(("f_ok", rid, 5.0 + 2 * i, "b")); rid += 1
    rows.append(("f_single_a", rid, 3.0, "a")); rid += 1
    for i in range(3):
        rows.append(("f_single_a", rid, 1.0 + i, "b")); rid += 1
    for i in range(3):
        rows.append(("f_empty_b", rid, 2.0 + i, "a")); rid += 1
    for i in range(3):
        rows.append(("f_nullv", rid, None, "a")); rid += 1
        rows.append(("f_nullv", rid, 1.0 + i, "b")); rid += 1
    df = spark.createDataFrame(rows, "feat string, rid bigint, v double, g string")

    out = ttest_permutation_fdr(df, "feat", "g", "v", "a", "b", "rid", 10).toPandas()
    assert set(out["feat"]) == {"f_ok"}
    welch = welch_ttest(df, "feat", "g", "v", "a", "b").toPandas()
    # the two routes of the dispatch agree on which features are emitted
    assert set(out["feat"]) == set(welch["feat"])
    r = out.iloc[0]
    assert r["t_stat"] is not None and r["p_perm"] > 1.0 / 11.0 - 1e-12
    # m=1 valid feature: p_adj == p_perm (no tail distortion from dropped rows)
    assert r["p_adj"] == pytest.approx(min(1.0, r["p_perm"]), abs=1e-9)


@pytest.mark.parametrize("op", ["ttest_permutation_fdr", "sam_permutation_fdr"])
def test_permutation_rejects_non_numeric_rid(spark, op):
    """Both permutation operators refuse a string rid up front instead of
    failing at action time deep in the plan."""
    from ckg_spark.ops import stats

    df = spark.createDataFrame(
        [("f1", "r1", 1.0, "a"), ("f1", "r2", 2.0, "b")],
        "feat string, rid string, v double, g string",
    )
    with pytest.raises(ValueError, match=f"{op}: rid_col 'rid' must be an integer column"):
        getattr(stats, op)(df, "feat", "g", "v", "a", "b", "rid", 5)


def _sam_reference(values_by_feat, s0):
    """Independent SAM statistic: plain-python moments, no shared code
    with the engine (the log-rank lesson — a twin of the same formula
    cannot catch a shared modeling defect)."""
    out = {}
    for feat, (va, vb) in values_by_feat.items():
        n1, n2 = len(va), len(vb)
        if n1 < 2 or n2 < 2:
            continue
        m1 = sum(va) / n1
        m2 = sum(vb) / n2
        ss1 = sum((x - m1) ** 2 for x in va)
        ss2 = sum((x - m2) ** 2 for x in vb)
        s = ((1.0 / n1 + 1.0 / n2) * (ss1 + ss2) / (n1 + n2 - 2)) ** 0.5
        out[feat] = (m1 - m2) / (s + s0)
    return out


def test_samr_statistic_matches_independent_reference(spark):
    """Fixed s0: the engine's d per feature equals the independently
    computed SAM statistic (subject-level python, no engine code)."""
    import random

    from ckg_spark.ops.stats import sam_permutation_fdr

    rng = random.Random(17)
    rows, truth = [], {}
    rid = 0
    for fi in range(25):
        feat = f"f{fi:02d}"
        shift = rng.uniform(-2, 2) if fi % 3 == 0 else 0.0
        scale = rng.uniform(0.5, 3.0)
        va = [rng.gauss(0, scale) for _ in range(rng.randint(4, 9))]
        vb = [rng.gauss(shift, scale) for _ in range(rng.randint(4, 9))]
        truth[feat] = (va, vb)
        for x in va:
            rows.append((feat, rid, x, "a")); rid += 1
        for x in vb:
            rows.append((feat, rid, x, "b")); rid += 1
    df = spark.createDataFrame(rows, "feat string, rid bigint, v double, g string")
    got = {
        r["feat"]: r["d_stat"]
        for r in sam_permutation_fdr(
            df, "feat", "g", "v", "a", "b", "rid", permutations=5, s0=0.7
        ).collect()
    }
    ref = _sam_reference(truth, 0.7)
    assert set(got) == set(ref)
    for feat, d in ref.items():
        assert got[feat] == pytest.approx(round(d, 6), abs=2e-6), feat


def test_samr_auto_s0_matches_independent_selection(spark):
    """Automatic s0: the engine's choice equals an in-test
    implementation of the published Tusher/Chu selection (quantile
    candidates, percentile windows, CV of window MADs) fed with
    INDEPENDENTLY computed per-feature (r, s)."""
    import random

    import numpy as np

    from ckg_spark.ops.stats import sam_permutation_fdr

    rng = random.Random(23)
    rows, truth = [], {}
    rid = 0
    for fi in range(60):
        feat = f"f{fi:02d}"
        scale = 0.2 + 2.5 * rng.random() ** 2
        va = [rng.gauss(0, scale) for _ in range(6)]
        vb = [rng.gauss(rng.uniform(-1, 1), scale) for _ in range(6)]
        truth[feat] = (va, vb)
        for x in va:
            rows.append((feat, rid, x, "a")); rid += 1
        for x in vb:
            rows.append((feat, rid, x, "b")); rid += 1
    df = spark.createDataFrame(rows, "feat string, rid bigint, v double, g string")
    out = sam_permutation_fdr(
        df, "feat", "g", "v", "a", "b", "rid", permutations=5
    ).collect()
    engine_s0 = out[0]["s0"]

    rs, ss = [], []
    for feat in sorted(truth):
        va, vb = truth[feat]
        n1, n2 = len(va), len(vb)
        m1, m2 = sum(va) / n1, sum(vb) / n2
        ss1 = sum((x - m1) ** 2 for x in va)
        ss2 = sum((x - m2) ** 2 for x in vb)
        ss.append(((1 / n1 + 1 / n2) * (ss1 + ss2) / (n1 + n2 - 2)) ** 0.5)
        rs.append(m1 - m2)
    s = np.array(ss); r = np.array(rs)
    cands = np.quantile(s, np.arange(21) / 20.0)
    br = np.unique(np.quantile(s, np.linspace(0, 1, 101)))
    w = np.searchsorted(br, s, side="left")
    best, best_cv = 0.0, None
    for c in cands:
        d = r / (s + c)
        mads = np.array([
            np.median(np.abs(d[w == g] - np.median(d[w == g])))
            for g in np.unique(w)
        ])
        if mads.mean() == 0 or mads.size < 2:
            continue
        cv = mads.std(ddof=1) / mads.mean()
        if best_cv is None or cv < best_cv:
            best_cv, best = cv, float(c)
    assert engine_s0 == pytest.approx(best, abs=1e-9)
    # s0 stabilizes: larger s0 shrinks |d| monotonically per feature
    d0 = {r_["feat"]: abs(r_["d_stat"]) for r_ in out}
    out_big = sam_permutation_fdr(
        df, "feat", "g", "v", "a", "b", "rid", permutations=5, s0=best + 5.0
    ).collect()
    for r_ in out_big:
        assert abs(r_["d_stat"]) <= d0[r_["feat"]] + 1e-9


def test_samr_dispatch_and_degenerate_gate(spark):
    from ckg_spark.analysis import run_analysis
    from ckg_spark.ops.stats import sam_permutation_fdr

    rows = []
    rid = 0
    for i in range(5):
        rows.append(("ok", rid, float(i), "a")); rid += 1
        rows.append(("ok", rid, float(i) + 2.0, "b")); rid += 1
    rows.append(("single_a", rid, 1.0, "a")); rid += 1
    for i in range(3):
        rows.append(("single_a", rid, float(i), "b")); rid += 1
    df = spark.createDataFrame(rows, "feat string, rid bigint, v double, g string")
    args = {
        "feature_col": "feat", "group_col": "g", "value_col": "v",
        "group_a": "a", "group_b": "b", "rid_col": "rid",
        "permutations": 10, "s0": 0.1,
    }
    via = _sorted_pdf(run_analysis(df, "samr", args))
    direct = _sorted_pdf(
        sam_permutation_fdr(df, "feat", "g", "v", "a", "b", "rid", 10, s0=0.1)
    )
    assert via.equals(direct)
    assert list(via["feat"]) == ["ok"]  # welch-mirrored emission gate
    assert set(via.columns) == {"feat", "s0", "d_stat", "p_perm", "p_adj"}
    with pytest.raises(ValueError, match="rid_col"):
        run_analysis(df, "samr", {**args, "rid_col": None})


def test_samr_whole_permuted_block_null_does_not_abort(spark):
    """ADVICE r4 (medium): with nulls >= one group's ROW count, some
    permutation assigns the entire f-label block to null-valued rows —
    the permuted non-null count hits 0 and, under ANSI mode, the
    1.0/n term in the pooled-s formula aborted the whole job with
    DIVIDE_BY_ZERO (the observed >1-non-null gate only screens observed
    labels). Degenerate permutations must instead yield NULL d_k and
    fall through to the non-exceeding path."""
    from ckg_spark.ops.stats import sam_permutation_fdr

    # group a: 2 rows (both non-null) -> permuted f-block size 2;
    # group b: 2 non-null + 6 null rows. P(single permutation puts two
    # null rows in the f block) = C(6,2)/C(10,2) = 1/3, so 60
    # deterministic permutations make the degenerate case certain.
    rows = [("f0", 1, 1.0, "a"), ("f0", 2, 3.0, "a"),
            ("f0", 3, 2.0, "b"), ("f0", 4, 4.5, "b")]
    rows += [("f0", 5 + i, None, "b") for i in range(6)]
    df = spark.createDataFrame(
        rows, "feat string, rid bigint, v double, g string"
    )
    out = sam_permutation_fdr(
        df, "feat", "g", "v", "a", "b", "rid", permutations=60, s0=0.3
    ).collect()
    assert len(out) == 1 and out[0]["feat"] == "f0"
    assert out[0]["d_stat"] is not None
    assert 0.0 < out[0]["p_perm"] <= 1.0


def test_samr_null_sprinkled_random_sweep(spark):
    """Three seeds, NULL-sprinkled values: engine d (fixed s0) vs the
    independent reference computed on the non-null values only —
    verifies the moments count non-null values while permutation label
    blocks still use raw row counts (no crash, no silent drop)."""
    import random

    from ckg_spark.ops.stats import sam_permutation_fdr

    for seed in (5, 21, 63):
        rng = random.Random(seed)
        rows, truth = [], {}
        rid = 0
        for fi in range(12):
            feat = f"f{fi}"
            va, vb = [], []
            for g, acc in (("a", va), ("b", vb)):
                for _ in range(rng.randint(5, 9)):
                    if rng.random() < 0.15:
                        rows.append((feat, rid, None, g)); rid += 1
                    else:
                        x = rng.gauss(0.5 if g == "b" else 0.0, 1.0)
                        acc.append(x)
                        rows.append((feat, rid, x, g)); rid += 1
            truth[feat] = (va, vb)
        df = spark.createDataFrame(
            rows, "feat string, rid bigint, v double, g string"
        )
        out = {
            r["feat"]: r["d_stat"]
            for r in sam_permutation_fdr(
                df, "feat", "g", "v", "a", "b", "rid", permutations=5, s0=0.4
            ).collect()
        }
        ref = _sam_reference(truth, 0.4)
        assert set(out) == set(ref), seed
        for feat, d in ref.items():
            assert out[feat] == pytest.approx(round(d, 6), abs=2e-6), (seed, feat)

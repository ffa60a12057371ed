"""Randomized differential tests: seeded-random inputs swept through the
distributed operators and through INDEPENDENT pure-Python references.

The catalog's DuckDB oracles mirror each implementation's arithmetic on
fixed fixtures, and the unit oracles run on handcrafted cases — neither
explores the input space. These sweeps generate adversarial-but-valid
random inputs (ties, NULL/NaN, singleton and constant groups, duplicate
/ self-loop / bidirectional edges) with a fixed numpy seed
(deterministic, reproducible failures) and assert parity against
references built from different machinery (dict ranking, brute-force
enumeration, direct product-limit recursion, Simpson integration)."""

from __future__ import annotations

import math
from itertools import combinations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ckg_spark.ops.graph import k_core, triangle_stats
from ckg_spark.ops.stats import bh_adjust, mann_whitney_u, pvalue_correction, welch_ttest
from ckg_spark.ops.survival import kaplan_meier


# ---------------------------------------------------------------------------
# Welch t-test on random frames (t, dof checked exactly; p vs Simpson)
# ---------------------------------------------------------------------------


def _t_sf_simpson(t: float, dof: float) -> float:
    """Two-sided Student-t tail by direct numerical integration of the
    density — no shared code with ops/special.py's incomplete-beta tail.
    Substitution x = a + u/(1-u) maps [a, ∞) onto [0, 1): a TRUNCATED
    interval is not enough here — at dof ≈ 1 the fat tail carries ~1e-2
    of mass beyond a+60 (a truncation bug this test itself caught)."""
    if t == 0.0:
        return 1.0
    a = abs(t)
    lc = math.lgamma((dof + 1) / 2) - math.lgamma(dof / 2) - 0.5 * math.log(dof * math.pi)

    def dens(x):
        return math.exp(lc - ((dof + 1) / 2) * math.log1p(x * x / dof))

    n = 20000
    h = 1.0 / n
    s = 0.0
    for i in range(n):
        u = (i + 0.5) * h
        x = a + u / (1 - u)
        s += dens(x) / (1 - u) ** 2 * h
    return min(1.0, 2.0 * s)


def _random_long_frame(rng, n_features=5):
    rows = []
    for f in range(n_features):
        shape = rng.integers(0, 4)
        for g in ("a", "b"):
            n = int(rng.integers(0, 8)) if shape == 0 else int(rng.integers(2, 12))
            base = float(rng.normal(0, 3))
            for _ in range(n):
                if shape == 1:  # heavy ties: integer values
                    v = float(rng.integers(-2, 3))
                elif shape == 2 and rng.random() < 0.25:
                    v = None  # NULLs sprinkled in
                elif shape == 3:
                    v = base  # constant group (zero variance)
                else:
                    v = float(np.round(rng.normal(base, 1.5), 3))
                rows.append((f"f{f}", g, v))
    return rows


def test_welch_ttest_random_frames(spark):
    rng = np.random.default_rng(20260821)
    for trial in range(4):
        rows = _random_long_frame(rng)
        df = spark.createDataFrame(rows, schema="feature string, grp string, val double")
        got = {
            r["feature"]: r
            for r in welch_ttest(df, "feature", "grp", "val", "a", "b").collect()
        }
        by_feat = {}
        for f, g, v in rows:
            if v is not None:
                by_feat.setdefault(f, {"a": [], "b": []})[g].append(v)
        for f, d in by_feat.items():
            xa, xb = d["a"], d["b"]
            if len(xa) < 2 or len(xb) < 2:
                assert f not in got, f"trial {trial}: {f} untestable but emitted"
                continue
            assert f in got, f"trial {trial}: {f} missing"
            m1, m2 = np.mean(xa), np.mean(xb)
            # exact zero for constant groups: np.var leaves ~1e-30 float
            # dust there (mean subtraction inexact), which would turn an
            # untestable feature into t ~ 1e15; Spark's incremental
            # var_samp is exactly 0 for constant input, and NULLing the
            # stat is the behavior under test.
            v1 = 0.0 if min(xa) == max(xa) else np.var(xa, ddof=1)
            v2 = 0.0 if min(xb) == max(xb) else np.var(xb, ddof=1)
            se1, se2 = v1 / len(xa), v2 / len(xb)
            se = se1 + se2
            r = got[f]
            if se == 0:  # both groups constant -> untestable (NULL stat)
                assert r["t_stat"] is None
                continue
            t = (m1 - m2) / math.sqrt(se)
            dof = se * se / (se1**2 / (len(xa) - 1) + se2**2 / (len(xb) - 1))
            assert r["n1"] == len(xa) and r["n2"] == len(xb)
            assert r["t_stat"] == pytest.approx(t, abs=2e-6)
            assert r["dof"] == pytest.approx(dof, abs=2e-6)
            assert r["p_value"] == pytest.approx(_t_sf_simpson(t, dof), abs=1e-6)


# ---------------------------------------------------------------------------
# p-value corrections on random vectors (incl. NaN / None / exact ties)
# ---------------------------------------------------------------------------


def _py_bh(items, alpha=0.05):
    """items: [(key, p)] valid only -> {key: (p_adj, rejected)} via the
    textbook sort-descending running-min, not window SQL."""
    m = len(items)
    ordered = sorted(items, key=lambda kp: (kp[1], kp[0]))
    out, run = {}, 1.0
    for i in range(m - 1, -1, -1):
        k, p = ordered[i]
        run = min(run, p * m / (i + 1))
        out[k] = (min(run, 1.0), 1 if run <= alpha else 0)
    return out


def _random_pvec(rng, n):
    ps = []
    for i in range(n):
        u = rng.random()
        if u < 0.1:
            ps.append(None)
        elif u < 0.2:
            ps.append(float("nan"))
        elif u < 0.45:
            ps.append(float(rng.choice([0.01, 0.04, 0.05, 0.5])))  # ties
        else:
            ps.append(float(np.round(rng.random(), 4)))
    return ps


def test_bh_adjust_random_pvectors(spark):
    rng = np.random.default_rng(99)
    for n in (1, 7, 40):
        ps = _random_pvec(rng, n)
        df = spark.createDataFrame(
            [(f"k{i:03d}", p) for i, p in enumerate(ps)],
            schema="feature string, p_value double",
        )
        got = {r["feature"]: r for r in bh_adjust(df, "p_value", ["feature"]).collect()}
        valid = [
            (f"k{i:03d}", p)
            for i, p in enumerate(ps)
            if p is not None and not math.isnan(p)
        ]
        ref = _py_bh(valid)
        assert len(got) == n
        for i, p in enumerate(ps):
            k = f"k{i:03d}"
            if k in ref:
                assert got[k]["p_adj"] == pytest.approx(ref[k][0], abs=2e-9)
                assert got[k]["rejected"] == ref[k][1]
            else:
                assert got[k]["p_adj"] is None and got[k]["rejected"] == 0


def _py_corrections(items, method, alpha=0.05):
    m = len(items)
    if method in ("bonferroni", "sidak"):
        out = {}
        for k, p in items:
            pa = min(1.0, p * m) if method == "bonferroni" else 1 - (1 - p) ** m
            out[k] = (pa, 1 if pa <= alpha else 0)
        return out
    ordered = sorted(items, key=lambda kp: (kp[1], kp[0]))  # holm
    out, run = {}, 0.0
    for i, (k, p) in enumerate(ordered):
        run = max(run, (m - i) * p)
        pa = min(1.0, run)
        out[k] = (pa, 1 if pa <= alpha else 0)
    return out


@pytest.mark.parametrize("method", ["bonferroni", "sidak", "holm"])
def test_pvalue_correction_random_pvectors(spark, method):
    rng = np.random.default_rng(hash(method) % 2**31)
    ps = _random_pvec(rng, 25)
    df = spark.createDataFrame(
        [(f"k{i:03d}", p) for i, p in enumerate(ps)],
        schema="feature string, p_value double",
    )
    got = {
        r["feature"]: r
        for r in pvalue_correction(df, "p_value", ["feature"], method=method).collect()
    }
    valid = [
        (f"k{i:03d}", p) for i, p in enumerate(ps) if p is not None and not math.isnan(p)
    ]
    ref = _py_corrections(valid, method)
    for k, (pa, rej) in ref.items():
        assert got[k]["p_adj"] == pytest.approx(pa, abs=2e-9), (method, k)
        assert got[k]["rejected"] == rej


# ---------------------------------------------------------------------------
# Mann-Whitney U on random tied integer data
# ---------------------------------------------------------------------------


def _py_mwu(xa, xb):
    vals = [(v, "a") for v in xa] + [(v, "b") for v in xb]
    vals.sort(key=lambda t: t[0])
    ranks, i = {}, 0
    out_ranks = [0.0] * len(vals)
    while i < len(vals):
        j = i
        while j < len(vals) and vals[j][0] == vals[i][0]:
            j += 1
        r = (i + 1 + j) / 2.0
        for t in range(i, j):
            out_ranks[t] = r
        ranks[vals[i][0]] = j - i
        i = j
    ra = sum(out_ranks[t] for t in range(len(vals)) if vals[t][1] == "a")
    n1, n2 = len(xa), len(xb)
    u1 = ra - n1 * (n1 + 1) / 2.0
    n = n1 + n2
    tie_term = sum(c**3 - c for c in ranks.values())
    var = n1 * n2 / 12.0 * ((n + 1) - tie_term / (n * (n - 1)))
    if var <= 0:
        return u1, None, None
    mu = n1 * n2 / 2.0
    z = (u1 - mu - (0.5 if u1 > mu else -0.5 if u1 < mu else 0.0)) / math.sqrt(var)
    p = min(1.0, math.erfc(abs(z) / math.sqrt(2.0)))
    return u1, z, p


def test_mann_whitney_random_tied_frames(spark):
    rng = np.random.default_rng(4242)
    rows = []
    for f in range(6):
        for g in ("a", "b"):
            for _ in range(int(rng.integers(2, 15))):
                rows.append((f"f{f}", g, float(rng.integers(0, 5))))
    df = spark.createDataFrame(rows, schema="feature string, grp string, val double")
    got = {
        r["feature"]: r
        for r in mann_whitney_u(df, "feature", "grp", "val", "a", "b").collect()
    }
    for f in {r[0] for r in rows}:
        xa = [v for ff, g, v in rows if ff == f and g == "a"]
        xb = [v for ff, g, v in rows if ff == f and g == "b"]
        u1, z, p = _py_mwu(xa, xb)
        assert got[f]["u_stat"] == pytest.approx(u1, abs=1e-9)
        if p is None:
            assert got[f]["p_value"] is None
        else:
            assert got[f]["p_value"] == pytest.approx(p, abs=1e-6)


# ---------------------------------------------------------------------------
# Triangle counts / clustering coefficient on random graphs
# ---------------------------------------------------------------------------


def test_triangle_stats_random_graphs(spark):
    rng = np.random.default_rng(77)
    for trial in range(3):
        n = int(rng.integers(6, 13))
        und = {
            (f"n{i}", f"n{j}")
            for i, j in combinations(range(n), 2)
            if rng.random() < 0.4
        }
        # messy input: duplicates, reversed copies, self loops
        rows = list(und) + [(b, a) for a, b in und if rng.random() < 0.5]
        rows += [(a, a) for a, _ in list(und)[:2]]
        df = spark.createDataFrame(rows, schema="subj string, obj string")
        got = {r["node"]: r for r in triangle_stats(df).collect()}
        adj = {}
        for a, b in und:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        for v, nbrs in adj.items():
            tri = sum(
                1 for x, y in combinations(sorted(nbrs), 2) if y in adj.get(x, ())
            )
            deg = len(nbrs)
            cc = 2.0 * tri / (deg * (deg - 1)) if deg > 1 else 0.0
            assert got[v]["triangles"] == tri, (trial, v)
            assert float(got[v]["clustering"]) == pytest.approx(cc, abs=1e-6)


# ---------------------------------------------------------------------------
# k-core on random graphs
# ---------------------------------------------------------------------------


def _py_kcore(und, k):
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    changed = True
    while changed:
        changed = False
        for v in list(adj):
            if len(adj[v]) < k:
                for u in adj.pop(v):
                    adj[u].discard(v)
                changed = True
    return {v: len(ns) for v, ns in adj.items()}


def test_k_core_random_graphs(spark):
    rng = np.random.default_rng(555)
    for k in (2, 3):
        n = int(rng.integers(8, 14))
        und = {
            (f"n{i}", f"n{j}")
            for i, j in combinations(range(n), 2)
            if rng.random() < 0.35
        }
        if not und:
            continue
        df = spark.createDataFrame(list(und), schema="subj string, obj string")
        want = _py_kcore(und, k)
        # driver short-circuit path (default for dimension-sized graphs)
        got = {r["node"]: r["core_degree"] for r in k_core(df, k=k).collect()}
        assert got == want, f"k={k} (driver path)"
        # distributed batched-peel path must agree bit-for-bit
        dist = {
            r["node"]: r["core_degree"]
            for r in k_core(df, k=k, driver_max_edges=0).collect()
        }
        assert dist == want, f"k={k} (distributed path)"


# ---------------------------------------------------------------------------
# Kaplan-Meier product-limit on random censored samples
# ---------------------------------------------------------------------------


def test_kaplan_meier_random_samples(spark):
    rng = np.random.default_rng(31337)
    rows = [
        (g, float(rng.integers(1, 10)), int(rng.random() < 0.7))
        for g in ("x", "y")
        for _ in range(int(rng.integers(5, 25)))
    ]
    df = spark.createDataFrame(rows, schema="grp string, dur double, event int")
    got = {
        (r["grp"], r["dur"]): r
        for r in kaplan_meier(df, "dur", F.col("event") == 1, ["grp"]).collect()
    }
    for g in ("x", "y"):
        sample = sorted((d, e) for gg, d, e in rows if gg == g)
        times = sorted({d for d, _ in sample})
        at_risk = len(sample)
        s = 1.0
        for t in times:
            d_t = sum(1 for d, e in sample if d == t and e == 1)
            c_t = sum(1 for d, e in sample if d == t and e == 0)
            if d_t:
                s *= 1.0 - d_t / at_risk
            r = got[(g, t)]
            assert r["n_risk"] == at_risk and r["n_event"] == d_t
            assert r["n_censored"] == c_t
            assert float(r["survival"]) == pytest.approx(s, abs=1e-6), (g, t)
            at_risk -= d_t + c_t


# ---------------------------------------------------------------------------
# One-way ANOVA on random frames (F checked exactly; p vs integrated density)
# ---------------------------------------------------------------------------


def _f_sf_subst(f: float, d1: float, d2: float) -> float:
    """Upper F tail by substitution-integration of the density over
    [f, ∞) — independent of ops/special.py's incomplete-beta route."""
    lc = (
        math.lgamma((d1 + d2) / 2)
        - math.lgamma(d1 / 2)
        - math.lgamma(d2 / 2)
        + (d1 / 2) * math.log(d1 / d2)
    )

    def dens(x):
        return math.exp(
            lc + (d1 / 2 - 1) * math.log(x) - ((d1 + d2) / 2) * math.log1p(d1 * x / d2)
        )

    n = 20000
    h = 1.0 / n
    s = 0.0
    for i in range(n):
        u = (i + 0.5) * h
        x = f + u / (1 - u)
        s += dens(x) / (1 - u) ** 2 * h
    return min(1.0, s)


def test_anova_oneway_random_frames(spark):
    from ckg_spark.ops.stats import anova_oneway

    rng = np.random.default_rng(808)
    rows = []
    for f in range(5):
        k = int(rng.integers(2, 5))
        for gi in range(k):
            base = float(rng.normal(0, 2))
            for _ in range(int(rng.integers(2, 10))):
                v = None if rng.random() < 0.1 else float(np.round(rng.normal(base, 1), 3))
                rows.append((f"f{f}", f"g{gi}", v))
    df = spark.createDataFrame(rows, schema="feature string, grp string, val double")
    got = {r["feature"]: r for r in anova_oneway(df, "feature", "grp", "val").collect()}
    by_feat = {}
    for f, g, v in rows:
        if v is not None:
            by_feat.setdefault(f, {}).setdefault(g, []).append(v)
    for f, groups in by_feat.items():
        groups = {g: xs for g, xs in groups.items() if xs}
        k, n = len(groups), sum(len(xs) for xs in groups.values())
        if k < 2 or n <= k:
            assert f not in got
            continue
        allv = [v for xs in groups.values() for v in xs]
        gm = np.mean(allv)
        ssb = sum(len(xs) * (np.mean(xs) - gm) ** 2 for xs in groups.values())
        ssw = sum(sum((v - np.mean(xs)) ** 2 for v in xs) for xs in groups.values())
        fstat = (ssb / (k - 1)) / (ssw / (n - k))
        r = got[f]
        assert r["n_groups"] == k and r["n_obs"] == n
        assert r["f_stat"] == pytest.approx(fstat, abs=2e-5)
        assert r["p_value"] == pytest.approx(_f_sf_subst(fstat, k - 1, n - k), abs=1e-6)


# ---------------------------------------------------------------------------
# Multivariate log-rank on random censored samples (chi2 + gamma-tail p)
# ---------------------------------------------------------------------------


def _chi2_sf_subst(x: float, dof: float) -> float:
    lc = -math.lgamma(dof / 2) - (dof / 2) * math.log(2.0)

    def dens(t):
        return math.exp(lc + (dof / 2 - 1) * math.log(t) - t / 2)

    n = 20000
    h = 1.0 / n
    s = 0.0
    for i in range(n):
        u = (i + 0.5) * h
        t = x + u / (1 - u)
        s += dens(t) / (1 - u) ** 2 * h
    return min(1.0, s)


def _py_logrank(rows):
    """Subject-level multivariate log-rank: rows = [(grp, dur, event)].
    Observed vs expected per group over the pooled event-time grid."""
    groups = sorted({g for g, _, _ in rows})
    times = sorted({d for _, d, e in rows if e})
    obs = {g: 0.0 for g in groups}
    exp = {g: 0.0 for g in groups}
    for t in times:
        at_risk = {g: sum(1 for gg, d, _ in rows if gg == g and d >= t) for g in groups}
        n_t = sum(at_risk.values())
        d_t = sum(1 for _, d, e in rows if e and d == t)
        for g in groups:
            obs[g] += sum(1 for gg, d, e in rows if gg == g and e and d == t)
            exp[g] += d_t * at_risk[g] / n_t
    chi2 = sum((obs[g] - exp[g]) ** 2 / exp[g] for g in groups if exp[g] > 0)
    return chi2, len(groups) - 1


def test_logrank_random_samples(spark):
    from ckg_spark.ops.survival import logrank_statistic

    rng = np.random.default_rng(616)
    for trial, n_groups in enumerate((2, 3)):
        rows = [
            (f"g{gi}", float(rng.integers(1, 12)), bool(rng.random() < 0.65))
            for gi in range(n_groups)
            for _ in range(int(rng.integers(8, 25)))
        ]
        df = spark.createDataFrame(rows, schema="grp string, dur double, event boolean")
        r = logrank_statistic(df, "dur", F.col("event"), "grp").collect()[0]
        chi2, dof = _py_logrank(rows)
        assert r["n_groups"] == n_groups and r["dof"] == dof
        assert r["chi2"] == pytest.approx(chi2, abs=2e-6), f"trial {trial}"
        assert r["p_value"] == pytest.approx(_chi2_sf_subst(chi2, dof), abs=1e-6)


# ---------------------------------------------------------------------------
# Quantile normalization on random tied matrices
# ---------------------------------------------------------------------------


def test_quantile_normalize_random_matrices(spark):
    """Random (key × sample) grids with heavy ties: after normalization
    every sample's value multiset must equal the cross-sample rank-mean
    vector — checked against a pure-python sort-based reference (the
    engine uses window ranks; the reference uses plain sorted lists)."""
    from ckg_spark.ops.stats import quantile_normalize

    rng = np.random.default_rng(1234)
    n_keys, samples = 12, ["s1", "s2", "s3"]
    rows = [
        (f"k{i:02d}", s, float(rng.integers(0, 6)))
        for i in range(n_keys)
        for s in samples
    ]
    df = spark.createDataFrame(rows, schema="key string, sample string, val double")
    got = {
        (r["key"], r["sample"]): r["value_norm"]
        for r in quantile_normalize(df, "sample", ["key"], "val").collect()
    }
    # reference: rank within each sample by (value, key) — the engine's
    # documented id tiebreak — then mean across samples per rank
    by_sample = {s: sorted((v, k) for k, ss, v in rows if ss == s) for s in samples}
    rank_means = [
        sum(by_sample[s][r][0] for s in samples) / len(samples)
        for r in range(n_keys)
    ]
    for s in samples:
        for r, (_v, k) in enumerate(by_sample[s]):
            assert got[(k, s)] == pytest.approx(round(rank_means[r], 6), abs=1e-9), (
                s,
                k,
            )


# ---------------------------------------------------------------------------
# Spearman correlation on random tied data
# ---------------------------------------------------------------------------


def test_spearman_random_tied_frames(spark):
    """Random integer-valued (x, y) per group — ties everywhere; rho via
    a pure-python average-rank + direct covariance reference."""
    from ckg_spark.ops.stats import correlation

    rng = np.random.default_rng(2468)
    rows = []
    for g in ("g1", "g2", "g3"):
        n = int(rng.integers(8, 20))
        for _ in range(n):
            x = float(rng.integers(0, 6))
            rows.append((g, x, x + float(rng.integers(-2, 3))))
    df = spark.createDataFrame(rows, schema="grp string, x double, y double")
    got = {
        r["grp"]: r
        for r in correlation(df, "x", "y", ["grp"], method="spearman").collect()
    }

    def avg_ranks(vals):
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        ranks = [0.0] * len(vals)
        i = 0
        while i < len(vals):
            j = i
            while j < len(vals) and vals[order[j]] == vals[order[i]]:
                j += 1
            r = (i + 1 + j) / 2.0
            for t in range(i, j):
                ranks[order[t]] = r
            i = j
        return ranks

    for g in ("g1", "g2", "g3"):
        xs = [x for gg, x, _ in rows if gg == g]
        ys = [y for gg, _, y in rows if gg == g]
        rx, ry = avg_ranks(xs), avg_ranks(ys)
        mx, my = sum(rx) / len(rx), sum(ry) / len(ry)
        cov = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
        vx = sum((a - mx) ** 2 for a in rx)
        vy = sum((b - my) ** 2 for b in ry)
        rho = cov / math.sqrt(vx * vy)
        assert got[g]["n"] == len(xs)
        assert got[g]["coefficient"] == pytest.approx(rho, abs=2e-6), g


# ---------------------------------------------------------------------------
# KNN imputation on random sparse matrices
# ---------------------------------------------------------------------------


def _py_knn_impute(obs, missing, d_total, k=5):
    """Pure-python nan-euclidean KNN imputer with the engine's documented
    (distance, neighbor-id) tiebreak and feature-mean fallback.
    obs: {(s, f): v}; missing: [(s, f)]."""
    samples = sorted({s for s, _ in obs} | {s for s, _ in missing})
    out = {}
    for s, f in missing:
        dists = []
        for s2 in samples:
            if s2 == s:
                continue
            shared = [
                (obs[(s, ff)], obs[(s2, ff)])
                for (ss, ff) in obs
                if ss == s and (s2, ff) in obs
            ]
            if not shared or (s2, f) not in obs:
                continue
            ssd = sum((a - b) ** 2 for a, b in shared)
            dists.append((math.sqrt(d_total * ssd / len(shared)), s2))
        dists.sort()
        top = [obs[(s2, f)] for _, s2 in dists[:k]]
        if top:
            out[(s, f)] = sum(top) / len(top)
        else:
            col = [v for (ss, ff), v in obs.items() if ff == f]
            out[(s, f)] = sum(col) / len(col) if col else None
    return out


def test_impute_knn_random_matrices(spark):
    """Random (sample × feature) grids, ~25% missing, tied values to
    stress the id tiebreak; isolated samples exercise the feature-mean
    fallback. Engine vs the pure-python imputer above.

    Note the candidate rule difference is intentional and covered: the
    engine only considers neighbors that OBSERVE the target feature via
    the nb join, as does the reference."""
    from ckg_spark.ops.impute import impute_knn

    rng = np.random.default_rng(9090)
    for trial in range(3):
        n_s, n_f = int(rng.integers(6, 10)), int(rng.integers(4, 7))
        rows, obs, missing = [], {}, []
        for i in range(n_s):
            for j in range(n_f):
                v = float(rng.integers(0, 8))
                if rng.random() < 0.25:
                    rows.append((f"s{i:02d}", f"f{j}", None))
                    missing.append((f"s{i:02d}", f"f{j}"))
                else:
                    rows.append((f"s{i:02d}", f"f{j}", v))
                    obs[(f"s{i:02d}", f"f{j}")] = v
        df = spark.createDataFrame(rows, schema="s string, f string, v double")
        got = {
            (r["s"], r["f"]): r["value_imputed"]
            for r in impute_knn(
                df, "s", "f", "v", F.col("v").isNull(), k=3
            ).collect()
        }
        ref = _py_knn_impute(obs, missing, d_total=n_f, k=3)
        assert set(got) == set(ref), f"trial {trial}"
        for key, v in ref.items():
            if v is None:
                assert got[key] is None, (trial, key)
            else:
                assert got[key] == pytest.approx(round(v, 6), abs=1e-9), (trial, key)


# ---------------------------------------------------------------------------
# Wilcoxon signed-rank on random paired integer data (ties + zero diffs)
# ---------------------------------------------------------------------------


def _py_wsr(pairs):
    """pairs: [(va, vb)] -> (n_nonzero, w=min(W+,W-), z, p); 'wilcox'
    zero drop, tie-corrected variance, no continuity correction."""
    diffs = [a - b for a, b in pairs if a != b]
    n = len(diffs)
    if n == 0:
        return 0, None, None, None
    ad = sorted((abs(d), i) for i, d in enumerate(diffs))
    ranks = [0.0] * n
    tie_sum, i = 0.0, 0
    while i < n:
        j = i
        while j < n and ad[j][0] == ad[i][0]:
            j += 1
        r = (i + 1 + j) / 2.0
        for t in range(i, j):
            ranks[ad[t][1]] = r
        c = j - i
        tie_sum += c**3 - c
        i = j
    w_plus = sum(r for r, d in zip(ranks, diffs) if d > 0)
    w_minus = sum(r for r, d in zip(ranks, diffs) if d < 0)
    w = min(w_plus, w_minus)
    mu = n * (n + 1) / 4.0
    var = n * (n + 1) * (2 * n + 1) / 24.0 - tie_sum / 48.0
    if var <= 0:
        return n, w, None, None
    z = (w - mu) / math.sqrt(var)
    p = min(1.0, math.erfc(abs(z) / math.sqrt(2.0)))
    return n, w, z, p


def test_wilcoxon_random_paired_frames(spark):
    from ckg_spark.ops.stats import wilcoxon_signed_rank

    rng = np.random.default_rng(13579)
    rows = []
    ref_pairs = {}
    for fi in range(5):
        f = f"f{fi}"
        ref_pairs[f] = []
        for si in range(int(rng.integers(6, 16))):
            va = float(rng.integers(0, 6))
            vb = float(rng.integers(0, 6))
            rows.append((f, f"s{si:02d}", "a", va))
            rows.append((f, f"s{si:02d}", "b", vb))
            ref_pairs[f].append((va, vb))
    df = spark.createDataFrame(
        rows, schema="feature string, subj string, grp string, val double"
    )
    got = {
        r["feature"]: r
        for r in wilcoxon_signed_rank(
            df, "feature", "subj", "grp", "val", "a", "b"
        ).collect()
    }
    for f, pairs in ref_pairs.items():
        n, w, z, p = _py_wsr(pairs)
        if n == 0:
            assert f not in got
            continue
        r = got[f]
        assert r["n_pairs"] == n, f
        assert r["w_stat"] == pytest.approx(w, abs=1e-9), f
        if p is None:
            assert r["p_value"] is None, f
        else:
            assert r["p_value"] == pytest.approx(p, abs=1e-6), f


# ---------------------------------------------------------------------------
# Cohen's d / Hedges' g on random frames
# ---------------------------------------------------------------------------


def test_effect_sizes_random_frames(spark):
    from ckg_spark.ops.stats import effect_sizes

    rng = np.random.default_rng(8642)
    rows = []
    for fi in range(6):
        for g in ("a", "b"):
            base = float(rng.normal(0, 2))
            for _ in range(int(rng.integers(2, 30))):
                rows.append((f"f{fi}", g, float(np.round(rng.normal(base, 1.5), 3))))
    df = spark.createDataFrame(rows, schema="feature string, grp string, val double")
    got = {
        r["feature"]: r
        for r in effect_sizes(df, "feature", "grp", "val", "a", "b").collect()
    }
    for fi in range(6):
        f = f"f{fi}"
        xa = [v for ff, g, v in rows if ff == f and g == "a"]
        xb = [v for ff, g, v in rows if ff == f and g == "b"]
        n1, n2 = len(xa), len(xb)
        m1, m2 = np.mean(xa), np.mean(xb)
        v1, v2 = np.var(xa), np.var(xb)  # population (reference ddof=0)
        d = (m1 - m2) / math.sqrt(((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2))
        gc = (m1 - m2) / np.std(xa + xb)
        if n1 + n2 < 50:
            gc = gc * ((n1 + n2 - 3) / (n1 + n2 - 2.25)) * math.sqrt(
                (n1 + n2 - 2) / (n1 + n2)
            )
        r = got[f]
        assert (r["n1"], r["n2"]) == (n1, n2)
        assert r["cohen_d"] == pytest.approx(d, abs=2e-6), f
        assert r["hedges_g"] == pytest.approx(gc, abs=2e-6), f


# ---------------------------------------------------------------------------
# Two-way ANOVA with NULL-sprinkled values (regression: counts/trim must see
# only non-null observations, mirroring anova_oneway's count(v) convention)
# ---------------------------------------------------------------------------


def test_anova_twoway_null_values_random_frames(spark):
    from ckg_spark.ops.stats import anova_twoway

    rng = np.random.default_rng(909)
    for trial in range(4):
        rows = []
        rid = 0
        p, q = int(rng.integers(2, 4)), int(rng.integers(2, 4))
        for ai in range(p):
            for bi in range(q):
                base = float(rng.normal(ai - bi, 1))
                for _ in range(int(rng.integers(4, 8))):
                    v = None if rng.random() < 0.15 else float(
                        np.round(rng.normal(base, 1), 3)
                    )
                    rows.append((rid, f"a{ai}", f"b{bi}", v))
                    rid += 1
        # guarantee every cell keeps >= 2 non-null values
        by_cell = {}
        for r, a, b, v in rows:
            if v is not None:
                by_cell.setdefault((a, b), []).append((r, v))
        if any(len(vs) < 2 for vs in by_cell.values()):
            continue
        df = spark.createDataFrame(
            rows, schema="rid int, fa string, fb string, val double"
        )
        got = {
            r["source"]: r
            for r in anova_twoway(df, "fa", "fb", "val", ["rid"]).collect()
        }
        # NULLs-present must equal explicit dropna (the oracled path)
        clean = df.filter(F.col("val").isNotNull())
        got_clean = {
            r["source"]: r
            for r in anova_twoway(clean, "fa", "fb", "val", ["rid"]).collect()
        }
        for s in ("factor_a", "factor_b", "interaction"):
            assert got[s] == got_clean[s], (trial, s)
        # independent numpy closed form on the rid-ordered trimmed design
        n = min(len(vs) for vs in by_cell.values())
        cells = {
            ab: [v for _, v in sorted(vs)[:n]] for ab, vs in by_cell.items()
        }
        allv = [v for vs in cells.values() for v in vs]
        nt = p * q * n
        g = sum(allv)
        cf = g * g / nt
        s_a = {}
        s_b = {}
        for (a, b), vs in cells.items():
            s_a[a] = s_a.get(a, 0.0) + sum(vs)
            s_b[b] = s_b.get(b, 0.0) + sum(vs)
        ss_a = sum(v * v for v in s_a.values()) / (q * n) - cf
        ss_b = sum(v * v for v in s_b.values()) / (p * n) - cf
        ss_cells = sum(sum(vs) ** 2 / n for vs in cells.values()) - cf
        ss_tot = sum(v * v for v in allv) - cf
        ss_ab = ss_cells - ss_a - ss_b
        ss_err = ss_tot - ss_cells
        df_err = p * q * (n - 1)
        for s, ss_eff, df_eff in (
            ("factor_a", ss_a, p - 1),
            ("factor_b", ss_b, q - 1),
            ("interaction", ss_ab, (p - 1) * (q - 1)),
        ):
            fstat = (ss_eff / df_eff) / (ss_err / df_err)
            assert got[s]["f_stat"] == pytest.approx(fstat, abs=2e-5), (trial, s)


def test_rm_anova_random_designs(spark):
    """RM-ANOVA against numpy's residual form on the cell-mean matrix:
    SS_err = sum of squared (x - row mean - column mean + grand mean),
    not the operator's sum-of-squares differences. Ragged cells, NULL
    values and subjects missing a condition (which must drop)."""
    from ckg_spark.ops.stats import rm_anova

    rng = np.random.default_rng(855)
    for trial in range(3):
        k = int(rng.integers(2, 5))
        rows = []
        for si in range(int(rng.integers(4, 9))):
            shift = float(rng.normal(0, 2))
            skip = int(rng.integers(0, k)) if rng.random() < 0.25 else None
            for ci in range(k):
                if ci == skip:
                    continue
                for _ in range(int(rng.integers(1, 4))):
                    v = None if rng.random() < 0.1 else float(
                        np.round(rng.normal(shift + ci, 1), 3)
                    )
                    rows.append((f"s{si}", f"c{ci}", v))
        cells = {}
        for s, c, v in rows:
            if v is not None:
                cells.setdefault(s, {}).setdefault(c, []).append(v)
        conds = sorted({c for cs in cells.values() for c in cs})
        x = np.array([
            [np.mean(cs[c]) for c in conds]
            for cs in cells.values() if len(cs) == len(conds)
        ])
        n, kk = x.shape
        if n < 2 or kk < 2:
            continue
        resid = x - x.mean(axis=1, keepdims=True) - x.mean(axis=0) + x.mean()
        ss_cond = n * ((x.mean(axis=0) - x.mean()) ** 2).sum()
        fstat = (ss_cond / (kk - 1)) / ((resid**2).sum() / ((n - 1) * (kk - 1)))
        df = spark.createDataFrame(rows, schema="subj string, cond string, val double")
        (got,) = rm_anova(df, "subj", "cond", "val").collect()
        assert (got["n_subjects"], got["n_conditions"]) == (n, kk), trial
        assert got["f_stat"] == pytest.approx(fstat, rel=1e-6, abs=2e-6), trial
        assert got["p_value"] == pytest.approx(
            _f_sf_subst(fstat, kk - 1, (n - 1) * (kk - 1)), abs=1e-6
        ), trial


def test_rm_anova_all_null_cell_drops_subject(spark):
    from ckg_spark.ops.stats import rm_anova

    rng = np.random.default_rng(910)
    rows = []
    for si in range(6):
        for ci in range(3):
            for _ in range(2):
                # subject s5's condition c2 is entirely NULL -> s5 must drop
                v = (
                    None
                    if (si == 5 and ci == 2)
                    else float(np.round(rng.normal(ci, 1), 3))
                )
                rows.append((f"s{si}", f"c{ci}", v))
    df = spark.createDataFrame(rows, schema="subj string, cond string, val double")
    got = rm_anova(df, "subj", "cond", "val").collect()[0]
    assert got["n_subjects"] == 5
    no_s5 = df.filter(F.col("subj") != "s5")
    want = rm_anova(no_s5, "subj", "cond", "val").collect()[0]
    assert got == want

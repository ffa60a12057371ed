"""WGCNA family: independent subject-level references (numpy/pure-python
implementations of adjacency → TOM → modules, scale-free fit, SVD
eigengenes) — NOT mirrors of the engine's join spelling, per the
shared-modeling-defect lesson (CLAUDE.md / test_special.py)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from ckg_spark.ops import wgcna


# ----------------------------------------------------------------------
# fixtures: planted two-factor structure + pure noise
# ----------------------------------------------------------------------


N_SAMPLES = 60


def _planted_matrix():
    rng = np.random.RandomState(11)
    f1, f2 = rng.randn(N_SAMPLES), rng.randn(N_SAMPLES)
    cols = {}
    for i in range(4):
        cols[f"A{i}"] = f1 + 0.3 * rng.randn(N_SAMPLES)
        cols[f"B{i}"] = f2 + 0.3 * rng.randn(N_SAMPLES)
    cols["C0"] = rng.randn(N_SAMPLES)
    return cols


@pytest.fixture(scope="module")
def planted(spark):
    cols = _planted_matrix()
    rows = [
        (f"s{s:03d}", f, float(v[s])) for f, v in cols.items() for s in range(N_SAMPLES)
    ]
    df = spark.createDataFrame(rows, "sample string, feature string, value double")
    return cols, df


# ----------------------------------------------------------------------
# independent reference: full WGCNA pipeline in numpy
# ----------------------------------------------------------------------


def _ref_corr(cols):
    feats = sorted(cols)
    mat = np.column_stack([cols[f] for f in feats])
    r = np.corrcoef(mat, rowvar=False)
    return feats, np.round(r, 6)


def _ref_tom(cols, power):
    feats, r = _ref_corr(cols)
    a = np.abs(r) ** power
    np.fill_diagonal(a, 0.0)
    k = a.sum(axis=0)
    l = a @ a  # diagonal of a is 0, so u != i, j is automatic off-diagonal
    d = len(feats)
    tom = np.zeros((d, d))
    for i in range(d):
        for j in range(d):
            if i != j:
                tom[i, j] = (l[i, j] + a[i, j]) / (min(k[i], k[j]) + 1 - a[i, j])
    return feats, tom


def _ref_modules(cols, power, cutoff, min_size):
    feats, tom = _ref_tom(cols, power)
    d = len(feats)
    # union-find over thresholded TOM graph
    parent = list(range(d))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in range(d):
        for j in range(i + 1, d):
            if tom[i, j] >= cutoff:
                parent[find(i)] = find(j)
    comps: dict[int, list[str]] = {}
    for i in range(d):
        comps.setdefault(find(i), []).append(feats[i])
    out = {}
    for members in comps.values():
        label = min(members) if len(members) >= min_size else wgcna.GREY
        for f in members:
            out[f] = label
    # grey collapses across components; module label of retained = min member
    return out


def test_modules_recover_planted_structure(spark, planted):
    cols, df = planted
    mods = wgcna.wgcna_modules(
        df, "sample", "feature", "value", power=6, tom_cutoff=0.05, min_module_size=2
    )
    got = {r["feature"]: r["module"] for r in mods.collect()}
    assert got == {
        "A0": "A0", "A1": "A0", "A2": "A0", "A3": "A0",
        "B0": "B0", "B1": "B0", "B2": "B0", "B3": "B0",
        "C0": wgcna.GREY,
    }
    sizes = {r["feature"]: r["module_size"] for r in mods.collect()}
    assert sizes["A0"] == 4 and sizes["B2"] == 4 and sizes["C0"] == 1


def test_modules_match_independent_reference(spark, planted):
    cols, df = planted
    for power, cutoff in [(2, 0.2), (6, 0.05), (3, 0.01)]:
        mods = wgcna.wgcna_modules(
            df, "sample", "feature", "value",
            power=power, tom_cutoff=cutoff, min_module_size=2,
        )
        got = {r["feature"]: r["module"] for r in mods.collect()}
        ref = _ref_modules(cols, power, cutoff, min_size=2)
        assert got == ref, (power, cutoff)


def test_tom_matches_reference_values(spark, planted):
    cols, df = planted
    adj = wgcna.wgcna_adjacency(df, "sample", "feature", "value", power=6)
    tom = wgcna.tom_similarity(adj)
    feats, ref = _ref_tom(cols, 6)
    idx = {f: i for i, f in enumerate(feats)}
    for r in tom.collect():
        assert r["tom"] == pytest.approx(ref[idx[r["node1"]], idx[r["node2"]]], abs=1e-9)


# ----------------------------------------------------------------------
# soft threshold: independent scale-free fit
# ----------------------------------------------------------------------


def _ref_soft_threshold(cols, powers=(1, 2, 3, 4, 5, 6), n_bins=10):
    feats, r = _ref_corr(cols)
    a0 = np.abs(r)
    np.fill_diagonal(a0, 0.0)
    out = {}
    for p in powers:
        k = np.round((a0**p).sum(axis=0), 6)
        kmin, kmax = k.min(), k.max()
        if kmax <= kmin:
            buckets = np.zeros(len(k), dtype=int)
        else:
            buckets = np.minimum(
                n_bins - 1, np.floor((k - kmin) / (kmax - kmin) * n_bins).astype(int)
            )
        dk, pk = [], []
        for b in sorted(set(buckets)):
            sel = k[buckets == b]
            if sel.mean() > 0:
                dk.append(sel.mean())
                pk.append(len(sel) / len(k))
        if len(dk) < 2 or np.std(np.log10(dk)) == 0 or np.std(np.log10(pk)) == 0:
            fit = None
        else:
            c = np.corrcoef(np.log10(pk), np.log10(dk))[0, 1]
            fit = -np.sign(c) * c * c
        out[p] = (fit, k.mean(), np.median(k), kmax)
    return out


def test_soft_threshold_matches_reference(spark, planted):
    cols, df = planted
    got = {r["power"]: r for r in wgcna.soft_threshold(df, "sample", "feature", "value").collect()}
    ref = _ref_soft_threshold(cols)
    assert set(got) == set(ref)
    for p, (fit, kmean, kmed, kmax) in ref.items():
        assert got[p]["k_mean"] == pytest.approx(kmean, abs=1e-5)
        assert got[p]["k_median"] == pytest.approx(kmed, abs=1e-5)
        assert got[p]["k_max"] == pytest.approx(kmax, abs=1e-5)
        if fit is None:
            assert got[p]["fit_signed_r2"] is None
        else:
            assert got[p]["fit_signed_r2"] == pytest.approx(fit, abs=1e-5)


# ----------------------------------------------------------------------
# eigengenes: vs numpy SVD; driver vs distributed path agreement
# ----------------------------------------------------------------------


def _ref_eigengene(cols, members):
    Z = np.column_stack(
        [(cols[f] - cols[f].mean()) / cols[f].std(ddof=1) for f in sorted(members)]
    )
    u, s, vt = np.linalg.svd(Z, full_matrices=False)
    pc1 = u[:, 0]
    if np.dot(pc1, Z.mean(axis=1)) < 0:
        pc1 = -pc1
    return pc1  # unit norm


def _collect_eigengenes(eg):
    out: dict[str, dict[str, float]] = {}
    for r in eg.collect():
        out.setdefault(r["module"], {})[r["sample"]] = r["eigengene"]
    return out


def test_eigengenes_match_svd(spark, planted):
    cols, df = planted
    mods = wgcna.wgcna_modules(
        df, "sample", "feature", "value", power=6, tom_cutoff=0.05, min_module_size=2
    )
    eg = wgcna.module_eigengenes(df, mods, "sample", "feature", "value")
    got = _collect_eigengenes(eg)
    assert set(got) == {"A0", "B0"}  # grey excluded by default
    samples = [f"s{i:03d}" for i in range(N_SAMPLES)]
    for mod, members in [("A0", ["A0", "A1", "A2", "A3"]), ("B0", ["B0", "B1", "B2", "B3"])]:
        vec = np.array([got[mod][s] for s in samples])
        ref = _ref_eigengene(cols, members)
        assert np.linalg.norm(vec) == pytest.approx(1.0, abs=1e-9)
        assert abs(np.dot(vec, ref)) == pytest.approx(1.0, abs=1e-6)
        # sign convention: aligned with average module expression
        assert np.dot(vec, ref) > 0


def test_eigengene_paths_agree(spark, planted):
    cols, df = planted
    mods = wgcna.wgcna_modules(
        df, "sample", "feature", "value", power=6, tom_cutoff=0.05, min_module_size=2
    )
    d = _collect_eigengenes(
        wgcna.module_eigengenes(df, mods, "sample", "feature", "value")
    )
    x = _collect_eigengenes(
        wgcna.module_eigengenes(
            df, mods, "sample", "feature", "value", driver_max_edges=0
        )
    )
    assert set(d) == set(x)
    for m in d:
        for s in d[m]:
            assert d[m][s] == pytest.approx(x[m][s], abs=1e-9)


def test_module_trait_correlation(spark, planted):
    cols, df = planted
    mods = wgcna.wgcna_modules(
        df, "sample", "feature", "value", power=6, tom_cutoff=0.05, min_module_size=2
    )
    eg = wgcna.module_eigengenes(df, mods, "sample", "feature", "value")
    # trait t1 = the planted factor behind module A (reconstructed from A cols'
    # mean — strongly correlated with the A eigengene, nearly orthogonal to B)
    avg_a = np.mean([cols[f"A{i}"] for i in range(4)], axis=0)
    rng = np.random.RandomState(3)
    noise = rng.randn(N_SAMPLES)
    rows = [(f"s{i:03d}", "t1", float(avg_a[i])) for i in range(N_SAMPLES)]
    rows += [(f"s{i:03d}", "noise", float(noise[i])) for i in range(N_SAMPLES)]
    traits = spark.createDataFrame(rows, "sample string, trait string, value double")
    mt = {(r["module"], r["trait"]): r for r in wgcna.module_trait_correlation(eg, traits).collect()}
    assert abs(mt[("A0", "t1")]["r"]) > 0.95
    assert mt[("A0", "t1")]["p_value"] < 1e-6
    assert abs(mt[("B0", "t1")]["r"]) < 0.5
    assert mt[("A0", "t1")]["n"] == N_SAMPLES
    # independent check of the student-t p for one cell: numerically
    # integrate the t density tail (Simpson), scipy-free
    r_ab = mt[("B0", "noise")]["r"]
    n = N_SAMPLES
    t = abs(r_ab) * math.sqrt((n - 2) / (1 - r_ab * r_ab))
    dof = n - 2

    def t_pdf(x):
        return (
            math.gamma((dof + 1) / 2)
            / (math.sqrt(dof * math.pi) * math.gamma(dof / 2))
            * (1 + x * x / dof) ** (-(dof + 1) / 2)
        )

    xs = np.linspace(t, t + 60.0, 20001)
    tail = np.trapz([t_pdf(x) for x in xs], xs)
    # t here is rebuilt from the 6-dp-rounded r the engine REPORTS, while the
    # engine's p uses the unrounded r — tolerance covers that rounding skew
    assert mt[("B0", "noise")]["p_value"] == pytest.approx(2 * tail, abs=1e-5)


def test_wgcna_dispatch_matches_direct(spark, planted):
    from ckg_spark.analysis import run_analysis

    cols, df = planted
    args = {
        "sample_col": "sample", "feature_col": "feature", "value_col": "value",
        "power": 6, "tom_cutoff": 0.05, "min_module_size": 2,
    }
    via_dispatch = {
        (r["feature"], r["module"], r["module_size"])
        for r in run_analysis(df, "wgcna", args).collect()
    }
    direct = {
        (r["feature"], r["module"], r["module_size"])
        for r in wgcna.wgcna_modules(
            df, "sample", "feature", "value",
            power=6, tom_cutoff=0.05, min_module_size=2,
        ).collect()
    }
    assert via_dispatch == direct


def test_wgcna_numeric_feature_ids(spark):
    """Integer feature ids must work end-to-end: CC labels and the corr
    join keys are string-cast to match the string-cast feature frame
    (mixed bigint/string coalesce was a plan-time type mismatch)."""
    cols = _planted_matrix()
    remap = {f: i for i, f in enumerate(sorted(cols))}  # A0..A3,B0..B3,C0 -> 0..8
    rows = [
        (f"s{s:03d}", remap[f], float(v[s]))
        for f, v in cols.items()
        for s in range(N_SAMPLES)
    ]
    df = spark.createDataFrame(rows, "sample string, feature long, value double")
    mods = wgcna.wgcna_modules(
        df, "sample", "feature", "value", power=6, tom_cutoff=0.05, min_module_size=2
    )
    got = {r["feature"]: r["module"] for r in mods.collect()}
    a = {str(remap[f]) for f in cols if f.startswith("A")}
    b = {str(remap[f]) for f in cols if f.startswith("B")}
    assert {got[f] for f in a} == {min(a)}
    assert {got[f] for f in b} == {min(b)}
    assert got[str(remap["C0"])] == wgcna.GREY
    eg = wgcna.module_eigengenes(df, mods, "sample", "feature", "value")
    assert eg.count() > 0

"""Driver-side manifold embeddings: exact t-SNE and a full-batch UMAP
(run_tsne analytics.py:749-797, run_umap analytics.py:798-838).

SURVEY §2.8 declares these driver-side, and that is the *correct* scale
call, not a shortcut: both methods are O(n²)-affinity manifold layouts
that the reference only ever applies to sample-sized matrices (rows =
biological samples after aggregation — tens to hundreds). The Spark side
does the part that actually scales: feature reduction through the
distributed-gramian PCA (ops/pca.py) so only (n × ≤50) scores ever reach
the driver, and an explicit ``max_rows`` gate refuses corpus-scale
misuse loudly instead of OOM-ing the driver. Embedding 10^12 documents
is a different operator (ops/simsearch.py's ANN family), not t-SNE.

Differences vs the reference's wrappers, stated plainly:

- sklearn's TSNE is seeded-random; this implementation is fully
  DETERMINISTIC (PCA initialization scaled to std 1e-4 — sklearn's
  ``init='pca'``, which run_tsne passes — and deterministic gradient
  descent), so tests can assert bitwise reproducibility. The gradient
  schedule mirrors van der Maaten's reference implementation: early
  exaggeration ×12 for 250 iterations, momentum 0.5→0.8, adaptive gains.
- The gradient convention is bhtsne's exact gradient
  (``computeExactGradient``): Σ_j (p_ij − q_ij)(1 + |y_i − y_j|²)⁻¹
  (y_i − y_j), without the analytic factor 4, so ``learning_rate=200``
  is bhtsne's ``eta``. sklearn's ``TSNE(learning_rate=200)``, which
  run_tsne wraps, keeps the factor 4 and so steps 4× as far.
- umap-learn optimizes the fuzzy-graph cross-entropy by negative-sampled
  SGD (numba); at dimension scale the FULL-BATCH gradient of the same
  objective is affordable and deterministic, so that is what runs here,
  from the same smooth-kNN fuzzy simplicial set construction
  (rho/sigma calibration, probabilistic t-conorm symmetrization) and the
  same (a, b) curve fit to ``min_dist``. Layout initialization is
  spectral (normalized-Laplacian eigenvectors), umap-learn's default.

No scipy/sklearn/umap-learn in this environment — the numerics
(entropy bisection, Gauss-Newton (a, b) fit, eigh spectral init) are
numpy-only, mirroring how ops/special.py rebuilt the p-value tails.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

_EPS = 1e-12


# ---------------------------------------------------------------------------
# t-SNE
# ---------------------------------------------------------------------------


def _perplexity_probs(d2: np.ndarray, perplexity: float) -> np.ndarray:
    """Row-stochastic affinities P(j|i) with per-row precision calibrated
    by bisection so each row's entropy is log(perplexity) (van der
    Maaten's x2p, 50 bisection steps, tol 1e-5)."""
    n = d2.shape[0]
    target = np.log(perplexity)
    p = np.zeros((n, n))
    for i in range(n):
        di = np.delete(d2[i], i)
        beta, lo, hi = 1.0, -np.inf, np.inf
        for _ in range(50):
            w = np.exp(-di * beta)
            s = max(w.sum(), _EPS)
            h = np.log(s) + beta * float((di * w).sum()) / s
            if abs(h - target) < 1e-5:
                break
            if h > target:  # entropy too high -> sharpen
                lo = beta
                beta = beta * 2.0 if hi == np.inf else (beta + hi) / 2.0
            else:
                hi = beta
                beta = beta / 2.0 if lo == -np.inf else (beta + lo) / 2.0
        w = np.exp(-di * beta)
        row = w / max(w.sum(), _EPS)
        p[i, :i] = row[:i]
        p[i, i + 1 :] = row[i:]
    return p


def tsne_core(
    x: np.ndarray,
    n_components: int = 2,
    perplexity: float = 40.0,
    n_iter: int = 1000,
    learning_rate: float = 200.0,
) -> np.ndarray:
    """Exact t-SNE on a driver-sized matrix; deterministic (PCA init)."""
    n = x.shape[0]
    if n < 4:
        raise ValueError(f"tsne: need >= 4 rows, got {n}")
    # sklearn raises when perplexity >= n_samples; at fixture sizes the
    # reference default (40) is routinely over that bar, so clamp to the
    # standard (n-1)/3 neighborhood bound and proceed.
    perplexity = max(1.0, min(perplexity, (n - 1) / 3.0))

    xc = x - x.mean(axis=0)
    d2 = np.square(xc).sum(axis=1)
    d2 = d2[:, None] + d2[None, :] - 2.0 * (xc @ xc.T)
    np.fill_diagonal(d2, 0.0)
    cond = _perplexity_probs(np.maximum(d2, 0.0), perplexity)
    p = (cond + cond.T) / (2.0 * n)
    p = np.maximum(p, _EPS)

    # init: top n_components PCA coords of x, scaled to std 1e-4
    # (sklearn init='pca' — the reference's run_tsne default)
    _u, _s, vt = np.linalg.svd(xc, full_matrices=False)
    y = xc @ vt[:n_components].T
    y = y / max(y[:, 0].std(), _EPS) * 1e-4

    vel = np.zeros_like(y)
    gains = np.ones_like(y)
    # 250 exaggerated iterations at the reference budget (n_iter=1000),
    # proportionally fewer on short budgets — a fixed 250 would leave a
    # 300-iteration run only 50 refinement steps (measured: cluster
    # purity 0.47 vs 1.0).
    exag_until = min(250, n_iter // 4)
    for it in range(n_iter):
        pe = p * 12.0 if it < exag_until else p
        yd2 = np.square(y).sum(axis=1)
        num = 1.0 / (1.0 + yd2[:, None] + yd2[None, :] - 2.0 * (y @ y.T))
        np.fill_diagonal(num, 0.0)
        q = np.maximum(num / max(num.sum(), _EPS), _EPS)
        w = (pe - q) * num
        # bhtsne's convention, no factor 4 (module docstring): with it,
        # eta=200 takes 4x bhtsne's step and the layout overshoots
        grad = (np.diag(w.sum(axis=1)) - w) @ y
        same_sign = np.sign(grad) == np.sign(vel)
        gains = np.where(same_sign, gains * 0.8, gains + 0.2)
        gains = np.maximum(gains, 0.01)
        momentum = 0.5 if it < exag_until else 0.8
        vel = momentum * vel - learning_rate * gains * grad
        y = y + vel
        y = y - y.mean(axis=0)
    return y


def tsne_embed(
    df: DataFrame,
    feature_cols: list[str],
    id_cols: list[str],
    components: int = 2,
    perplexity: float = 40.0,
    n_iter: int = 1000,
    learning_rate: float = 200.0,
    initial_dims: int = 50,
    max_rows: int = 5000,
) -> DataFrame:
    """t-SNE over feature columns → (id_cols, x, y[, z, c4..]) — the
    reference run_tsne's output framing (analytics.py:783-792).

    Distributed PCA first (one gramian pass) so at most (n × initial_dims)
    doubles cross the driver boundary; rows collected in id_cols order so
    the layout is reproducible regardless of partitioning."""
    spark = df.sparkSession
    if not id_cols:
        raise ValueError(
            "tsne_embed: id_cols is required — rows collect in id order "
            "so the layout is reproducible regardless of partitioning"
        )
    n = df.count()
    if n > max_rows:
        raise ValueError(
            f"tsne_embed: {n} rows > max_rows={max_rows}; t-SNE is a "
            "driver-side sample-matrix operator (SURVEY §2.8) — aggregate "
            "first, or use ops/simsearch.py's ANN family for corpus-scale "
            "neighbor structure"
        )
    k = min(initial_dims, len(feature_cols), max(int(n) - 1, 1))
    projected, _c, _e = pca_scores(df, feature_cols, k, id_cols)
    rows = projected.orderBy(*id_cols).collect()
    x = np.array([[r[f"pc{j + 1}"] for j in range(k)] for r in rows], dtype=np.float64)
    y = tsne_core(x, components, perplexity, n_iter, learning_rate)
    return _layout_df(spark, rows, id_cols, y)


def pca_scores(
    df: DataFrame, feature_cols: list[str], k: int, id_cols: list[str]
):
    """Distributed-PCA scores used as the manifold input/init; thin
    wrapper so both embeddings share one reduction path."""
    from .pca import pca_project

    return pca_project(df, feature_cols, k=k, id_cols=id_cols)


def _layout_df(
    spark: SparkSession, rows: list, id_cols: list[str], y: np.ndarray
) -> DataFrame:
    names = ["x", "y", "z"][: y.shape[1]] + [
        f"c{j + 1}" for j in range(3, y.shape[1])
    ]
    clash = sorted(set(id_cols) & set(names))
    if clash:
        raise ValueError(
            f"id_cols {clash} collide with the output coordinate columns "
            f"{names}; rename the id columns (layout frames are keyed by "
            "id_cols, which must also uniquely identify rows for a "
            "reproducible orderBy(*id_cols) layout)"
        )
    data = [
        tuple(r[c] for c in id_cols) + tuple(round(float(v), 6) for v in y[i])
        for i, r in enumerate(rows)
    ]
    return spark.createDataFrame(data, schema=id_cols + names)


# ---------------------------------------------------------------------------
# UMAP (full-batch deterministic variant)
# ---------------------------------------------------------------------------


def find_ab_params(min_dist: float, spread: float = 1.0) -> tuple[float, float]:
    """Least-squares fit of 1/(1+a*d^(2b)) to the piecewise target curve
    (umap-learn's find_ab_params, scipy.curve_fit there) — Gauss-Newton
    on 300 sampled distances, numpy-only."""
    xs = np.linspace(0.0, spread * 3.0, 300)
    ys = np.where(xs < min_dist, 1.0, np.exp(-(xs - min_dist) / spread))
    a, b = 1.0, 1.0
    for _ in range(100):
        d2b = np.power(np.maximum(xs, _EPS), 2.0 * b)
        denom = 1.0 + a * d2b
        f = 1.0 / denom
        r = ys - f
        da = -d2b / denom**2
        db = -2.0 * a * d2b * np.log(np.maximum(xs, _EPS)) / denom**2
        jac = np.stack([da, db], axis=1)
        jtj = jac.T @ jac + 1e-8 * np.eye(2)
        step = np.linalg.solve(jtj, jac.T @ r)
        a, b = max(a + step[0], 1e-3), max(b + step[1], 1e-3)
        if np.abs(step).max() < 1e-9:
            break
    return float(a), float(b)


def _fuzzy_graph(d: np.ndarray, n_neighbors: int) -> np.ndarray:
    """Smooth-kNN fuzzy simplicial set: per-row rho (nearest-neighbor
    distance) and sigma (bisection so sum of memberships = log2(k)),
    symmetrized by the probabilistic t-conorm P + Pᵀ - P∘Pᵀ."""
    n = d.shape[0]
    k = min(n_neighbors, n - 1)
    idx = np.argsort(d, axis=1)
    p = np.zeros((n, n))
    target = np.log2(k)
    for i in range(n):
        nbrs = idx[i][idx[i] != i][:k]
        dn = d[i, nbrs]
        rho = float(dn.min())
        lo, hi, sigma = 0.0, np.inf, 1.0
        for _ in range(64):
            s = np.exp(-np.maximum(dn - rho, 0.0) / max(sigma, _EPS)).sum()
            if abs(s - target) < 1e-5:
                break
            if s > target:
                hi = sigma
                sigma = (lo + hi) / 2.0
            else:
                lo = sigma
                sigma = sigma * 2.0 if hi == np.inf else (lo + hi) / 2.0
        p[i, nbrs] = np.exp(-np.maximum(dn - rho, 0.0) / max(sigma, _EPS))
    return p + p.T - p * p.T


def umap_core(
    x: np.ndarray,
    n_components: int = 2,
    n_neighbors: int = 10,
    min_dist: float = 0.3,
    metric: str = "cosine",
    n_epochs: int = 200,
    learning_rate: float = 0.05,
) -> np.ndarray:
    """Full-batch deterministic UMAP layout (see module docstring)."""
    n = x.shape[0]
    if n < 4:
        raise ValueError(f"umap: need >= 4 rows, got {n}")
    if metric == "cosine":
        norms = np.maximum(np.linalg.norm(x, axis=1), _EPS)
        d = 1.0 - (x @ x.T) / np.outer(norms, norms)
    elif metric == "euclidean":
        sq = np.square(x).sum(axis=1)
        d = np.sqrt(np.maximum(sq[:, None] + sq[None, :] - 2.0 * (x @ x.T), 0.0))
    else:
        raise ValueError(f"umap: unsupported metric {metric!r}")
    np.fill_diagonal(d, 0.0)
    g = _fuzzy_graph(d, n_neighbors)
    a, b = find_ab_params(min_dist)

    # spectral init: eigenvectors 2..(m+1) of the symmetric normalized
    # Laplacian of the fuzzy graph (umap-learn's default init), scaled
    # to the ±10 box it uses.
    deg = np.maximum(g.sum(axis=1), _EPS)
    dinv = 1.0 / np.sqrt(deg)
    lap = np.eye(n) - (g * dinv[:, None]) * dinv[None, :]
    _w, v = np.linalg.eigh(lap)
    y = v[:, 1 : n_components + 1]
    y = y / max(np.abs(y).max(), _EPS) * 10.0

    for epoch in range(n_epochs):
        # umap-learn's linear learning-rate anneal to 0: without it the
        # normalized steps keep constant magnitude and the converged
        # layout random-walks apart again (measured: purity 0.86 at 200
        # epochs degrading to 0.50 at 800 before the anneal).
        alpha = 1.0 - epoch / n_epochs
        yd2 = np.square(y).sum(axis=1)
        dist2 = np.maximum(yd2[:, None] + yd2[None, :] - 2.0 * (y @ y.T), 0.0)
        np.fill_diagonal(dist2, 1.0)
        d2b = np.power(np.maximum(dist2, _EPS), b)
        phi = 1.0 / (1.0 + a * d2b)  # membership in the embedding
        # Exact dCE/d(dist²), CE = -Σ[g·lnφ + (1-g)·ln(1-φ)]:
        #   attractive part  +a·b·(d²)^{b-1}·φ        (weight g)
        #   repulsive part   −b·φ/d²                  (weight 1-g)
        # The repulsive sum runs over ALL non-edge pairs (umap-learn's
        # negative sampling touches only ~n_neg per edge), so it is
        # damped by 0.1 to keep the same attraction/repulsion balance.
        # Sign verified by measurement: descending with these weights
        # drives CE 13403 → 2415 on the planted-cluster fixture; the
        # previous (inverted) spelling climbed it.
        attr_w = a * b * np.power(np.maximum(dist2, _EPS), b - 1.0) * phi
        rep_w = b * phi / np.maximum(dist2, _EPS)
        w = g * attr_w - (1.0 - g) * rep_w * 0.1
        np.fill_diagonal(w, 0.0)
        grad = 2.0 * ((w.sum(axis=1)[:, None]) * y - w @ y)
        nrm = np.maximum(np.abs(grad).max(), 1.0)
        y = y - learning_rate * alpha * (grad / nrm) * 10.0
        y = y - y.mean(axis=0)
    return y


def umap_embed(
    df: DataFrame,
    feature_cols: list[str],
    id_cols: list[str],
    components: int = 2,
    n_neighbors: int = 10,
    min_dist: float = 0.3,
    metric: str = "cosine",
    n_epochs: int = 200,
    initial_dims: int = 50,
    max_rows: int = 5000,
) -> DataFrame:
    """UMAP over feature columns → (id_cols, x, y) — run_umap's framing
    (analytics.py:829-836; defaults n_neighbors=10, min_dist=0.3,
    metric='cosine' mirrored). Same distributed-PCA front and driver
    gate as :func:`tsne_embed`."""
    spark = df.sparkSession
    if not id_cols:
        raise ValueError(
            "umap_embed: id_cols is required — rows collect in id order "
            "so the layout is reproducible regardless of partitioning"
        )
    n = df.count()
    if n > max_rows:
        raise ValueError(
            f"umap_embed: {n} rows > max_rows={max_rows}; UMAP is a "
            "driver-side sample-matrix operator (SURVEY §2.8) — aggregate "
            "first, or use ops/simsearch.py's ANN family at corpus scale"
        )
    k = min(initial_dims, len(feature_cols), max(int(n) - 1, 1))
    projected, _c, _e = pca_scores(df, feature_cols, k, id_cols)
    rows = projected.orderBy(*id_cols).collect()
    x = np.array([[r[f"pc{j + 1}"] for j in range(k)] for r in rows], dtype=np.float64)
    y = umap_core(x, components, n_neighbors, min_dist, metric, n_epochs)
    return _layout_df(spark, rows, id_cols, y)

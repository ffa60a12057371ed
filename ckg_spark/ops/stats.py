"""Column-parameterized statistical operators — the one implementation
of each stats method.

The analysis dispatcher (ckg_spark/analysis.py ≙ the reference's
analytics_core/analytics_factory.py) hands user frames to these
functions, and the stats queries in queries/catalog.py call the same
functions on a fixed test table, where a DuckDB SQL twin mirrors every
constant of the arithmetic graph. The oracle gate therefore certifies
the code users run; tests/test_analysis.py pins the delegation.

All inputs are LONG format: one row per observation, with caller-named
feature / group / value columns. Everything stays JVM column math;
p-values come from ops/special.py's dual-backend tails.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import special


def _nz(c) -> F.Column:
    """NULL instead of an ANSI DIVIDE_BY_ZERO for denominators that are
    legitimately zero on degenerate inputs (zero-variance features,
    singleton groups). The NULL statistic/p-value then flows the
    documented 'untestable feature' path (:func:`_ranked` —
    p_adj NULL, rejected 0) instead of aborting the whole job; this
    matches pingouin/pandas, where these cases come back NaN and are
    dropped, not raised. Non-degenerate rows are bitwise unchanged."""
    return F.nullif(c, F.lit(0.0))


def summary_stats(df: DataFrame, value_col: str, group_cols: list[str]) -> DataFrame:
    """Per-group n / mean / stddev / min / max / exact median
    (get_summary_data_matrix, analytics_factory 'summary')."""
    v = F.col(value_col).cast("double")
    return df.groupBy(*group_cols).agg(
        F.count(v).cast("bigint").alias("n"),
        F.round(F.avg(v), 6).alias("mean"),
        F.round(F.stddev_samp(v), 6).alias("stddev"),
        F.round(F.min(v), 6).alias("min"),
        F.round(F.max(v), 6).alias("max"),
        F.round(F.expr(f"percentile(CAST({value_col} AS DOUBLE), 0.5)"), 6).alias(
            "median"
        ),
    )


def welch_ttest(
    df: DataFrame,
    feature_col: str,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Per-feature Welch two-sample t-test: (feature, n1, n2, t_stat,
    dof, p_value) — calculate_ttest (analytics.py:859-989), run by
    q_welch_ttest. One conditional aggregation; the t tail is the
    dual-backend incomplete beta."""
    v = F.col(value_col).cast("double")
    av = F.when(F.col(group_col) == group_a, v)
    bv = F.when(F.col(group_col) == group_b, v)
    s = df.groupBy(feature_col).agg(
        F.avg(av).alias("m1"),
        F.avg(bv).alias("m2"),
        F.var_samp(av).alias("v1"),
        F.var_samp(bv).alias("v2"),
        F.count(av).alias("n1"),
        F.count(bv).alias("n2"),
    )
    w = s.filter((F.col("n1") > 1) & (F.col("n2") > 1)).select(
        feature_col,
        "n1",
        "n2",
        (F.col("v1") / F.col("n1")).alias("se1"),
        (F.col("v2") / F.col("n2")).alias("se2"),
        "m1",
        "m2",
    )
    # zero variance in BOTH groups: t and the Welch-Satterthwaite dof are
    # 0/0 (pingouin returns NaN) — NULL here; the corrections (_ranked)
    # leave such rows unranked.
    t_raw = (F.col("m1") - F.col("m2")) / _nz(F.sqrt(F.col("se1") + F.col("se2")))
    dof_raw = ((F.col("se1") + F.col("se2")) * (F.col("se1") + F.col("se2"))) / _nz(
        (F.col("se1") * F.col("se1")) / (F.col("n1") - 1)
        + (F.col("se2") * F.col("se2")) / (F.col("n2") - 1)
    )
    w2 = w.select(
        feature_col,
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        t_raw.alias("t_raw"),
        dof_raw.alias("dof_raw"),
    )
    return w2.select(
        feature_col,
        "n1",
        "n2",
        F.round("t_raw", 6).alias("t_stat"),
        F.round("dof_raw", 6).alias("dof"),
        F.round(special.t_sf2_spark(F.col("t_raw"), F.col("dof_raw")), 9).alias(
            "p_value"
        ),
    )


def _ranked(df: DataFrame, p_col: str, key_cols: list[str]) -> DataFrame:
    """The corrections' shared framing: adds ``__ok__`` (p is non-NULL
    and not NaN), ``__rn__`` (rank ascending by p, keys as tiebreak) and
    ``__m__`` (row count), both windows partitioned by ``__ok__``.

    Invalid p must not enter m or the ranking — ascending Spark sort puts
    NULL FIRST, so one untestable feature (e.g. zero variance in both
    groups) would seed BH's reverse running-min and reject everything
    below it. The reference's statsmodels path never sees them (scipy
    returns nan, pandas drops); here they rank among themselves and the
    callers NULL their p_adj (rejected 0). Partition, never filter: a
    filter on a p-value computed by an ops/special.py tail is pushed
    below the projection that computes it, inlining the whole tail
    expression into the predicate."""
    p = F.col(p_col)
    part = Window.partitionBy("__ok__")
    order = [p.asc()] + [F.col(k).asc() for k in key_cols]
    return df.withColumn("__ok__", p.isNotNull() & ~F.isnan(p)).select(
        "*",
        F.row_number().over(part.orderBy(*order)).alias("__rn__"),
        F.count(F.lit(1)).over(part).alias("__m__"),
    )


def _bh_step_up(p_col: str) -> F.Column:
    """Unrounded BH-adjusted p over a :func:`_ranked` frame: reverse
    running-min of p*m/rank, clamped to 1; NULL on invalid rows."""
    tail = (
        Window.partitionBy("__ok__")
        .orderBy(F.desc("__rn__"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return F.when(
        F.col("__ok__"),
        F.least(
            F.lit(1.0),
            F.min((F.col(p_col) * F.col("__m__")) / F.col("__rn__")).over(tail),
        ),
    )


def bh_adjust(
    df: DataFrame, p_col: str, key_cols: list[str], alpha: float = 0.05
) -> DataFrame:
    """Benjamini-Hochberg adjustment (apply_pvalue_correction,
    analytics.py:1663-1736): adds ``p_adj`` and ``rejected`` columns.
    Rank ascending by p (keys as tiebreak), reverse running-min of
    p*m/rank, clamp to 1. The frame is post-aggregation (one row per
    feature) so the windows are dimension-sized. NULL/NaN p-values are
    excluded from m and ranking (p_adj NULL, rejected 0 — see
    :func:`_ranked`)."""
    out = _ranked(df, p_col, key_cols).withColumn("__bh__", _bh_step_up(p_col))
    return (
        out.withColumn("p_adj", F.round("__bh__", 9))
        .withColumn(
            # <= like statsmodels multipletests (and this module's
            # bh_twostage / pvalue_correction), on the UNROUNDED value
            "rejected",
            F.when(F.col("__bh__") <= F.lit(alpha), 1).otherwise(0).cast("int"),
        )
        .drop("__ok__", "__rn__", "__m__", "__bh__")
    )


def bh_twostage(
    df: DataFrame, p_col: str, key_cols: list[str], alpha: float = 0.05
) -> DataFrame:
    """Two-stage linear step-up FDR (apply_pvalue_twostage_fdrcorrection,
    analytics.py:905-921 → statsmodels fdrcorrection_twostage with the
    reference's default method='bh', maxiter=1): stage 1 is plain BH;
    r1 = #(p_adj_bh <= alpha) estimates the true-null count m0 = m - r1;
    if 0 < r1 < m, stage 2 re-runs the step-up at alpha* = alpha*m/m0 and
    scales the adjusted p-values by m0/m. Adds ``p_adj``, ``m0`` and
    ``rejected``. Same dimension-sized-frame window math as
    :func:`bh_adjust` (statsmodels' <= rejection mirrored exactly);
    NULL/NaN p-values excluded the same way (m0 NULL as well)."""
    bh = _ranked(df, p_col, key_cols).withColumn("__bh__", _bh_step_up(p_col))
    st = bh.withColumn(
        "__r1__",
        F.sum(F.when(F.col("__bh__") <= F.lit(alpha), 1).otherwise(0)).over(
            Window.partitionBy("__ok__")
        ),
    )
    m = F.col("__m__")
    r1 = F.col("__r1__")
    active = (r1 > 0) & (r1 < m)
    p_adj = F.when(active, (F.col("__bh__") * (m - r1)) / m).otherwise(F.col("__bh__"))
    rejected = F.when(
        active, F.col("__bh__") <= (F.lit(alpha) * m) / (m - r1)
    ).otherwise(F.col("__bh__") <= F.lit(alpha))
    m0 = F.when(F.col("__ok__"), F.when(active, m - r1).otherwise(m))
    return (
        st.withColumn("p_adj", F.round(p_adj, 9))
        .withColumn("m0", m0.cast("bigint"))
        .withColumn("rejected", F.when(rejected, 1).otherwise(0).cast("int"))
        .drop("__ok__", "__rn__", "__m__", "__bh__", "__r1__")
    )


def anova_oneway(
    df: DataFrame, feature_col: str, group_col: str, value_col: str
) -> DataFrame:
    """Per-feature one-way ANOVA: (feature, n_groups, n_obs, f_stat,
    p_value) — q_anova_oneway (calculate_anova,
    analytics.py:1408-1478)."""
    v = F.col(value_col).cast("double")
    # count(v), not count(*): NULL cells (e.g. measurements_ready with
    # imputation=None) must not inflate n_g while the sums skip them —
    # that deflates the means and corrupts dof and F. All-NULL groups
    # drop out entirely (k and n count observed groups only).
    g = (
        df.groupBy(feature_col, group_col)
        .agg(
            F.count(v).alias("n_g"),
            F.sum(v).alias("s_g"),
            F.sum(v * v).alias("ss_g"),
        )
        .filter(F.col("n_g") > 0)
    )
    a = g.groupBy(feature_col).agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_g").alias("n"),
        F.sum("s_g").alias("grand_s"),
        F.sum((F.col("s_g") * F.col("s_g")) / F.col("n_g")).alias("sum_gr"),
        F.sum("ss_g").alias("ss_tot"),
    )
    f = a.filter((F.col("k") > 1) & (F.col("n") > F.col("k"))).select(
        feature_col,
        "k",
        "n",
        (F.col("sum_gr") - (F.col("grand_s") * F.col("grand_s")) / F.col("n")).alias("ssb"),
        (F.col("ss_tot") - F.col("sum_gr")).alias("ssw"),
    )
    # ssw == 0 (every group internally constant — guaranteed by levene_bf
    # whenever all groups have exactly 2 observations): F is untestable
    # here, not a job abort — NULL, absorbed by the corrections (_ranked).
    f_raw = (F.col("ssb") / (F.col("k") - 1)) / _nz(
        F.col("ssw") / (F.col("n") - F.col("k"))
    )
    f2 = f.select(feature_col, "k", "n", f_raw.alias("f_raw"))
    d1 = F.col("k").cast("double") - F.lit(1.0)
    d2 = F.col("n").cast("double") - F.col("k").cast("double")
    return f2.select(
        feature_col,
        F.col("k").alias("n_groups"),
        F.col("n").alias("n_obs"),
        F.round("f_raw", 6).alias("f_stat"),
        F.round(special.f_sf_spark(F.col("f_raw"), d1, d2), 9).alias("p_value"),
    )


def effect_sizes(
    df: DataFrame,
    feature_col: str,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Per-feature Cohen's d and Hedges' g (cohen_d / hedges_g,
    analytics.py:2082-2170, both at the reference's default ddof=0, i.e.
    population variances): one conditional aggregation, no shuffle
    beyond the group-by. Cohen pools the two POPULATION variances with
    (n-1) weights and Hedges divides by the std of the CONCATENATED
    sample, with the reference's small-sample correction below n1+n2<50
    — both formulas mirrored term-for-term from the reference."""
    v = F.col(value_col).cast("double")
    av = F.when(F.col(group_col) == group_a, v)
    bv = F.when(F.col(group_col) == group_b, v)
    both = F.when(F.col(group_col).isin(group_a, group_b), v)
    s = df.groupBy(feature_col).agg(
        F.avg(av).alias("m1"),
        F.avg(bv).alias("m2"),
        F.var_pop(av).alias("v1"),
        F.var_pop(bv).alias("v2"),
        F.var_pop(both).alias("vp"),
        F.count(av).alias("n1"),
        F.count(bv).alias("n2"),
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    diff = F.col("m1") - F.col("m2")
    # zero pooled/concatenated variance → effect size undefined (NULL),
    # not an ANSI abort (the reference's numpy divisions yield inf/nan).
    d_raw = diff / _nz(
        F.sqrt(((n1 - 1) * F.col("v1") + (n2 - 1) * F.col("v2")) / (n1 + n2 - 2))
    )
    g_core = diff / _nz(F.sqrt(F.col("vp")))
    g_raw = F.when(
        (n1 + n2) < 50,
        g_core * ((n1 + n2 - 3) / (n1 + n2 - 2.25)) * F.sqrt((n1 + n2 - 2) / (n1 + n2)),
    ).otherwise(g_core)
    return s.filter((F.col("n1") > 1) & (F.col("n2") > 1)).select(
        feature_col,
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        F.round(d_raw, 6).alias("cohen_d"),
        F.round(g_raw, 6).alias("hedges_g"),
    )


def levene_bf(
    df: DataFrame, feature_col: str, group_col: str, value_col: str
) -> DataFrame:
    """Per-feature Brown-Forsythe/Levene equal-variance test
    (check_equal_variances, analytics.py:666-677; scipy's default
    center='median'): one-way ANOVA on |x - per-group exact median|.
    Output (feature, n_groups, n_obs, w_stat, p_value); the F tail is
    the dual-backend incomplete beta. Two shuffles: the median
    aggregation + join-back, then the ANOVA group-by — the medians frame
    is group-cardinality-sized, so Spark broadcasts it."""
    v = F.col(value_col).cast("double")
    med = df.groupBy(feature_col, group_col).agg(
        F.expr(f"percentile(CAST({value_col} AS DOUBLE), 0.5)").alias("__med__")
    )
    z = df.join(med, [feature_col, group_col]).select(
        feature_col, group_col, F.abs(v - F.col("__med__")).alias("__zv__")
    )
    out = anova_oneway(z, feature_col, group_col, "__zv__")
    return out.withColumnRenamed("f_stat", "w_stat")


def mann_whitney_u(
    df: DataFrame,
    feature_col: str,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Per-feature Mann-Whitney U (the non_par branch of
    calculate_ttest, analytics.py:1229-1277 via pingouin.mwu):
    average-rank U statistic, tie-corrected normal approximation with
    continuity correction, two-sided p. U is reported for ``group_a``
    (pingouin's 'U-val' convention).

    Exact ranks need a per-feature sort: one hash shuffle on the
    feature key, then an in-partition sort (spills gracefully) — the
    inherent cost of any exact rank statistic. Every rank is a multiple
    of 0.5 and the rank-sum stays far below 2^52, so the rank-sum is
    bitwise summation-order-independent — only z/p carry float noise."""
    v = F.col(value_col).cast("double")
    # NULL/NaN values must not enter the ranking (Spark sorts NULL first
    # ascending — they would take the lowest ranks AND count into n1/n2);
    # pingouin's remove_na drops them before mwu, mirrored here.
    d = (
        df.filter(F.col(group_col).isin(group_a, group_b))
        .filter(v.isNotNull() & ~F.isnan(v))
        .select(F.col(feature_col), F.col(group_col), v.alias("__x__"))
    )
    rmin = (
        F.rank().over(Window.partitionBy(feature_col).orderBy("__x__")).cast("double")
    )
    tn = (
        F.count(F.lit(1))
        .over(Window.partitionBy(feature_col, "__x__"))
        .cast("double")
    )
    rk = d.select(
        feature_col,
        group_col,
        (rmin + ((tn - F.lit(1.0)) / F.lit(2.0))).alias("__ar__"),
    )
    s = rk.groupBy(feature_col).agg(
        F.sum(F.when(F.col(group_col) == group_a, F.col("__ar__"))).alias("r1"),
        F.count(F.when(F.col(group_col) == group_a, F.lit(1))).alias("n1"),
        F.count(F.when(F.col(group_col) == group_b, F.lit(1))).alias("n2"),
    )
    tt = (
        d.groupBy(feature_col, "__x__")
        .agg(F.count(F.lit(1)).cast("double").alias("tn"))
        .groupBy(feature_col)
        .agg(
            F.sum((F.col("tn") * F.col("tn") * F.col("tn")) - F.col("tn")).alias(
                "tie_term"
            )
        )
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    u = s.join(tt, feature_col).select(
        feature_col,
        "n1",
        "n2",
        "tie_term",
        (n1 * n2).alias("n1n2"),
        (n1 + n2).alias("n"),
        (F.col("r1") - ((n1 * (n1 + 1)) / F.lit(2.0))).alias("u1"),
    )
    # n == 1 (a feature with a single observation) makes n*(n-1) zero —
    # the var_u > 0 filter below evaluates this expression, so it must
    # yield NULL (row dropped: NULL > 0 is not true), not abort.
    var_u = (F.col("n1n2") / 12.0) * (
        (F.col("n") + 1.0)
        - (F.col("tie_term") / _nz(F.col("n") * (F.col("n") - 1.0)))
    )
    bigu = F.greatest(F.col("u1"), F.col("n1n2") - F.col("u1"))
    vfr = u.select(
        feature_col, "n1", "n2", "u1", "n1n2", bigu.alias("bigu"), var_u.alias("var_u")
    ).filter(F.col("var_u") > 0)
    z_raw = ((F.col("bigu") - (F.col("n1n2") / 2.0)) - 0.5) / F.sqrt(F.col("var_u"))
    zf = vfr.select(feature_col, "n1", "n2", "u1", z_raw.alias("z_raw"))
    return zf.select(
        feature_col,
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        F.round("u1", 6).alias("u_stat"),
        F.round("z_raw", 6).alias("z_stat"),
        F.round(
            F.least(F.lit(1.0), F.lit(2.0) * special.norm_sf_spark(F.col("z_raw"))), 9
        ).alias("p_value"),
    )


def wilcoxon_signed_rank(
    df: DataFrame,
    feature_col: str,
    subject_col: str,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Per-feature Wilcoxon signed-rank test — the PAIRED branch of the
    reference's calculate_ttest (analytics.py:1229-1277, is_paired=True
    via pingouin.wilcoxon -> scipy.wilcoxon, zero_method='wilcox',
    normal approximation, no continuity correction).

    Pairing: per (feature, subject) the two sides aggregate with SUM —
    exact for decimal/integer inputs, so the paired differences and
    therefore the |d| ranks are bitwise engine-independent (an AVG here
    would reintroduce float summation-order noise into the ranking).
    Subjects missing either side drop out (inner pairing); zero
    differences drop per 'wilcox'. One shuffle pairs the sides, one
    window ranks |d| within each feature, one group-by aggregates —
    the same exact-rank cost profile as :func:`mann_whitney_u`.

    Output: (feature, n_pairs, w_stat, z_stat, p_value) where w_stat is
    scipy's T = min(W+, W-) and p the two-sided normal tail with the
    tie-corrected variance n(n+1)(2n+1)/24 - sum(t^3-t)/48."""
    a_sum = F.sum(
        F.when(F.col(group_col) == group_a, F.col(value_col))
    ).alias("__xa__")
    b_sum = F.sum(
        F.when(F.col(group_col) == group_b, F.col(value_col))
    ).alias("__xb__")
    paired = (
        df.filter(F.col(group_col).isin(group_a, group_b))
        .groupBy(feature_col, subject_col)
        .agg(a_sum, b_sum)
        .filter(F.col("__xa__").isNotNull() & F.col("__xb__").isNotNull())
        .select(
            feature_col,
            (F.col("__xa__") - F.col("__xb__")).cast("double").alias("__d__"),
        )
        .filter(F.col("__d__") != 0.0)
        .withColumn("__ad__", F.abs(F.col("__d__")))
    )
    rmin = (
        F.rank().over(Window.partitionBy(feature_col).orderBy("__ad__")).cast("double")
    )
    tn = (
        F.count(F.lit(1))
        .over(Window.partitionBy(feature_col, "__ad__"))
        .cast("double")
    )
    rk = paired.select(
        feature_col,
        "__d__",
        "__ad__",
        (rmin + ((tn - F.lit(1.0)) / F.lit(2.0))).alias("__ar__"),
    )
    s = rk.groupBy(feature_col).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.when(F.col("__d__") > 0, F.col("__ar__")).otherwise(F.lit(0.0))).alias(
            "w_plus"
        ),
    )
    tt = (
        rk.groupBy(feature_col, "__ad__")
        .agg(F.count(F.lit(1)).cast("double").alias("tn"))
        .groupBy(feature_col)
        .agg(
            F.sum((F.col("tn") * F.col("tn") * F.col("tn")) - F.col("tn")).alias(
                "tie_term"
            )
        )
    )
    n = F.col("n")
    w_tot = (n * (n + 1.0)) / 2.0
    t_stat = F.least(F.col("w_plus"), w_tot - F.col("w_plus"))
    mu = (n * (n + 1.0)) / 4.0
    var_t = ((n * (n + 1.0) * ((2.0 * n) + 1.0)) / 24.0) - (F.col("tie_term") / 48.0)
    j = (
        s.join(tt, feature_col)
        .select(feature_col, "n", t_stat.alias("t"), mu.alias("mu"), var_t.alias("var_t"))
        .filter(F.col("var_t") > 0)
    )
    z_raw = (F.col("t") - F.col("mu")) / F.sqrt(F.col("var_t"))
    zf = j.select(feature_col, "n", "t", z_raw.alias("z_raw"))
    return zf.select(
        feature_col,
        F.col("n").cast("bigint").alias("n_pairs"),
        F.round("t", 6).alias("w_stat"),
        F.round("z_raw", 6).alias("z_stat"),
        F.round(
            F.least(
                F.lit(1.0), F.lit(2.0) * special.norm_sf_spark(F.abs(F.col("z_raw")))
            ),
            9,
        ).alias("p_value"),
    )


def _poisson1_cdf(max_w: int = 8) -> list[float]:
    """P(Poisson(1) <= j) for j = 0..max_w-1 — the inverse-CDF ladder of
    the deterministic Poisson bootstrap (weights capped at max_w; the
    truncated tail mass is ~1e-6)."""
    import math

    acc, out = 0.0, []
    for j in range(max_w):
        acc += 1.0 / math.factorial(j)
        out.append(acc * math.exp(-1.0))
    return out


_P1_CDF = _poisson1_cdf()


def poisson1_weight(u: Column) -> Column:
    """Poisson(1) draw from a uniform via the inverse CDF — the per-row
    per-replicate resample multiplicity of the Poisson bootstrap."""
    w = F.lit(0)
    for c in _P1_CDF:
        w = w + F.when(u >= F.lit(c), 1).otherwise(0)
    return w.cast("double")


def poisson1_weight_sql(u_expr: str) -> str:
    """The identical ladder as SQL text (same double literals, so the
    comparisons agree bitwise across engines)."""
    terms = " + ".join(
        f"(CASE WHEN {u_expr} >= {c!r} THEN 1 ELSE 0 END)" for c in _P1_CDF
    )
    return f"CAST(({terms}) AS DOUBLE)"


def bootstrap_meandiff(
    df: DataFrame,
    feature_col: str,
    group_col: str,
    value_col: str,
    id_col: str,
    group_a: str,
    group_b: str,
    n_boot: int = 100,
    alpha: float = 0.05,
) -> DataFrame:
    """Estimation statistics: per-feature mean difference between two
    groups with a bootstrap percentile CI (calculate_dabest / run_dabest,
    analytics.py:1348-1510 — dabest mean_diff's 'pct low/high' interval),
    as a DETERMINISTIC distributed Poisson bootstrap.

    Instead of materializing B resamples (a B× data blowup), each row
    gets B Poisson(1) multiplicities derived from the lowbias32 hash of
    (id, replicate) — the standard streaming-bootstrap construction for
    with-replacement resampling at scale. The B weights are built as ONE
    array column via nested ``transform`` lambdas (O(1) plan nodes — an
    unrolled per-replicate expression tree made the plan, and the task
    binary, grow linearly with B and Catalyst time quadratically); the
    4*B aggregates then read cheap ``try_element_at`` slots off that
    projected attribute. ONE aggregation pass computes all partial sums
    per feature (map-side combined, so the shuffle carries features × 4B
    doubles, independent of row count); the replicate-diff explode and
    the percentile run on the dimension-sized (feature × B) frame.
    Replicates where either group draws total weight 0 are dropped
    (counted in n_valid_boot). Deterministic ⇒ cross-engine
    value-hash-verifiable, stable under repartitioning; the reference
    instead reseeds numpy (random seed column in calculate_dabest's
    output).
    """
    from .curation import _M32, split_u

    base = df.select(
        F.col(feature_col),
        F.col(value_col).cast("double").alias("__v__"),
        (F.col(group_col) == group_a).alias("__a__"),
        (F.col(group_col) == group_b).alias("__b__"),
        F.pmod(F.col(id_col).cast("long"), F.lit(_M32)).alias("__id32__"),
    )
    # inner transform: one uniform per replicate (id32 is a projected
    # attribute, so the per-element re-evaluation is 3 integer ops);
    # outer transform: the CDF ladder references its lambda variable —
    # an attribute, not a re-evaluated subtree — 8 times.
    us = F.transform(
        F.sequence(F.lit(0), F.lit(n_boot - 1)),
        lambda b: split_u(F.col("__id32__") * F.lit(n_boot) + b.cast("long")),
    )
    proj = base.select(
        feature_col,
        "__v__",
        "__a__",
        "__b__",
        F.transform(us, poisson1_weight).alias("__w__"),
    )
    v = F.col("__v__")
    is_a = F.col("__a__")
    is_b = F.col("__b__")
    aggs = [
        F.avg(F.when(is_a, v)).alias("m_a"),
        F.avg(F.when(is_b, v)).alias("m_b"),
    ]
    for b in range(n_boot):
        w = F.try_element_at("__w__", F.lit(b + 1))
        aggs += [
            F.sum(F.when(is_a, w * v)).alias(f"swx_a_{b}"),
            F.sum(F.when(is_a, w)).alias(f"sw_a_{b}"),
            F.sum(F.when(is_b, w * v)).alias(f"swx_b_{b}"),
            F.sum(F.when(is_b, w)).alias(f"sw_b_{b}"),
        ]
    s = proj.groupBy(feature_col).agg(*aggs)
    diffs = F.array(
        *[
            F.when(
                (F.col(f"sw_a_{b}") > 0) & (F.col(f"sw_b_{b}") > 0),
                F.round(
                    F.col(f"swx_a_{b}") / F.col(f"sw_a_{b}")
                    - F.col(f"swx_b_{b}") / F.col(f"sw_b_{b}"),
                    6,
                ),
            )
            for b in range(n_boot)
        ]
    )
    e = s.select(
        feature_col,
        F.round(F.col("m_a") - F.col("m_b"), 6).alias("mean_diff"),
        F.explode(diffs).alias("diff"),
    )
    return e.groupBy(feature_col, "mean_diff").agg(
        F.round(F.expr(f"percentile(diff, {alpha / 2.0!r})"), 6).alias("ci_low"),
        F.round(F.expr(f"percentile(diff, {1.0 - alpha / 2.0!r})"), 6).alias("ci_high"),
        F.count("diff").cast("bigint").alias("n_valid_boot"),
    )


def zscore(df: DataFrame, value_col: str, group_cols: list[str]) -> DataFrame:
    """Per-group z-score normalization ('normalization' method zscore,
    analytics.py:392-414): adds ``value_norm``."""
    w = Window.partitionBy(*group_cols)
    v = F.col(value_col).cast("double")
    # constant group: stddev 0 → NULL z (pandas yields NaN), not an abort.
    return df.withColumn(
        "value_norm",
        F.round((v - F.avg(v).over(w)) / _nz(F.stddev_samp(v).over(w)), 6),
    )


def quantile_normalize(
    df: DataFrame, sample_col: str, key_cols: list[str], value_col: str
) -> DataFrame:
    """Quantile normalization across samples (analytics.py:442-458):
    (key_cols..., sample, value_norm) — rank within sample, replace with
    cross-sample mean at that rank (id-tiebroken; see
    q_quantile_normalize)."""
    v = F.col(value_col).cast("double")
    w = Window.partitionBy(sample_col).orderBy(
        v.asc(), *[F.col(k).asc() for k in key_cols]
    )
    ranked = df.withColumn("__rk__", F.row_number().over(w))
    ref = ranked.groupBy("__rk__").agg(F.avg(v).alias("__mv__"))
    return (
        ranked.join(F.broadcast(ref), "__rk__")
        .select(*key_cols, sample_col, F.round("__mv__", 6).alias("value_norm"))
    )


def median_polish(
    df: DataFrame, row_col: str, col_col: str, value_col: str, sweeps: int = 2
) -> DataFrame:
    """Tukey median polish residuals (analytics.py:415-441): fixed
    ``sweeps`` of alternating exact row/column median subtraction."""
    out = df.withColumn("__r__", F.col(value_col).cast("double"))
    for part in [row_col, col_col] * sweeps:
        w = Window.partitionBy(part)
        out = out.withColumn(
            "__r__", F.col("__r__") - F.expr("percentile(__r__, 0.5)").over(w)
        )
    return out.select(row_col, col_col, F.round("__r__", 6).alias("residual"))


def normality_test(
    df: DataFrame,
    feature_col: str,
    group_col: str,
    value_col: str,
    alpha: float = 0.05,
) -> DataFrame:
    """Per-(feature, group) normality gate — check_normality
    (analytics.py:679-687) re-expressed Spark-first. The reference runs
    scipy Shapiro-Wilk per group/feature on collected columns;
    Shapiro-Wilk is an order-statistics computation (sorted-sample
    coefficients, inherently sequential), so the distributed analog is
    the classical moment-based D'Agostino-Pearson K^2 omnibus test:
    ONE aggregation pass collects the raw power sums S1..S4, the
    skew/kurtosis z-transforms and the K^2 statistic evaluate on the
    dimension-sized result, and the chi-square(2) upper tail is exactly
    exp(-K^2/2). Same decision role as the reference ('passes' at
    alpha); published D'Agostino/Anscombe-Glynn constants
    (ops/special.py), dual-backend so p-values stay hash-checkable.

    Power sums of integer-valued inputs stay exactly representable
    (< 2^53), making S1..S4 summation-order-independent — the catalog
    framing over l_quantity is bitwise identical across engines; for
    general doubles the usual float-noise caveat of any distributed sum
    applies. Groups with n < 20 are dropped (the Anscombe-Glynn
    transform's validity floor, scipy's documented recommendation)."""
    v = F.col(value_col).cast("double")
    s = (
        df.groupBy(feature_col, group_col)
        .agg(
            F.count(v).cast("double").alias("nn"),
            F.sum(v).alias("s1"),
            F.sum(v * v).alias("s2"),
            F.sum(v * v * v).alias("s3"),
            F.sum(v * v * v * v).alias("s4"),
        )
        .filter(F.col("nn") >= 20)
    )
    nn = F.col("nn")
    mean = F.col("s1") / nn
    r2 = F.col("s2") / nn
    r3 = F.col("s3") / nn
    r4 = F.col("s4") / nn
    m2 = r2 - (mean * mean)
    m3 = r3 - (3.0 * mean * r2) + (2.0 * mean * mean * mean)
    m4 = (
        r4
        - (4.0 * mean * r3)
        + (6.0 * mean * mean * r2)
        - (3.0 * mean * mean * mean * mean)
    )
    g = s.select(
        feature_col,
        group_col,
        "nn",
        # constant group (m2 == 0): skewness/kurtosis undefined — NULL
        # (the very case the isNotNull filter below exists to drop),
        # not an ANSI DIVIDE_BY_ZERO abort.
        (m3 / _nz(F.sqrt(m2 * m2 * m2))).alias("g1"),
        (m4 / _nz(m2 * m2)).alias("g2"),
    ).filter(F.col("g1").isNotNull() & ~F.isnan("g1"))
    k2 = special.normaltest_k2_spark(F.col("nn"), F.col("g1"), F.col("g2"))
    w = g.select(feature_col, group_col, "nn", k2.alias("k2"))
    p = F.exp(-F.col("k2") / 2.0)
    return w.select(
        feature_col,
        group_col,
        F.col("nn").cast("bigint").alias("n"),
        F.round("k2", 6).alias("k2_stat"),
        F.round(p, 9).alias("p_value"),
        (p > alpha).alias("passes"),
    )


def tukey_hsd(
    df: DataFrame,
    feature_col: str,
    group_col: str,
    value_col: str,
    k: int,
    alpha: float = 0.05,
    is_logged: bool = True,
) -> DataFrame:
    """Pairwise Tukey-HSD posthoc (calculate_THSD, analytics.py:1278-1298
    → pingouin.pairwise_tukey): per feature, every group pair gets the
    Tukey-Kramer t = (m1-m2)/sqrt(MSW/2·(1/n1+1/n2)) and a p-value from
    the studentized range upper tail at q = |t|·sqrt(2) with k groups and
    N-k error dof — the tail is the dual-backend double quadrature in
    ops/special.py (no scipy, hash-verifiable). ``k`` is the number of
    groups, a STRUCTURAL constant of the expression (the range-CDF power
    and multiplier), exactly like bootstrap's n_boot; pass
    df.select(group_col).distinct().count() when unknown. Features whose
    own group count differs from ``k`` (a group entirely missing for that
    feature) are DROPPED rather than mis-tested: pingouin evaluates each
    feature at its own group count, and emitting their pairs here would
    use the wrong dof (N-k over-subtracts) and the wrong range dimension.
    Effect size is
    pingouin's hedges (pooled ddof=1 d times the J = 1-3/(4n-9) small-
    sample factor — note the REFERENCE's own hedges_g uses a different
    concatenated-std estimator, covered by :func:`effect_sizes`);
    complement_posthoc's FC column is 2^log2FC when is_logged
    (analytics.py:1327-1345), spelled exp(x·ln2) so both engines run the
    same libm graph. Group stats flow from exact power sums (one
    aggregation pass, map-side combined); the pair fan-out and the
    quadrature run on the dimension-sized (feature × group) frame."""
    v = F.col(value_col).cast("double")
    gs = df.groupBy(feature_col, group_col).agg(
        F.count(v).cast("double").alias("n"),
        F.sum(v).alias("s1"),
        F.sum(v * v).alias("s2"),
    )
    feat = (
        gs.groupBy(feature_col)
        .agg(
            F.sum("n").alias("N"),
            F.sum(F.col("s2") - (F.col("s1") * F.col("s1")) / F.col("n")).alias("ssw"),
            F.count(F.lit(1)).cast("int").alias("n_groups"),
        )
        .filter(F.col("n_groups") == F.lit(int(k)))
        .drop("n_groups")
    )
    a, b = gs.alias("a"), gs.alias("b")
    pairs = (
        a.join(
            b,
            (F.col(f"a.{feature_col}") == F.col(f"b.{feature_col}"))
            & (F.col(f"a.{group_col}") < F.col(f"b.{group_col}")),
        )
        .select(
            F.col(f"a.{feature_col}").alias(feature_col),
            F.col(f"a.{group_col}").alias("group1"),
            F.col(f"b.{group_col}").alias("group2"),
            F.col("a.n").alias("n1"),
            (F.col("a.s1") / F.col("a.n")).alias("m1"),
            (
                (F.col("a.s2") - (F.col("a.s1") * F.col("a.s1")) / F.col("a.n"))
                / (F.col("a.n") - 1)
            ).alias("v1"),
            F.col("b.n").alias("n2"),
            (F.col("b.s1") / F.col("b.n")).alias("m2"),
            (
                (F.col("b.s2") - (F.col("b.s1") * F.col("b.s1")) / F.col("b.n"))
                / (F.col("b.n") - 1)
            ).alias("v2"),
        )
        .join(F.broadcast(feat), feature_col)
    )
    n1, n2 = F.col("n1"), F.col("n2")
    dof = F.col("N") - F.lit(float(k))
    msw = F.col("ssw") / dof
    diff = F.col("m1") - F.col("m2")
    se = F.sqrt(msw * 0.5 * (1.0 / n1 + 1.0 / n2))
    t = diff / se
    q = F.abs(t) * F.lit(special._SQRT_2)
    p = special.tukey_sf_spark(q, k, dof)
    d_pool = diff / F.sqrt(((n1 - 1) * F.col("v1") + (n2 - 1) * F.col("v2")) / (n1 + n2 - 2))
    hedges = d_pool * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0))
    fc = (
        F.exp(diff * F.lit(special._LN_2))
        if is_logged
        else F.col("m1") / F.col("m2")
    )
    return pairs.select(
        feature_col,
        "group1",
        "group2",
        n1.cast("bigint").alias("n1"),
        n2.cast("bigint").alias("n2"),
        F.round("m1", 6).alias("mean1"),
        F.round("m2", 6).alias("mean2"),
        F.round(diff, 6).alias("log2fc"),
        F.round(fc, 6).alias("fc"),
        F.round(se, 6).alias("std_error"),
        F.round(t, 6).alias("t_stat"),
        F.round(p, 9).alias("p_tukey"),
        F.round(hedges, 6).alias("hedges"),
        F.when(p < F.lit(alpha), 1).otherwise(0).cast("int").alias("rejected"),
    )


def correlation(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_cols: list[str],
    method: str = "pearson",
) -> DataFrame:
    """Per-group correlation of two measures with a two-sided t-tail
    p-value — calculate_correlations (analytics.py:839-858:
    scipy pearsonr/spearmanr) / run_correlation (:1005-1043).

    method='pearson' is one ``corr`` aggregate; method='spearman' is
    Pearson over AVERAGE ranks with scipy's tie handling (average rank =
    min-rank + (tie_count - 1)/2), both ranks computed with window
    functions partitioned by the group keys, so the rank pass and the
    final aggregation share ONE shuffle on the group hash. With empty
    ``group_cols`` the spearman rank window is a single partition —
    use groups (or pre-bucketed keys) for corpus-scale frames.
    p = two-sided tail of t = r*sqrt((n-2)/(1-r^2)) at dof n-2."""
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    if method == "spearman":

        def avgrank(c):
            mr = F.rank().over(Window.partitionBy(*group_cols).orderBy(c))
            ties = F.count(F.lit(1)).over(Window.partitionBy(*group_cols, c))
            return mr + (ties - F.lit(1)) / F.lit(2.0)

        df = df.select(
            *group_cols, avgrank(x).alias("__x__"), avgrank(y).alias("__y__")
        )
        x, y = F.col("__x__"), F.col("__y__")
    elif method != "pearson":
        raise ValueError(f"unknown correlation method {method!r}")
    s = df.groupBy(*group_cols).agg(
        F.corr(x, y).alias("r"), F.count(F.lit(1)).alias("n")
    )
    dof_raw = F.col("n").cast("double") - F.lit(2.0)
    t_raw = F.col("r") * F.sqrt(dof_raw / (F.lit(1.0) - F.col("r") * F.col("r")))
    # lazy CASE guards the ANSI divide-by-zero at |r| == 1 (tail limit 0)
    p_val = F.when(F.abs(F.col("r")) >= F.lit(1.0), F.lit(0.0)).otherwise(
        F.round(special.t_sf2_spark(t_raw, dof_raw), 9)
    )
    return s.filter(F.col("n") > 2).select(
        *group_cols,
        F.col("n").cast("bigint").alias("n"),
        F.round("r", 6).alias("coefficient"),
        p_val.alias("p_value"),
    )


def pvalue_correction(
    df: DataFrame,
    p_col: str,
    key_cols: list[str],
    alpha: float = 0.05,
    method: str = "bonferroni",
) -> DataFrame:
    """One-step / step-down familywise p-value corrections —
    apply_pvalue_correction (analytics.py:859-886 → statsmodels
    multipletests): 'bonferroni' (min(1, p*m)), 'sidak'
    (1-(1-p)^m), 'holm' (step-down: running max of (m-rank+1)*p in
    ascending-p order, clamped to 1). Adds ``p_adj`` + ``rejected``
    (statsmodels' ``p_adj <= alpha``, equivalent to each method's
    sequential rule). Post-aggregation frames only: the windows are
    dimension-sized, exactly like :func:`bh_adjust`; NULL/NaN p-values
    excluded the same way (m counts valid rows only — bonferroni/sidak
    otherwise over-correct by the untestable count)."""
    r = _ranked(df, p_col, key_cols)
    p = F.col(p_col)
    m = F.col("__m__")
    if method == "bonferroni":
        pr = F.least(F.lit(1.0), p * m)
    elif method == "sidak":
        pr = F.lit(1.0) - F.pow(F.lit(1.0) - p, m)
    elif method == "holm":
        head = (
            Window.partitionBy("__ok__")
            .orderBy("__rn__")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        pr = F.least(F.lit(1.0), F.max((m - F.col("__rn__") + 1) * p).over(head))
    else:
        raise ValueError(f"unknown correction method {method!r}")
    # __pr__ holds the UNROUNDED adjusted p: rejection must compare the
    # true value against alpha (statsmodels), not the 9-dp display round —
    # a p_adj of 0.0500000004 rounds to alpha but is NOT rejected.
    out = r.withColumn("__pr__", F.when(F.col("__ok__"), pr))
    return (
        out.withColumn("p_adj", F.round("__pr__", 9))
        .withColumn(
            "rejected",
            F.when(F.col("__pr__") <= F.lit(alpha), 1).otherwise(0).cast("int"),
        )
        .drop("__ok__", "__rn__", "__m__", "__pr__")
    )


def feature_correlation_matrix(
    df: DataFrame,
    sample_col: str,
    feature_col: str,
    value_col: str,
    method: str = "pearson",
    min_n: int = 3,
) -> DataFrame:
    """ALL-PAIRS feature correlation from a LONG measurement table —
    run_correlation (analytics.py:1005-1043) / run_efficient_correlation
    (:1147-1176): the reference's np.corrcoef over the wide matrix with
    the t-transform p-value, re-expressed without ever building the wide
    matrix. One self-join on the sample key (the per-sample fan-out is
    d^2/2 where d = feature count — dimension-sized by the same contract
    as the reference's column set), one pair aggregation computing r via
    ``corr``; missing (NULL/NaN) cells pair-wise deleted exactly like
    pandas — dropped BEFORE the join, so the join itself is the
    complete-observation mask and ``n`` counts complete pairs.
    ``method='spearman'`` ranks AFTER the join, within each pair's
    complete-observation subset (average ranks, scipy tie handling) —
    pandas' nancorr re-ranks per pair the same way, so global per-feature
    ranks would diverge whenever two features' sample coverage differs.
    The rank windows partition by the pair key, the same partitioning the
    final aggregation needs, so they share one shuffle.
    Returns (node1, node2, n, weight, p_value) with node1 < node2 —
    the reference's network-ready edge-list naming (node1/node2/weight
    feed convertToEdgeList/get_network directly). Apply
    :func:`bh_adjust` (keys node1, node2) for the padj/rejected columns
    the reference's output carries."""
    if method not in ("pearson", "spearman"):
        raise ValueError(f"unknown correlation method {method!r}")
    v = F.col(value_col).cast("double")
    base = df.select(
        F.col(sample_col).alias("__s__"),
        F.col(feature_col).alias("__f__"),
        v.alias("__v__"),
    ).filter(v.isNotNull() & ~F.isnan(v))
    a, b = base.alias("a"), base.alias("b")
    j = a.join(
        b,
        (F.col("a.__s__") == F.col("b.__s__")) & (F.col("a.__f__") < F.col("b.__f__")),
    ).select(
        F.col("a.__f__").alias("node1"),
        F.col("b.__f__").alias("node2"),
        F.col("a.__v__").alias("__x__"),
        F.col("b.__v__").alias("__y__"),
    )
    if method == "spearman":

        def pair_rank(c):
            mr = F.rank().over(Window.partitionBy("node1", "node2").orderBy(c))
            ties = F.count(F.lit(1)).over(Window.partitionBy("node1", "node2", c))
            return mr + (ties - F.lit(1)) / F.lit(2.0)

        j = j.select(
            "node1",
            "node2",
            pair_rank(F.col("__x__")).alias("__x__"),
            pair_rank(F.col("__y__")).alias("__y__"),
        )
    s = j.groupBy("node1", "node2").agg(
        F.corr(F.col("__x__"), F.col("__y__")).alias("r"),
        F.count(F.lit(1)).alias("n"),
    )
    dof_raw = F.col("n").cast("double") - F.lit(2.0)
    t_raw = F.col("r") * F.sqrt(dof_raw / (F.lit(1.0) - F.col("r") * F.col("r")))
    # |r| == 1 (perfectly correlated features DO happen — derived columns,
    # duplicated assays) puts 1-r^2 at exactly 0: the CASE guards the ANSI
    # divide-by-zero lazily and the true tail limit is p = 0
    p_val = F.when(F.abs(F.col("r")) >= F.lit(1.0), F.lit(0.0)).otherwise(
        F.round(special.t_sf2_spark(t_raw, dof_raw), 9)
    )
    return s.filter(F.col("n") >= F.lit(min_n)).select(
        "node1",
        "node2",
        F.col("n").cast("bigint").alias("n"),
        F.round("r", 6).alias("weight"),
        p_val.alias("p_value"),
    )


def anova_twoway(
    df: DataFrame,
    factor_a: str,
    factor_b: str,
    value_col: str,
    order_cols: list[str],
    balance: bool = True,
) -> DataFrame:
    """Two-way ANOVA with interaction — q_anova_twoway
    (run_two_way_anova, analytics.py:2390-2429;
    statsmodels typ=2 over a crossed design, balanced closed form where
    Type I/II/III coincide). ``order_cols`` is the explicit total order
    used to trim every (a × b) cell to the global minimum cell count
    when ``balance`` (the engine's no-implicit-order rule); pass
    ``balance=False`` only for designs already balanced by construction.
    Output: one row per source (factor_a / factor_b / interaction) with
    f_stat, p_value (F tail), eta_sq, omega_sq."""
    # NULL (or non-castable) values must leave the design BEFORE any
    # counting: cell counts / nt / the balancing row_number would otherwise
    # include rows that F.sum skips, inflating the correction factor and
    # divisors and mis-trimming cells (the count(v)-not-count(*) convention
    # anova_oneway documents). try_cast, not cast: ANSI mode is on, so a
    # plain cast THROWS on non-castable strings instead of filtering.
    df = df.filter(F.col(value_col).try_cast("double").isNotNull())
    w = Window.partitionBy(factor_a, factor_b).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    cellr = df.select(
        F.col(factor_a).alias("fa"),
        F.col(factor_b).alias("fb"),
        F.col(value_col).cast("double").alias("v"),
        F.row_number().over(w).alias("rn"),
    )
    # ONE collected action reads the design: the crossing check, the balance
    # check and the trim count (a literal below, not a re-aggregated
    # subquery inside the checkpoint job).
    n_cells, n_a, n_b, lo, hi = (
        cellr.groupBy("fa", "fb")
        .count()
        .agg(
            F.count(F.lit(1)),
            F.countDistinct("fa"),
            F.countDistinct("fb"),
            F.min("count"),
            F.max("count"),
        )
        .first()
    )
    # the closed form assumes a COMPLETE p×q crossing: a fully absent
    # (a, b) cell invalidates every cell-weighted divisor and df_err =
    # p·q·(n−1), and neither mode's trimming can conjure a missing cell
    # — refuse loudly (verified: on an incomplete 2×2 with pure noise
    # the un-guarded form reported interaction p = 0.014).
    if n_cells != n_a * n_b:
        raise ValueError(
            f"anova_twoway: incomplete crossing — {n_cells} populated cells "
            f"for a {n_a}×{n_b} design; every (factor_a, factor_b) cell "
            "needs at least one observation"
        )
    # the closed-form SS partition is only valid on a balanced design;
    # silently computing it on ragged cells would be wrong in every
    # cell-weighted term — refuse loudly instead.
    if not balance and lo != hi:
        raise ValueError(
            f"anova_twoway(balance=False): design is unbalanced "
            f"(cell counts {lo}..{hi}); pass balance=True to trim "
            "deterministically, or balance the design upstream"
        )
    # the balanced frame feeds six scalar aggregates: checkpoint it once
    # or each re-runs the corpus-scale balancing window sort
    bal = (
        cellr.filter(F.col("rn") <= F.lit(lo))
        .select("fa", "fb", "v")
        .localCheckpoint(eager=True)
    )
    ca = bal.groupBy("fa").agg(F.sum("v").alias("s_a"))
    cb = bal.groupBy("fb").agg(F.sum("v").alias("s_b"))
    cab = bal.groupBy("fa", "fb").agg(F.sum("v").alias("s_ab"))
    tot = bal.agg(
        F.sum("v").alias("g"),
        F.sum(F.col("v") * F.col("v")).alias("ssq"),
        F.count(F.lit(1)).cast("bigint").alias("nt"),
    )
    sums = (
        tot.crossJoin(F.broadcast(ca.agg(F.sum(F.col("s_a") * F.col("s_a")).alias("sum_a2"))))
        .crossJoin(F.broadcast(cb.agg(F.sum(F.col("s_b") * F.col("s_b")).alias("sum_b2"))))
        .crossJoin(F.broadcast(cab.agg(F.sum(F.col("s_ab") * F.col("s_ab")).alias("sum_ab2"))))
        .crossJoin(F.broadcast(ca.agg(F.count(F.lit(1)).cast("bigint").alias("p"))))
        .crossJoin(F.broadcast(cb.agg(F.count(F.lit(1)).cast("bigint").alias("q"))))
        .withColumn("n", F.lit(lo).cast("bigint"))
    )
    cf = (F.col("g") * F.col("g")) / F.col("nt")
    ss = sums.select(
        "p", "q", "n",
        ((F.col("sum_a2") / (F.col("q") * F.col("n"))) - cf).alias("ss_a"),
        ((F.col("sum_b2") / (F.col("p") * F.col("n"))) - cf).alias("ss_b"),
        ((F.col("sum_ab2") / F.col("n")) - cf).alias("ss_cells"),
        (F.col("ssq") - cf).alias("ss_tot"),
    )
    ss2 = ss.select(
        "p", "q", "n", "ss_a", "ss_b", "ss_tot",
        (F.col("ss_cells") - F.col("ss_a") - F.col("ss_b")).alias("ss_ab"),
        (F.col("ss_tot") - F.col("ss_cells")).alias("ss_err"),
        (F.col("p") * F.col("q") * (F.col("n") - 1)).cast("double").alias("df_err"),
    )
    rows_ = (
        ss2.select(
            F.lit("factor_a").alias("source"),
            F.col("ss_a").alias("ss_eff"),
            (F.col("p") - 1).cast("double").alias("df_eff"),
            "ss_err", "df_err", "ss_tot",
        )
        .unionByName(
            ss2.select(
                F.lit("factor_b").alias("source"),
                F.col("ss_b").alias("ss_eff"),
                (F.col("q") - 1).cast("double").alias("df_eff"),
                "ss_err", "df_err", "ss_tot",
            )
        )
        .unionByName(
            ss2.select(
                F.lit("interaction").alias("source"),
                F.col("ss_ab").alias("ss_eff"),
                ((F.col("p") - 1) * (F.col("q") - 1)).cast("double").alias("df_eff"),
                "ss_err", "df_err", "ss_tot",
            )
        )
    )
    ms_err = F.col("ss_err") / F.col("df_err")
    f_raw = (F.col("ss_eff") / F.col("df_eff")) / _nz(ms_err)
    fr = rows_.select("source", "ss_eff", "df_eff", "ss_err", "df_err", "ss_tot", f_raw.alias("f_raw"))
    return fr.select(
        "source",
        F.round("f_raw", 6).alias("f_stat"),
        F.round(
            special.f_sf_spark(F.col("f_raw"), F.col("df_eff"), F.col("df_err")), 9
        ).alias("p_value"),
        F.round(F.col("ss_eff") / F.col("ss_tot"), 6).alias("eta_sq"),
        F.round(
            (F.col("ss_eff") - F.col("df_eff") * (F.col("ss_err") / F.col("df_err")))
            / (F.col("ss_tot") + (F.col("ss_err") / F.col("df_err"))),
            6,
        ).alias("omega_sq"),
    )


def rm_anova(
    df: DataFrame, subject_col: str, condition_col: str, value_col: str
) -> DataFrame:
    """One-way repeated-measures ANOVA — q_rm_anova
    (calculate_repeated_measures_anova, analytics.py:1424-1438; pingouin
    rm_anova's uncorrected F) over the (subject × condition) cell-mean
    matrix; subjects missing any condition are dropped to keep the
    design balanced. Output: (n_subjects, n_conditions, f_stat,
    p_value)."""
    # Drop NULL values before forming cells: a (subject × condition) cell
    # whose values are ALL NULL would otherwise survive as an x=NULL row,
    # pass the completeness filter via count(lit(1)), and corrupt every
    # downstream sum (same count-vs-sum mismatch as anova_twoway's).
    # try_cast: ANSI mode — plain cast throws on non-castable strings.
    df = df.filter(F.col(value_col).try_cast("double").isNotNull())
    # the cell matrix feeds the design width k and the balanced frame:
    # checkpoint it once instead of re-running the scan and the cell
    # aggregation per branch
    cell = (
        df.groupBy(subject_col, condition_col)
        .agg(F.avg(F.col(value_col).cast("double")).alias("x"))
        .localCheckpoint(eager=True)
    )
    k = cell.agg(F.countDistinct(condition_col)).first()[0]
    # keep subjects with a cell in every condition; the window's exchange
    # by subject also serves the per-subject aggregate
    b = cell.withColumn(
        "c", F.count(F.lit(1)).over(Window.partitionBy(subject_col))
    ).filter(F.col("c") == F.lit(k))
    subj = b.groupBy(subject_col).agg(
        F.sum("x").alias("p_i"), F.sum(F.col("x") * F.col("x")).alias("q_i")
    )
    cond = b.groupBy(condition_col).agg(F.sum("x").alias("t_j"))
    s1 = subj.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("p_i") * F.col("p_i")).alias("sum_p2"),
        F.sum("p_i").alias("g"),
        F.sum("q_i").alias("ss"),
    )
    s2 = cond.agg(F.sum(F.col("t_j") * F.col("t_j")).alias("sum_t2"))
    sq = s1.crossJoin(F.broadcast(s2)).withColumn("k", F.lit(k).cast("bigint"))
    corr = (F.col("g") * F.col("g")) / (F.col("n") * F.col("k"))
    sq = sq.select(
        "n",
        "k",
        ((F.col("sum_t2") / F.col("n")) - corr).alias("ss_cond"),
        ((F.col("sum_p2") / F.col("k")) - corr).alias("ss_subj"),
        (F.col("ss") - corr).alias("ss_tot"),
    )
    sq2 = sq.filter((F.col("n") > 1) & (F.col("k") > 1)).select(
        "n",
        "k",
        "ss_cond",
        (F.col("ss_tot") - F.col("ss_subj") - F.col("ss_cond")).alias("ss_err"),
    )
    f_raw = (F.col("ss_cond") / (F.col("k") - 1)) / _nz(
        F.col("ss_err") / ((F.col("n") - 1) * (F.col("k") - 1))
    )
    sq3 = sq2.select("n", "k", f_raw.alias("f_raw"))
    d1 = F.col("k").cast("double") - F.lit(1.0)
    d2 = (F.col("n").cast("double") - F.lit(1.0)) * (
        F.col("k").cast("double") - F.lit(1.0)
    )
    return sq3.select(
        F.col("n").alias("n_subjects"),
        F.col("k").alias("n_conditions"),
        F.round("f_raw", 6).alias("f_stat"),
        F.round(special.f_sf_spark(F.col("f_raw"), d1, d2), 9).alias("p_value"),
    )


def fisher_enrichment(
    df: DataFrame, term_col: str, foreground: Column, id_col: str | None = None
) -> DataFrame:
    """Fisher-exact over-representation enrichment + BH —
    q_enrichment_fisher (run_site_regulation_enrichment / run_fisher,
    analytics.py:1908-2048). ``foreground`` is a boolean Column marking
    foreground membership; rows group into annotation terms by
    ``term_col``. The 2×2 counts are one distributed aggregation; the
    hypergeometric upper tail (one-sided over-representation) and BH
    sweep run on the term-sized frame.

    Population contract: with ``id_col=None`` the universe is the
    (identifier, term) PAIR rows — n_fg/n_all sum per-term counts, so an
    identifier annotated with T terms contributes T times. That matches
    one-row-per-identifier annotation tables exactly; on multi-term
    tables it deviates from the reference's distinct-identifier
    foreground_pop/background_pop model. Pass ``id_col`` to count
    DISTINCT identifiers per term and for the populations (the
    reference's definition — an identifier then counts once globally no
    matter how many terms annotate it).
    Output: (term_col, fg_count, bg_count, p_value, p_adj)."""
    if id_col is not None:
        ann = df.groupBy(term_col).agg(
            F.countDistinct(F.when(foreground, F.col(id_col))).alias("k"),
            F.countDistinct(id_col).alias("cat_n"),
        )
        pops = df.agg(
            F.countDistinct(F.when(foreground, F.col(id_col))).alias("n_fg"),
            F.countDistinct(id_col).alias("n_all"),
        )
        tot = ann.crossJoin(F.broadcast(pops)).select(
            term_col, "k", "cat_n", "n_fg", "n_all"
        )
    else:
        ann = df.groupBy(term_col).agg(
            F.count(F.when(foreground, 1)).alias("k"),
            F.count(F.lit(1)).alias("cat_n"),
        )
        w = Window.partitionBy()
        tot = ann.select(
            term_col,
            "k",
            "cat_n",
            F.sum("k").over(w).alias("n_fg"),
            F.sum("cat_n").over(w).alias("n_all"),
        )
    return _fisher_enrichment_tail(tot, term_col)


def _fisher_enrichment_tail(tot: DataFrame, term_col: str) -> DataFrame:
    """Hypergeometric upper-tail p + BH over a (term, k, cat_n, n_fg,
    n_all) counts frame — shared by both population models above."""
    pv = tot.select(
        term_col,
        F.col("k").alias("fg_count"),
        F.col("cat_n").alias("bg_count"),
        F.round(
            F.least(
                special.hypergeom_sf_spark(
                    F.col("k"), F.col("cat_n"), F.col("n_fg"), F.col("n_all")
                ),
                F.lit(1.0),
            ),
            9,
        ).alias("p_value"),
    )
    return bh_adjust(pv, "p_value", [term_col]).drop("rejected")


# ----------------------------------------------------------------------
# Label-permutation FDR — one pass shared by the t-test and SAM
# ----------------------------------------------------------------------


def _permutation_base(
    df: DataFrame,
    feature_col: str,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    rid_col: str,
    permutations: int,
    op: str,
) -> tuple[int, DataFrame]:
    """``K`` and the ``(feat, rid, v, is_f)`` frame a two-group
    permutation test runs on, after the contract checks both permutation
    operators share (``op`` names the caller in their errors)."""
    K = int(permutations)
    if K <= 0:
        raise ValueError(f"{op}: permutations must be > 0")
    # the permutation key is rid*131+k: a non-numeric rid would throw a
    # cryptic ANSI NumberFormatException at action time deep in the plan
    # — validate the contract up front instead
    rid_type = dict(df.dtypes).get(rid_col)
    if rid_type is None or not (
        rid_type in ("tinyint", "smallint", "int", "bigint")
        or rid_type.startswith("decimal")
    ):
        raise ValueError(
            f"{op}: rid_col {rid_col!r} must be an integer column (got "
            f"{rid_type}); hash string ids first, e.g. F.xxhash64(col)"
        )
    return K, df.filter(F.col(group_col).isin([group_a, group_b])).select(
        F.col(feature_col).alias("feat"),
        F.col(rid_col).alias("rid"),
        F.col(value_col).cast("double").alias("v"),
        (F.col(group_col) == F.lit(group_a)).alias("is_f"),
    )


def _permutation_observed(base: DataFrame, **stats: Column) -> DataFrame:
    """Per-feature ``(feat, n1, n1v, n2v, *stats)`` over the observed
    labels, for the features a permutation test can score.

    Mirrors welch_ttest's emission contract (the permutations=0 route of
    the t-test dispatch): a feature needs >1 non-null value in BOTH
    groups to have a defined statistic. Without this gate a 0/1-row group
    yields a NULL observed and NULL permuted statistic, the exceedance
    counts NULL comparisons as 0, and the feature lands at p_perm =
    1/(K+1) — a spuriously strong p that also seeds the BH tail-min for
    every other feature. n1 (the permutation label-block size) stays the
    raw group-a ROW count so label permutations preserve group sizes
    even with null values present; the gate is on non-null VALUE counts.
    :func:`_permutation_p` inner-joins on this frame, so a dropped
    feature leaves the output and the BH ranking's m."""
    fv = F.when(F.col("is_f"), F.col("v"))
    ov = F.when(~F.col("is_f"), F.col("v"))
    return (
        base.groupBy("feat")
        .agg(
            F.sum(F.when(F.col("is_f"), 1).otherwise(0)).cast("bigint").alias("n1"),
            F.count(fv).alias("n1v"),
            F.count(ov).alias("n2v"),
            *(c.alias(name) for name, c in stats.items()),
        )
        .filter((F.col("n1v") > 1) & (F.col("n2v") > 1))
    )


def _permutation_p(
    base: DataFrame, obs: DataFrame, stat: Callable[[], Column], K: int
) -> DataFrame:
    """The deterministic label-permutation pass of both permutation
    operators: ``(feat, stat_obs, p_perm)`` for every feature of ``obs``
    (``(feat, n1, stat_obs)``, the features that pass the gate).

    Permutation k ranks a feature's rows by the lowbias32 uniform keyed
    on (rid, k) and the first n1 ranks take group a — a true label
    permutation preserving group sizes, which is why the rid must
    uniquely identify rows. ``stat()`` builds the per-(feat, k)
    aggregate over the relabeled ``is_f``/``v``; p_perm = (1 + #{|stat_k|
    >= |stat_obs|}) / (K+1), rounded to 9 digits for the caller's BH."""
    from .curation import split_u

    # ONE corpus-sized shuffle for the whole permutation pass:
    # repartition the N input rows by feat BEFORE the K-way explode so
    # the K*N exploded rows never shuffle — HashPartitioning([feat])
    # satisfies the window's ClusteredDistribution([feat, k]) (hash keys
    # are a subset of the clustering keys) and likewise both downstream
    # aggregations, keeping the rank sort and the per-permutation
    # aggregates in-partition with bit-identical results
    # (tests/test_plans.py::test_permutation_explode_sits_above_one_feat_exchange).
    perm = (
        base.repartition(F.col("feat"))
        .select(
            "feat", "rid", "v",
            F.explode(F.sequence(F.lit(1), F.lit(K))).alias("k"),
        )
        .withColumn("u", split_u(F.col("rid") * 131 + F.col("k")))
    )
    w = Window.partitionBy("feat", "k").orderBy(
        # v as the FINAL key: with duplicate rids (the synthetic
        # lineitem has repeated (orderkey, linenumber) pairs) the
        # (u, rid) pair ties across rows with DIFFERENT values and
        # the rank — hence the label set and the statistic — becomes
        # engine-nondeterministic; value-tied rows are the only
        # remaining ties and swapping them cannot change any moment
        F.col("u").asc(), F.col("rid").asc(), F.col("v").asc_nulls_first()
    )
    ranked = perm.select("feat", "v", "k", F.row_number().over(w).alias("rn"))
    lab = ranked.join(F.broadcast(obs.select("feat", "n1")), "feat").select(
        "feat", "k", "v", (F.col("rn") <= F.col("n1")).alias("is_f")
    )
    pt = lab.groupBy("feat", "k").agg(stat().alias("stat_k"))
    # exceedance compares ROUNDED |stat|: integer-valued inputs make some
    # permutations MATHEMATICALLY tied with the observed statistic, and
    # raw-float >= lets summation-order jitter decide the tie — flipping
    # the count between engines (and between DuckDB runs). Rounding both
    # sides to 9 digits makes ties compare equal deterministically.
    # BH then runs on the ROUNDED p (a fixed function of the integer
    # exceedance count, so bit-identical across engines): ranking and
    # the tail-min on raw float p would flip tie blocks on ~1e-15
    # engine-arithmetic differences when many features share a p value.
    exceed = F.when(
        F.round(F.abs(F.col("stat_k")), 9) >= F.round(F.abs(F.col("stat_obs")), 9), 1
    ).otherwise(0)
    return (
        obs.join(pt, "feat")
        .groupBy("feat", "stat_obs")
        .agg(
            F.round((F.lit(1.0) + F.sum(exceed)) / F.lit(float(K + 1)), 9).alias(
                "p_perm"
            )
        )
    )


def ttest_permutation_fdr(
    df: DataFrame,
    feature_col: str,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    rid_col: str,
    permutations: int = 20,
) -> DataFrame:
    """Permutation-based FDR for the per-feature two-group t-test —
    the scipy/R-free analog of the reference's SAMR route
    (apply_pvalue_permutation_fdrcorrection, analytics.py:923-989;
    run_ttest dispatches to SAMR when permutations>0,
    analytics.py:1239-1260). ``run_analysis(df, "ttest",
    {"permutations": K, "rid_col": ...})`` routes here.

    The K label permutations are deterministic and preserve group sizes
    (:func:`_permutation_p`), so ``rid_col`` must uniquely identify rows;
    each permutation's Welch t reuses one conditional aggregation, then
    BH across features. Hash-verified against the DuckDB twin via
    q_ttest_permutation_fdr.

    Output: (feature_col, t_stat, p_perm, p_adj).
    """
    K, base = _permutation_base(
        df, feature_col, group_col, value_col, group_a, group_b, rid_col,
        permutations, "ttest_permutation_fdr",
    )

    def t_stat_agg():
        fv = F.when(F.col("is_f"), F.col("v"))
        ov = F.when(~F.col("is_f"), F.col("v"))
        return (F.avg(fv) - F.avg(ov)) / F.sqrt(
            F.var_samp(fv) / F.count(fv) + F.var_samp(ov) / F.count(ov)
        )

    obs = _permutation_observed(base, stat_obs=t_stat_agg())
    rr = _permutation_p(base, obs, t_stat_agg, K).select(
        F.col("feat").alias(feature_col),
        F.round("stat_obs", 6).alias("t_stat"),
        "p_perm",
    )
    return bh_adjust(rr, "p_perm", [feature_col]).drop("rejected")


# ----------------------------------------------------------------------
# SAM (significance analysis of microarrays) — the s0-shrunken t
# ----------------------------------------------------------------------


def _sam_s0(s_values: list[float], d_numer: list[float]) -> float:
    """Tusher/Chu automatic exchangeability factor (the samr package's
    s0 selection, run_samr's R delegate at analytics.py:1792-1896):
    candidates are the 5%-step quantiles of the per-feature standard
    errors; for each candidate, features are windowed by ~percentile of
    s (breaks = unique quantiles at seq(0,1,len=101)) and the spread of
    the shrunken statistic d = r/(s+s0) inside each window is summarized
    by its MAD; the winning s0 minimizes the coefficient of variation of
    those window MADs — i.e. it makes |d|'s scale independent of s.

    Driver-side on dimension-sized per-feature moments (the engine's
    standard short-circuit; the reference's matrices are a few thousand
    proteins). The MAD's 1.4826 normal-consistency constant cancels in
    the CV, so it is omitted — keeping the DuckDB twin expressible with
    the unscaled ``mad()`` aggregate.

    Windowing spec (pinned here, mirrored by the twin): window(s_i) =
    #{breaks strictly below s_i}; candidate/break quantiles use linear
    interpolation (numpy default == DuckDB quantile_cont)."""
    import numpy as np

    s = np.asarray(s_values, dtype=float)
    r = np.asarray(d_numer, dtype=float)
    if s.size < 3 or float(s.min()) == float(s.max()):
        # degenerate feature set: no spread to stabilize against
        return float(np.median(s)) if s.size else 0.0
    cands = np.quantile(s, np.arange(0, 21) / 20.0)
    br = np.unique(np.quantile(s, np.linspace(0.0, 1.0, 101)))
    w = np.searchsorted(br, s, side="left")
    best_s0, best_cv = 0.0, None
    for s0 in cands:
        d = r / (s + s0)
        mads = []
        for g in np.unique(w):
            dg = d[w == g]
            med = np.median(dg)
            mads.append(np.median(np.abs(dg - med)))
        mads = np.asarray(mads, dtype=float)
        mean = float(mads.mean())
        if mean == 0.0 or mads.size < 2:
            continue
        cv = float(mads.std(ddof=1)) / mean
        if best_cv is None or cv < best_cv:
            best_cv, best_s0 = cv, float(s0)
    return best_s0


def sam_permutation_fdr(
    df: DataFrame,
    feature_col: str,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    rid_col: str,
    permutations: int = 20,
    s0: float | None = None,
) -> DataFrame:
    """SAM two-class statistic with permutation FDR — the scipy/R-free
    reimplementation of the reference's run_samr (analytics.py:1792-1896,
    which delegates to the R ``samr`` package via rpy2):

        d_i = (mean_a - mean_b) / (s_i + s0)
        s_i = sqrt((1/n1 + 1/n2) * ((n1-1)v1 + (n2-1)v2) / (n1+n2-2))

    ``s0`` defaults to the automatic Tusher/Chu selection
    (:func:`_sam_s0`) computed from the OBSERVED per-feature moments
    (dimension-sized driver aggregation) and held FIXED across
    permutations, exactly as samr does. The label permutations, the
    exceedance p and the degenerate-feature gate are the ones
    :func:`ttest_permutation_fdr` runs (:func:`_permutation_p`,
    :func:`_permutation_observed`), then BH. ``run_analysis(df, "samr",
    ...)`` routes here.

    Output: (feature_col, s0, d_stat, p_perm, p_adj)."""
    K, base = _permutation_base(
        df, feature_col, group_col, value_col, group_a, group_b, rid_col,
        permutations, "sam_permutation_fdr",
    )

    def moments():
        fv = F.when(F.col("is_f"), F.col("v"))
        ov = F.when(~F.col("is_f"), F.col("v"))
        n1 = F.count(fv).cast("double")
        n2 = F.count(ov).cast("double")
        r = F.avg(fv) - F.avg(ov)
        # _nz on every count-derived denominator: a PERMUTED label block
        # can land entirely on null-valued rows (n=0) even though the
        # observed groups passed the >1-non-null gate — under ANSI mode
        # 1.0/0 throws DIVIDE_BY_ZERO (the literal numerator is non-null
        # even when pooled is NULL), killing the whole job on NULL-heavy
        # features. NULL s -> NULL d_k -> the non-exceeding path.
        pooled = (
            (n1 - 1) * F.var_samp(fv) + (n2 - 1) * F.var_samp(ov)
        ) / _nz(n1 + n2 - 2)
        s = F.sqrt((1.0 / _nz(n1) + 1.0 / _nz(n2)) * pooled)
        return r, s

    r, s = moments()
    obs = _permutation_observed(base, r=r, s=s)
    if s0 is None:
        # the s0 selection and the d_obs plan both consume obs, and obs is
        # per-FEATURE (dimension-sized). Collect it once for the s0 scan
        # and rebuild the frame driver-local, so the corpus-scale groupBy
        # runs exactly once and nothing stays pinned after the call (a
        # session-lifetime persist() here leaked one cache block per
        # invocation for callers outside bench.py's per-query release).
        rows = obs.collect()
        s0 = _sam_s0([row["s"] for row in rows], [row["r"] for row in rows])
        obs = df.sparkSession.createDataFrame(rows, obs.schema)
    s0 = float(s0)

    def d_stat():
        # _nz: an all-constant feature with s0=0 has s+s0 == 0 — NULL (the
        # documented untestable path) instead of an ANSI DIVIDE_BY_ZERO
        r, s = moments()
        return r / _nz(s + F.lit(s0))

    # the observed d is plain column math on obs; a NULL d_obs is dropped
    # rather than emitted with a spurious 1/(K+1) p
    d_obs = obs.select(
        "feat", "n1", (F.col("r") / _nz(F.col("s") + F.lit(s0))).alias("stat_obs")
    ).filter(F.col("stat_obs").isNotNull())
    rr = _permutation_p(base, d_obs, d_stat, K).select(
        F.col("feat").alias(feature_col),
        F.round(F.lit(s0), 9).alias("s0"),
        F.round("stat_obs", 6).alias("d_stat"),
        "p_perm",
    )
    return bh_adjust(rr, "p_perm", [feature_col]).drop("rejected")

"""Distribution-drift checks (north star: KS on turn-length,
chi-squared on role histograms).

Scale design: both checks reduce the table to a tiny summary with ONE
distributed aggregation (groupBy-count histogram / width-bucketed
counts); the O(#buckets) statistic math happens driver-side. No sample
ever reaches the driver. p-values are computed with self-contained
implementations of the regularized incomplete gamma (chi²) and the
Kolmogorov asymptotic series (KS) — standard public formulas — since
scipy is not in the runtime.
"""

from __future__ import annotations

import math
from typing import Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hjsonschema_spark.sqltext import col_ref, lit


# -- p-value math (public-domain standard algorithms) -----------------------

def _gammainc_upper_reg(a: float, x: float) -> float:
    """Regularized upper incomplete gamma Q(a, x) via series/continued
    fraction split at x < a+1 (Numerical-Recipes-style, public method)."""
    if x <= 0:
        return 1.0
    if x < a + 1:
        # lower series
        term = 1.0 / a
        total = term
        n = a
        for _ in range(500):
            n += 1
            term *= x / n
            total += term
            if abs(term) < abs(total) * 1e-14:
                break
        p = total * math.exp(-x + a * math.log(x) - math.lgamma(a))
        return max(0.0, 1.0 - p)
    # continued fraction for Q
    tiny = 1e-300
    b = x + 1 - a
    c = 1 / tiny
    d = 1 / b
    h = d
    for i in range(1, 500):
        an = -i * (i - a)
        b += 2
        d = an * d + b
        d = tiny if abs(d) < tiny else d
        c = b + an / c
        c = tiny if abs(c) < tiny else c
        d = 1 / d
        delta = d * c
        h *= delta
        if abs(delta - 1) < 1e-14:
            break
    return h * math.exp(-x + a * math.log(x) - math.lgamma(a))


def chi2_sf(stat: float, dof: int) -> float:
    if dof <= 0 or stat <= 0:
        return 1.0
    return _gammainc_upper_reg(dof / 2.0, stat / 2.0)


def ks_sf(d: float, n1: int, n2: int) -> float:
    """Asymptotic two-sample KS p-value (Kolmogorov distribution)."""
    if d <= 0:
        return 1.0
    ne = n1 * n2 / (n1 + n2)
    lam = (math.sqrt(ne) + 0.12 + 0.11 / math.sqrt(ne)) * d
    total = 0.0
    for j in range(1, 101):
        term = 2 * (-1) ** (j - 1) * math.exp(-2 * j * j * lam * lam)
        total += term
        if abs(term) < 1e-12:
            break
    return min(1.0, max(0.0, total))


# -- chi-squared on categorical histograms ----------------------------------

# Chi-squared drift compares categorical histograms on the driver; a
# column with more categories than this is not categorical (an id, free
# text) and its histogram would be as large as the table.
MAX_CATEGORIES = 10_000


def _collect_histogram(counts: DataFrame, col: str) -> dict:
    """Collect a ``[col, n]`` frame to a dict, fetching at most
    MAX_CATEGORIES + 1 rows; raise ValueError above the bound."""
    rows = counts.limit(MAX_CATEGORIES + 1).collect()
    if len(rows) > MAX_CATEGORIES:
        raise ValueError(
            f"histogram of {col!r} has more than {MAX_CATEGORIES} categories: "
            "chi-squared drift needs a categorical column"
        )
    return {r[col]: r["n"] for r in rows}


def histogram(df: DataFrame, col: str) -> dict:
    """groupBy-count → driver dict, at most MAX_CATEGORIES categories
    (e.g. the 5-role vocabulary)."""
    return _collect_histogram(df.groupBy(col).agg(F.count(F.lit(1)).alias("n")), col)


def chi_squared_drift(
    df: DataFrame, col: str, reference: "DataFrame | Mapping", alpha: float = 0.001
) -> dict:
    """Pearson chi² of df[col]'s histogram against a reference
    histogram (dict value->count or DataFrame[col, n])."""
    obs = histogram(df, col)
    ref = reference if isinstance(reference, Mapping) else _collect_histogram(reference, col)
    n_obs = sum(obs.values())
    n_ref = sum(ref.values())
    cats = sorted(set(obs) | set(ref), key=lambda x: (x is None, str(x)))
    stat = 0.0
    for c in cats:
        e = ref.get(c, 0) * n_obs / n_ref if n_ref else 0.0
        o = obs.get(c, 0)
        if e == 0:
            if o > 0:
                stat = float("inf")
            continue
        stat += (o - e) ** 2 / e
    dof = max(1, len(cats) - 1)
    p = 0.0 if math.isinf(stat) else chi2_sf(stat, dof)
    return {"statistic": stat, "dof": dof, "p_value": p, "drifted": p < alpha, "n": n_obs}


# -- KS on numeric columns ---------------------------------------------------

def ks_two_sample(
    df1: DataFrame, col1: str, df2: DataFrame, col2: str, buckets: int = 4096, alpha: float = 0.001
) -> dict:
    """Two-sample KS via width-bucketed ECDFs: one agg per table
    (distributed, spill-safe), O(buckets) driver math. The bucketed D
    underestimates the exact D by at most the bucket mass — with 4096
    buckets the bias is negligible for drift detection."""
    lo1, hi1, n1 = df1.select(F.min(col1), F.max(col1), F.count(col1)).first()
    lo2, hi2, n2 = df2.select(F.min(col2), F.max(col2), F.count(col2)).first()
    if not n1 or not n2:
        return {"statistic": 0.0, "p_value": 1.0, "drifted": False, "n1": n1, "n2": n2}
    lo, hi = min(lo1, lo2), max(hi1, hi2)
    if lo == hi:
        return {"statistic": 0.0, "p_value": 1.0, "drifted": False, "n1": n1, "n2": n2}
    width = (hi - lo) / buckets

    def bucketed(df: DataFrame, col: str) -> dict:
        b = F.least(
            F.lit(buckets - 1), F.floor((F.col(col) - F.lit(lo)) / F.lit(width)).cast("int")
        )
        return {
            r["b"]: r["n"]
            for r in df.na.drop(subset=[col]).groupBy(b.alias("b")).agg(F.count(F.lit(1)).alias("n")).collect()
        }

    h1, h2 = bucketed(df1, col1), bucketed(df2, col2)
    c1 = c2 = 0
    d = 0.0
    for b in range(buckets):
        c1 += h1.get(b, 0)
        c2 += h2.get(b, 0)
        d = max(d, abs(c1 / n1 - c2 / n2))
    p = ks_sf(d, n1, n2)
    return {"statistic": d, "p_value": p, "drifted": p < alpha, "n1": n1, "n2": n2}


# -- DataFrame-returning variants (driver-oracle-checkable; the whole
#    computation stays in the engine, SQL-expressible for DuckDB) -----------

def chi2_two_sample_df(df: DataFrame, col: str, group_col: str) -> DataFrame:
    """Pearson chi² of the `col` histogram between the two groups named
    by boolean `group_col`. One row: (statistic, dof). Fully
    distributed: contingency via one groupBy, totals via window sums."""
    from pyspark.sql import Window

    cont = df.groupBy(col).agg(
        F.sum(F.col(group_col).cast("long")).alias("o_a"),
        F.sum((~F.col(group_col)).cast("long")).alias("o_b"),
    )
    w = Window.partitionBy()
    cont = cont.withColumn("n_a", F.sum("o_a").over(w)).withColumn("n_b", F.sum("o_b").over(w))
    n = F.col("n_a") + F.col("n_b")
    row_total = F.col("o_a") + F.col("o_b")
    e_a = row_total * F.col("n_a") / n
    e_b = row_total * F.col("n_b") / n
    # try_divide: a group with no rows has zero expected counts, which
    # makes the statistic NULL instead of raising under ANSI mode
    contrib = F.try_divide((F.col("o_a") - e_a) ** 2, e_a) + F.try_divide(
        (F.col("o_b") - e_b) ** 2, e_b
    )
    return cont.select(contrib.alias("contrib")).agg(
        F.round(F.sum("contrib"), 6).alias("statistic"),
        (F.count(F.lit(1)) - 1).cast("long").alias("dof"),
    )


def psi_df(df: DataFrame, col: str, group_col: str, smoothing: float = 0.5) -> DataFrame:
    """Population Stability Index per category between the two groups
    named by boolean `group_col`: contrib = (p_a - p_b) * ln(p_a / p_b)
    with additive (Laplace) smoothing so empty cells stay finite —
    the standard scorecard-monitoring drift metric (public formula).

    One distributed groupBy builds the contingency table; totals via
    unpartitioned window sums over O(#categories) rows. PSI's category
    decomposition is what operators act on (which segment drifted), so
    the per-category rows are returned rather than only the sum."""
    from pyspark.sql import Window

    k = F.count(F.lit(1)).over(Window.partitionBy())
    cont = df.groupBy(col).agg(
        F.sum(F.col(group_col).cast("long")).alias("o_a"),
        F.sum((~F.col(group_col)).cast("long")).alias("o_b"),
    )
    w = Window.partitionBy()
    cont = (
        cont.withColumn("n_a", F.sum("o_a").over(w))
        .withColumn("n_b", F.sum("o_b").over(w))
        .withColumn("k", k)
    )
    s = F.lit(float(smoothing))
    p_a = (F.col("o_a") + s) / (F.col("n_a") + s * F.col("k"))
    p_b = (F.col("o_b") + s) / (F.col("n_b") + s * F.col("k"))
    contrib = (p_a - p_b) * F.log(p_a / p_b)
    return cont.select(
        col,
        F.round(p_a, 6).alias("p_a"),
        F.round(p_b, 6).alias("p_b"),
        F.round(contrib, 6).alias("psi_contrib"),
    )


def ecdf_gap(tagged: DataFrame, buckets: int) -> DataFrame:
    """The bucketed-ECDF gap of a tagged sample: one row (_d, _n1, _n2).

    ``tagged`` has a DOUBLE ``x`` (non-NULL) and an INT ``_g``: 1 for
    the first sample, 0 for the second, NULL for a row that sets the
    [lo, hi] bounds but is counted on neither side. One lazy 1-row
    bounds agg is broadcast into one width-bucketed groupBy (the only
    passes over the data; partial+final agg, spill-safe), and
    cumulative-sum windows over O(buckets) rows give D = max |F1 - F2|.
    try_divide keeps the degenerate inputs defined: a single-valued
    range puts every row in bucket 0 (D = 0), and an empty side gives
    a NULL D with its n = 0."""
    bounds = tagged.selectExpr("min(x) AS _lo", "max(x) AS _hi")
    t = tagged.crossJoin(F.broadcast(bounds))
    width = f"((_hi - _lo) / {lit(float(buckets))})"
    # try_divide: degenerate range (hi == lo) => NULL => bucket 0
    bkt = f"coalesce(least({buckets - 1}, CAST(floor(try_divide(x - _lo, {width})) AS INT)), 0)"
    hist = t.groupBy(F.expr(f"{bkt} AS _b")).agg(
        F.expr("sum(_g) AS _na"), F.expr("sum(1 - _g) AS _nb")
    )
    cum = "ORDER BY _b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    return hist.selectExpr(
        f"try_divide(sum(_na) OVER ({cum}), sum(_na) OVER ()) AS _ca",
        f"try_divide(sum(_nb) OVER ({cum}), sum(_nb) OVER ()) AS _cb",
        "sum(_na) OVER () AS _n1",
        "sum(_nb) OVER () AS _n2",
    ).selectExpr(
        "max(abs(_ca - _cb)) AS _d", "coalesce(max(_n1), 0) AS _n1", "coalesce(max(_n2), 0) AS _n2"
    )


def ks_two_sample_df(df: DataFrame, col: str, group_col: str, buckets: int = 1024) -> DataFrame:
    """Bucketed-ECDF KS statistic between the two groups named by
    boolean `group_col` (``ecdf_gap``; a NULL group only widens the
    bounds). One row: (d_stat, n_a, n_b); an empty group gives a NULL
    d_stat."""
    tagged = df.na.drop(subset=[col]).selectExpr(
        f"CAST({col_ref(col)} AS DOUBLE) AS x", f"CAST({col_ref(group_col)} AS INT) AS _g"
    )
    return ecdf_gap(tagged, buckets).selectExpr(
        "round(_d, 6) AS d_stat", "CAST(_n1 AS BIGINT) AS n_a", "CAST(_n2 AS BIGINT) AS n_b"
    )

"""Distribution drift and experiment statistics ([EXT]) — the
monitoring layer of a data pipeline: is this batch distributed like the
last one, and did the treatment move the metric?

* **PSI** (population stability index) — the industry drift score:
  ``sum((p_a - p_b) * ln(p_a / p_b))`` over fixed bins (rule of thumb:
  < 0.1 stable, 0.1-0.25 drifting, > 0.25 shifted).
* **Binned KS statistic** — ``max |CDF_a - CDF_b|`` over the same bins
  (exact to one bin width; the binless KS needs a global sort, which is
  exactly what we refuse to do at scale).
* **Welch's t** — unequal-variance two-sample test from per-group
  (n, mean, var) aggregates.

Scale shape: everything here is ONE aggregation per side — fixed-range
binning is a ``width_bucket``-style CASE + groupBy (bin-count-sized
results), moments are plain aggregates. No sorts, no windows, no joins
bigger than the bin table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _bin_counts(
    df: DataFrame, col: str, lo: float, hi: float, bins: int, side: str
) -> DataFrame:
    """(bin, n_<side>): rows per fixed-range bin; values at/under lo land
    in bin 0, at/over hi in the last bin — nothing is dropped. The ONE
    binning expression both the float and the integer-exact drift
    reports share (a drifted copy would silently break their agreement
    cross-check)."""
    w = (hi - lo) / bins
    b = F.least(
        F.greatest(
            F.floor((F.col(col) - F.lit(lo)) / F.lit(w)).cast("int"), F.lit(0)
        ),
        F.lit(bins - 1),
    )
    return (
        df.filter(F.col(col).isNotNull())
        .groupBy(b.alias("bin"))
        .agg(F.count(F.lit(1)).alias(f"n_{side}"))
    )


def _bin_fracs(
    df: DataFrame, col: str, lo: float, hi: float, bins: int, side: str
) -> DataFrame:
    """(bin, frac): per-bin share of rows (``_bin_counts`` normalized)."""
    counts = _bin_counts(df, col, lo, hi, bins, side)
    total = counts.agg(F.sum(f"n_{side}").alias("_t"))
    return counts.crossJoin(F.broadcast(total)).select(
        "bin", (F.col(f"n_{side}") / F.col("_t")).alias(f"frac_{side}")
    )


def drift_report(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
    lo: float,
    hi: float,
    bins: int = 20,
    eps: float = 1e-6,
) -> DataFrame:
    """Per-bin drift table: (bin, frac_a, frac_b, psi_term, cdf_gap).
    Empty bins get *eps* mass in the PSI (standard smoothing — the raw
    ratio is undefined at zero)."""
    if bins < 2:
        raise ValueError(f"need bins >= 2, got {bins}")
    if not hi > lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi}]")
    import pyspark.sql.window as W

    a = _bin_fracs(df_a, col, lo, hi, bins, "a")
    b = _bin_fracs(df_b, col, lo, hi, bins, "b")
    spine = df_a.sparkSession.range(bins).select(F.col("id").cast("int").alias("bin"))
    j = (
        spine.join(a, "bin", "left")
        .join(b, "bin", "left")
        .select(
            "bin",
            F.coalesce("frac_a", F.lit(0.0)).alias("frac_a"),
            F.coalesce("frac_b", F.lit(0.0)).alias("frac_b"),
        )
    )
    pa = F.greatest(F.col("frac_a"), F.lit(eps))
    pb = F.greatest(F.col("frac_b"), F.lit(eps))
    # the bin table is bins rows — a window over it is result-sized, not
    # data-sized, so the running CDF costs nothing at any corpus scale
    cum = W.Window.orderBy("bin").rowsBetween(W.Window.unboundedPreceding, 0)
    return j.select(
        "bin",
        "frac_a",
        "frac_b",
        ((pa - pb) * F.log(pa / pb)).alias("psi_term"),
        F.abs(
            F.sum("frac_a").over(cum) - F.sum("frac_b").over(cum)
        ).alias("cdf_gap"),
    )


def drift_report_exact(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
    lo: float,
    hi: float,
    bins: int = 20,
) -> DataFrame:
    """Integer-exact drift table: (bin, n_a, n_b, gap_num, gap_den) —
    the rule-6 companion of :func:`drift_report` for bitwise
    cross-engine gates. Per-bin counts are exact int64, and the binned
    KS gap |CDF_a − CDF_b| emits as the exact cross-multiplied rational
    ``gap_num/gap_den = |cum_a·tot_b − cum_b·tot_a| / (tot_a·tot_b)``
    — no division, log, or float ever materializes. The PSI (which
    needs a transcendental log) stays on :func:`drift_report`.
    Same plan shape: one count aggregate per side + a bins-sized window.

    An EMPTY cohort makes the CDF gap undefined — those rows emit NULL
    ``gap_num``/``gap_den`` (never 0/0, which a cross-multiplied
    threshold gate would silently read as "no drift"); per-bin counts
    still report, so the caller sees WHICH side is missing.
    """
    if bins < 2:
        raise ValueError(f"need bins >= 2, got {bins}")
    if not hi > lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi}]")
    import pyspark.sql.window as W

    spine = df_a.sparkSession.range(bins).select(
        F.col("id").cast("int").alias("bin")
    )
    j = (
        spine.join(_bin_counts(df_a, col, lo, hi, bins, "a"), "bin", "left")
        .join(_bin_counts(df_b, col, lo, hi, bins, "b"), "bin", "left")
        .select(
            "bin",
            F.coalesce("n_a", F.lit(0)).cast("bigint").alias("n_a"),
            F.coalesce("n_b", F.lit(0)).cast("bigint").alias("n_b"),
        )
    )
    cum = W.Window.orderBy("bin").rowsBetween(W.Window.unboundedPreceding, 0)
    tot = W.Window.rowsBetween(
        W.Window.unboundedPreceding, W.Window.unboundedFollowing
    )
    cum_a, cum_b = F.sum("n_a").over(cum), F.sum("n_b").over(cum)
    tot_a, tot_b = F.sum("n_a").over(tot), F.sum("n_b").over(tot)
    defined = (tot_a > 0) & (tot_b > 0)
    return j.select(
        "bin",
        "n_a",
        "n_b",
        F.when(defined, F.abs(cum_a * tot_b - cum_b * tot_a))
        .cast("bigint")
        .alias("gap_num"),
        F.when(defined, tot_a * tot_b).cast("bigint").alias("gap_den"),
    )


def welch_t(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Welch's unequal-variance t — one row: (n_a, n_b, mean_a, mean_b,
    t_stat, dof). Moments come from a single two-group aggregate; the
    Welch-Satterthwaite dof makes the statistic robust to variance
    imbalance (the default for A/B metrics)."""
    g = F.col(group_col)
    agg = (
        df.filter(g.isin([group_a, group_b]) & F.col(value_col).isNotNull())
        .groupBy(g.alias("_g"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(value_col).alias("m"),
            F.var_samp(value_col).alias("v"),
        )
    )
    a = agg.filter(F.col("_g") == group_a).select(
        F.col("n").alias("n_a"), F.col("m").alias("mean_a"), F.col("v").alias("v_a")
    )
    b = agg.filter(F.col("_g") == group_b).select(
        F.col("n").alias("n_b"), F.col("m").alias("mean_b"), F.col("v").alias("v_b")
    )
    j = a.crossJoin(b)  # two 1-row sides
    se_a = F.col("v_a") / F.col("n_a")
    se_b = F.col("v_b") / F.col("n_b")
    t = (F.col("mean_a") - F.col("mean_b")) / F.sqrt(se_a + se_b)
    dof = (se_a + se_b) * (se_a + se_b) / (
        se_a * se_a / (F.col("n_a") - 1) + se_b * se_b / (F.col("n_b") - 1)
    )
    return j.select(
        "n_a", "n_b", "mean_a", "mean_b", t.alias("t_stat"), dof.alias("dof")
    )


def embedding_drift(
    a: DataFrame,
    b: DataFrame,
    vec_col: str = "embedding",
    grid: int = 1_000_000,
) -> DataFrame:
    """Embedding-space drift between two corpus releases: the cosine
    between the two CENTROID vectors (1.0 = same direction; a retrained
    or re-normalized encoder shows up immediately) plus per-side counts.
    The monitoring complement of `psi`/`drift_report` for vector columns.

    Exactness: per-dimension component sums accumulate as int64 on a
    1/grid grid (``round(x·grid)``), so they are layout-exact; every
    double derives from those identical integers, and the final
    64-term reductions fold a SORTED collected array in index order —
    no shuffle-order float summation anywhere. The emitted cosine is
    rounded to 6dp (bounded-statistic grid).

    Scale shape: one posexplode + (dim)-keyed aggregate per side
    (map-side combine collapses each partition to |dims| partials);
    the join and folds run on |dims| rows.
    """
    dims_a = _dim_sums(a, vec_col, grid, "a")
    dims_b = _dim_sums(b, vec_col, grid, "b")
    j = dims_a.join(dims_b, "i")
    # fold the |dims| per-dimension terms in index order (sorted struct
    # array) — deterministic double summation
    terms = j.select(
        F.struct(
            F.col("i"),
            (F.col("s_a").cast("double") * F.col("s_b").cast("double")).alias("dot"),
            (F.col("s_a").cast("double") * F.col("s_a").cast("double")).alias("aa"),
            (F.col("s_b").cast("double") * F.col("s_b").cast("double")).alias("bb"),
        ).alias("t"),
        "n_a",
        "n_b",
    )
    # ONE output row always: counts fold as max (with ragged vector
    # lengths the per-dim counts differ — grouping on them would emit one
    # partial row per count combination). Dims present on only one side
    # are dropped by the inner join above: the cosine covers the COMMON
    # dimensions, and n_a/n_b report the max per-dim row count.
    folded = terms.agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.array_sort(F.collect_list("t")).alias("_ts"),
    )

    def _fold(field: str):
        return F.aggregate(
            F.col("_ts"),
            F.lit(0.0),
            lambda acc, t: acc + t[field],
        )

    return folded.select(
        F.col("n_a"),
        F.col("n_b"),
        F.round(
            F.try_divide(_fold("dot"), F.sqrt(_fold("aa")) * F.sqrt(_fold("bb"))),
            6,
        ).alias("centroid_cosine"),
    )


def _dim_sums(df: DataFrame, vec_col: str, grid: int, side: str) -> DataFrame:
    exploded = df.select(
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("i", "_x")
    )
    out = exploded.groupBy("i").agg(
        F.sum(F.round(F.col("_x") * grid).cast("bigint")).alias(f"s_{side}"),
        F.count(F.lit(1)).alias(f"n_{side}"),
    )
    return out

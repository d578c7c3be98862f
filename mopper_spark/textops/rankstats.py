"""Exact-integer rank statistics: Mann-Whitney U, Spearman rho terms,
Kendall tau pair counts — the nonparametric comparison layer a curation
pipeline runs when distributions are skewed enough that means lie
(quality-score shifts between sources, length drift between snapshots).

The reference engine (ghsnd/mopper, `src/operator/`) has no statistics
algebra; these extend the evaluation layer (`evaluation.py`,
`analysis.py::rank_auc`) with the same exactness discipline:

- Every reported number is a BIGINT.  Midranks are carried as
  **2x-midranks** (``2*mid = 2*count_below + count_at + 1``), which are
  always integers, so ties never introduce a float.
- Division and square roots are left to the consumer: U is reported as
  ``2*U`` (integer even under ties), Spearman as the centered product
  sums ``(num, den_x, den_y)`` with ``rho = num / sqrt(den_x * den_y)``,
  Kendall as the five pair-class counts with
  ``tau_b = (C - D) / sqrt((T - Tx)(T - Ty))``.

Scale shape (the part Spark has to get right):

- Rank statistics need an ORDERED prefix over the *distinct values*,
  not over the rows.  Both U and the 2x-midranks collapse the corpus to
  per-distinct-value counts first (combine-able groupBy — the shuffle
  carries one row per distinct value), then take the exclusive prefix
  sum with ``scan.exclusive_scan``, bucketed by integer value range
  (``bucket_width`` distinct values or fewer per bucket).  No global
  single-partition sort ever sees row-shaped data.
- Kendall's concordance needs value *pairs*: the corpus is collapsed to
  ``(x, y)`` cells and the quadratic work runs over cells, not rows —
  the caller is expected to hand in bucketed metrics (the use case) so
  the cell count is tiny; ``max_cells`` makes the quadratic a deliberate
  act, same contract as ``similarity.cosine_pairs_exact``.

Overflow contract: centered Spearman terms are bounded by ``4*n^3``
(|2x-midrank deviation| <= n), exact through n ~ 1.3e6 rows; past that,
pre-bucket the values (the statistic is rank-based, so any monotone
bucketing only coarsens ties).  The raw sums the centering is derived
from obey the same bound.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mopper_spark.scan import exclusive_scan


def _value_bucket(bucket_width: int) -> Column:
    """Range bucket of the integer ``_v``: floor-divide (not ``div``) so
    negative values bucket monotonically."""
    if bucket_width < 1:
        raise ValueError("rankstats: bucket_width must be >= 1")
    return F.floor(F.col("_v") / F.lit(int(bucket_width))).cast("long")


def mann_whitney_u(
    df: DataFrame,
    value_col: str,
    group_col: str,
    *,
    bucket_width: int = 64,
) -> DataFrame:
    """Mann-Whitney U between group A (``group_col`` truthy) and group B,
    as ONE exact-integer row.

    ``u2x_a = 2 * U_A = sum over distinct v of
    nA(v) * (2 * nB(below v) + nB(at v))`` — wins count double, ties
    count once, so the half-credit tie convention stays integer.
    ``u2x_b`` follows from the identity ``U_A + U_B = nA * nB``.
    ``tie_cubes = sum(t^3 - t)`` over distinct values feeds the
    tie-corrected variance ``sigma^2 = nA*nB/12 * ((n+1) - tie_cubes /
    (n*(n-1)))`` consumer-side.

    Returns ``(n_a, n_b, u2x_a, u2x_b, tie_cubes)``.
    """
    a = F.col(group_col).cast("boolean")
    per_v = (
        df.select(
            F.col(value_col).cast("long").alias("_v"),
            F.when(a, F.lit(1)).otherwise(F.lit(0)).alias("_ia"),
        )
        .groupBy("_v")
        .agg(
            F.sum("_ia").cast("long").alias("_na"),
            F.sum(1 - F.col("_ia")).cast("long").alias("_nb"),
        )
    )
    pre = exclusive_scan(
        per_v, _value_bucket(bucket_width), ["_v"], sums={"_pre__nb": "_nb"}
    )
    t = F.col("_na") + F.col("_nb")
    return pre.agg(
        F.sum("_na").cast("long").alias("n_a"),
        F.sum("_nb").cast("long").alias("n_b"),
        F.sum(F.col("_na") * (2 * F.col("_pre__nb") + F.col("_nb")))
        .cast("long")
        .alias("u2x_a"),
        F.sum(t * t * t - t).cast("long").alias("tie_cubes"),
    ).select(
        "n_a",
        "n_b",
        "u2x_a",
        (2 * F.col("n_a") * F.col("n_b") - F.col("u2x_a"))
        .cast("long")
        .alias("u2x_b"),
        "tie_cubes",
    )


def ks_statistic(
    df: DataFrame,
    value_col: str,
    group_col: str,
    *,
    bucket_width: int = 64,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between group A
    (``group_col`` truthy) and group B, as ONE exact-integer row.

    The ECDF gap at value v is ``|cumA(v)/nA - cumB(v)/nB|``; scaled by
    ``nA * nB`` it is the INTEGER ``|nB * cumA(v) - nA * cumB(v)|``, so
    ``d_num = max over distinct v`` is exact and
    ``D = d_num / (nA * nB)`` is one consumer-side division.  ``at_v``
    reports the smallest value attaining the max (deterministic
    tie-break), which pins WHERE the distributions diverge most — the
    actionable part of a drift audit.

    Same scale shape as ``mann_whitney_u``: per-distinct-value counts
    (combine-able), bucketed exclusive prefix, then one max-aggregate;
    the group totals ride in on a one-row broadcast cross join.

    Returns ``(n_a, n_b, d_num, at_v)``.
    """
    a = F.col(group_col).cast("boolean")
    per_v = (
        df.select(
            F.col(value_col).cast("long").alias("_v"),
            F.when(a, F.lit(1)).otherwise(F.lit(0)).alias("_ia"),
        )
        .groupBy("_v")
        .agg(
            F.sum("_ia").cast("long").alias("_na"),
            F.sum(1 - F.col("_ia")).cast("long").alias("_nb"),
        )
    )
    pre = exclusive_scan(
        per_v,
        _value_bucket(bucket_width),
        ["_v"],
        sums={"_pre__na": "_na", "_pre__nb": "_nb"},
    ).localCheckpoint(eager=True)
    totals = pre.agg(
        F.sum("_na").cast("long").alias("n_a"),
        F.sum("_nb").cast("long").alias("n_b"),
    )
    gaps = pre.crossJoin(F.broadcast(totals)).select(
        "_v",
        "n_a",
        "n_b",
        F.abs(
            F.col("n_b") * (F.col("_pre__na") + F.col("_na"))
            - F.col("n_a") * (F.col("_pre__nb") + F.col("_nb"))
        ).cast("long").alias("_gap"),
    )
    # min_by over (-gap, v): max gap first, then smallest v — one pass,
    # combine-able (struct comparison is lexicographic in Spark)
    return gaps.groupBy("n_a", "n_b").agg(
        F.max("_gap").cast("long").alias("d_num"),
        F.min_by(
            "_v",
            F.struct(
                (-F.col("_gap")).alias("ng"), F.col("_v").alias("v")
            ),
        ).cast("long").alias("at_v"),
    )


def gini_terms(df: DataFrame, value_col: str, *, bucket_width: int = 64) -> DataFrame:
    """Gini concentration coefficient of a nonnegative integer measure
    (token frequencies, per-source document counts, per-user event
    counts) as ONE exact-integer row ``(n, total, g_num)`` with
    ``G = g_num / (n * total)`` — the inequality audit ("is this corpus
    a few mega-documents or a flat distribution?").

    Uses the rank form ``G·n·Σx = 2·Σ i·x_(i) − (n+1)·Σx`` (values
    ascending, ranks 1…n).  The rank-weighted sum needs no per-row rank:
    collapse to per-distinct-value counts ``m_v`` (combine-able groupBy),
    take the bucketed exclusive prefix ``s_v`` of ``m`` over ascending v,
    and a run of ``m_v`` equal values contributes
    ``v·(m_v·s_v + m_v(m_v+1)/2)`` — tie-order invariant, so no
    tie-break is ever needed.  Same two-phase prefix shape as
    ``mann_whitney_u``; only per-bucket subtotals cross a single
    partition.

    Overflow: ``Σ i·x_i ≤ n·Σx`` — exact in int64 through
    ``n·total < 2^63`` (e.g. 10^9 tokens of total frequency 10^9 needs
    the caller to pre-bucket; the statistic is scale-free so any
    proportional coarsening preserves G).
    """
    per_v = (
        df.select(F.col(value_col).cast("long").alias("_v"))
        .groupBy("_v")
        .agg(F.count(F.lit(1)).cast("long").alias("_m"))
    )
    pre = exclusive_scan(
        per_v, _value_bucket(bucket_width), ["_v"], sums={"_pre__m": "_m"}
    )
    return pre.agg(
        F.sum("_m").cast("long").alias("n"),
        F.sum(F.col("_m") * F.col("_v")).cast("long").alias("total"),
        # 2·Σ i·x_i folded into the per-run term (×2 pre-applied so the
        # triangular m(m+1)/2 needs no division — int64 throughout)
        (
            F.sum(
                F.col("_v")
                * (
                    F.lit(2) * F.col("_m") * F.col("_pre__m")
                    + F.col("_m") * (F.col("_m") + 1)
                )
            )
            - (F.sum("_m") + 1) * F.sum(F.col("_m") * F.col("_v"))
        ).cast("long").alias("g_num"),
    )


def grouped_midrank(
    df: DataFrame,
    group_col: str,
    value_col: str,
    *,
    bucket_width: int = 64,
) -> DataFrame:
    """Per-group ECDF positions as exact integers: for every distinct
    ``(group, value)``, the occurrence count ``m``, the 2x-midrank
    ``rank2 = 2·below + m + 1`` (always an odd-or-even INTEGER — the
    file-wide ties convention), and the group size ``n`` — so a row's
    within-group percentile is ``rank2 / (2n)`` consumer-side.  This is
    the building block of quantile normalization and cross-source score
    calibration ("a 0.7 quality score means top-12% in src0 but top-40%
    in src3").

    Same ``exclusive_scan`` as ``mann_whitney_u`` but PARTITIONED by
    group: no global or group-global single-partition pass ever sees
    value-shaped data, and the group size ``n`` is summed from the
    per-(group, bucket) subtotals.

    Output: ``(group_col, value_col, m, rank2, n)`` per distinct pair.
    """
    g, v = F.col(group_col), F.col(value_col).cast("long")
    per_v = (
        df.select(g.alias("_g"), v.alias("_v"))
        .groupBy("_g", "_v")
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
    )
    ranked = exclusive_scan(
        per_v,
        _value_bucket(bucket_width),
        ["_v"],
        sums={"_below": "m"},
        totals={"n": "m"},
        partition_by=["_g"],
    )
    return ranked.select(
        F.col("_g").alias(group_col),
        F.col("_v").alias(value_col),
        "m",
        (F.lit(2) * F.col("_below") + F.col("m") + 1).cast("long").alias("rank2"),
        "n",
    )


def _with_r2(
    df: DataFrame, col: str, out: str, *, bucket_width: int
) -> DataFrame:
    """Join the 2x-midrank of integer column ``col`` onto ``df`` as
    ``out``: ``2*mid = 2*count_below + count_at + 1`` per distinct
    value — prefix over distinct values, then one equi-join back."""
    per_v = (
        df.groupBy(F.col(col).cast("long").alias("_v"))
        .agg(F.count(F.lit(1)).cast("long").alias("_cnt"))
    )
    pre = exclusive_scan(
        per_v, _value_bucket(bucket_width), ["_v"], sums={"_pre__cnt": "_cnt"}
    )
    ranks = pre.select(
        F.col("_v").alias(col),
        (2 * F.col("_pre__cnt") + F.col("_cnt") + 1).cast("long").alias(out),
    )
    return df.join(F.broadcast(ranks), col)


def spearman_terms(
    df: DataFrame,
    x_col: str,
    y_col: str,
    *,
    bucket_width: int = 64,
) -> DataFrame:
    """Spearman rank correlation between two integer columns as ONE row
    of exact centered product sums.

    The mean 2x-midrank is ``n + 1`` EXACTLY (sum of 2x-midranks is
    ``n*(n+1)`` under any tie pattern), so centering is integer:
    ``rho = num / sqrt(den_x * den_y)`` with

    - ``num   = sum((r2x - (n+1)) * (r2y - (n+1)))``
    - ``den_x = sum((r2x - (n+1))^2)``, ``den_y`` likewise.

    Computed from raw sums in a single combine-able aggregation (the
    centering is algebra on the one-row result, so no second pass needs
    ``n``).  Returns ``(n, num, den_x, den_y)``.
    """
    ranked = _with_r2(
        _with_r2(
            df.select(
                F.col(x_col).cast("long").alias("_x"),
                F.col(y_col).cast("long").alias("_y"),
            ),
            "_x",
            "_rx",
            bucket_width=bucket_width,
        ),
        "_y",
        "_ry",
        bucket_width=bucket_width,
    )
    raw = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("_rx") * F.col("_ry")).cast("long").alias("_sxy"),
        F.sum(F.col("_rx") * F.col("_rx")).cast("long").alias("_sxx"),
        F.sum(F.col("_ry") * F.col("_ry")).cast("long").alias("_syy"),
    )
    # sum(r2) = n*(n+1) on both axes; centered = raw - n*(n+1)^2
    m = F.col("n") * (F.col("n") + 1) * (F.col("n") + 1)
    return raw.select(
        "n",
        (F.col("_sxy") - m).cast("long").alias("num"),
        (F.col("_sxx") - m).cast("long").alias("den_x"),
        (F.col("_syy") - m).cast("long").alias("den_y"),
    )


def kendall_tau_counts(
    df: DataFrame,
    x_col: str,
    y_col: str,
    *,
    max_cells: int = 100_000,
) -> DataFrame:
    """Kendall tau pair-class counts between two integer columns as ONE
    exact-integer row: ``(n, concordant, discordant, ties_x_only,
    ties_y_only, ties_both)``.

    The corpus collapses to ``(x, y)`` cells (combine-able groupBy; the
    shuffle carries one row per distinct pair), so the quadratic
    concordance work runs over CELLS, never rows — hand in bucketed
    metrics so the cell count stays small; ``max_cells`` (counted before
    the pair join) turns an accidental high-cardinality quadratic into an
    error instead of a hung job.

    Only the DISCORDANT count needs the cell pair join (``x1 < x2 AND
    y1 > y2``); the other four classes are marginal sums, and
    ``C = T - Tx_pairs - Ty_pairs + ties_both - D`` recovers concordant
    (pairs tied on both axes are subtracted twice by the marginals).
    ``tau_b = (C - D) / sqrt((T - Tx_pairs)(T - Ty_pairs))``
    consumer-side.
    """
    cells = (
        df.groupBy(
            F.col(x_col).cast("long").alias("_x"),
            F.col(y_col).cast("long").alias("_y"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
        .localCheckpoint(eager=True)
    )
    n_cells = cells.count()
    if n_cells > max_cells:
        raise ValueError(
            f"kendall_tau_counts: {n_cells} distinct (x, y) cells exceed "
            f"max_cells={max_cells}; bucket the inputs or raise the cap "
            "deliberately"
        )
    pairs2 = lambda c: (c * (c - 1)).cast("long")  # noqa: E731  2x pairs
    marg = cells.agg(
        F.sum("_c").cast("long").alias("n"),
        F.sum(pairs2(F.col("_c"))).cast("long").alias("_both2"),
    )
    tx = cells.groupBy("_x").agg(F.sum("_c").alias("_cx")).agg(
        F.sum(pairs2(F.col("_cx"))).cast("long").alias("_tx2")
    )
    ty = cells.groupBy("_y").agg(F.sum("_c").alias("_cy")).agg(
        F.sum(pairs2(F.col("_cy"))).cast("long").alias("_ty2")
    )
    left = cells.select(
        F.col("_x").alias("_x1"), F.col("_y").alias("_y1"),
        F.col("_c").alias("_c1"),
    )
    right = cells.select(
        F.col("_x").alias("_x2"), F.col("_y").alias("_y2"),
        F.col("_c").alias("_c2"),
    )
    disc = (
        left.join(
            F.broadcast(right),
            (F.col("_x1") < F.col("_x2")) & (F.col("_y1") > F.col("_y2")),
        )
        .agg(
            F.coalesce(F.sum(F.col("_c1") * F.col("_c2")), F.lit(0))
            .cast("long")
            .alias("discordant")
        )
    )
    out = marg.crossJoin(tx).crossJoin(ty).crossJoin(disc)
    # integer `div`, never `/` — the 2x pair counts exceed 2^53 long
    # before they exceed BIGINT (all operands non-negative and even)
    return out.select(
        "n",
        F.expr(
            "CAST((n * (n - 1) - _tx2 - _ty2 + _both2) div 2"
            " - discordant AS BIGINT)"
        ).alias("concordant"),
        "discordant",
        F.expr("CAST((_tx2 - _both2) div 2 AS BIGINT)").alias("ties_x_only"),
        F.expr("CAST((_ty2 - _both2) div 2 AS BIGINT)").alias("ties_y_only"),
        F.expr("CAST(_both2 div 2 AS BIGINT)").alias("ties_both"),
    )


def grouped_mad(
    df: DataFrame,
    group_col: str,
    value_col: str,
    *,
    scale: int = 100,
) -> DataFrame:
    """Median absolute deviation per group — the robust dispersion
    estimate curation dashboards pair with the median when outliers make
    stddev useless (a handful of 10 MB documents should not define a
    source's "spread").  Returns ``(group, n, median_fp, mad_fp)`` with
    both statistics as exact BIGINT fixed-point at ``scale`` (values are
    floored to integers first, so every rank selection is over integers
    and the result is engine-reproducible bit-for-bit).

    Statistic: LOWER nearest-rank median (element ``(n+1) div 2`` of the
    sorted multiset — total, deterministic, no interpolation), applied
    twice: once over ``floor(value*scale)``, once over the absolute
    deviations from that median.

    Plan: two per-group sort-window passes (row_number over the group,
    deterministic value order) + one broadcast-sized per-group median
    join back.  Groups are dashboard-cardinality (sources, event types);
    for millions of rows per group the window sort spills per partition
    — same posture as analysis.group_quantiles.  If the GROUP count is
    huge and per-group rows small, this is one shuffle per pass on the
    group key, combine-friendly either way.
    """
    from pyspark.sql import Window

    g, v = F.col(group_col), F.col(value_col)
    fp = df.select(
        g.alias("grp"),
        F.floor(v.cast("double") * F.lit(float(scale))).cast("long").alias("x"),
    )

    def _lower_median(frame: DataFrame, col: str) -> DataFrame:
        w = Window.partitionBy("grp").orderBy(F.col(col))
        ranked = frame.withColumn("_rn", F.row_number().over(w)).withColumn(
            "_n", F.count(F.lit(1)).over(Window.partitionBy("grp"))
        )
        return ranked.filter(
            F.col("_rn") == F.expr("(_n + 1) div 2")
        ).select(
            "grp",
            F.col(col).alias("med"),
            F.col("_n").cast("long").alias("n"),
        )

    med = _lower_median(fp, "x")
    dev = fp.join(F.broadcast(med.select("grp", "med")), "grp").select(
        "grp", F.abs(F.col("x") - F.col("med")).alias("d")
    )
    mad = _lower_median(dev, "d").select("grp", F.col("med").alias("mad_fp"))
    return (
        med.select(F.col("grp").alias(group_col), "n", F.col("med").alias("median_fp"))
        .join(mad.withColumnRenamed("grp", group_col), group_col)
        .select(group_col, "n", "median_fp", "mad_fp")
    )


def robust_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    *,
    k: int = 3,
    scale: int = 100,
) -> DataFrame:
    """Robust outlier counts per group by the k×MAD rule: a row is an
    outlier iff ``|x − median| > k·MAD`` (all in the exact fixed-point
    integers of ``grouped_mad``, so the comparison never touches a
    float) — the dispersion screen that still works when the outliers
    themselves wreck mean/stddev.  Returns ``(group, n, median_fp,
    mad_fp, n_outliers)``.

    Degenerate groups (MAD = 0 — more than half the values identical)
    fall back to "outlier iff x ≠ median", the natural k·0 limit of the
    same rule, pinned here so the behavior is a contract rather than an
    accident.

    Composition over ``grouped_mad`` (two rank windows) + one broadcast
    join back + one combine-able count.
    """
    stats = grouped_mad(df, group_col, value_col, scale=scale)
    fp = df.select(
        F.col(group_col).alias(group_col),
        F.floor(F.col(value_col).cast("double") * F.lit(float(scale)))
        .cast("long")
        .alias("_x"),
    )
    joined = fp.join(F.broadcast(stats), group_col)
    is_out = F.abs(F.col("_x") - F.col("median_fp")) > F.lit(int(k)) * F.col(
        "mad_fp"
    )
    counts = joined.groupBy(group_col).agg(
        F.sum(is_out.cast("long")).cast("long").alias("n_outliers")
    )
    return stats.join(counts, group_col).select(
        group_col, "n", "median_fp", "mad_fp", "n_outliers"
    )

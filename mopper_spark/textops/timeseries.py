"""Time-series resampling primitives the DataFrame API lacks: fixed-grid
gap filling with LOCF, and time-range rolling-window features.

The reference engine (ghsnd/mopper) is a row-to-triple mapper with no
temporal algebra at all (`src/operator/` has extend/join/serialize only);
these operators extend the engine the way an event-log / feature-store
pipeline needs, as compositions of built-in operators so Catalyst keeps
whole-stage codegen:

- ``gap_fill``: per-key resample onto a fixed time grid (every bucket
  between the key's first and last observation), aggregating observed
  rows per bucket and materializing the *missing* buckets, with
  zero-fill and last-observation-carried-forward (LOCF) fills.
- ``rolling_window_features``: per-row trailing-time-window aggregates
  (``RANGE BETWEEN <interval> PRECEDING AND CURRENT ROW``) — the
  standard leakage-free feature-engineering shape ("this user's activity
  in the hour before this event").

Scale notes:

- ``gap_fill`` emits ``span/unit`` rows per key — grid density is the
  caller's contract (an always-on key at 1 s grain over a year is 31M
  rows *for that key*; pick the unit for the question being asked).  The
  grid is built with ``sequence()`` + ``explode`` per key, a narrow op
  after one keyed aggregation; the LOCF window sorts within each key's
  partition only (spillable, no global sort).
- ``rolling_window_features`` is ONE window over a single hash partition
  by key + in-partition time sort.  Spark evaluates a RANGE frame with a
  sliding two-pointer pass, so cost is O(rows + evictions), not
  O(rows × window).  Hot keys (one user with millions of events) are the
  skew unit — the same caveat as any per-entity window; salt-and-merge
  only helps for associative-invertible aggregates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def time_bucket(ts_col: str, unit_seconds: int) -> Column:
    """Integer bucket index of a timestamp: completed ``unit_seconds``
    intervals since the epoch (``unix_timestamp`` floors to the second,
    then integer ``div`` — exact past 2^53 unlike floor(double /))."""
    return F.expr(f"unix_timestamp({ts_col}) div {int(unit_seconds)}")


def gap_fill(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    *,
    unit_seconds: int,
    aggs: dict[str, Column],
    fill_zero: tuple[str, ...] = (),
    locf: tuple[str, ...] = (),
) -> DataFrame:
    """Per-key fixed-grid resample with explicit gap rows.

    For every key, emits one row per ``unit_seconds`` bucket between that
    key's first and last observation (inclusive).  ``aggs`` maps output
    names to aggregate Columns evaluated over each bucket's observed rows
    (e.g. ``{"n": F.count("*"), "v": F.sum("cents")}``).  Buckets with no
    observations appear with NULL aggregates, then:

    - names in ``fill_zero`` are coalesced to 0 (count-like),
    - names in ``locf`` get last-observation-carried-forward: the most
      recent non-NULL value at or before the bucket (NULL until the
      key's first observed value — nothing to carry).

    Returns ``(key, bucket, bucket_start, <agg columns>)`` where
    ``bucket_start`` is the bucket's starting timestamp.

    Physical shape: one keyed aggregation (map-side combining) → one
    per-key min/max + ``sequence`` explode for the grid → one left join
    grid←observed on (key, bucket) → one per-key ordered window for LOCF.
    The grid join is co-partitioned with the aggregation output (same
    keys), so AQE plans it without an extra exchange of the big side.
    """
    bucket = time_bucket(ts_col, unit_seconds)
    observed = (
        df.groupBy(F.col(key_col).alias("key"), bucket.alias("bucket"))
        .agg(*[c.alias(n) for n, c in aggs.items()])
    )
    grid = (
        observed.groupBy("key")
        .agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
        .select("key", F.explode(F.sequence("lo", "hi")).alias("bucket"))
    )
    out = grid.join(observed, ["key", "bucket"], "left")
    for n in fill_zero:
        out = out.withColumn(n, F.coalesce(F.col(n), F.lit(0)))
    if locf:
        w = (
            Window.partitionBy("key")
            .orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        for n in locf:
            out = out.withColumn(n, F.last(n, ignorenulls=True).over(w))
    return (
        out.withColumn(
            "bucket_start",
            # NTZ like the source ts column (exact under the pinned UTC tz)
            F.timestamp_seconds(
                F.col("bucket") * F.lit(int(unit_seconds))
            ).cast("timestamp_ntz"),
        )
        .withColumnRenamed("key", key_col)
        .select(key_col, "bucket", "bucket_start", *aggs.keys())
    )


def rolling_window_features(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    *,
    window_seconds: int,
    aggs: dict[str, Column],
) -> DataFrame:
    """Trailing time-window aggregates per row: for every input row, each
    ``aggs`` Column evaluated over the same key's rows with
    ``ts ∈ [row.ts − window_seconds, row.ts]`` (both ends inclusive —
    ``RANGE BETWEEN x PRECEDING AND CURRENT ROW`` semantics, so
    simultaneous events are frame peers and share a frame).

    The frame bound is exact to the microsecond (``unix_micros``), not
    truncated to seconds — two events 59:59.9 apart are inside a 1-hour
    window, one at 60:00.1 is not.  Leakage-free by construction: only
    rows at-or-before the current row enter the frame, which is the
    feature-store contract ("what was known when this event happened").

    Appends the agg columns to ``df`` unchanged otherwise.
    """
    # unix_micros rejects TIMESTAMP_NTZ; the cast is exact under the
    # engine's pinned UTC session timezone (session.py) — no DST folds
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.unix_micros(F.col(ts_col).cast("timestamp")))
        .rangeBetween(-int(window_seconds) * 1_000_000, 0)
    )
    out = df
    for n, c in aggs.items():
        out = out.withColumn(n, c.over(w))
    return out


def rolling_active_users(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    *,
    window_days: int = 7,
) -> DataFrame:
    """Trailing-``window_days`` distinct active users per day (the
    DAU/WAU/MAU family): for every day that has at least one event,
    ``au`` = COUNT(DISTINCT user) over events in
    ``[day − window_days + 1, day]``.

    COUNT(DISTINCT …) over a sliding frame is not window-computable (the
    measure isn't invertible), and a day×day range join re-scans the
    event log per day.  Instead the classic contribution-explode shape,
    which never touches raw events twice:

    1. reduce events to distinct ``(day, user)`` pairs — one map-side-
       combining aggregation, output bounded by users × days, not events;
    2. each pair contributes to the ``window_days`` window-end days
       ``day … day+w−1`` via ``sequence`` + ``explode`` (w is a small
       constant — ×7/×30 row fan-out of the already-tiny pair set);
    3. distinct again (a user active on several days inside one window
       must count once), keep only window-end days that actually occur
       in the data (broadcast semi-join — the day list is tiny), then a
       plain count per day.

    All shuffles after step 1 are (day, user)-pair-shaped.  Exact, no
    sketches — for approximate at extreme cardinality see
    ``sketches.hll_distinct`` which IS mergeable across frames.
    """
    if window_days < 1:
        raise ValueError("rolling_active_users: window_days must be >= 1")
    du = (
        df.select(
            F.to_date(F.col(ts_col)).alias("_d"),
            F.col(user_col).alias("_u"),
        )
        .distinct()
    )
    days = du.select(F.col("_d").alias("day")).distinct()
    contrib = du.select(
        F.explode(
            F.sequence(
                F.col("_d"), F.date_add(F.col("_d"), window_days - 1)
            )
        ).alias("day"),
        "_u",
    ).distinct()
    return (
        contrib.join(F.broadcast(days), "day", "left_semi")
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("au"))
    )


def ewma_binary(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    *,
    depth: int = 8,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Truncated exponential moving average with BINARY weights — the
    α=1/2 EWMA cut off after ``depth`` observations, computed in exact
    integers: for the current row and its ``depth−1`` predecessors within
    the key, ``num = Σ_j value_{t−j} · 2^(depth−1−j)`` and
    ``den = Σ_j 2^(depth−1−j)`` over the lags that exist.  ``num/den`` is
    the smoothed level; both terms are exact BIGINTs, so the operator is
    bit-reproducible under any partitioning and any engine (a float
    ``(1−α)^j`` power chain is neither).  The truncation error vs the
    untruncated EWMA is bounded by 2^−depth of the value range.

    Ordering within a key is (``ts_col``, ``order_tiebreak``) — pass a
    unique column (event id) when timestamps can tie, otherwise lag
    assignment among peers would be partition-order-dependent.

    Appends ``ewma_num``, ``ewma_den`` (BIGINT) and ``ewma`` (double,
    ``num/den``).  Physical shape: ``depth`` LAG functions over ONE
    window (one hash partition by key + one in-partition sort — Spark
    evaluates all lags in a single pass); no arrays, no UDFs.
    """
    order = [F.col(ts_col)] + ([F.col(order_tiebreak)] if order_tiebreak else [])
    w = Window.partitionBy(key_col).orderBy(*order)
    v = F.col(value_col)
    num = None
    den = None
    for j in range(depth):
        weight = 1 << (depth - 1 - j)
        lagged = v if j == 0 else F.lag(v, j).over(w)
        num_t = F.coalesce(lagged * F.lit(weight), F.lit(0)).cast("long")
        den_t = (
            F.when(lagged.isNotNull(), F.lit(weight)).otherwise(F.lit(0)).cast("long")
        )
        num = num_t if num is None else num + num_t
        den = den_t if den is None else den + den_t
    return df.withColumn("ewma_num", num).withColumn("ewma_den", den).withColumn(
        "ewma", F.col("ewma_num").cast("double") / F.col("ewma_den").cast("double")
    )


def cusum_changepoint(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    *,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Single change-point detection per key via the CUSUM statistic, in
    exact integers: with n = #observations and T = Σ value, the centered
    cumulative sum at position k is ``S_k = n·(Σ_{i≤k} value_i) − k·T``
    (the textbook ``Σ(x_i − x̄)`` scaled by n to stay integral); the
    change point is the k maximizing ``|S_k|`` — where the running mean
    deviates most from the global mean, i.e. the most likely level-shift
    boundary (Page 1954; the CUSUM location estimator).  Ties break to
    the smallest k.

    Integer-exactness bound: ``|S_k| ≤ n² · max|value|`` — fits int64 for
    n ≤ ~3M observations per key at cent-scale values; beyond that,
    pre-aggregate to coarser buckets first (per-key series length, not
    corpus size, is the constraint).

    Returns one row per key: ``(key, n, cp_k, cp_ts, s_abs)`` — the
    1-based change position, its timestamp, and max ``|S_k|``.  Physical
    shape: one window (cumsum + row_number in a single in-partition sort
    pass) + one combine-able ``min(struct)`` argmax per key — no second
    sort, no self-join.
    """
    order = [F.col(ts_col)] + ([F.col(order_tiebreak)] if order_tiebreak else [])
    w = Window.partitionBy(key_col).orderBy(*order)
    cum = F.sum(value_col).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    k = F.row_number().over(w)
    tw = Window.partitionBy(key_col)
    stamped = df.select(
        F.col(key_col).alias("key"),
        F.col(ts_col).alias("ts"),
        k.alias("k"),
        (
            F.count("*").over(tw) * cum
            - k.cast("long") * F.sum(value_col).over(tw)
        ).alias("s"),
        F.count("*").over(tw).alias("n"),
    )
    best = (
        stamped.withColumn("s_abs", F.abs("s"))
        .groupBy("key")
        .agg(
            F.first("n").alias("n"),
            F.min(
                F.struct(
                    (-F.col("s_abs")).alias("neg"),
                    F.col("k").alias("k"),
                    F.col("ts").alias("ts"),
                )
            ).alias("b"),
        )
    )
    return best.select(
        F.col("key").alias(key_col),
        "n",
        F.col("b.k").cast("long").alias("cp_k"),
        F.col("b.ts").alias("cp_ts"),
        (-F.col("b.neg")).alias("s_abs"),
    )


def autocorrelation(
    series: DataFrame,
    order_col: str,
    value_col: str,
    *,
    max_lag: int = 7,
) -> DataFrame:
    """Sample autocorrelation function (ACF) of an ordered series, lags
    1..``max_lag``, in exact integer arithmetic: with n observations,
    total ``S = Σx`` and mean ``x̄ = S/n``, the standard estimator

        r_k = Σ_{t=1}^{n-k} (x_t − x̄)(x_{t+k} − x̄) / Σ_t (x_t − x̄)²

    is reported as the BIGINT pair scaled by n² (``n·x_t − S`` is
    integral, so numerator·n² = Σ (n·x_t − S)(n·x_{t+k} − S) and
    denominator·n² = Σ (n·x_t − S)² are exact) — one division at display
    time, hash-exact everywhere else.  Overflow bound: |n·x − S| ≤ n·max|x|,
    so the denominator fits int64 while n³·max|x|² < 2⁶³ (≈ a 100k-point
    series of million-scale values) — ACF inputs are AGGREGATED series
    (per-day counts, per-minute rates), so this holds by construction;
    aggregate finer-grained data first rather than raising the scale.

    Input is one row per series position (``order_col`` strictly
    increasing-comparable, e.g. the day date; gaps are treated as
    adjacent positions — gap_fill() first if calendar-lag semantics are
    wanted).  Returns ``(lag, n_pairs, num_scaled, den_scaled)``.

    Physical shape: the series is an AGGREGATE (tiny — one row per
    bucket), so the row_number window over it is deliberately
    single-partition; the lag pairing is one range self-join
    (``0 < b.idx − a.idx ≤ max_lag``) followed by a combine-able
    per-lag aggregation.  The upstream aggregation that produced the
    series is where corpus-scale work happens.
    """
    w = Window.orderBy(F.col(order_col))
    idx = series.select(
        F.row_number().over(w).alias("idx"),
        F.col(value_col).cast("long").alias("x"),
    )
    glob = idx.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
    )
    centered = idx.crossJoin(F.broadcast(glob)).select(
        "idx", (F.col("n") * F.col("x") - F.col("s")).alias("c"), "n", "s"
    )
    den = centered.agg(
        F.sum(F.col("c") * F.col("c")).cast("long").alias("den_scaled")
    )
    a, b = centered.alias("a"), centered.alias("b")
    pairs = a.join(
        b,
        (F.col("b.idx") - F.col("a.idx") > 0)
        & (F.col("b.idx") - F.col("a.idx") <= max_lag),
    ).select(
        (F.col("b.idx") - F.col("a.idx")).cast("long").alias("lag"),
        (F.col("a.c") * F.col("b.c")).alias("prod"),
    )
    return (
        pairs.groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("prod").cast("long").alias("num_scaled"),
        )
        .crossJoin(F.broadcast(den))
        .select("lag", "n_pairs", "num_scaled", "den_scaled")
    )


def group_trend_ols(
    series: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    *,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Per-key ordinary-least-squares trend over (x = 1-based position in
    ``order_col`` order, y = value), in exact integer rationals:

        slope     = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
        intercept = (Σy·slope_den − slope_num·Σx) / (n·slope_den)

    reported as the BIGINT pairs ``(slope_num, slope_den)`` and
    ``(icept_num, icept_den)`` — the per-entity drift detector ("is this
    event type growing?") with none of float summation's order
    sensitivity.  Overflow bound: Σxy ≤ n²·max|y|, so slope_num fits
    int64 while n³·max|y| < 2⁶³ — and like the ACF, the input is an
    AGGREGATED series (per-day counts per key), so n is grid-sized.

    Single-point keys get slope_den = 0 (undefined trend) — emitted, not
    masked, the ``cohens_kappa`` convention.

    ``order_col`` must be UNIQUE within each key (it is by construction
    when the input is a per-(key, bucket) aggregate, the intended shape);
    with duplicates the rank assignment among peers — and therefore the
    exact slope — would be partition-order-dependent.  Pass
    ``order_tiebreak`` (a unique column) when ties are possible, the
    ``cusum_changepoint``/``ewma_binary`` convention.

    Returns ``(key, n, slope_num, slope_den, icept_num, icept_den)``.
    Physical shape: one per-key row_number window (series are per-key
    aggregates — small, spillable) + one combine-able aggregation.
    """
    order = [F.col(order_col)] + (
        [F.col(order_tiebreak)] if order_tiebreak else []
    )
    w = Window.partitionBy(key_col).orderBy(*order)
    pos = series.select(
        F.col(key_col).alias("key"),
        F.row_number().over(w).cast("long").alias("x"),
        F.col(value_col).cast("long").alias("y"),
    )
    agg = pos.groupBy("key").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    slope_num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    slope_den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return agg.select(
        F.col("key").alias(key_col),
        "n",
        slope_num.cast("long").alias("slope_num"),
        slope_den.cast("long").alias("slope_den"),
        (F.col("sy") * slope_den - slope_num * F.col("sx"))
        .cast("long")
        .alias("icept_num"),
        (F.col("n") * slope_den).cast("long").alias("icept_den"),
    )


def sax_symbols(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    *,
    window_seconds: int = 86400,
    alphabet: int = 4,
    scale: int = 100,
) -> DataFrame:
    """SAX symbolization (Lin et al., DMKD 2007 — Symbolic Aggregate
    approXimation): each key's value series is PAA-reduced to one mean
    per fixed time window, the means are cut at the key's own
    nearest-rank quartile breakpoints, and each window becomes one
    letter — ``(key, n_windows, sax)`` with ``sax`` a string like
    ``'abdcca…'``.  Motif mining, anomaly screening, and whole-series
    clustering all run on these strings instead of the raw points.

    Deviations from the paper, chosen for engine-reproducibility (the
    classic formulation needs z-normalization and Gaussian breakpoints —
    both float-fuzzy): breakpoints are the per-key EMPIRICAL
    nearest-rank quantiles of the window means (rank ``max(1,
    (i·n) div alphabet)``), so the pipeline is distribution-free and
    every comparison is over exact integers.  PAA means are
    ``floor(sum_fp / n)`` — the only division, floored identically on
    any engine.  Letters are ``a..z`` prefixes (alphabet ≤ 26).

    Plan: one (key, window) aggregate over raw rows (the only
    event-scale shuffle), one per-key rank window over the means
    (n_windows-sized), one broadcast-friendly breakpoint join, one
    order-proofed concat (array_sort after collect_list — the house
    idiom, partitioning-invariant).
    """
    if not 2 <= alphabet <= 26:
        raise ValueError("sax_symbols: alphabet must be in [2, 26]")
    ep = (
        f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
        f" {ts_col})"
    )
    win_us = int(window_seconds) * 1_000_000
    paa = (
        df.select(
            F.col(key_col).alias("key"),
            F.expr(f"{ep} div {win_us}").cast("long").alias("win"),
            F.floor(F.col(value_col).cast("double") * F.lit(float(scale)))
            .cast("long")
            .alias("v_fp"),
        )
        .groupBy("key", "win")
        .agg(
            F.sum("v_fp").alias("s"), F.count(F.lit(1)).alias("c")
        )
        .select(
            "key",
            "win",
            F.floor(F.col("s").cast("double") / F.col("c"))
            .cast("long")
            .alias("mean_fp"),
        )
    )
    w = Window.partitionBy("key").orderBy("mean_fp", "win")
    ranked = paa.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("key"))
    )
    cuts = None
    for i in range(1, alphabet):
        cut_i = ranked.filter(
            F.col("rn") == F.greatest(F.lit(1), F.expr(f"({i} * n) div {alphabet}"))
        ).select("key", F.col("mean_fp").alias("cut"), F.lit(i).alias("ci"))
        cuts = cut_i if cuts is None else cuts.unionByName(cut_i)
    # When a key has fewer windows than `alphabet` (or tied quantile
    # values), several quantile ranks collapse onto the same cut value;
    # summing the indicator over DUPLICATE cuts makes letters jump (n=2,
    # alphabet=4 yields only 'a'/'d').  Dedupe cut VALUES per key first:
    # letter = count of distinct cuts strictly below the mean, so letters
    # are always contiguous from 'a' (ADVICE r4).
    cuts = cuts.select("key", "cut").distinct()
    sym = (
        paa.join(F.broadcast(cuts), "key")
        .groupBy("key", "win", "mean_fp")
        .agg(F.sum((F.col("mean_fp") > F.col("cut")).cast("int")).alias("s"))
        .select(
            "key",
            "win",
            F.substring(F.lit("abcdefghijklmnopqrstuvwxyz"), 1, 26)
            .substr(F.col("s") + 1, F.lit(1))
            .alias("sym"),
        )
    )
    return sym.groupBy("key").agg(
        F.count(F.lit(1)).cast("long").alias("n_windows"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("win", "sym"))),
                lambda s: s["sym"],
            ),
            "",
        ).alias("sax"),
    ).withColumnRenamed("key", key_col)


def theil_sen_slope(
    df: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
    *,
    max_points: int = 512,
    scale: int = 10**6,
) -> DataFrame:
    """Theil-Sen robust trend (Sen 1968): per key, the MEDIAN of all
    pairwise slopes ``(y_j − y_i) / (x_j − x_i)`` over points with
    distinct integer x — the estimator that shrugs off ~29% outliers
    where OLS (``group_trend_ols``) breaks.  Returns ``(key, n_points,
    n_pairs, med_dy, med_dx, slope_fp)``: the median pair's exact
    integer rise/run plus ``slope_fp = floor(scale·dy/dx)``.

    Median selection: pairs are ordered by their IEEE-double slope with
    the exact ``(dy, dx)`` pair as tie-break (doubles computed from
    exact int64 inputs by one division are engine-reproducible; ties
    resolve on integers), and the LOWER nearest-rank element is
    reported — fully deterministic.

    Pairwise cost is O(n²) per key BY DEFINITION of the estimator, so
    it is gated, not capped silently: keys with more than ``max_points``
    points are EXCLUDED from the output (the caller pre-aggregates —
    daily means, not raw events; that is how Theil-Sen is used on
    series).  The self-join is keyed, so each key's quadratic runs
    partition-local; nothing is corpus-quadratic.
    """
    pts = df.select(
        F.col(key_col).alias("key"),
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    )
    counts = pts.groupBy("key").agg(F.count(F.lit(1)).alias("n_points"))
    small = pts.join(counts.filter(F.col("n_points") <= max_points), "key")
    l = small.select("key", "n_points", F.col("x").alias("x1"), F.col("y").alias("y1"))
    r = small.select(F.col("key").alias("k2"), F.col("x").alias("x2"), F.col("y").alias("y2"))
    pairs = l.join(
        r, (F.col("key") == F.col("k2")) & (F.col("x1") < F.col("x2"))
    ).select(
        "key",
        "n_points",
        (F.col("y2") - F.col("y1")).alias("dy"),
        (F.col("x2") - F.col("x1")).alias("dx"),
    )
    w = Window.partitionBy("key").orderBy(
        (F.col("dy").cast("double") / F.col("dx").cast("double")).asc(),
        F.col("dy").asc(),
        F.col("dx").asc(),
    )
    ranked = pairs.withColumn("rn", F.row_number().over(w)).withColumn(
        "n_pairs", F.count(F.lit(1)).over(Window.partitionBy("key"))
    )
    med = ranked.filter(F.col("rn") == F.expr("(n_pairs + 1) div 2"))
    return med.select(
        F.col("key").alias(key_col),
        F.col("n_points").cast("long").alias("n_points"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("dy").cast("long").alias("med_dy"),
        F.col("dx").cast("long").alias("med_dx"),
        F.floor(
            F.lit(float(scale)) * F.col("dy").cast("double")
            / F.col("dx").cast("double")
        )
        .cast("long")
        .alias("slope_fp"),
    )


def psi_drift(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    split_ts: str,
    *,
    band_width: int = 1,
    log_scale: int = 10**6,
) -> DataFrame:
    """Population Stability Index terms between the rows BEFORE and
    AFTER ``split_ts`` (ISO timestamp literal): values are binned into
    fixed-width integer bands and each band common to both sides is
    reported as ``(band, n_a, n_b, ln_ratio_fp)`` with

        ln_ratio_fp = floor(log_scale · ln((n_a·N_b) / (n_b·N_a)))

    — the exact-integer-ratio log both engines compute identically
    (one double ln of a ratio of BIGINT products).  The consumer sums
    ``(n_a/N_a − n_b/N_b) · ln_ratio`` for the classic PSI; > 0.2 is
    the standard "distribution moved" alarm for feature drift between
    a training snapshot and serving traffic.

    Bands present on ONLY ONE side are EXCLUDED (their PSI term is
    ±∞; the textbook epsilon-smoothing trades exactness for a number,
    which this codebase does not do — read the exclusive-band count
    off a plain anti-join when it matters), and ``N_a``/``N_b`` are the
    totals over the COMMON SUPPORT, so the reported terms are the PSI
    of the two distributions restricted to it.  Fixed-width bands, not
    quantiles: PSI is defined over a FROZEN binning so the two sides
    are binned identically.

    Plan: one scan, two combine-able aggregates (per band-and-side,
    then totals crossed in as one broadcast row) — event-scale work is
    a single groupBy.
    """
    band = F.floor(
        F.col(value_col).cast("double") / F.lit(float(band_width))
    ).cast("long")
    side = (F.col(ts_col) < F.to_timestamp(F.lit(split_ts))).alias("is_a")
    per = (
        df.select(band.alias("band"), side)
        .groupBy("band")
        .agg(
            F.sum(F.col("is_a").cast("long")).alias("n_a"),
            F.sum((~F.col("is_a")).cast("long")).alias("n_b"),
        )
    )
    return psi_terms_from_counts(
        per.select("band", "n_a"),
        per.select("band", F.col("n_b").alias("n_a")).withColumnRenamed(
            "n_a", "n_b"
        ),
        log_scale=log_scale,
    )


def psi_terms_from_counts(
    counts_a: DataFrame,
    counts_b: DataFrame,
    *,
    log_scale: int = 10**6,
) -> DataFrame:
    """The PSI term computation over two pre-binned count relations —
    the shared tail of ``psi_drift`` (which bins a single table by a
    timestamp split) and the streaming drift monitor (whose live side
    is a streaming aggregation drained to counts).  Inputs:
    ``counts_a(band, n_a)`` and ``counts_b(band, n_b)``; same
    common-support exclusion and integer-ratio log as ``psi_drift``.
    """
    per = (
        counts_a.groupBy("band")
        .agg(F.sum("n_a").alias("n_a"))
        .join(
            counts_b.groupBy("band").agg(F.sum("n_b").alias("n_b")), "band"
        )
        .filter((F.col("n_a") > 0) & (F.col("n_b") > 0))
    )
    totals = per.agg(
        F.sum("n_a").alias("tot_a"), F.sum("n_b").alias("tot_b")
    )
    return (
        per.crossJoin(F.broadcast(totals))
        .select(
            "band",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            # each factor is cast to double BEFORE the multiply: a
            # BIGINT product n_a*tot_b overflows int64 once per-band and
            # total counts both exceed ~3e9, while the double product is
            # exact below 2^53 and only ~1-ulp rounded beyond — invisible
            # under the subsequent ln + floor(1e6·) (ADVICE r4).
            F.floor(
                F.lit(float(log_scale))
                * F.log(
                    (
                        F.col("n_a").cast("double")
                        * F.col("tot_b").cast("double")
                    )
                    / (
                        F.col("n_b").cast("double")
                        * F.col("tot_a").cast("double")
                    )
                )
            )
            .cast("long")
            .alias("ln_ratio_fp"),
        )
    )


def benford_audit(
    df: DataFrame,
    group_col: str,
    value_col: str,
    *,
    log_scale: int = 10**6,
) -> DataFrame:
    """Benford's-law first-digit audit per group: observed counts of the
    leading digit of |value| (rows with |value| < 1 are excluded — the
    law applies to magnitudes spanning orders; zero has no leading
    digit) against the expected Benford mass, reported as
    ``(group, digit, n, expected_fp)`` with
    ``expected_fp = floor(log_scale · N · log10(1 + 1/d))`` — the
    χ²/MAD inputs a fraud/data-quality screen consumes.  Synthetic or
    tampered value columns fail the digit curve long before any
    semantic check notices (Nigrini's forensic-accounting standard).

    Exact-integer discipline: the leading digit comes from STRING
    arithmetic on floor(|value|) (no float log in the digit path);
    only ``expected_fp`` holds a float-derived constant, as one double
    log10 of a small rational floored once — engine-identical.

    One combine-able (group, digit) aggregate + a per-group total
    crossed back; digit-bounded output.
    """
    mag = F.floor(F.abs(F.col(value_col).cast("double"))).cast("long")
    digits = (
        df.select(F.col(group_col).alias("grp"), mag.alias("m"))
        .filter(F.col("m") >= 1)
        .select("grp", F.substring(F.col("m").cast("string"), 1, 1)
                .cast("long").alias("digit"))
        .groupBy("grp", "digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    totals = digits.groupBy("grp").agg(F.sum("n").cast("long").alias("tot"))
    return (
        digits.join(F.broadcast(totals), "grp")
        .select(
            F.col("grp").alias(group_col),
            "digit",
            "n",
            F.floor(
                F.lit(float(log_scale))
                * F.col("tot").cast("double")
                * F.log10(1.0 + 1.0 / F.col("digit").cast("double"))
            )
            .cast("long")
            .alias("expected_fp"),
        )
    )


def gap_histogram(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    *,
    per_entity_col: str | None = None,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Inter-arrival-gap histogram on a log₂ scale: per key, the
    distribution of consecutive-event gaps as ``(key, bucket, n)`` with
    ``bucket = floor(log₂(gap_µs))`` computed EXACTLY from the binary
    representation length (``length(bin(gap)) − 1`` — no float log
    anywhere, the HLL-register idiom).  Zero gaps (same-µs events) land
    in bucket −1.  The log₂ buckets make one histogram readable across
    nine orders of magnitude — the burstiness fingerprint (Poisson
    traffic is geometric across buckets; a spike at one bucket is a
    polling loop).

    ``per_entity_col`` scopes consecutiveness WITHIN an entity (e.g.
    per user) while still grouping the histogram by ``key_col`` — the
    usual "per-user gaps, per-type histogram" shape.  One lag window +
    one combine-able aggregate.
    """
    parts = [key_col] + ([per_entity_col] if per_entity_col else [])
    # same-timestamp events need a pinned order or the lag (and so the
    # whole histogram) is partitioning-dependent; callers with possible
    # ties pass a unique tiebreak column (e.g. the event id)
    order = [ts_col] + ([tiebreak_col] if tiebreak_col else [])
    w = Window.partitionBy(*parts).orderBy(*order)
    ep = (
        f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
        f" {ts_col})"
    )
    gaps = (
        df.select(
            F.col(key_col).alias("key"),
            *( [F.col(per_entity_col)] if per_entity_col else [] ),
            F.expr(ep).alias("at_us"),
            (F.expr(ep) - F.lag(F.expr(ep)).over(w)).alias("gap_us"),
        )
        .filter(F.col("gap_us").isNotNull())
    )
    bucket = F.when(F.col("gap_us") <= 0, F.lit(-1)).otherwise(
        F.length(F.expr("bin(gap_us)")) - 1
    )
    return (
        gaps.select("key", bucket.cast("long").alias("bucket"))
        .groupBy("key", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .withColumnRenamed("key", key_col)
    )

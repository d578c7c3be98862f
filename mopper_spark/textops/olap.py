"""OLAP subtotal lattices: ROLLUP / CUBE / GROUPING SETS metrics.

The warehouse staple the reference's row-to-triple mapper has no
counterpart for: one pass that produces every prefix (ROLLUP) or every
subset (CUBE) of the dimension list as simultaneous group-bys, each row
tagged with the standard grouping-ID bitmask so consumers can tell a
genuine NULL dimension value from a subtotal row.

Spark computes the whole lattice in ONE shuffle (Expand + partial
aggregate: each input row is replicated per grouping set map-side, then
combined), so a ROLLUP over d dimensions costs d+1 row copies map-side —
NOT d+1 scans of the input; at 100 TB that is the difference between one
job and a per-level loop.

Exactness discipline: measures are COUNT (int) and an integer
fixed-point SUM of the value column (``floor(value · scale)`` per row,
then an int64 sum) — partitioning-proof, so a single-threaded SQL engine
computes the identical lattice (DuckDB's ``GROUPING(a, b, …)`` bitmask
matches Spark's ``grouping_id()`` bit order: first dimension = most
significant bit; verified in tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from mopper_spark.scan import exclusive_scan


def _lattice(
    df: DataFrame,
    dims: list[str],
    value_col: str | None,
    scale: int,
    kind: str,
) -> DataFrame:
    if not dims:
        raise ValueError(f"{kind}_metrics: need at least one dimension")
    grouped = df.rollup(*dims) if kind == "rollup" else df.cube(*dims)
    aggs = [
        F.grouping_id().cast("long").alias("gid"),
        F.count(F.lit(1)).cast("long").alias("n"),
    ]
    if value_col is not None:
        aggs.append(
            F.sum(
                F.floor(F.col(value_col).cast("double") * F.lit(float(scale)))
                .cast("long")
            )
            .cast("long")
            .alias("value_fp")
        )
    return grouped.agg(*aggs)


def rollup_metrics(
    df: DataFrame,
    dims: list[str],
    value_col: str | None = None,
    scale: int = 100,
) -> DataFrame:
    """Hierarchical subtotals: one output row per group for each PREFIX
    of ``dims`` (…, full detail, per-dims[0] subtotal, grand total).
    Columns: dims…, ``gid`` (grouping bitmask, 0 = detail row), ``n``,
    and ``value_fp`` = Σ floor(value·scale) when ``value_col`` is given.
    """
    return _lattice(df, dims, value_col, scale, "rollup")


def cube_metrics(
    df: DataFrame,
    dims: list[str],
    value_col: str | None = None,
    scale: int = 100,
) -> DataFrame:
    """Full lattice: one output row per group for EVERY subset of
    ``dims`` (2^d grouping sets).  Same columns as ``rollup_metrics``.
    2^d row replication map-side — keep d small (≤ 4) at scale; for a
    sparse selection of sets, filter on ``gid`` after a cube rather
    than running several jobs.
    """
    return _lattice(df, dims, value_col, scale, "cube")


def pivot_metrics(
    df: DataFrame,
    row_dims: list[str],
    pivot_col: str,
    values: list[str],
    value_col: str | None = None,
    scale: int = 100,
) -> DataFrame:
    """Contingency table / crosstab: one output row per ``row_dims``
    group, one column pair per pivot value — ``{v}_n`` (count) and,
    when ``value_col`` is given, ``{v}_value_fp`` (Σ floor(value·scale),
    the same exact-integer measure as the lattice ops above).

    ``values`` is REQUIRED, not discovered: Spark's ``pivot`` without an
    explicit value list first runs a separate distinct-values job over
    the whole input and then caps the result at
    ``spark.sql.pivotMaxValues`` — at 100 TB that is an extra full scan
    and a silent truncation hazard.  With the list supplied, Catalyst
    compiles the pivot to TWO aggregates: a map-side-combining
    ``(row_dims…, pivot_col)`` aggregate over the raw input (the only
    event-scale shuffle), then a ``PivotFirst`` aggregate whose exchange
    moves pre-aggregated (group, value) pairs only — bounded by
    groups × len(values), never by input rows.  Semantically identical
    to the conditional-aggregation SQL a warehouse would write — which
    is exactly what the DuckDB oracle does.

    The ``row_dims`` group domain is the FULL input: a group none of
    whose rows match any listed pivot value still gets its (all-zero)
    row — pivot values outside ``values`` contribute to no column but do
    keep their group alive, the contingency-table contract.  Counts and
    sums are zero-filled because a table with NULL holes cannot be
    summed downstream.  To restrict the domain, filter upstream — that
    filter then pushes to the scan.
    """
    if not values:
        raise ValueError("pivot_metrics: need at least one pivot value")
    if len(set(values)) != len(values):
        raise ValueError("pivot_metrics: duplicate pivot values")
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    if value_col is not None:
        aggs.append(
            F.sum(
                F.floor(F.col(value_col).cast("double") * F.lit(float(scale)))
                .cast("long")
            ).alias("value_fp")
        )
    out = df.groupBy(*row_dims).pivot(pivot_col, values).agg(*aggs)
    # single-agg pivots name columns bare "{v}"; multi-agg "{v}_{alias}"
    sel: list = [F.col(c) for c in row_dims]
    for v in values:
        src_n = f"{v}_n" if value_col is not None else str(v)
        sel.append(F.coalesce(F.col(f"`{src_n}`"), F.lit(0)).cast("long").alias(f"{v}_n"))
        if value_col is not None:
            sel.append(
                F.coalesce(F.col(f"`{v}_value_fp`"), F.lit(0))
                .cast("long")
                .alias(f"{v}_value_fp")
            )
    return out.select(*sel)


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    *,
    min_support: int = 1,
) -> DataFrame:
    """Directional pairwise association rules (support / confidence /
    lift — the market-basket classics) over (basket, item) rows: a basket
    is e.g. a user, an item e.g. an event type it performed.  For every
    ordered pair ``ant → cons`` of distinct co-occurring items:

    - ``support_ab`` = #baskets containing both,
    - ``confidence`` = support_ab / support_ant,
    - ``lift`` = support_ab · n_baskets / (support_ant · support_cons)
      (exact integer cross-multiplication before ONE final division).

    Rules below ``min_support`` co-occurrences are dropped.

    Scale shape: dedup to distinct (basket, item) → self-join on basket —
    cost Σ_b |items_b|², the classic frequent-pair quadratic IN BASKET
    WIDTH, not corpus size; restrict ``item_col`` to a bounded vocabulary
    (top-K items) first when baskets can be wide, the standard a-priori
    candidate discipline.  Per-item supports and the basket count join
    back as broadcasts (item-vocabulary-sized).
    """
    u = df.select(
        F.col(basket_col).alias("basket"), F.col(item_col).alias("item")
    ).distinct()
    n_baskets = u.agg(F.countDistinct("basket").alias("n_baskets"))
    supports = u.groupBy("item").agg(F.count("*").alias("support"))
    pairs = (
        u.alias("a")
        .join(u.alias("b"), "basket")
        .filter(F.col("a.item") != F.col("b.item"))
        .groupBy(
            F.col("a.item").alias("ant"), F.col("b.item").alias("cons")
        )
        .agg(F.count("*").alias("support_ab"))
        .filter(F.col("support_ab") >= int(min_support))
    )
    out = (
        pairs.join(
            F.broadcast(supports.select(F.col("item").alias("ant"),
                                        F.col("support").alias("support_ant"))),
            "ant",
        )
        .join(
            F.broadcast(supports.select(F.col("item").alias("cons"),
                                        F.col("support").alias("support_cons"))),
            "cons",
        )
        .crossJoin(F.broadcast(n_baskets))
    )
    return out.select(
        "ant",
        "cons",
        "support_ab",
        "support_ant",
        "support_cons",
        "n_baskets",
        F.round(
            F.col("support_ab").cast("double") / F.col("support_ant").cast("double"),
            6,
        ).alias("confidence"),
        F.round(
            (F.col("support_ab") * F.col("n_baskets")).cast("double")
            / (F.col("support_ant") * F.col("support_cons")).cast("double"),
            6,
        ).alias("lift"),
    )


def pareto_front_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    *,
    bucket_width: int = 64,
) -> DataFrame:
    """2-D Pareto front (skyline, maximize both axes — Börzsönyi et al.
    ICDE'01): the rows no other row dominates, where j dominates i iff
    ``x_j ≥ x_i ∧ y_j ≥ y_i`` with at least one strict — the
    multi-criteria selection primitive ("longest AND highest-quality
    documents, jointly undominated").

    2-D skylines have a closed form that needs NO pair join: with
    ``M>(x) = max{y_j : x_j > x}`` and ``gy(x) = max{y_j : x_j = x}``,
    row i is on the front iff ``y_i > M>(x_i)`` (or nothing lies to its
    right) **and** ``y_i = gy(x_i)``.  Exact-duplicate points are all
    kept (neither strict inequality holds between them), the standard
    skyline convention.

    ``M>`` is computed WITHOUT a single-partition sort over the data:
    per-distinct-x maxima, then a descending exclusive running max by
    ``scan.exclusive_scan`` bucketed by ranges of ``bucket_width`` on the
    integer x; only bucket aggregates ever sit in a single partition.
    The oracle side can afford the plain global window, which is exactly
    what makes the bucketing independently checkable.

    Returns the input columns of the front rows, unchanged.
    """
    if bucket_width < 1:
        raise ValueError("pareto_front_2d: bucket_width must be >= 1")
    x, y = F.col(x_col).cast("long"), F.col(y_col).cast("long")
    pts = df.select(x.alias("_x"), y.alias("_y"), "*")
    g = pts.groupBy("_x").agg(F.max("_y").alias("_gy"))
    # _mgt is NULL when nothing lies to the right (the max identity),
    # the same NULL the oracle's global window gives
    gm = exclusive_scan(
        g,
        F.expr(f"_x div {int(bucket_width)}"),
        ["_x"],
        maxes={"_mgt": "_gy"},
        descending=True,
    )
    out = (
        pts.join(gm, "_x")
        .filter(
            (F.col("_y") == F.col("_gy"))
            & (F.col("_mgt").isNull() | (F.col("_y") > F.col("_mgt")))
        )
        .drop("_x", "_y", "_gy", "_mgt")
    )
    return out

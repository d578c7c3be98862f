"""Deterministic, seed-stable sampling and dataset splitting.

Training pipelines need splits that are (a) reproducible across runs and
engines, (b) stable under corpus growth (a document's split never changes
when other documents are added), and (c) group-safe (split by conv_id /
source, not per row, so near-identical rows cannot leak across train and
eval).  ``rand()``-based sampling has none of these properties; hashing
the split key does — the assignment is a pure function of (seed, key).

The bucket is the first 4 hex chars of ``md5(seed || key)`` parsed as an
integer (0..65535): trivially portable (any engine with md5 and substring
reproduces it bit-for-bit — the DuckDB oracle does), and uniform enough
for split weights at any corpus size.  All expressions are native
(JVM-side); nothing here touches Python at runtime.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BUCKETS = 65536  # 16 bits of md5


def hash_bucket(key: Column, seed: str) -> Column:
    """Deterministic bucket in [0, 65536) — first 4 md5 hex chars of
    ``seed || key``."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(seed), key.cast("string"))), 1, 4),
        16,
        10,
    ).cast("long")


def hash_split(
    df: DataFrame,
    key: str,
    splits: dict[str, float] | None = None,
    seed: str = "split-v1",
    out_col: str = "split",
) -> DataFrame:
    """Assign each row a split label by hashing ``key``.

    ``splits`` maps label → weight (normalized here); insertion order
    defines the bucket layout, so keep it fixed for a given seed.  Rows
    sharing a key share a split — pass a group key (conv_id, source
    domain) to prevent leakage of near-duplicate rows across splits."""
    if splits is None:
        splits = {"train": 0.8, "val": 0.1, "test": 0.1}
    total = sum(splits.values())
    bucket = hash_bucket(F.col(key), seed)
    expr = None
    acc = 0.0
    labels = list(splits)
    for label in labels[:-1]:
        acc += splits[label] / total
        threshold = int(round(acc * BUCKETS))
        cond = bucket < threshold
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    expr = (
        F.lit(labels[-1]) if expr is None else expr.otherwise(labels[-1])
    )
    return df.withColumn(out_col, expr)


def deterministic_sample(
    df: DataFrame, key: str, rate: float, seed: str = "sample-v1"
) -> DataFrame:
    """Keep a deterministic ~``rate`` fraction of rows by key hash.

    Nested samples compose: a 1% sample is a subset of the 10% sample at
    the same seed — the property that lets a pipeline debug on 0.1% and
    scale the same cohort up."""
    return df.filter(hash_bucket(F.col(key), seed) < int(round(rate * BUCKETS)))


def sample_per_group(
    df: DataFrame,
    group_cols: list[str],
    key: Column,
    k: int,
    seed: str = "grp-v1",
) -> DataFrame:
    """Deterministic "reservoir": at most ``k`` rows per group, chosen by
    md5-hash order of ``key`` — the hash plays the role of the reservoir's
    random draw, with every property training curation actually needs:
    the same (seed, key) always wins or loses regardless of run, engine,
    partitioning, or what OTHER rows exist in the group (adding corpus
    never evicts a kept row unless it hash-sorts above it — the standard
    bottom-k-of-hash sketch, which is also how MinHash sampling works).

    Selection = the k smallest ``(md5(seed||key), key)`` per group; the
    full key breaks hash ties deterministically.  One window per group
    partition — per-partition volume bounded by the group's size, and for
    heavy groups the rank window is spillable; no ``rand()``, no global
    sort.  k <= 0 is refused.
    """
    if k <= 0:
        raise ValueError("sample_per_group: k must be >= 1")
    from pyspark.sql import Window

    tag = F.md5(F.concat(F.lit(seed), key.cast("string")))
    w = Window.partitionBy(*group_cols).orderBy(
        tag.asc(), key.cast("string").asc()
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def stratified_split(
    df: DataFrame,
    stratum_col: str,
    key: str,
    splits: dict[str, float] | None = None,
    seed: str = "strat-v1",
    out_col: str = "split",
) -> DataFrame:
    """EXACT stratified splitting: within every stratum the split sizes
    are exactly ``floor(n_stratum * cumulative_weight)`` boundaries — the
    guarantee ``hash_split`` deliberately trades away (hash thresholds
    give each ROW the right marginal probability, but a small stratum can
    land all-train by chance; eval sets built per-source/per-language need
    exact counts per stratum).

    Mechanics: rows rank within their stratum by ``(md5(seed||key), key)``
    — the same engine-portable hash order as ``sample_per_group``, so
    membership is a pure function of (seed, key, stratum composition) —
    and the rank is cut at ``floor(n * cum_weight)`` per label.  Adding
    corpus to a stratum can re-balance that stratum's assignment (exact
    counts and growth-stability are mutually exclusive; pick
    ``hash_split`` when stability matters more).

    Scale shape: ONE row_number window partitioned by stratum plus a
    broadcast of per-stratum counts.  Strata are bounded (sources,
    languages), so per-partition volume is corpus/n_strata and the rank
    window spills; for a corpus with a single giant stratum use the
    bucketed prefix-sum idiom of textops/packing.py instead of a window.
    """
    if splits is None:
        splits = {"train": 0.8, "val": 0.1, "test": 0.1}
    if not splits:
        raise ValueError("stratified_split: empty splits dict")
    total = sum(splits.values())
    from pyspark.sql import Window

    tag = F.md5(F.concat(F.lit(seed), F.col(key).cast("string")))
    w = Window.partitionBy(stratum_col).orderBy(
        tag.asc(), F.col(key).cast("string").asc()
    )
    n = Window.partitionBy(stratum_col)
    ranked = df.withColumn("__rk", F.row_number().over(w)).withColumn(
        "__n", F.count(F.lit(1)).over(n)
    )
    labels = list(splits)
    expr = None
    acc = 0.0
    for label in labels[:-1]:
        acc += splits[label] / total
        # floor(n * cum) in exact integer arithmetic: cum is quantized to
        # parts-per-million so Spark and the SQL oracle compute the SAME
        # boundary (no float-rounding divergence at n*cum boundaries).
        ppm = int(round(acc * 1_000_000))
        cond = F.col("__rk") <= F.expr(f"(__n * {ppm}) div 1000000")
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    expr = F.lit(labels[-1]) if expr is None else expr.otherwise(labels[-1])
    return ranked.withColumn(out_col, expr).drop("__rk", "__n")


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    seed: str = "wrs-v1",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    Spirakis 2006, the A-ES one-pass scheme): each row draws a uniform
    ``u`` and keeps key ``u^(1/w)``; the top-``k`` keys are EXACTLY a
    weighted sample without replacement.  The classic distributed
    sampler — one narrow pass + a TakeOrdered, no global sort, no
    sequential state.

    Engine portability: ``u`` is the exact rational
    ``(md5_48(seed‖id)+1)/2^48`` and the key is compared in fixed point
    ``key_fp = floor(1e6 * ln(u) / w)`` (BIGINT; ln(u) < 0 so LARGER is
    better, ties broken by id) — monotone in ``u^(1/w)``, so the
    selection is identical and the output is integer-typed.

    Weights must be positive integers (counts, token lengths); rows with
    ``w <= 0`` are excluded.  Output: ``(id, w, key_fp)`` ordered by
    ``(key_fp DESC, id)``.
    """
    if k < 1:
        raise ValueError("weighted_sample: k must be >= 1")
    h48 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string"))), 1, 12
        ),
        16,
        10,
    ).cast("long")
    u = (h48 + 1).cast("double") / F.lit(281474976710656.0)  # 2^48
    key_fp = F.floor(F.lit(1000000.0) * F.log(u) / F.col(weight_col)).cast("long")
    return (
        df.filter(F.col(weight_col) > 0)
        .select(
            F.col(id_col).alias("id"),
            F.col(weight_col).cast("long").alias("w"),
            key_fp.alias("key_fp"),
        )
        .orderBy(F.desc("key_fp"), F.asc("id"))
        .limit(k)
    )


def ab_test_two_proportions(
    events: DataFrame,
    unit_col: str,
    ts_col: str,
    *,
    exposure: Column,
    conversion: Column,
    seed: str = "ab-v1",
) -> DataFrame:
    """Deterministic two-proportion A/B readout: units (users) are
    assigned 50/50 to control/treatment by ``hash_bucket`` (pure function
    of seed+unit — reproducible across runs and engines, unlike
    ``rand()``), a unit counts as EXPOSED if it has any row matching
    ``exposure``, and as CONVERTED if it has a ``conversion`` row strictly
    AFTER its first exposure (the funnel direction — a purchase before the
    first view is not attributable).

    Returns ONE row: per-variant unit and conversion counts, per-variant
    rates, and the pooled two-proportion z statistic
    ``(p_a − p_b) / sqrt(p(1−p)(1/n_a + 1/n_b))`` as ``z_fp`` =
    floor(z·10⁶) — every input to the float chain is an exact integer, so
    the doubles (and the floor) are engine-identical.  NULL z when either
    arm is empty or the pooled rate is degenerate (se = 0).

    Scale shape: one keyed aggregation over events (min exposure ts +
    conditional max via one pass), then a 2-row aggregate — no joins, no
    windows; the events table is touched exactly once.
    """
    unit = F.col(unit_col)
    ts = F.col(ts_col)
    per_unit = (
        events.groupBy(unit.alias("unit"))
        .agg(
            F.min(F.when(exposure, ts)).alias("first_exposure"),
            F.max(F.when(conversion, ts)).alias("last_conversion"),
        )
        .filter(F.col("first_exposure").isNotNull())
        .select(
            "unit",
            F.coalesce(
                (F.col("last_conversion") > F.col("first_exposure")).cast("long"),
                F.lit(0),
            ).alias("converted"),
        )
        .withColumn(
            "variant",
            F.when(hash_bucket(F.col("unit"), seed) < BUCKETS // 2, "control")
            .otherwise("treatment"),
        )
    )
    wide = per_unit.agg(
        F.sum(F.when(F.col("variant") == "control", 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("variant") == "control", F.col("converted")).otherwise(0)).alias("conv_a"),
        F.sum(F.when(F.col("variant") == "treatment", 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("variant") == "treatment", F.col("converted")).otherwise(0)).alias("conv_b"),
    )
    p_a = F.col("conv_a").cast("double") / F.col("n_a").cast("double")
    p_b = F.col("conv_b").cast("double") / F.col("n_b").cast("double")
    p_pool = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    se = F.sqrt(
        p_pool
        * (F.lit(1.0) - p_pool)
        * (
            F.lit(1.0) / F.col("n_a").cast("double")
            + F.lit(1.0) / F.col("n_b").cast("double")
        )
    )
    z = (p_a - p_b) / se
    return wide.select(
        "n_a",
        F.col("conv_a").cast("long").alias("conv_a"),
        "n_b",
        F.col("conv_b").cast("long").alias("conv_b"),
        F.round(p_a, 6).alias("rate_a"),
        F.round(p_b, 6).alias("rate_b"),
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0) & (se > 0),
            F.floor(z * F.lit(1000000.0)).cast("long"),
        ).alias("z_fp"),
    )


def shuffle_rank(
    df: DataFrame,
    key: str,
    seed: str = "shuffle-v1",
    *,
    out_col: str = "ord",
) -> DataFrame:
    """Deterministic global shuffle ordinal: ``out_col`` = the 0-based
    position of each row in the corpus permutation ordered by
    ``(md5(seed || key), key)`` — the "shuffle once, reproducibly,
    before packing/sharding" step of training-data prep.  A pure
    function of (seed, key): re-running, re-partitioning, or porting
    engines reproduces the identical permutation (the DuckDB oracle is
    one ROW_NUMBER), and changing the seed draws a fresh independent
    permutation.

    No global sort: ranks come from the two-phase bucketed prefix idiom
    (``packing.pack_sequences``) keyed on the TOP 16 hash bits — md5 is
    uniform, so the 65536 buckets are balanced by construction (no skew
    caveat, unlike value-bucketed prefixes): per-bucket counts, one
    running sum over the tiny bucket list, per-bucket ROW_NUMBER windows
    (spillable, ~corpus/65536 rows each).  The hash string orders ties
    away except true key duplicates, which ``key`` itself breaks —
    making the rank total and stable.

    Returns the input columns plus ``out_col``.
    """
    h = F.md5(F.concat(F.lit(seed), F.col(key).cast("string")))
    from pyspark.sql import Window

    t = df.withColumn("_h", h).withColumn(
        "_bkt", F.conv(F.substring("_h", 1, 4), 16, 10).cast("long")
    )
    bsub = t.groupBy("_bkt").agg(F.count(F.lit(1)).cast("long").alias("_bn"))
    w_b = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    bpre = bsub.select(
        "_bkt",
        F.coalesce(F.sum("_bn").over(w_b), F.lit(0)).cast("long").alias("_bpre"),
    )
    w_in = Window.partitionBy("_bkt").orderBy("_h", key)
    return (
        t.join(F.broadcast(bpre), "_bkt")
        .withColumn(
            out_col,
            (F.col("_bpre") + F.row_number().over(w_in) - 1).cast("long"),
        )
        .drop("_h", "_bkt", "_bpre")
    )


HEX12 = 16 ** 12  # 48 bits of md5 — exact in int64 AND in a double


def poisson_thresholds(max_k: int = 8) -> list[int]:
    """Integer inverse-CDF thresholds for Poisson(1) on a 48-bit uniform:
    ``T_k = floor(CDF(k) · 16^12)``; a draw u ∈ [0, 16^12) maps to the
    smallest k with ``u < T_k`` (``max_k + 1`` past the ladder,
    probability < 1e-6 at max_k=8).  Plain integer literals, so the
    DuckDB oracle embeds the SAME constants — no cross-engine float
    reproduction question ever arises."""
    import math

    cdf, out, term = 0.0, [], math.exp(-1.0)
    for k in range(max_k + 1):
        cdf += term
        out.append(int(math.floor(cdf * HEX12)))
        term /= k + 1
    return out


def poisson_bootstrap(
    df: DataFrame,
    key: str,
    value_col: str,
    *,
    replicates: int = 32,
    scale: int = 100,
    seed: str = "boot-v1",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Deterministic Poisson bootstrap (Chamandy et al., "Estimating
    Uncertainty for Massive Data Streams", Google TR 2012): ``replicates``
    independent resamples of the corpus, each row entering replicate b
    with multiplicity ``w ~ Poisson(1)`` drawn from
    ``md5(seed:b:key)`` — the streaming-friendly bootstrap that needs no
    global n and no coordination, and here is also a pure function of
    (seed, key): re-runs, re-partitionings, and the SQL oracle reproduce
    every draw bit-for-bit.

    With ``group_cols`` the resample runs independently per group (draws
    still keyed on (seed, rep, key) only, so a row keeps the same
    multiplicity in every grouping — stratified readouts stay mutually
    consistent).  Returns one row per (group…, replicate):
    ``(…, rep, n_eff, sum_fp)`` with
    ``mean_b = sum_fp / (n_eff · scale)``; the spread of the B means IS
    the sampling distribution of the corpus mean (CI = percentiles of
    it, consumer-side — B is small).

    Scale shape: the ×B fan-out is ``explode(sequence(...))`` feeding
    straight into a partial aggregate — the shuffle carries B rows per
    partition, never B× the data.  All arithmetic is int64 (48-bit hash
    uniform against precomputed integer thresholds; floor(value·scale)
    fixed-point sums).
    """
    if replicates < 1:
        raise ValueError("poisson_bootstrap: replicates must be >= 1")
    ts = poisson_thresholds()
    u = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(seed + ":"),
                    F.col("rep").cast("string"),
                    F.lit(":"),
                    F.col(key).cast("string"),
                )
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("long")
    w = F.lit(len(ts) + 1)
    for k in range(len(ts) - 1, -1, -1):
        w = F.when(F.col("_u") < F.lit(ts[k]), F.lit(k)).otherwise(w)
    return (
        df.select(
            *(group_cols or []),
            F.col(key).cast("string").alias(key),
            F.floor(F.col(value_col).cast("double") * F.lit(float(scale)))
            .cast("long")
            .alias("_vfp"),
        )
        .withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(replicates - 1))))
        .withColumn("_u", u)
        .withColumn("_w", w.cast("long"))
        .groupBy(*(group_cols or []), "rep")
        .agg(
            F.sum("_w").cast("long").alias("n_eff"),
            F.sum(F.col("_w") * F.col("_vfp")).cast("long").alias("sum_fp"),
        )
        .select(
            *(group_cols or []),
            F.col("rep").cast("long").alias("rep"),
            "n_eff",
            "sum_fp",
        )
    )


def hrw_shards(
    df: DataFrame,
    key: str,
    n_shards: int,
    seed: str = "hrw-v1",
    *,
    out_col: str = "shard",
) -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment: each key
    goes to ``argmax over s of md5(seed:s:key)`` — the sharding scheme
    whose defining property is MINIMAL RESHUFFLE: adding shard N+1
    moves only ~1/(N+1) of keys (those whose new hash wins), versus
    mod-hashing's near-total remap.  Deterministic, coordination-free,
    engine-portable (the oracle replays every hash).

    One narrow pass: the per-key argmax is an ``array_max`` over
    ``n_shards`` (hash, shard) structs — lexicographic struct order,
    hash first — inside whole-stage codegen; no shuffle at all until
    the caller aggregates.

    Appends ``out_col`` to the input.
    """
    if n_shards < 1:
        raise ValueError("hrw_shards: n_shards must be >= 1")
    entries = F.array(
        *[
            F.struct(
                F.md5(
                    F.concat(
                        F.lit(f"{seed}:{s}:"), F.col(key).cast("string")
                    )
                ).alias("h"),
                F.lit(s).cast("long").alias("s"),
            )
            for s in range(n_shards)
        ]
    )
    return df.withColumn(out_col, F.array_max(entries)["s"])


def curriculum_interleave(
    df: DataFrame,
    group_col: str,
    metric_col: str,
    id_col: str,
) -> DataFrame:
    """Deterministic curriculum ordering with source interleaving: rank
    rows within each group by ``metric_col`` DESC (ties by ``id_col``),
    then lay groups out ROUND-ROBIN by rank — the training-order recipe
    that avoids source clumping (a million consecutive rows from one
    crawl) while still front-loading high-metric examples.  Returns
    ``(id, group, src_rank, global_pos)`` where ``global_pos`` is the
    0-based position in the interleaved order: all rank-1 rows first
    (group-name order), then rank-2, and so on.

    The global position is CLOSED-FORM, not a global sort: for a row at
    rank r of group s,

        global_pos = Σ_{s'} min(r−1, n_{s'})  +  |{s' < s : n_{s'} ≥ r}|

    (rows of smaller rank from every group, plus same-rank rows of
    earlier-named groups).  With the per-group counts broadcast, that is
    one per-group window (rank) + one broadcast fan-out over the GROUP
    list + a per-row aggregate — no single-partition sort anywhere, the
    same no-global-sort discipline as ``pack_sequences``.  Group count
    is the fan-out factor: groups are source-cardinality (dozens), so
    the expansion is ~n_groups× row-count map-side — linear, never
    quadratic.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        F.col(metric_col).desc(), F.col(id_col).asc()
    )
    ranked = df.select(
        F.col(id_col).alias("id"),
        F.col(group_col).alias("grp"),
        F.row_number().over(w).cast("long").alias("src_rank"),
    )
    counts = ranked.groupBy(F.col("grp").alias("g2")).agg(
        F.count(F.lit(1)).cast("long").alias("n2")
    )
    pos = (
        ranked.crossJoin(F.broadcast(counts))
        .groupBy("id", "grp", "src_rank")
        .agg(
            (
                F.sum(F.least(F.col("src_rank") - 1, F.col("n2")))
                + F.sum(
                    (
                        (F.col("g2") < F.col("grp"))
                        & (F.col("n2") >= F.col("src_rank"))
                    ).cast("long")
                )
            )
            .cast("long")
            .alias("global_pos")
        )
    )
    return pos.select(
        F.col("id").alias(id_col),
        F.col("grp").alias(group_col),
        "src_rank",
        "global_pos",
    )


def srm_check(
    df: DataFrame,
    unit_col: str,
    *,
    seed: str = "ab-v1",
    scale: int = 10**6,
) -> DataFrame:
    """Sample-ratio-mismatch guardrail for a 50/50 hash-split experiment
    (the FIRST check every A/B readout must pass — Kohavi et al.,
    "Trustworthy Online Controlled Experiments" §21: a biased split
    invalidates the metric comparison before any effect is measured):
    one exact-integer row ``(n_a, n_b, chi2_fp)`` with

        chi2_fp = ((n_a − n_b)² · scale) div (n_a + n_b)

    — exactly the 1-df chi-square statistic for an expected 50/50 split
    at fixed point (both cells contribute ``(n−N/2)²/(N/2)``; algebra
    collapses the pair to the difference form, which is integer-exact).
    chi2 > 3.84·scale rejects the split at p < 0.05 — consumer compare.

    Arms use the SAME md5-bucket assignment as
    ``ab_test_two_proportions`` (seed-pinned, growth-stable), so this is
    literally the guardrail for that readout.  Distinct units are
    counted exactly; one combine-able aggregate over the distinct-unit
    relation — no window, no join.
    """
    arm_a = hash_bucket(F.col("u"), seed) < BUCKETS // 2
    units = df.select(F.col(unit_col).alias("u")).distinct()
    return units.agg(
        F.sum(arm_a.cast("long")).cast("long").alias("n_a"),
        F.sum((~arm_a).cast("long")).cast("long").alias("n_b"),
    ).select(
        "n_a",
        "n_b",
        F.expr(
            f"((n_a - n_b) * (n_a - n_b) * CAST({int(scale)} AS BIGINT))"
            f" div (n_a + n_b)"
        ).alias("chi2_fp"),
    )

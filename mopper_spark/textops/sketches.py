"""Mergeable-summary sketches with exact verification passes.

The 100 TB shape for "what are the frequent values?" is NOT a groupBy
over every distinct value (the shuffle carries the full distinct domain
— for web-scale token streams that is billions of keys).  The classic
answer is a two-pass design (Misra-Gries '82; mergeability per Agarwal
et al., PODS'12):

1. each partition builds a bounded Misra-Gries summary (k counters) as
   the stream flows through — no shuffle, O(k) memory;
2. the UNION of per-partition candidates provably contains every value
   with global frequency > n/(k+1) (if f > n/(k+1) globally, then by
   pigeonhole f_p > n_p/(k+1) in at least one partition, where MG
   guarantees survival);
3. a second pass counts ONLY the candidates exactly (broadcast semi-join
   + word-count-shaped groupBy over a domain of at most k × partitions
   keys) and keeps those strictly above the threshold.

The final answer — every value with exact count > n/(k+1), with its
exact count — is deterministic and engine-replayable (the DuckDB oracle
computes it with a full GROUP BY, affordable at fixture scale), even
though the intermediate sketch is partitioning-dependent.  The Python
stage is one Arrow-batched ``mapInPandas`` whose per-partition state is
a k-entry dict.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _mg_partition(k: int):
    """Per-partition Misra-Gries via SUMMARY MERGES, not per-row updates:
    each Arrow batch is reduced vectorized (``value_counts``), then merged
    into the running k-entry summary with the Agarwal et al. MERGE rule —
    add counts, and if more than k counters remain, subtract the
    (k+1)-largest count from all and drop the non-positive.  The merge
    preserves the MG error bound (≤ n_p/(k+1) undercount), so survival of
    every locally-heavy value is still guaranteed; per-batch work is one
    pandas reduction plus an O(k log k) trim — no per-row Python."""

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        for pdf in batches:
            vc = pdf["value"].dropna().value_counts()
            for v, c in vc.items():
                counters[v] = counters.get(v, 0) + int(c)
            if len(counters) > k:
                cut = sorted(counters.values(), reverse=True)[k]
                counters = {
                    key: c - cut for key, c in counters.items() if c > cut
                }
        yield pd.DataFrame({"value": list(counters.keys())})

    return summarize


def heavy_hitters(
    values: DataFrame, col: str, k: int = 500
) -> DataFrame:
    """Exact ε-heavy hitters of ``values[col]`` for ε = 1/(k+1): every
    value whose count strictly exceeds ``n/(k+1)``, with its EXACT count
    — ``(value, freq)``.

    ``k`` trades candidate-set size (≤ k per partition) against the
    frequency threshold; NULLs are ignored.  See the module docstring
    for the two-pass argument; the sketch pass never shuffles and the
    exact pass shuffles only candidate keys.
    """
    if k < 1:
        raise ValueError("heavy_hitters: k must be >= 1")
    vals = values.select(F.col(col).cast("string").alias("value"))
    candidates = (
        vals.mapInPandas(_mg_partition(k), "value string").distinct()
    )
    n = vals.filter(F.col("value").isNotNull()).count()
    exact = (
        vals.join(F.broadcast(candidates), "value")
        .groupBy("value")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    return exact.filter(F.col("freq") * (k + 1) > F.lit(n))


def hll_registers(values: DataFrame, col: str) -> DataFrame:
    """The 4096 HLL registers of ``values[col]`` — ``(bucket, mj)`` with
    ``mj = max rho`` per 12-bit md5 bucket.  Registers are the MERGEABLE
    form of the sketch: registers of a union = per-bucket max of the
    parts, which is what the streaming merge (``streaming.py``) folds."""
    h = F.md5(F.col(col).cast("string"))
    bucket = F.conv(F.substring(h, 1, 3), 16, 10).cast("long")
    w = F.conv(F.substring(h, 4, 12), 16, 10).cast("long")
    # rho = leading zeros of the 48-bit word + 1; bin() renders without
    # leading zeros in BOTH engines, so rho = 49 - length(bin(w)).
    rho = F.when(w == 0, F.lit(49)).otherwise(F.lit(49) - F.length(F.bin(w)))
    return (
        values.filter(F.col(col).isNotNull())
        .select(bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").cast("int").alias("mj"))
    )


def hll_summary(regs: DataFrame) -> DataFrame:
    """One-row ``(m, v_zero, s_fp, estimate)`` from a register table —
    the exact-integer harmonic denominator and the one-double estimate of
    ``hll_distinct``, without the fixture-only exact-verification leg
    (what a production/streaming consumer reads)."""
    m = 4096
    summary = regs.groupBy().agg(
        F.count(F.lit(1)).alias("n_present"),
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 50 - mj)"))
        .cast("long")
        .alias("s_present"),
    )
    alpha_num = 0.7213 / (1.0 + 1.079 / 4096.0)
    est_raw = (
        F.lit(alpha_num)
        * F.lit(4096.0)
        * F.lit(4096.0)
        * F.lit(1125899906842624.0)  # 2^50
        / F.col("s_fp")
    )
    return summary.select(
        F.lit(m).cast("long").alias("m"),
        (F.lit(m) - F.col("n_present")).cast("long").alias("v_zero"),
        (
            F.coalesce(F.col("s_present"), F.lit(0))
            + (F.lit(m) - F.col("n_present"))
            * F.lit(1125899906842624).cast("long")
        ).alias("s_fp"),
    ).withColumn(
        "estimate",
        F.when(
            (est_raw <= F.lit(2.5 * 4096.0)) & (F.col("v_zero") > 0),
            F.lit(4096.0) * F.log(F.lit(4096.0) / F.col("v_zero").cast("double")),
        ).otherwise(est_raw),
    )


def hll_distinct(values: DataFrame, col: str) -> DataFrame:
    """HyperLogLog distinct-count sketch (Flajolet et al. 2007) with
    every multi-row reduction in EXACT integer arithmetic, plus an exact
    verification leg — one row: ``(m, v_zero, s_fp, n_exact, estimate,
    rel_err)``.

    The 100 TB shape for "how many distinct values?" is a 4096-register
    max-aggregate (map-side combine, the shuffle carries ≤ m rows per
    partition), not a countDistinct whose shuffle carries the full
    distinct domain.  The ``n_exact`` column is the verification leg for
    the fixture-scale oracle; production drops it and keeps the sketch.

    Determinism across engines: the register word comes from md5 (both
    engines bit-identical) — bucket = first 12 hash bits, rho = leading
    zeros of the next 48 bits + 1.  The harmonic-mean denominator
    ``sum(2^-M_j)`` is NOT summed in floating point (partition-order-
    dependent once exponents spread past 53 bits): each register
    contributes the exact BIGINT ``2^(50-M_j)`` (rho ≤ 49 so the term is
    ≥ 2; 4096 registers at rho 1 sum to 2^61 < 2^63), absent registers
    contribute ``2^50``, and the estimate is one double expression over
    that exact integer.  The small-range branch is Flajolet's linear
    counting ``m * ln(m / V)`` — one ln over an exact integer ratio.
    """
    regs = hll_registers(values, col)
    n_exact = values.select(F.countDistinct(F.col(col)).alias("n_exact"))
    return (
        hll_summary(regs)
        .crossJoin(F.broadcast(n_exact))
        .select(
            "m",
            "v_zero",
            "s_fp",
            F.col("n_exact").cast("long").alias("n_exact"),
            "estimate",
            (
                (F.col("estimate") - F.col("n_exact"))
                / F.col("n_exact").cast("double")
            ).alias("rel_err"),
        )
    )


def cms_registers(
    values: DataFrame,
    col: str,
    width: int = 2048,
    depth: int = 4,
    weight_col: str | None = None,
    seed: str = "cms-v1",
) -> DataFrame:
    """Count-Min sketch registers (Cormode & Muthukrishnan 2005) of
    ``values[col]``: ``(j, bucket, c)`` with ``c = Σ weight`` per row j
    and md5 bucket — the MERGEABLE form (registers of a union = per-cell
    SUM of the parts), the same discipline as ``hll_registers``.

    Size is depth × width CELLS regardless of corpus cardinality — the
    whole point at 100 TB: a frequency table over 10^10 keys that a
    single executor can hold, ε = e/width overestimate bound with
    probability 1 − e^−depth.  All-integer registers, so sketches are
    bit-identical in any engine/partitioning.

    Hash: ``conv(substr(md5(seed:j:key), 1, 12), 16, 10) % width`` —
    48 md5 bits per row, engine-portable (DuckDB: ('0x'||hex)::BIGINT).
    """
    if width < 2 or depth < 1:
        raise ValueError("cms_registers: need width >= 2 and depth >= 1")
    w = (
        F.col(weight_col).cast("long")
        if weight_col is not None
        else F.lit(1).cast("long")
    )
    rows = values.filter(F.col(col).isNotNull()).select(
        F.col(col).cast("string").alias("k"), w.alias("w")
    )
    cells = rows.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).cast("int").alias("j"),
                        (
                            F.conv(
                                F.substring(
                                    F.md5(
                                        F.concat_ws(
                                            ":", F.lit(seed), F.lit(str(j)), F.col("k")
                                        )
                                    ),
                                    1,
                                    12,
                                ),
                                16,
                                10,
                            ).cast("long")
                            % width
                        ).alias("bucket"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("cell"),
        "w",
    )
    return (
        cells.select("cell.j", "cell.bucket", "w")
        .groupBy("j", "bucket")
        .agg(F.sum("w").cast("long").alias("c"))
    )


def cms_lookup(
    regs: DataFrame,
    probes: DataFrame,
    col: str,
    width: int = 2048,
    depth: int = 4,
    seed: str = "cms-v1",
) -> DataFrame:
    """Point-query the sketch: for each probe key the CMS estimate
    ``min_j regs[j][h_j(key)]`` (0 if some row's cell was never touched).
    NEVER an underestimate — the one-sided guarantee tests and oracles
    pin.  The register table is depth × width rows, so the probe join is
    a broadcast; estimates are exact integer mins.

    Output: ``(key, cms_count)``.
    """
    ks = probes.select(F.col(col).cast("string").alias("key")).distinct()
    cells = ks.select(
        "key",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).cast("int").alias("j"),
                        (
                            F.conv(
                                F.substring(
                                    F.md5(
                                        F.concat_ws(
                                            ":", F.lit(seed), F.lit(str(j)), F.col("key")
                                        )
                                    ),
                                    1,
                                    12,
                                ),
                                16,
                                10,
                            ).cast("long")
                            % width
                        ).alias("bucket"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("cell"),
    ).select("key", "cell.j", "cell.bucket")
    return (
        cells.join(F.broadcast(regs), ["j", "bucket"], "left")
        .groupBy("key")
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).cast("long").alias("cms_count"))
    )


def _hll_estimate(s_fp, v_zero):
    """The hll_summary estimate expression over (s_fp, v_zero) columns —
    shared by the single-set summary and the set-algebra pairs so the
    two can never drift."""
    alpha_num = 0.7213 / (1.0 + 1.079 / 4096.0)
    est_raw = (
        F.lit(alpha_num)
        * F.lit(4096.0)
        * F.lit(4096.0)
        * F.lit(1125899906842624.0)  # 2^50
        / s_fp
    )
    return F.when(
        (est_raw <= F.lit(2.5 * 4096.0)) & (v_zero > 0),
        F.lit(4096.0) * F.log(F.lit(4096.0) / v_zero.cast("double")),
    ).otherwise(est_raw)


def hll_set_algebra(values: DataFrame, group_col: str, col: str) -> DataFrame:
    """Sketch SET ALGEBRA: per-group-PAIR distinct-count estimates for
    A, B, A∪B, and A∩B — the "how much vocabulary do these two sources
    share" question answered from sketches alone, never a cross-source
    exact distinct.  Union is the HLL closure property (per-bucket MAX of
    registers — exact, not an approximation of the union sketch);
    intersection is inclusion-exclusion ``|A|+|B|−|A∪B|`` clamped at 0
    (the standard HLL estimator; error grows as the true intersection
    shrinks — use it to rank overlaps, not to count tiny ones).

    Scale shape: ONE pass builds per-group registers (≤ 4096 rows per
    group regardless of corpus); pairing and merging act on register
    tables only.  Registers are integer, so everything up to the final
    double estimate is bit-exact in any engine.

    Output: ``(group_a, group_b, est_a, est_b, est_union,
    est_intersection)``, group_a < group_b.
    """
    h = F.md5(F.col(col).cast("string"))
    bucket = F.conv(F.substring(h, 1, 3), 16, 10).cast("long")
    w = F.conv(F.substring(h, 4, 12), 16, 10).cast("long")
    rho = F.when(w == 0, F.lit(49)).otherwise(F.lit(49) - F.length(F.bin(w)))
    regs = (
        values.filter(F.col(col).isNotNull())
        .select(
            F.col(group_col).alias("g"), bucket.alias("bucket"), rho.alias("rho")
        )
        .groupBy("g", "bucket")
        .agg(F.max("rho").cast("int").alias("mj"))
        .localCheckpoint(eager=False)
    )

    def summarize(r: DataFrame, keys: list[str]) -> DataFrame:
        base = r.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("n_present"),
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 50 - mj)"))
            .cast("long")
            .alias("s_present"),
        )
        v_zero = (F.lit(4096) - F.col("n_present")).cast("long")
        s_fp = F.col("s_present") + v_zero * F.lit(1125899906842624).cast("long")
        return base.select(
            *keys, _hll_estimate(s_fp, v_zero).alias("estimate")
        )

    per_group = summarize(regs, ["g"])
    groups = regs.select("g").distinct()
    ga, gb = groups.alias("ga"), groups.alias("gb")
    pairs = ga.join(gb, F.col("ga.g") < F.col("gb.g")).select(
        F.col("ga.g").alias("group_a"), F.col("gb.g").alias("group_b")
    )
    merged = (
        pairs.join(regs, F.col("g") == F.col("group_a"))
        .select("group_a", "group_b", "bucket", "mj")
        .unionByName(
            pairs.join(regs, F.col("g") == F.col("group_b")).select(
                "group_a", "group_b", "bucket", "mj"
            )
        )
        .groupBy("group_a", "group_b", "bucket")
        .agg(F.max("mj").alias("mj"))
    )
    union_est = summarize(merged, ["group_a", "group_b"]).withColumnRenamed(
        "estimate", "est_union"
    )
    ea = per_group.select(
        F.col("g").alias("group_a"), F.col("estimate").alias("est_a")
    )
    eb = per_group.select(
        F.col("g").alias("group_b"), F.col("estimate").alias("est_b")
    )
    return (
        union_est.join(F.broadcast(ea), "group_a")
        .join(F.broadcast(eb), "group_b")
        .select(
            "group_a",
            "group_b",
            "est_a",
            "est_b",
            "est_union",
            F.greatest(
                F.lit(0.0), F.col("est_a") + F.col("est_b") - F.col("est_union")
            ).alias("est_intersection"),
        )
    )


def hll_rolling_distinct(
    df: DataFrame,
    col: str,
    ts_col: str,
    *,
    window_days: int = 7,
) -> DataFrame:
    """Trailing-window distinct counts from MERGEABLE sketches: per
    active day, the HLL register state of the last ``window_days`` days'
    values — the sketch-path sibling of
    ``timeseries.rolling_active_users``.  Exact WAU re-reads every
    window; this computes per-day registers ONCE (4096 ints/day,
    regardless of volume) and every window is a per-bucket MAX of W
    day-sketches — the HLL union closure, which is also precisely what
    an incremental daily job folds: yesterday's window state never has
    to be rebuilt from raw events.

    Emits the integer sketch summary ``(day, v_zero, s_fp)`` — estimate
    via ``_hll_estimate`` consumer-side; everything emitted is int64,
    bit-exact cross-engine.

    Scale: raw data is touched once (the per-(day, bucket) aggregate);
    the ×W contribution explode acts on ≤ 4096-row day-sketches.
    """
    if window_days < 1:
        raise ValueError("hll_rolling_distinct: window_days must be >= 1")
    h = F.md5(F.col(col).cast("string"))
    bucket = F.conv(F.substring(h, 1, 3), 16, 10).cast("long")
    w = F.conv(F.substring(h, 4, 12), 16, 10).cast("long")
    rho = F.when(w == 0, F.lit(49)).otherwise(F.lit(49) - F.length(F.bin(w)))
    regs = (
        df.filter(F.col(col).isNotNull())
        .select(
            F.to_date(F.col(ts_col)).alias("_d"),
            bucket.alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy("_d", "bucket")
        .agg(F.max("rho").cast("int").alias("mj"))
    )
    days = regs.select(F.col("_d").alias("day")).distinct()
    merged = (
        regs.select(
            F.explode(
                F.sequence(
                    F.col("_d"), F.date_add(F.col("_d"), window_days - 1)
                )
            ).alias("day"),
            "bucket",
            "mj",
        )
        .join(F.broadcast(days), "day", "left_semi")
        .groupBy("day", "bucket")
        .agg(F.max("mj").alias("mj"))
    )
    return merged.groupBy("day").agg(
        (F.lit(4096) - F.count(F.lit(1))).cast("long").alias("v_zero"),
        (
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 50 - mj)"))
            + (F.lit(4096) - F.count(F.lit(1)))
            * F.lit(1125899906842624).cast("long")
        ).cast("long").alias("s_fp"),
    )

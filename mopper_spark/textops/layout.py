"""Multi-dimensional data layout: Z-order (Morton) clustering.

The data-layout move behind Delta/Iceberg ``OPTIMIZE ZORDER BY``: a scan
filtered on ANY of the interleaved dimensions should touch few files,
which single-column sorting gives only for its leading column.
Interleaving the bits of d columns into one Morton key makes points
close in the key iff they are close in EVERY dimension, so
range-partitioning by the key yields files whose per-dimension min/max
spans are narrow — and min/max file skipping (parquet row-group stats,
Iceberg manifests) prunes on all d columns at once.

Everything is exact integer bit arithmetic (native expressions, engine-
portable), so layouts are reproducible and strict-oracle-able; file
assignment uses exact nearest-rank key boundaries from
``analysis.global_order_statistics`` — no global sort anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from mopper_spark.scan import exclusive_scan


def zorder_key(cols: list[str], bits: int = 16) -> Column:
    """Morton key of d integer columns: bit i of column j lands at
    output bit ``i·d + j``.  Inputs are masked to their low ``bits``
    bits (callers pre-bucket real values into [0, 2^bits) — rank, range
    bucket, or truncation); ``d·bits ≤ 63`` keeps the key in int64.

    Pure unrolled shift/mask expression — whole-stage-codegen-friendly,
    and trivially replicated in any SQL dialect.
    """
    d = len(cols)
    if d < 2:
        raise ValueError("zorder_key: need at least 2 columns")
    if bits < 1 or d * bits > 63:
        raise ValueError("zorder_key: need 1 <= d*bits <= 63")
    terms = [
        f"shiftleft((shiftright(CAST({c} AS BIGINT), {i}) & 1), {i * d + j})"
        for j, c in enumerate(cols)
        for i in range(bits)
    ]
    return F.expr(" + ".join(terms)).cast("long")


def zorder_files(
    df: DataFrame,
    cols: list[str],
    n_files: int,
    bits: int = 16,
    out_key: str = "zval",
    out_file: str = "file_id",
) -> DataFrame:
    """Assign every row a Morton key and a target file: files are the
    ``n_files`` EXACT nearest-rank quantile ranges of the key
    (boundaries from ``global_order_statistics`` — iterative histogram
    narrowing, no global sort), ``file_id = #{boundaries < zval}``.
    Ties share a file (value-deterministic), so sizes are exact only up
    to key ties — the same contract as any stats-based splitter.

    Write ``df.repartition(n_files, out_file)`` partitioned-by-file and
    each file's per-dimension min/max stays narrow in ALL ``cols`` —
    the property a min/max-skipping scan prunes on.
    """
    if n_files < 2:
        raise ValueError("zorder_files: need n_files >= 2")
    from mopper_spark.textops.analysis import global_order_statistics

    keyed = df.withColumn(out_key, zorder_key(cols, bits=bits))
    qs = tuple(i / n_files for i in range(1, n_files))
    stats = global_order_statistics(keyed, out_key, qs=qs)
    bcols = [c for c in stats.columns if c.startswith("p")]
    bounds = stats.select(*bcols)
    fid = None
    for c in bcols:
        term = (F.col(out_key) > F.col(c)).cast("int")
        fid = term if fid is None else fid + term
    return keyed.crossJoin(F.broadcast(bounds)).select(
        *df.columns, out_key, fid.cast("int").alias(out_file)
    )


def compaction_plan(
    files: DataFrame,
    part_col: str,
    seq_col: str,
    size_col: str,
    target_bytes: int,
    *,
    bucket_width: int = 64,
) -> DataFrame:
    """Small-file compaction planning — the maintenance half of
    ``OPTIMIZE`` next to ``zorder_key``'s layout half: within each
    partition, roll files (in ``seq_col`` order, the manifest ordinal,
    so locality-sorted files stay adjacent) into groups of
    ``~target_bytes``: ``group = exclusive_prefix(bytes) div target``.
    Deterministic, and groups never split a file; a group overshoots by
    at most one file (the standard bin-by-running-total compaction,
    e.g. Iceberg's binpack strategy).

    The prefix sum is ``scan.exclusive_scan`` partitioned by
    ``part_col`` and bucketed by ordinal range (``bucket_width``
    ordinals per bucket), so planning a billion-file manifest never
    global-sorts it.

    Output: ``(part_col, seq_col, size_col, start_bytes, grp)``.
    """
    if target_bytes < 1:
        raise ValueError("compaction_plan: target_bytes must be >= 1")
    if bucket_width < 1:
        raise ValueError("compaction_plan: bucket_width must be >= 1")
    t = files.select(
        F.col(part_col).alias("_p"),
        F.col(seq_col).cast("long").alias("_s"),
        F.col(size_col).cast("long").alias("_b"),
    )
    placed = exclusive_scan(
        t,
        F.floor(F.col("_s") / F.lit(int(bucket_width))).cast("long"),
        ["_s"],
        sums={"start_bytes": "_b"},
        partition_by=["_p"],
    )
    return placed.select(
        F.col("_p").alias(part_col),
        F.col("_s").alias(seq_col),
        F.col("_b").alias(size_col),
        "start_bytes",
        F.expr(f"start_bytes div {int(target_bytes)}").alias("grp"),
    )


def zone_map_stats(
    df: DataFrame,
    file_col: str,
    value_col: str,
    *,
    predicate_lo: int | None = None,
    predicate_hi: int | None = None,
) -> DataFrame:
    """Zone maps (min/max/null-count per file) plus the data-skipping
    audit — the statistics Parquet row groups and Iceberg manifests
    carry, computed FROM the table so a layout owner can ask "how many
    files would this range predicate actually skip?" before and after a
    re-sort (``zorder_files``/``compaction_plan`` are the write side of
    the same loop; this is the read side).

    Returns one row per ``file_col`` group: ``(file_id, n_rows, n_nulls,
    min_v, max_v, prunable)`` with min/max over the non-null BIGINT cast
    of ``value_col``; when both predicate bounds are given, ``prunable``
    is 1 iff the zone cannot contain a match (``max_v < lo`` or
    ``min_v > hi``) AND has no NULLs that an IS NULL-tolerant plan would
    still need — the exact skip rule an engine applies from footer
    stats.  With no predicate, ``prunable`` is 0 everywhere (stats-only
    mode).  All-NULL zones report min/max as the -1 sentinel with
    n_nulls = n_rows (gid-style disambiguation: a real min cannot be
    told apart from -1 ONLY by callers whose domain includes it — pass a
    shifted column if so; NULLs on the fetch path are the alternative
    this codebase avoids).

    One combine-able aggregate — file-count-shaped output.
    """
    v = F.col(value_col).cast("long")
    agg = df.groupBy(F.col(file_col).alias("file_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(v.isNull().cast("long")).cast("long").alias("n_nulls"),
        F.coalesce(F.min(v), F.lit(-1)).cast("long").alias("min_v"),
        F.coalesce(F.max(v), F.lit(-1)).cast("long").alias("max_v"),
    )
    if predicate_lo is None or predicate_hi is None:
        prunable = F.lit(0)
    else:
        prunable = (
            (F.col("n_nulls") == 0)
            & (F.col("n_rows") > 0)
            & (
                (F.col("max_v") < int(predicate_lo))
                | (F.col("min_v") > int(predicate_hi))
            )
        ).cast("long")
    return agg.select(
        "file_id", "n_rows", "n_nulls", "min_v", "max_v",
        prunable.cast("long").alias("prunable"),
    )

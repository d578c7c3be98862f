"""Exclusive running sums and maxima over an ordered DataFrame, with no
single-partition pass over its rows.

"The sum (or max) of everything before this row" is a window with an
ORDER BY and a rows frame ending one row back.  Without a PARTITION BY,
or with one whose partitions can be corpus-sized, Spark moves every row
of a partition into ONE task to sort and scan it.  ``exclusive_scan``
computes the same values with the classic two-level prefix scan, made
deterministic by a bucket the caller chooses:

1. every row gets a bucket that is monotone in the scan order (an integer
   range, a hash prefix of a hash-ordered key): if ``bucket(r)`` comes
   before ``bucket(s)`` then ``r`` comes before ``s``.  One combine-able
   aggregate makes the per-(partition, bucket) subtotals.
2. a running window over those bucket rows ONLY turns the subtotals into
   per-bucket offsets.  This is the only pass that holds a whole
   partition in one task, and it sees one row per bucket.
3. an in-bucket ``rowsBetween(unboundedPreceding, -1)`` window,
   partitioned by (partition, bucket), scans inside each bucket; the
   offsets are joined back and folded in.

The bucket is monotone, so the rows before ``r`` are exactly the rows of
earlier buckets plus the earlier rows of ``r``'s own bucket, and the
result equals the one global window.  What the bucket buys is where the
work lands: the phase-two table has one row per distinct bucket, which
each caller bounds for its own bucket expression (a hash prefix by
construction; a value range only by the value's range, so the caller
states it).  The join back therefore carries no broadcast hint and AQE
chooses it.

Identities: a ``sum`` with nothing before is 0 (BIGINT); a ``max`` with
nothing before is NULL.  A rank is an exclusive count: the ``sum`` of 1.

NULLs: the join back is an equi-join, so a row whose bucket or partition
value is NULL is not returned; its subtotal still takes part in phase
two, where an ascending order puts the NULL bucket first.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_BKT = "_scan_bkt"


def _quoted(name: str) -> Column:
    return F.col("`" + name.replace("`", "``") + "`")


def exclusive_scan(
    df: DataFrame,
    bucket: Column,
    order_by: Sequence[str],
    *,
    sums: Mapping[str, Column | str] | None = None,
    maxes: Mapping[str, Column | str] | None = None,
    totals: Mapping[str, Column | str] | None = None,
    partition_by: Sequence[str] = (),
    descending: bool = False,
) -> DataFrame:
    """The rows of ``df`` with one exclusive running value per scanned
    column, in the order ``(bucket, *order_by)`` (ascending, or
    descending for every column when ``descending``) within
    ``partition_by``.  When ``bucket`` is monotone in ``order_by`` (see
    the module docstring) that is the plain ``order_by`` order.
    ``sums``, ``maxes`` and ``totals`` map an output column name to the
    value it scans: ``sums`` gives the BIGINT sum over the rows before
    (0 when none), ``maxes`` the max over the rows before (NULL when
    none), and ``totals`` the BIGINT sum over the whole partition, taken
    from the phase-one subtotals.

    Returns ``df``'s columns followed by the ``sums``, ``maxes`` and
    ``totals`` outputs, in that order.
    """
    specs = [
        (kind, out, F.col(v) if isinstance(v, str) else v)
        for kind, cols in (("sum", sums), ("max", maxes), ("total", totals))
        for out, v in (cols or {}).items()
    ]
    keys = [*partition_by, _BKT]
    rows = df.select(
        "*",
        bucket.alias(_BKT),
        *[v.alias(f"_scan_v{i}") for i, (_, _, v) in enumerate(specs)],
    )

    def ordered(name: str) -> Column:
        return F.col(name).desc() if descending else F.col(name)

    # phase 2 runs over the bucket rows, phase 3 inside each bucket
    w_bkt = (
        Window.partitionBy(*partition_by)
        .orderBy(ordered(_BKT))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_in = (
        Window.partitionBy(*keys)
        .orderBy(*[ordered(c) for c in order_by])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    subtotals, offsets, outs = [], [], []
    for i, (kind, out, _) in enumerate(specs):
        v, s = f"_scan_v{i}", f"_scan_s{i}"
        if kind == "max":
            sub = F.max(v)
            off = F.max(s).over(w_bkt)
            res = F.greatest(F.col(s), F.max(v).over(w_in))
        elif kind == "sum":
            sub = F.sum(v)
            off = F.coalesce(F.sum(s).over(w_bkt), F.lit(0)).cast("long")
            res = (F.col(s) + F.coalesce(F.sum(v).over(w_in), F.lit(0))).cast("long")
        else:
            sub = F.sum(v)
            off = F.sum(s).over(Window.partitionBy(*partition_by)).cast("long")
            res = F.col(s)
        subtotals.append(sub.alias(s))
        offsets.append(off.alias(s))
        outs.append(res.alias(out))
    per_bucket = rows.groupBy(*keys).agg(*subtotals).select(*keys, *offsets)
    return rows.join(per_bucket, keys).select(
        *[_quoted(c) for c in df.columns], *outs
    )

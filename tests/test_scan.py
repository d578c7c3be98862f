"""The shared exclusive-scan primitive (``mopper_spark.scan``): values
against a brute-force Python scan, and the plan shape of every operator
built on it."""

import datetime as dt
import random

import pytest
from pyspark.sql import functions as F

from mopper_spark.scan import exclusive_scan


def _rows(seed):
    rnd = random.Random(seed)
    rows = [
        (rnd.choice(["a", "b", "c"]), rnd.randint(-40, 40), i, rnd.randint(-50, 50))
        for i in range(80)
    ]
    # a value far from the rest: a bucket that holds a single row
    rows.append(("a", 1000, 80, -7))
    return rows


def _brute(rows, partitioned, descending):
    """Exclusive running sum, count and max per partition, plus the
    partition total, by sorting in Python."""
    out = {}
    parts = {}
    for r in rows:
        parts.setdefault(r[0] if partitioned else None, []).append(r)
    for part in parts.values():
        part.sort(key=lambda r: (r[1], r[2]), reverse=descending)
        s, m = 0, None
        for k, (_, _, i, x) in enumerate(part):
            out[i] = (s, k, m, len(part))
            s, m = s + x, x if m is None else max(m, x)
    return out


@pytest.mark.parametrize(
    "partitioned,descending",
    [(False, False), (False, True), (True, False), (True, True)],
)
def test_exclusive_scan_matches_brute_force(spark, partitioned, descending):
    rows = _rows(seed=7 + 2 * partitioned + descending)
    df = spark.createDataFrame(rows, "p string, o long, i long, x long")
    got = exclusive_scan(
        df,
        F.floor(F.col("o") / F.lit(8)),
        ["o", "i"],
        sums={"s": "x", "rk": F.lit(1)},
        maxes={"m": "x"},
        totals={"n": F.lit(1)},
        partition_by=["p"] if partitioned else [],
        descending=descending,
    )
    assert got.columns == ["p", "o", "i", "x", "s", "rk", "m", "n"]
    types = dict(got.dtypes)
    assert [types[c] for c in ("s", "rk", "m", "n")] == ["bigint"] * 4
    want = _brute(rows, partitioned, descending)
    assert {r.i: (r.s, r.rk, r.m, r.n) for r in got.collect()} == want
    # the identities: the first row of each partition sees nothing before
    firsts = [v for v in want.values() if v[1] == 0]
    assert firsts and all(v[0] == 0 and v[2] is None for v in firsts)


def test_exclusive_scan_empty_input(spark):
    df = spark.createDataFrame([], "o long, x long")
    got = exclusive_scan(
        df, F.col("o"), ["o"], sums={"s": "x"}, maxes={"m": "x"}
    )
    assert got.columns == ["o", "x", "s", "m"]
    assert got.collect() == []


def test_null_bucket_rows_are_returned(spark):
    # shuffle_rank buckets by the key's hash: a NULL key is a NULL bucket
    from mopper_spark.textops.sampling import shuffle_rank

    df = spark.createDataFrame([(1,), (2,), (None,)], "k long")
    got = shuffle_rank(df, "k").collect()
    assert len(got) == 3
    ranks = [r[-1] for r in got]
    assert sorted(ranks) == [0, 1, 2]


def test_null_bucket_keeps_its_phase_two_place(spark):
    df = spark.createDataFrame([(None, 5), (1, 1), (2, 2)], "o long, x long")
    for descending, want in ((False, {None: 0, 1: 5, 2: 6}), (True, {2: 0, 1: 2, None: 3})):
        got = exclusive_scan(
            df, F.col("o"), ["o"], sums={"s": "x"}, descending=descending
        )
        assert {r.o: r.s for r in got.collect()} == want


def test_mann_whitney_u_drops_null_values(spark):
    from mopper_spark.textops.rankstats import mann_whitney_u

    df = spark.createDataFrame(
        [(1, True), (2, False), (None, False)], "v long, g boolean"
    )
    r = mann_whitney_u(df, "v", "g").collect()[0]
    assert (r.n_a, r.n_b, r.u2x_a, r.u2x_b) == (1, 1, 0, 2)


def _single_partition_inputs(plan: str) -> list[str]:
    """The node each ``Exchange SinglePartition`` of a plan string reads
    (an exchange has one child: the next line of the tree)."""
    lines = plan.splitlines()
    return [
        lines[i + 1].lstrip(" :+-").split("(")[0].split(" ")[0]
        for i, line in enumerate(lines)
        if "Exchange SinglePartition" in line
    ]


def _migrated_operators(spark):
    from mopper_spark.pipeline.curate import indexed_objects
    from mopper_spark.textops.analysis import rank_auc
    from mopper_spark.pipeline.graphsig import canonical_blank_labels
    from mopper_spark.streaming import lateness_audit
    from mopper_spark.textops.layout import compaction_plan
    from mopper_spark.textops.olap import pareto_front_2d
    from mopper_spark.textops.packing import pack_sequences
    from mopper_spark.textops.ranking import perplexity_buckets
    from mopper_spark.textops.rankstats import (
        gini_terms,
        grouped_midrank,
        ks_statistic,
        mann_whitney_u,
        spearman_terms,
    )
    from mopper_spark.textops.sampling import shuffle_rank

    vals = spark.createDataFrame(
        [(i, i % 7, i % 2 == 0, f"s{i % 3}") for i in range(20)],
        "x long, y long, g boolean, src string",
    )
    docs = spark.createDataFrame(
        [(i, "the cat sat on the mat"[: 4 + i]) for i in range(6)],
        "doc_id long, text string",
    )
    triples = spark.createDataFrame(
        [("<t1>", "m", "_:x"), ("<t2>", "m", "_:y"), ("<t1>", "n", "<o>")],
        "subj string, pred string, obj string",
    )
    base = dt.datetime(2024, 1, 1)
    events = spark.createDataFrame(
        [(i, base + dt.timedelta(minutes=(7 * i) % 11)) for i in range(8)],
        "event_id long, ts timestamp",
    )
    return {
        "mann_whitney_u": mann_whitney_u(vals, "x", "g"),
        "ks_statistic": ks_statistic(vals, "x", "g"),
        "gini_terms": gini_terms(vals, "y"),
        "spearman_terms": spearman_terms(vals, "x", "y"),
        "grouped_midrank": grouped_midrank(vals, "src", "x"),
        "pack_sequences": pack_sequences(docs, seq_len=4),
        "compaction_plan": compaction_plan(vals, "src", "x", "y", 10),
        "indexed_objects": indexed_objects(triples),
        "canonical_blank_labels": canonical_blank_labels(triples),
        "shuffle_rank": shuffle_rank(vals, "x"),
        "pareto_front_2d": pareto_front_2d(vals, "x", "y"),
        "lateness_audit": lateness_audit(
            events, "ts", "event_id", delay_seconds=60
        ),
        "perplexity_buckets": perplexity_buckets(docs, docs),
        "rank_auc": rank_auc(vals, "x", "g"),
    }


def test_single_partition_exchanges_read_only_aggregates(spark):
    """In every operator built on the scan, each ``Exchange
    SinglePartition`` of the executed plan reads an aggregate (per-bucket
    subtotals, or a global aggregate's partial rows), never the
    operator's input rows."""
    aggregates = {"HashAggregate", "ObjectHashAggregate", "SortAggregate"}
    bad = {}
    for name, df in _migrated_operators(spark).items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        readers = _single_partition_inputs(plan)
        if any(r not in aggregates for r in readers):
            bad[name] = readers
    assert not bad, bad


def test_rank_auc_refuses_non_integral_score(spark):
    from mopper_spark.textops.analysis import rank_auc

    df = spark.createDataFrame([(0.5, True)], "s double, y boolean")
    with pytest.raises(ValueError, match="'s'"):
        rank_auc(df, "s", "y")

"""Temporal scoping for the extracted KG: entity activity intervals.

A triple emitted from a transcript is implicitly time-scoped — the
entity was being discussed AT the turn's timestamp.  Temporal-KG
consumers (e.g. Wikidata-style qualifiers, or a retrieval index that
answers "who was discussed between t1 and t2") need those point events
collapsed into VALIDITY INTERVALS: maximal spans during which an entity
kept being mentioned in a conversation, split when it goes quiet for
longer than ``max_gap``.  This is the KG-flavored sibling of event
sessionization (the classic gaps-and-islands collapse), applied to the
mention stream rather than user events; the reference engine
(ghsnd/mopper) emits point-in-time triples only — interval semantics
are part of the beyond-reference query layer.

Scale shape: one window partitioned by (conversation, entity) ordered
by time — per-partition volume is bounded by a single conversation's
mentions of a single entity, the same per-conversation bound every
window in this package rides on (long-conversation skew is bounded by
the conversation length itself, and the (conv, entity) key splits a
hot conversation across its entities); then one combine-able
aggregation per island.  Timestamps are compared and emitted as epoch
MICROSECONDS (int64) — TZ- and fetch-path-proof, the same convention
as the as-of join oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Epoch-µs conversion; for TIMESTAMP (LTZ) inputs this is UTC-correct
# only under a UTC session timezone — the repo-wide convention
# (mopper_spark.session.get_spark pins spark.sql.session.timeZone=UTC and
# both jobs/ entrypoints pin it the same way).  The NTZ-diff form is kept
# (rather than unix_micros) so TIMESTAMP_NTZ inputs work identically.
_EPOCH_US = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {})"


def entity_activity_intervals(
    mentions_ts: DataFrame,
    *,
    max_gap_s: int = 3600,
    conv_col: str = "conv_id",
    entity_col: str = "surface",
    ts_col: str = "ts",
) -> DataFrame:
    """Collapse per-turn entity mentions into activity intervals.

    ``mentions_ts`` needs one row per (conversation, entity, timestamp)
    observation — duplicates at the same instant are fine (they collapse
    into the same island and count individually in ``n_mentions``).

    Returns ``(conv_id, entity, valid_from_us, valid_to_us, n_mentions)``
    with inclusive epoch-microsecond bounds; a new interval starts when
    the entity is unseen in that conversation for MORE than
    ``max_gap_s`` seconds (a gap of exactly ``max_gap_s`` still chains —
    the standard sessionization boundary, pinned in tests).
    """
    pts = _mention_points(mentions_ts, conv_col, entity_col, ts_col)
    return _merge_segments(pts, max_gap_s)


def _mention_points(
    mentions_ts: DataFrame, conv_col: str, entity_col: str, ts_col: str
) -> DataFrame:
    """Mention observations as degenerate segments ``(t, t, 1)``."""
    return mentions_ts.select(
        F.col(conv_col).alias("conv_id"),
        F.col(entity_col).alias("entity"),
        F.expr(_EPOCH_US.format(ts_col)).alias("valid_from_us"),
    ).select(
        "conv_id",
        "entity",
        "valid_from_us",
        F.col("valid_from_us").alias("valid_to_us"),
        F.lit(1).cast("long").alias("n_mentions"),
    )


def _merge_segments(segs: DataFrame, max_gap_s: int) -> DataFrame:
    """THE island-merge core: glue gap-chained segments per (conv, entity).

    Both the batch operator (point segments) and the incremental fold
    (existing intervals ∪ new points) run exactly this — one shared
    definition of the gap rule, so the two can never drift.  lo-sorted
    segments chain while ``lo - running max(hi) <= gap`` (the running max
    handles segments nested inside earlier ones); counts add because the
    segments partition the observation multiset.
    """
    if max_gap_s < 0:
        raise ValueError("max_gap_s must be >= 0")
    gap_us = int(max_gap_s) * 1_000_000
    w = Window.partitionBy("conv_id", "entity").orderBy(
        "valid_from_us", "valid_to_us"
    )
    return (
        segs.withColumn(
            "prev_hi",
            F.max("valid_to_us").over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
        )
        .withColumn(
            "new_island",
            F.when(
                F.col("prev_hi").isNull()
                | (F.col("valid_from_us") - F.col("prev_hi") > gap_us),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "island",
            F.sum("new_island").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("conv_id", "entity", "island")
        .agg(
            F.min("valid_from_us").alias("valid_from_us"),
            F.max("valid_to_us").alias("valid_to_us"),
            F.sum("n_mentions").cast("long").alias("n_mentions"),
        )
        .drop("island")
    )


def entities_active_at(intervals: DataFrame, at_us: int) -> DataFrame:
    """Snapshot the temporal KG: entities whose activity interval covers
    the instant ``at_us`` (inclusive bounds on both ends, matching the
    interval semantics of :func:`entity_activity_intervals`).

    A pure pushed filter over the intervals table — at scale this is a
    partition-prunable scan when the intervals are materialized
    partitioned by a coarse time bucket of ``valid_from_us``.
    """
    return intervals.filter(
        (F.col("valid_from_us") <= F.lit(int(at_us)))
        & (F.col("valid_to_us") >= F.lit(int(at_us)))
    )


def interval_cooccurrence(
    intervals: DataFrame,
    *,
    bucket_us: int = 3_600_000_000,
) -> DataFrame:
    """Temporal co-occurrence: entity pairs whose activity intervals
    OVERLAP within the same conversation — a stricter signal than
    "mentioned anywhere in the same conversation" (the co-mention BGP),
    because both entities must be live simultaneously.

    Input is :func:`entity_activity_intervals` output.  Every pair of
    interval rows (same ``conv_id``, ``entity`` strictly ordered) with
    ``least(to) >= greatest(from)`` co-occurs; a shared single instant
    counts with overlap 0 (inclusive bounds).  Output is one row per
    ``(conv_id, e1, e2)`` with ``total_overlap_us`` (sum over interval
    pairs) and ``n_overlaps``.

    Scale shape: NOT a per-conversation cross join.  Both sides explode
    into fixed-width time buckets (``bucket_us``, default 1 h) and the
    join is a plain equi-join on ``(conv_id, bucket)`` — the same
    bucketed-interval-join idiom as
    ``textops/joins.py::range_join_buckets`` — so a hot conversation is
    split across its timeline instead of materializing all interval
    pairs.  A pair overlapping in several buckets is counted exactly
    once, at the bucket containing ``greatest(from1, from2)`` (the
    standard dedup-free interval-join trick: that bucket is unique and
    both sides are present in it whenever the intervals overlap).
    """
    if bucket_us <= 0:
        raise ValueError("bucket_us must be > 0")
    b = int(bucket_us)

    def side(tag: str) -> DataFrame:
        return intervals.select(
            F.col("conv_id"),
            F.col("entity").alias(f"e{tag}"),
            F.col("valid_from_us").alias(f"lo{tag}"),
            F.col("valid_to_us").alias(f"hi{tag}"),
        ).withColumn(
            "bucket",
            F.explode(
                F.sequence(
                    F.expr(f"lo{tag} div {b}"), F.expr(f"hi{tag} div {b}")
                )
            ),
        )

    pairs = (
        side("1")
        .join(side("2"), ["conv_id", "bucket"])
        .filter(F.col("e1") < F.col("e2"))
        .withColumn("anchor", F.greatest("lo1", "lo2"))
        .filter(F.least("hi1", "hi2") >= F.col("anchor"))
        # count each overlapping pair exactly once: only in the bucket
        # that contains the later interval start
        .filter(F.expr(f"anchor div {b}") == F.col("bucket"))
    )
    return pairs.groupBy("conv_id", "e1", "e2").agg(
        F.sum(F.least("hi1", "hi2") - F.col("anchor")).alias("total_overlap_us"),
        F.count(F.lit(1)).cast("long").alias("n_overlaps"),
    )


def interval_quads(intervals: DataFrame) -> DataFrame:
    """Materialize activity intervals as interval-qualified RDF quads —
    the temporal-KG publication shape (Wikidata-style qualifiers flattened
    onto an interval resource, since the reference's serializer emits
    plain quads only: ``serializer.rs`` has no RDF-star/qualifier form).

    One interval row → six statements about a fresh interval IRI
    ``ex:interval/{conv}/{entity}/{from}`` in the dedicated named graph
    ``ex:graph/temporal``:

        rdf:type ex:ontology/ActivityInterval, ont:entity <entity IRI>,
        ont:inConversation <conv IRI>, ont:validFrom / ont:validTo /
        ont:mentionCount (integer literals, epoch µs).

    Output schema is the engine's statement shape
    ``(subj, pred, obj, okind, graph)`` — directly serializable by
    ``ntriples.format_statements`` and losslessly re-readable by
    ``read_nquads`` (round-trip pinned in tests).  The entity IRI slot
    uses the same pct-encoding compiler as the mention triples, so the
    two layers agree on entity identity.  Plan shape: one narrow
    projection + a 6-element explode — no shuffle at all.
    """
    from mopper_spark.compiler import FunctionCompiler
    from mopper_spark.pipeline.extract import EX, _uri_template

    ONT = EX + "ontology/"
    fc = FunctionCompiler(["conv_id", "entity", "valid_from_us"])
    ival = fc.compile(
        _uri_template(
            EX + "interval/{conv_id}/{entity}/{valid_from_us}",
            ["conv_id", "entity", "valid_from_us"],
        )
    )
    ent = fc.compile(_uri_template(EX + "entity/{entity}", ["entity"]))
    conv = fc.compile(_uri_template(EX + "conv/{conv_id}", ["conv_id"]))

    def stmt(pred: str, obj, okind: str):
        return F.struct(
            F.lit(pred).alias("pred"),
            obj.cast("string").alias("obj"),
            F.lit(okind).alias("okind"),
        )

    fan = F.explode(
        F.array(
            stmt(
                "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
                F.lit(ONT + "ActivityInterval"),
                "iri",
            ),
            stmt(ONT + "entity", F.expr(ent.sql), "iri"),
            # pct-encoded like every conv IRI the extraction layer emits —
            # a raw concat would produce an invalid IRI (and a join miss)
            # for conv ids containing reserved characters
            stmt(ONT + "inConversation", F.expr(conv.sql), "iri"),
            stmt(ONT + "validFrom", F.col("valid_from_us"), "lit"),
            stmt(ONT + "validTo", F.col("valid_to_us"), "lit"),
            stmt(ONT + "mentionCount", F.col("n_mentions"), "lit"),
        )
    ).alias("s")
    return intervals.select(F.expr(ival.sql).alias("subj"), fan).select(
        "subj",
        F.col("s.pred").alias("pred"),
        F.col("s.obj").alias("obj"),
        F.col("s.okind").alias("okind"),
        F.lit(EX + "graph/temporal").alias("graph"),
    )


def intervals_increment(
    intervals: DataFrame,
    new_mentions_ts: DataFrame,
    *,
    max_gap_s: int = 3600,
    conv_col: str = "conv_id",
    entity_col: str = "surface",
    ts_col: str = "ts",
) -> DataFrame:
    """Fold a new batch of mention observations into an EXISTING activity-
    intervals table without recomputing it — only the (conv, entity)
    groups the batch touches are rebuilt; every other interval row passes
    through untouched (one anti-join).

    Correctness: an interval is a gap-chained segment ``(lo, hi, n)``;
    per-key interval sets are a mergeable monoid under the gap rule, so
    gluing the existing segments with the batch's point segments
    ``(t, t, 1)`` reproduces exactly the batch operator over the union of
    all observations (two segments chain iff their closest points are
    <= max_gap apart, which for lo-sorted segments is ``lo - running
    max(hi) <= gap``; mention counts add because the segments partition
    the observation multiset).  Folding therefore commutes and
    associates — any micro-batch split of the same observations ends in
    the same table (pinned in tests against the batch operator).  The
    caller must not replay a batch (same versioned-state discipline as
    ``pipeline/incremental.py``).

    Scale shape per increment: one distinct on the batch keys, one
    anti-join + one semi-join against the state (key-partitioned), then
    the islands window over AFFECTED keys only — per-partition volume
    bounded by one (conversation, entity) history, never the full state.
    """
    pts = _mention_points(new_mentions_ts, conv_col, entity_col, ts_col)
    keys = pts.select("conv_id", "entity").distinct()
    untouched = intervals.join(keys, ["conv_id", "entity"], "left_anti")
    touched = intervals.join(keys, ["conv_id", "entity"], "left_semi")
    merged = _merge_segments(touched.unionByName(pts), max_gap_s)
    return untouched.unionByName(merged)


_INTERVALS_SCHEMA = (
    "conv_id string, entity string, valid_from_us long, "
    "valid_to_us long, n_mentions long"
)


def empty_intervals(spark) -> DataFrame:
    return spark.createDataFrame([], _INTERVALS_SCHEMA)


def read_intervals(spark, state_dir: str) -> DataFrame:
    """Resolve the latest versioned intervals table (``state/v{n}`` + a
    ``_LATEST`` pointer written last — the same crash-safe discipline as
    the linking dictionary, see ``pipeline/incremental.py``); empty
    table if no version committed yet."""
    import os

    from mopper_spark.pipeline.incremental import _read_latest

    version = _read_latest(state_dir)
    if version is None:
        return empty_intervals(spark)
    return spark.read.parquet(os.path.join(state_dir, version))


def temporal_reachability(
    edges: DataFrame,
    sources: DataFrame,
    *,
    max_hops: int = 8,
) -> DataFrame:
    """Time-respecting reachability (Holme & Saramäki, Phys. Rep. 2012
    §4): which nodes can be reached from the sources along edge
    sequences with NON-DECREASING timestamps — information/contagion
    flow, where a static closure over-counts (an edge that fired
    YESTERDAY cannot forward what arrives today).

    ``edges``: ``(src, dst, t_us)`` contact events;
    ``sources``: ``(node)`` seeds (reachable at time −∞).
    Returns ``(node, arrival_us)`` — the EARLIEST arrival time per
    reachable node (sources themselves at −1, the open sentinel);
    earliest arrival is the right invariant because arriving earlier
    never hurts (more onward edges remain usable), so the min-arrival
    fixpoint IS the reachable set.

    Level-synchronous relaxation: each round joins the current
    ``(node, arrival)`` frontier to edges with ``t_us >= arrival``,
    keeps strict improvements via a combine-able ``min`` aggregate +
    anti-comparison against the known table, and stops when no arrival
    improves or at ``max_hops`` (named cap — temporal diameters are
    short in practice; deep chains want path doubling, as in
    ``graph._doubling_closure``).  Per-round lineage is
    cut with ``localCheckpoint``; shuffles are edge-keyed joins only.
    """
    if max_hops < 1:
        raise ValueError("temporal_reachability: max_hops must be >= 1")
    e = edges.select(
        F.col("src"), F.col("dst"), F.col("t_us").cast("long")
    ).localCheckpoint(eager=False)
    known = (
        sources.select(F.col("node"), F.lit(-1).cast("long").alias("arrival_us"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    frontier = known
    for _ in range(max_hops):
        relaxed = (
            frontier.join(e, frontier["node"] == e["src"])
            .filter(F.col("t_us") >= F.col("arrival_us"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("t_us").cast("long").alias("arrival_us"))
        )
        improved = (
            relaxed.join(
                known.select(F.col("node"), F.col("arrival_us").alias("_old")),
                "node",
                "left",
            )
            .filter(F.col("_old").isNull() | (F.col("arrival_us") < F.col("_old")))
            .select("node", "arrival_us")
            .localCheckpoint(eager=True)
        )
        if improved.limit(1).count() == 0:
            break
        known = (
            known.unionByName(improved)
            .groupBy("node")
            .agg(F.min("arrival_us").alias("arrival_us"))
            .localCheckpoint(eager=True)
        )
        frontier = improved
    return known

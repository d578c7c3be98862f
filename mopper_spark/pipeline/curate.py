"""KG curation operators over the materialized triple table.

The reference (ghsnd/mopper) stops at emitting triples; a production KG
pipeline immediately needs to profile, repair, and consume them.  Three
operators, all pure native expressions (zero Python at runtime), all
deterministic under any partitioning, all strictly SQL-oracle-able:

``predicate_profile``
    Per-predicate cardinality statistics (triple count, distinct
    subjects/objects, functionality/inverse-functionality flags) — the
    standard schema-discovery pass (cf. LOD dataset profiling, e.g.
    Auer et al., "LODStats", EKAW'12).  One map-side-combinable
    aggregation; scales like word-count.

``resolve_functional``
    Conflict resolution for functional properties: when extraction emits
    several objects for one (subj, pred), keep the object with the most
    supporting triples, breaking ties on the lexicographically smallest
    object (deterministic, engine-portable — no ``first()`` under an
    undefined order).  Two aggregations, both combine map-side; the
    "hot subject" skew case degrades gracefully because the first
    aggregation collapses duplicates before any per-(subj, pred) state.

``negative_samples``
    Deterministic corrupt-object negative sampling for KG-embedding
    training (the local-closed-world assumption of TransE, Bordes et al.
    NeurIPS'13): each positive triple yields up to ``n_per`` corrupted
    triples whose object is drawn pseudo-randomly from the distinct-object
    vocabulary by an md5 hash of (seed, triple, draw index) — a pure
    function of the row, so resampling is reproducible across runs,
    engines, and partitionings (the same portability argument as
    ``textops/sampling.py``).  Drawn negatives that collide with ANY true
    triple are anti-joined away (filtered negative sampling).

    The vocabulary must be uniformly indexable (draw = index in
    [0, n_objects)); a global ``row_number`` would be a single-partition
    sort, so the index is an exclusive count by ``scan.exclusive_scan``:
    objects land in md5 buckets (at most 65536), ranks are windowed
    WITHIN buckets.  Reproducing that layout in the oracle is one
    ``ROW_NUMBER() OVER (ORDER BY bucket, obj)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mopper_spark.scan import exclusive_scan

# 16-bit md5 bucket space, matching textops/sampling.py::hash_bucket
_IDX_BUCKETS = 65536


def predicate_profile(triples: DataFrame) -> DataFrame:
    """Per-predicate stats: ``(pred, n_triples, n_subj, n_obj,
    is_functional, is_inverse_functional)``.

    ``is_functional``: every subject has exactly one object (safe to feed
    ``resolve_functional`` expecting no drops); inverse likewise.  Exact
    distinct counts (not HLL sketches) so the output hashes stably; for
    100 TB profiling swap ``countDistinct`` for ``approx_count_distinct``
    — the plan shape (one partial+final aggregate) is unchanged.
    """
    return (
        triples.groupBy("pred")
        .agg(
            F.count("*").cast("long").alias("n_triples"),
            F.countDistinct("subj").cast("long").alias("n_subj"),
            F.countDistinct("obj").cast("long").alias("n_obj"),
            F.countDistinct("subj", "obj").cast("long").alias("n_pairs"),
        )
        .select(
            "pred",
            "n_triples",
            "n_subj",
            "n_obj",
            (F.col("n_pairs") == F.col("n_subj")).alias("is_functional"),
            (F.col("n_pairs") == F.col("n_obj")).alias("is_inverse_functional"),
        )
    )


def resolve_functional(triples: DataFrame) -> DataFrame:
    """One canonical object per (subj, pred): highest support, then
    smallest object.  Returns ``(subj, pred, obj, support, n_alternatives)``
    — ``n_alternatives`` > 1 marks rows where a conflict was resolved.

    Implementation: support counts, then ``min(struct(-support, obj))`` —
    an associative-commutative aggregate, so the winner is identical under
    any partitioning (unlike window ``row_number`` whose per-group sort
    would put the hottest subject's whole history in one task).
    """
    support = triples.groupBy("subj", "pred", "obj").agg(
        F.count("*").cast("long").alias("support")
    )
    best = (
        support.groupBy("subj", "pred")
        .agg(
            F.min(
                F.struct((-F.col("support")).alias("neg"), F.col("obj").alias("obj"))
            ).alias("w"),
            F.count("*").cast("long").alias("n_alternatives"),
        )
        .select(
            "subj",
            "pred",
            F.col("w.obj").alias("obj"),
            (-F.col("w.neg")).cast("long").alias("support"),
            "n_alternatives",
        )
    )
    return best


def _hash48(*cols) -> F.Column:
    """First 48 bits of md5 as a non-negative long — portable: any engine
    with md5/substr/hex-parse reproduces it (DuckDB:
    ``('0x' || substr(md5(x), 1, 12))::BIGINT``)."""
    return F.conv(F.substring(F.md5(F.concat(*cols)), 1, 12), 16, 10).cast("long")


def indexed_objects(triples: DataFrame) -> DataFrame:
    """Distinct objects with a dense deterministic index in
    [0, n_objects): position in (md5-bucket, obj) lexicographic order,
    assigned by ``scan.exclusive_scan`` as an exclusive count over the
    65536 md5 buckets (no global sort).
    Returns ``(obj, idx)``."""
    objs = triples.select("obj").distinct()
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit("idx"), F.col("obj"))), 1, 4), 16, 10
    ).cast("long")
    return exclusive_scan(objs, bucket, ["obj"], sums={"idx": F.lit(1)})


def negative_samples(
    triples: DataFrame, n_per: int = 2, seed: str = "neg-v1"
) -> DataFrame:
    """Filtered corrupt-object negatives: ``(subj, pred, obj, neg_obj,
    draw)`` — up to ``n_per`` rows per positive (draws that hit the true
    object or any other true triple are dropped, per the local closed
    world assumption).

    Scale shape: one distinct + index pass over objects, one explode by
    ``n_per``, one equi-join draw→index (AQE broadcasts the vocabulary
    when it fits; for web-scale vocabularies it is a plain hash join),
    one anti-join against the triple set.  No randomness, no driver loop.
    """
    if n_per < 1:
        # F.sequence(0, n_per - 1) with n_per == 0 would DESCEND ([0, -1])
        # and emit two draws instead of zero — refuse instead.
        raise ValueError(f"negative_samples: n_per must be >= 1, got {n_per}")
    vocab = indexed_objects(triples)
    n_objs = vocab.groupBy().agg(F.count("*").alias("n_objs"))
    sep = F.lit("\x1f")
    expanded = (
        triples.select("subj", "pred", "obj")
        .distinct()
        .crossJoin(F.broadcast(n_objs))
        .select(
            "subj",
            "pred",
            "obj",
            F.explode(F.sequence(F.lit(0), F.lit(n_per - 1))).alias("draw"),
            "n_objs",
        )
        .withColumn(
            "pick",
            F.pmod(
                _hash48(
                    F.lit(seed),
                    F.col("subj"),
                    sep,
                    F.col("pred"),
                    sep,
                    F.col("obj"),
                    sep,
                    F.col("draw").cast("string"),
                ),
                F.col("n_objs"),
            ).cast("long"),
        )
    )
    vocab_n = vocab.select(F.col("obj").alias("neg_obj"), "idx")
    drawn = (
        expanded.join(vocab_n, expanded["pick"] == vocab_n["idx"])
        .select("subj", "pred", "obj", "neg_obj", "draw")
        .filter(F.col("neg_obj") != F.col("obj"))
    )
    true_triples = triples.select(
        F.col("subj").alias("t_subj"),
        F.col("pred").alias("t_pred"),
        F.col("obj").alias("t_obj"),
    )
    return drawn.join(
        true_triples,
        (drawn["subj"] == true_triples["t_subj"])
        & (drawn["pred"] == true_triples["t_pred"])
        & (drawn["neg_obj"] == true_triples["t_obj"]),
        "left_anti",
    )


def resolve_weighted(
    triples: DataFrame,
    weights: DataFrame,
    source_col: str = "source",
    default_weight_fp: int = 0,
) -> DataFrame:
    """Source-weighted truth discovery: one canonical object per
    (subj, pred), where each asserting row votes with its SOURCE's
    weight instead of 1 — the weighted generalization of
    :func:`resolve_functional` (majority voting is the special case of
    all-equal weights, the baseline in the truth-discovery literature,
    e.g. Yin et al., TruthFinder, KDD'07).

    ``triples`` must carry ``source_col``; ``weights`` is a small
    ``(source, weight_fp)`` table of INTEGER fixed-point weights (scale
    chosen by the caller, e.g. 1000 = 1.0) — integer support keeps the
    winner exact under any partitioning and any fetch path.  Sources
    absent from the table contribute ``default_weight_fp``.

    Winner = max total weighted support, ties broken by smallest object
    — the same associative ``min(struct(-support, obj))`` shape as
    ``resolve_functional``: no per-group window sort, hot subjects
    combine map-side.  ``weights`` broadcasts (a source catalog is tiny
    by construction).
    """
    w = F.broadcast(
        weights.select(
            F.col("source").alias("__src"),
            F.col("weight_fp").cast("long").alias("__w"),
        )
    )
    voted = (
        triples.join(w, F.col(source_col) == F.col("__src"), "left")
        .withColumn("__w", F.coalesce("__w", F.lit(int(default_weight_fp))))
    )
    support = voted.groupBy("subj", "pred", "obj").agg(
        F.sum("__w").cast("long").alias("support_fp")
    )
    return (
        support.groupBy("subj", "pred")
        .agg(
            F.min(
                F.struct(
                    (-F.col("support_fp")).alias("neg"), F.col("obj").alias("obj")
                )
            ).alias("w"),
            F.count(F.lit(1)).cast("long").alias("n_alternatives"),
        )
        .select(
            "subj",
            "pred",
            F.col("w.obj").alias("obj"),
            (-F.col("w.neg")).cast("long").alias("support_fp"),
            "n_alternatives",
        )
    )


def entity_cooccurrence_pmi(
    mentions: DataFrame,
    group_col: str = "conv_id",
    entity_col: str = "norm",
    *,
    min_co: int = 2,
    max_entities_per_group: int = 1000,
) -> DataFrame:
    """Entity-level PMI collocation: which entities co-occur in the same
    conversation MORE than their individual frequencies predict — the
    KG-curation signal for proposing candidate relations between
    canonical entities (the entity-granularity analogue of the token
    bigram PMI in ``textops/ranking.py``).

    Over groups (conversations) as contexts: ``pmi(e1, e2) =
    ln((n12 * C) / (n1 * n2))`` with n12 = co-mentioning groups, n_i =
    mentioning groups, C = total groups — ONE ln over an exact integer
    ratio (engine-identical doubles), exact counts everywhere else.

    Skew guard: the within-group pair generator is quadratic in a
    group's DISTINCT entity count, so groups above
    ``max_entities_per_group`` are dropped (counted against C all the
    same) — the documented cap discipline of the dedup/linking family; a
    conversation mentioning 10^4 entities is ingestion garbage, not
    signal.  Output: ``(e1, e2, n12, n1, n2, pmi)`` for pairs with
    ``n12 >= min_co``, e1 < e2.
    """
    cn = (
        mentions.select(
            F.col(group_col).alias("g"), F.col(entity_col).alias("e")
        )
        .distinct()
    )
    sizes = cn.groupBy("g").agg(F.count(F.lit(1)).alias("n_ents"))
    small = sizes.filter(F.col("n_ents") <= max_entities_per_group).select("g")
    cn_k = cn.join(F.broadcast(small), "g", "left_semi")

    c_total = cn.select(F.countDistinct("g").alias("c"))
    ent = cn_k.groupBy("e").agg(F.countDistinct("g").cast("long").alias("n_e"))
    a, b = cn_k.alias("a"), cn_k.alias("b")
    pairs = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.e") < F.col("b.e")))
        .groupBy(F.col("a.e").alias("e1"), F.col("b.e").alias("e2"))
        .agg(F.count(F.lit(1)).cast("long").alias("n12"))
        .filter(F.col("n12") >= min_co)
    )
    return (
        pairs.join(F.broadcast(ent.withColumnRenamed("e", "e1").withColumnRenamed("n_e", "n1")), "e1")
        .join(F.broadcast(ent.withColumnRenamed("e", "e2").withColumnRenamed("n_e", "n2")), "e2")
        .crossJoin(F.broadcast(c_total))
        .select(
            "e1",
            "e2",
            "n12",
            "n1",
            "n2",
            F.log(
                (F.col("n12") * F.col("c")).cast("double")
                / (F.col("n1") * F.col("n2")).cast("double")
            ).alias("pmi"),
        )
    )


def schema_cooccurrence(triples: DataFrame) -> DataFrame:
    """Schema discovery over an extracted KG: which predicate PAIRS share
    subjects, and how often — the emergent-schema statistic (Pham et al.
    WWW'15 "characteristic sets" pairwise marginal) that drives both
    star-query planning and mapping-rule QA (a predicate pair that should
    always co-occur but doesn't marks extraction gaps).

    Output: ``(p1, p2, n_subjects, n_p1, n_p2, jaccard)`` for p1 < p2
    with nonzero co-occurrence; ``jaccard`` is the one double division
    over exact subject-set sizes.

    Scale shape: one distinct (subj, pred) projection; the subject-keyed
    self-join fan-out is bounded by the schema width squared per subject
    (predicates-per-subject is a schema property, single digits in
    practice), then a |P|^2-row aggregate.
    """
    sp = triples.select("subj", "pred").distinct()
    sizes = sp.groupBy("pred").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a, b = sp.alias("a"), sp.alias("b")
    pairs = (
        a.join(b, (F.col("a.subj") == F.col("b.subj")) & (F.col("a.pred") < F.col("b.pred")))
        .groupBy(F.col("a.pred").alias("p1"), F.col("b.pred").alias("p2"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_subjects"))
    )
    return (
        pairs.join(F.broadcast(sizes.withColumnRenamed("pred", "p1").withColumnRenamed("n", "n_p1")), "p1")
        .join(F.broadcast(sizes.withColumnRenamed("pred", "p2").withColumnRenamed("n", "n_p2")), "p2")
        .select(
            "p1",
            "p2",
            "n_subjects",
            "n_p1",
            "n_p2",
            (
                F.col("n_subjects")
                / (F.col("n_p1") + F.col("n_p2") - F.col("n_subjects")).cast("double")
            ).alias("jaccard"),
        )
    )


def degree_histogram(triples: DataFrame) -> DataFrame:
    """Per-predicate out-degree distribution on a log₂ scale: for each
    predicate, how many subjects have ``2^b <= deg < 2^(b+1)`` outgoing
    arcs — ``(pred, bucket, n_subjects)`` with the bucket computed
    EXACTLY from the binary-representation length (no float log — the
    ``timeseries.gap_histogram`` idiom applied to graph shape).  This is
    the first chart of every KG health review: functional predicates
    pile at bucket 0, hub predicates grow a heavy tail, and a tail that
    appears release-over-release is the extraction-regression signal
    ``predicate_profile``'s single-row summary can't show.

    Two combine-able aggregations ((subj, pred) degree, then the
    histogram) — word-count-shaped shuffles, predicate×~60 output rows.
    """
    deg = triples.groupBy("pred", "subj").agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    bucket = F.length(F.expr("bin(deg)")) - 1
    return (
        deg.select("pred", bucket.cast("long").alias("bucket"))
        .groupBy("pred", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_subjects"))
    )

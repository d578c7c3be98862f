"""Weisfeiler-Leman structural fingerprints for per-group subgraphs.

Conversation transcripts that are *structurally* identical — same turn
count, same role sequence, same tool-call pattern, same mention topology
— are near-duplicates for KG-construction purposes even when every
entity NAME differs (templated agent runs, replayed sessions, localized
copies).  Text-level dedup (minhash/simhash over the rendered text)
misses these because the surface strings differ; graph-level dedup
catches them by hashing the SHAPE of each conversation's subgraph.

The kernel is 1-dimensional Weisfeiler-Leman color refinement
(Weisfeiler & Leman 1968; the modern treatment is Shervashidze et al.,
JMLR 2011, "Weisfeiler-Lehman graph kernels"):

  color_0(v)   = md5(seed)                       (constant: node names
                                                  deliberately ignored)
  color_r+1(v) = md5(color_r(v) || '#' ||
                 sorted multiset of 'o|lbl|color_r(u)' for out-edges
                                    'i|lbl|color_r(u)' for in-edges)
  sig(G)       = md5(sorted multiset of color_R(v) over v in G)

Isomorphic labeled multigraphs always get equal signatures;
WL is incomplete in general (rare regular counterexamples collide), so
equal signatures at equal (n_nodes, n_edges) is the standard
high-precision candidate test — exactly the role minhash bands play for
text.  Everything is md5-over-sorted-strings, so a single-threaded SQL
engine replays it exactly: the driver oracle unrolls the same rounds in
DuckDB and the results are hash-identical.

Scale shape (10^12-turn corpus): every step keys on (gid, node) or
(gid) — work is CONVERSATION-LOCAL, so the job is embarrassingly
parallel across conversations and no join key is hotter than the
largest single conversation (degree <= turns per conversation; there is
no corpus-wide hub).  Each round costs two equi-joins (edge endpoint ->
color) plus one combine-able groupBy; rounds are fixed and small
(default 3 — radius-3 neighborhoods separate transcript shapes long
before that), and lineage is cut per round so the plan stays flat.

Reference anchor: the reference engine (ghsnd/mopper) has no graph-dedup
notion — this extends its per-sink statement dedup
(src/sink/writer_sink.rs:25-73, exact-duplicate suppression) to
whole-subgraph structural identity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mopper_spark.scan import exclusive_scan

WL_SEED = "wl0"


def _nodes(edges: DataFrame) -> DataFrame:
    return (
        edges.select("gid", F.col("src").alias("node"))
        .unionByName(edges.select("gid", F.col("dst").alias("node")))
        .distinct()
    )


def wl_colors(edges: DataFrame, *, rounds: int = 3) -> DataFrame:
    """Color-refine a multigraph given as ``(gid, src, lbl, dst)`` rows
    (one row per directed labeled edge; duplicates are edge multiplicity
    and DO count in the multiset hash).  Returns ``(gid, node, color)``
    with ``color`` the round-``rounds`` WL color (md5 hex).
    """
    if rounds < 1:
        raise ValueError(f"wl_colors: rounds must be >= 1, got {rounds}")
    colors = _nodes(edges).withColumn("color", F.md5(F.lit(WL_SEED)))
    for _ in range(rounds):
        out_msgs = edges.join(
            colors.withColumnRenamed("node", "dst"), ["gid", "dst"]
        ).select(
            "gid",
            F.col("src").alias("node"),
            F.concat_ws("|", F.lit("o"), F.col("lbl"), F.col("color")).alias("msg"),
        )
        in_msgs = edges.join(
            colors.withColumnRenamed("node", "src"), ["gid", "src"]
        ).select(
            "gid",
            F.col("dst").alias("node"),
            F.concat_ws("|", F.lit("i"), F.col("lbl"), F.col("color")).alias("msg"),
        )
        neigh = (
            out_msgs.unionByName(in_msgs)
            .groupBy("gid", "node")
            .agg(F.concat_ws(",", F.sort_array(F.collect_list("msg"))).alias("ms"))
        )
        # left join: an isolated node (none here — every node is an edge
        # endpoint by construction — but keep the algebra total) keeps an
        # empty multiset, mirroring the oracle's coalesce(ms, '').
        colors = (
            colors.join(neigh, ["gid", "node"], "left")
            .select(
                "gid",
                "node",
                F.md5(
                    F.concat(F.col("color"), F.lit("#"), F.coalesce("ms", F.lit("")))
                ).alias("color"),
            )
            .localCheckpoint(eager=False)
        )
    return colors


def wl_fingerprints(edges: DataFrame, *, rounds: int = 3) -> DataFrame:
    """Per-group structural signature: ``(gid, wl_sig, n_nodes, n_edges)``.

    ``wl_sig`` is the md5 of the sorted multiset of final node colors —
    invariant under ANY renaming of nodes (and any row order), sensitive
    to any change in the labeled structure WL can see.
    """
    colors = wl_colors(edges, rounds=rounds)
    sig = colors.groupBy("gid").agg(
        F.md5(F.concat_ws(",", F.sort_array(F.collect_list("color")))).alias("wl_sig"),
        F.count(F.lit(1)).alias("n_nodes"),
    )
    sizes = edges.groupBy("gid").agg(F.count(F.lit(1)).alias("n_edges"))
    return sig.join(sizes, "gid")


def canonical_blank_labels(
    triples: DataFrame, *, prefix: str = "_:c", label_style: str = "rank"
) -> DataFrame:
    """Canonicalize blank-node labels in a ``(subj, pred, obj)`` triple
    set (N-Triples lexical convention: blank terms start with ``_:``).

    Two emissions of the same logical graph — e.g. the RML BlankNode
    term map re-run over re-partitioned input, or a pipeline re-release
    that mints blank labels in a different order — differ ONLY in blank
    labels.  Canonical relabeling makes such graphs byte-comparable, so
    graph diffing / regression-gating between KG versions becomes a set
    difference instead of an isomorphism search.

    Scope: blank nodes whose every neighbor is a GROUND term (IRI or
    literal) — the shape RML/ShExML BlankNode term maps produce, where
    each blank is keyed by row fields and links named turns/entities.
    A triple with blank subject AND blank object is refused (full
    RDFC-1.0 / URDNA2015 N-degree hashing is out of scope; the refusal
    is tested by name).

    Method: each blank's signature is the md5 of the sorted multiset of
    its incident edges with the blank position masked
    (``s|pred|obj`` / ``o|pred|subj``) — name-independent by
    construction.  Canonical label = ``prefix + rank`` with ranks in
    signature order.  Blanks with EQUAL signatures have identical
    incident-edge multisets, hence are interchangeable: any assignment
    of the tied ranks emits the same triple SET, so the output is
    canonical even though the within-tie order (broken by the original
    label for execution determinism) is not.

    ``label_style``:

    - ``"rank"`` (default): label = ``prefix + rank`` in global
      signature order — the compact canonical serialization.  Ranks
      renumber when triples elsewhere change, so rank labels are for
      byte-comparing SNAPSHOTS, not for diffing versions.
    - ``"sig"``: label = ``prefix + sig [- tie index]`` — labels are a
      pure function of the blank's own neighborhood, so an edit
      elsewhere in the graph leaves unaffected blanks' labels (and
      their triples) untouched.  This is what makes ``graph_diff``
      report only genuinely changed statements.

    Scale shape: the rank is a global total order, but it is computed
    WITHOUT a single-partition sort — signatures are md5-uniform, so
    ``scan.exclusive_scan`` bucketed on the first byte (256 buckets)
    reproduces the global ``ORDER BY sig`` rank with only bucket-local
    sorts.  Everything else is two equi-joins.
    """
    from pyspark.sql import Window

    if label_style not in ("rank", "sig"):
        raise ValueError(f"canonical_blank_labels: unknown style {label_style!r}")
    s_blank = F.col("subj").startswith("_:")
    o_blank = F.col("obj").startswith("_:")
    both = triples.filter(s_blank & o_blank)
    if both.limit(1).count() > 0:
        raise ValueError(
            "canonical_blank_labels: blank-blank edges present — "
            "N-degree blank hashing (URDNA2015) is not implemented"
        )
    msgs = (
        triples.filter(s_blank)
        .select(
            F.col("subj").alias("b"),
            F.concat_ws("|", F.lit("s"), F.col("pred"), F.col("obj")).alias("msg"),
        )
        .unionByName(
            triples.filter(o_blank).select(
                F.col("obj").alias("b"),
                F.concat_ws("|", F.lit("o"), F.col("pred"), F.col("subj")).alias(
                    "msg"
                ),
            )
        )
    )
    sigs = msgs.groupBy("b").agg(
        F.md5(F.concat_ws(",", F.sort_array(F.collect_list("msg")))).alias("sig")
    )
    if label_style == "sig":
        # tie index only materializes on equal signatures (interchangeable
        # blanks); the window is per-sig, so no global sort exists at all.
        labels = sigs.withColumn(
            "k", F.count(F.lit(1)).over(Window.partitionBy("sig"))
        ).select(
            "b",
            F.when(
                F.col("k") == 1, F.concat(F.lit(prefix), F.col("sig"))
            )
            .otherwise(
                F.concat(
                    F.lit(prefix),
                    F.col("sig"),
                    F.lit("-"),
                    F.row_number().over(Window.partitionBy("sig").orderBy("b")),
                )
            )
            .alias("lab"),
        )
        return _relabel(triples, labels)
    ranked = exclusive_scan(
        sigs,
        F.conv(F.substring("sig", 1, 2), 16, 10).cast("int"),
        ["sig", "b"],
        sums={"below": F.lit(1)},
    )
    labels = ranked.select(
        "b", F.concat(F.lit(prefix), F.col("below") + 1).alias("lab")
    )
    return _relabel(triples, labels)


def _relabel(triples: DataFrame, labels: DataFrame) -> DataFrame:
    return (
        triples.join(labels.withColumnRenamed("b", "subj"), "subj", "left")
        .withColumnRenamed("lab", "slab")
        .join(labels.withColumnRenamed("b", "obj"), "obj", "left")
        .select(
            F.coalesce("slab", "subj").alias("subj"),
            "pred",
            F.coalesce("lab", "obj").alias("obj"),
        )
    )


def graph_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Statement-level diff of two KG versions MODULO blank-node naming.

    Both sides are relabeled with ``label_style="sig"`` (labels a pure
    function of each blank's neighborhood), then set-compared: a blank
    whose neighborhood is unchanged keeps its label across versions, so
    only statements that genuinely appeared/disappeared survive the
    anti-joins — a raw diff would instead flag every statement touching
    any blank whose arbitrary input label drifted between runs.

    Returns ``(subj, pred, obj, status)`` with status ``added`` (in new
    only) / ``removed`` (in old only).  Set semantics (inputs are
    statement SETS per the RDF data model; duplicates are collapsed).
    Cost: two canonicalizations + two anti-joins on the full statement
    key — the joins are on md5-uniform strings, no skew.
    """
    a = canonical_blank_labels(old, label_style="sig").distinct()
    b = canonical_blank_labels(new, label_style="sig").distinct()
    key = ["subj", "pred", "obj"]
    added = b.join(a, key, "left_anti").withColumn("status", F.lit("added"))
    removed = a.join(b, key, "left_anti").withColumn("status", F.lit("removed"))
    return added.unionByName(removed)


def wl_dedup(fingerprints: DataFrame) -> DataFrame:
    """Group signatures into structural-duplicate classes.

    Returns ``(gid, wl_sig, n_nodes, n_edges, canonical_gid, group_size,
    is_canonical)`` — the survivor is the lexicographically smallest gid
    of its class (same keep-rule as the text-dedup decision list).  The
    class key includes (n_nodes, n_edges) so a WL collision across
    different-sized graphs can never merge classes.
    """
    key = ["wl_sig", "n_nodes", "n_edges"]
    groups = fingerprints.groupBy(*key).agg(
        F.min("gid").alias("canonical_gid"),
        F.count(F.lit(1)).alias("group_size"),
    )
    return fingerprints.join(groups, key).select(
        "gid",
        "wl_sig",
        "n_nodes",
        "n_edges",
        "canonical_gid",
        "group_size",
        (F.col("gid") == F.col("canonical_gid")).alias("is_canonical"),
    )

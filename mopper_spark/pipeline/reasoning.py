"""RDFS and OWL 2 RL entailment materialization — the forward-chaining
closure every triple store ships (e.g. Jena RDFS reasoner, Oxigraph
ruleset), expressed as one semi-naive datalog loop over DataFrames — plus
owl:sameAs smushing and RDF collection/container unfolding.

Rules (W3C RDF 1.1 Semantics §9.2.1 and OWL 2 Profiles §4.3, names kept):

    rdfs5    (p subPropertyOf q), (q subPropertyOf r)  ->  (p subPropertyOf r)
    rdfs11   (C subClassOf D), (D subClassOf E)        ->  (C subClassOf E)
    rdfs7    (s p o), (p subPropertyOf q)              ->  (s q o)
    rdfs2    (s p o), (p domain C)                     ->  (s rdf:type C)
    rdfs3    (s p o), (p range  C)                     ->  (o rdf:type C)
    rdfs9    (s rdf:type C), (C subClassOf D)          ->  (s rdf:type D)
  OWL (``owl_rl_lite`` only):
    eq-rep   (p equivalentProperty q), (C equivalentClass D) compiled to
             mutual subPropertyOf / subClassOf statements (prp-eqp1/2 and
             cax-eqc1/2 then fall out of rdfs7/rdfs9)
    prp-trp  (p type TransitiveProperty), (s p o), (o p o2) -> (s p o2)
    prp-inv  (p inverseOf q), (s p o) -> (o q s);  (s q o) -> (o p s)
    prp-symp (p type SymmetricProperty), (s p o) -> (o p s), run as
             prp-inv with q = p (a symmetric property is its own inverse)

The reference engine (ghsnd/mopper) CONSTRUCTS graphs from rows
(src/operator/serializer.rs); materializing what those graphs entail is
the canonical next step a KG-construction pipeline owes its consumers.

Evaluation (``_seminaive``, behind all three entry points): the schema
relations — the subPropertyOf and subClassOf closures, domain, range,
and for OWL the inverse pairs and transitive properties — are closed
once (rdfs5/rdfs11 emitted from the closures) and are the only broadcast
join sides.  Every other rule pairs ONE instance premise with schema
premises, so a round applies the chained stages rdfs7 -> rdfs2/3 ->
rdfs9 (-> prp-trp -> prp-inv/symp) to the frontier alone, and what the
graph lacks becomes the next frontier; a stratified schema takes two
rounds, the second deriving nothing.  prp-trp, the one rule with two
instance premises, keeps its per-predicate closure as loop state and
re-closes it (``graph._doubling_closure``: log(depth) rounds, transcripts
chain hundreds of turns deep) only for transitive edges it lacks.  A
round that derives a vocabulary statement (the schema redefines the
vocabulary, e.g. p subPropertyOf rdfs:subPropertyOf) closes the schema
again and makes the whole graph the next frontier: exact, only slower.
Lineage is cut with local checkpoints inside
``graph._constraint_propagation_off`` (engine note there).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mopper_spark.pipeline.cc import connected_components
from mopper_spark.pipeline.graph import (
    _constraint_propagation_off,
    _doubling_closure,
    transitive_closure,
)

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDFS_NS = "http://www.w3.org/2000/01/rdf-schema#"
RDFS_SUBCLASS = RDFS_NS + "subClassOf"
RDFS_SUBPROP = RDFS_NS + "subPropertyOf"
RDFS_DOMAIN = RDFS_NS + "domain"
RDFS_RANGE = RDFS_NS + "range"

OWL_NS = "http://www.w3.org/2002/07/owl#"
OWL_INVERSE_OF = OWL_NS + "inverseOf"
OWL_SYMMETRIC = OWL_NS + "SymmetricProperty"
OWL_TRANSITIVE = OWL_NS + "TransitiveProperty"
OWL_EQ_PROPERTY = OWL_NS + "equivalentProperty"
OWL_EQ_CLASS = OWL_NS + "equivalentClass"
OWL_SAMEAS = OWL_NS + "sameAs"

_SPO = ("subj", "pred", "obj")
_RDFS_VOCAB = (RDFS_SUBCLASS, RDFS_SUBPROP, RDFS_DOMAIN, RDFS_RANGE)


def _pairs(
    g: DataFrame, pred_iri: str, a: str = "src", b: str = "dst"
) -> DataFrame:
    """The (subj, obj) of one predicate's statements, named (a, b)."""
    return g.filter(F.col("pred") == pred_iri).select(
        F.col("subj").alias(a), F.col("obj").alias(b)
    )


def _statements(pairs: DataFrame, pred_iri: str) -> DataFrame:
    """(src, dst) pairs as ``pred_iri`` statements."""
    return pairs.select(
        F.col("src").alias("subj"),
        F.lit(pred_iri).alias("pred"),
        F.col("dst").alias("obj"),
    )


def _both_ways(pairs: DataFrame) -> DataFrame:
    a, b = pairs.columns
    return pairs.unionByName(pairs.select(F.col(b).alias(a), F.col(a).alias(b)))


def _typed(g: DataFrame, cls: str) -> DataFrame:
    """The subjects typed ``cls``, as column p."""
    return g.filter((F.col("pred") == RDF_TYPE) & (F.col("obj") == cls)).select(
        F.col("subj").alias("p")
    )


def _vocabulary(owl: bool) -> Column:
    """The statements that change the schema when derived."""
    if not owl:
        return F.col("pred").isin(*_RDFS_VOCAB)
    return F.col("pred").isin(
        *_RDFS_VOCAB, OWL_INVERSE_OF, OWL_EQ_PROPERTY, OWL_EQ_CLASS
    ) | (
        (F.col("pred") == RDF_TYPE)
        & F.col("obj").isin(OWL_TRANSITIVE, OWL_SYMMETRIC)
    )


class _Schema(NamedTuple):
    spc: DataFrame  # subPropertyOf closure (src, dst)
    scc: DataFrame  # subClassOf closure (src, dst)
    dom: DataFrame  # (p, cls)
    rng: DataFrame  # (p, cls)
    inv: DataFrame | None  # OWL: (p, q) for prp-inv, and prp-symp as q = p
    trans: DataFrame | None  # OWL: transitive properties (p)


def _schema(g: DataFrame, owl: bool, *, close: bool) -> _Schema:
    """The schema relations of ``g``.  With ``close`` the subPropertyOf
    and subClassOf relations are closed here; without, ``g`` must be
    closed already, so its own statements are the closures."""

    def small(df: DataFrame) -> DataFrame:
        return df.distinct().localCheckpoint(eager=False)

    sp, sc = _pairs(g, RDFS_SUBPROP), _pairs(g, RDFS_SUBCLASS)
    inv = trans = None
    if owl:
        sp = sp.unionByName(_both_ways(_pairs(g, OWL_EQ_PROPERTY)))
        sc = sc.unionByName(_both_ways(_pairs(g, OWL_EQ_CLASS)))
        # a symmetric property is its own inverse: prp-symp is prp-inv
        # with q = p
        inv = small(
            _both_ways(_pairs(g, OWL_INVERSE_OF, "p", "q")).unionByName(
                _typed(g, OWL_SYMMETRIC).select("p", F.col("p").alias("q"))
            )
        )
        trans = small(_typed(g, OWL_TRANSITIVE))
    return _Schema(
        transitive_closure(sp) if close else small(sp),
        transitive_closure(sc) if close else small(sc),
        small(_pairs(g, RDFS_DOMAIN, "p", "cls")),
        small(_pairs(g, RDFS_RANGE, "p", "cls")),
        inv,
        trans,
    )


def _stage(d: DataFrame, *derived: DataFrame) -> DataFrame:
    """``d`` with one rule stage's output added, lineage cut.  Duplicates
    stay until the round's end (one distinct there, not one shuffle per
    stage)."""
    for r in derived:
        d = d.unionByName(r)
    return d.localCheckpoint(eager=False)


def _derive(
    frontier: DataFrame, s: _Schema, closure: DataFrame | None
) -> tuple[DataFrame, DataFrame | None]:
    """One round of chained rule stages over ``frontier``; returns the
    frontier with its consequences, and the prp-trp closure."""
    d = _stage(
        frontier,
        frontier.join(F.broadcast(s.spc), F.col("pred") == F.col("src")).select(
            "subj", F.col("dst").alias("pred"), "obj"
        ),  # rdfs7
    )
    d = _stage(
        d,
        d.join(F.broadcast(s.dom), F.col("pred") == F.col("p")).select(
            "subj", F.lit(RDF_TYPE).alias("pred"), F.col("cls").alias("obj")
        ),  # rdfs2
        d.join(F.broadcast(s.rng), F.col("pred") == F.col("p")).select(
            F.col("obj").alias("subj"),
            F.lit(RDF_TYPE).alias("pred"),
            F.col("cls").alias("obj"),
        ),  # rdfs3
    )
    d = _stage(
        d,
        d.filter(F.col("pred") == RDF_TYPE)
        .join(F.broadcast(s.scc), F.col("obj") == F.col("src"))
        .select("subj", "pred", F.col("dst").alias("obj")),  # rdfs9
    )
    if s.trans is None:
        return d, closure

    # prp-trp: close again only over transitive edges the closure lacks
    edges = d.join(F.broadcast(s.trans), F.col("pred") == F.col("p")).select(
        "pred", F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    if closure is not None:
        edges = edges.join(closure, ["pred", "src", "dst"], "left_anti")
    edges = edges.localCheckpoint(eager=False)
    if not edges.isEmpty():
        closure = _doubling_closure(
            edges if closure is None else closure.unionByName(edges),
            ("pred",),
            max_iters=20,
        )
        d = _stage(
            d,
            closure.select(
                F.col("src").alias("subj"), "pred", F.col("dst").alias("obj")
            ),
        )
    return _stage(
        d,
        d.join(F.broadcast(s.inv), F.col("pred") == F.col("p")).select(
            F.col("obj").alias("subj"),
            F.col("q").alias("pred"),
            F.col("subj").alias("obj"),
        ),  # prp-inv, prp-symp
    ), closure


def _seminaive(
    g: DataFrame, frontier: DataFrame, *, owl: bool, max_rounds: int, label: str
) -> DataFrame:
    """The closure of ``g ∪ frontier``, where ``g`` is already closed.

    Each round runs ``_derive`` over the frontier and keeps what ``g``
    lacks as the next frontier.  The schema is read from ``g`` on the
    first round; when the new statements hold a vocabulary statement it
    is closed instead, its rdfs5/rdfs11 statements join ``g``, and the
    whole of ``g`` is the frontier.  Raises when round ``max_rounds``
    still derived statements."""
    vocab = _vocabulary(owl)
    with _constraint_propagation_off(frontier.sparkSession):
        g = g.select(*_SPO).distinct().localCheckpoint(eager=True)
        new = (
            frontier.select(*_SPO)
            .distinct()
            .join(g, list(_SPO), "left_anti")
            .localCheckpoint(eager=False)
        )
        schema, closure = None, None
        for rnd in range(max_rounds + 1):
            n, n_vocab = new.agg(F.count(F.lit(1)), F.count_if(vocab)).first()
            if n == 0:
                return g
            if rnd == max_rounds:
                raise RuntimeError(
                    f"{label} did not converge in {max_rounds} rounds; the "
                    "rules feed each other deeper than that (vocabulary "
                    "redefined, or symmetric and transitive properties "
                    "combined) — raise max_rounds"
                )
            g = g.unionAll(new).localCheckpoint(eager=False)
            frontier = new
            if n_vocab:
                schema = _schema(g, owl, close=True)
                entailed = _statements(schema.spc, RDFS_SUBPROP).unionByName(
                    _statements(schema.scc, RDFS_SUBCLASS)
                )  # rdfs5, rdfs11, eq-rep
                g = g.unionAll(
                    entailed.join(g, list(_SPO), "left_anti")
                ).localCheckpoint(eager=False)
                frontier = g
            elif schema is None:
                schema = _schema(g, owl, close=False)
            derived, closure = _derive(frontier, schema, closure)
            new = (
                derived.join(g, list(_SPO), "left_anti")
                .distinct()
                .localCheckpoint(eager=False)
            )


def rdfs_entailment(triples: DataFrame, *, max_rounds: int = 4) -> DataFrame:
    """Materialize the RDFS closure of ``triples`` (columns subj, pred,
    obj; schema and instance statements mixed, RDF style).

    Returns the full entailed graph — asserted plus inferred statements,
    distinct.  ``range`` statements must only be declared for predicates
    whose objects are resources (RDF forbids literal subjects; the rule
    is applied verbatim, so a range on a literal-valued predicate would
    mint literal subjects).

    Raises when round ``max_rounds`` of the semi-naive loop still
    derived statements: a stratified schema takes two rounds, and each
    vocabulary redefinition (e.g. p subPropertyOf rdfs:subPropertyOf) a
    derivation passes through adds rounds.
    """
    return _seminaive(
        triples.limit(0), triples, owl=False, max_rounds=max_rounds,
        label="rdfs_entailment",
    )


def rdfs_entailment_delta(
    base_closed: DataFrame, delta: DataFrame, *, max_rounds: int = 4
) -> DataFrame:
    """Incremental RDFS closure maintenance: given a graph that is
    ALREADY closed (``rdfs_entailment`` output) and a batch of new
    INSTANCE statements, return the closure of base ∪ delta — equal to
    ``rdfs_entailment(base ∪ delta)`` — deriving from the delta alone.

    This is the streaming-scale form of the reasoner: at 10^12-turn
    scale the closed graph is petabyte-class and must never be
    recomputed because one conversation batch arrived.  It is the
    semi-naive loop of ``rdfs_entailment`` with the closed base as the
    graph and the delta as the first frontier: schema-broadcast joins
    against the frontier alone plus one anti-join against the graph.

    ``delta`` must contain NO asserted RDFS-vocabulary statements
    (subClassOf / subPropertyOf / domain / range); the function raises a
    ``ValueError`` naming the offending predicates.  RDFS is monotone,
    so a new schema statement invalidates nothing already derived — but
    it applies to every statement of the base, not just the delta, and
    that breaks the O(|delta|) contract; recompute with
    ``rdfs_entailment`` instead.  ``rdf:type`` statements are fine
    (rdfs9 applies through the broadcast class closure).  An instance
    statement that DERIVES a schema statement (its predicate is declared
    below a vocabulary term, e.g. p subPropertyOf rdfs:subPropertyOf)
    is accepted and stays exact: the loop closes the schema again and
    takes the whole graph as its next frontier, at full-recompute cost.
    """
    bad = (
        delta.filter(F.col("pred").isin(*_RDFS_VOCAB))
        .select("pred")
        .distinct()
        .limit(5)
        .collect()
    )
    if bad:
        raise ValueError(
            "rdfs_entailment_delta: delta contains RDFS schema statements "
            f"({sorted(r.pred for r in bad)}); a schema statement applies "
            "to the whole base, not just the delta — recompute with "
            "rdfs_entailment"
        )
    return _seminaive(
        base_closed, delta, owl=False, max_rounds=max_rounds,
        label="rdfs_entailment_delta",
    )


def owl_rl_lite(triples: DataFrame, *, max_rounds: int = 6) -> DataFrame:
    """Materialize the closure of ``triples`` under the OWL 2 RL property
    rules (equivalentProperty/Class, inverseOf, SymmetricProperty,
    TransitiveProperty) plus the full RDFS ruleset — the schema-driven
    entailment layer a KG-construction pipeline owes consumers who query
    the graph through an ontology (the reference emits asserted triples
    only; see the module docstring for the rules and the loop).

    Same contract as ``rdfs_entailment``: statements mixed RDF-style,
    returns asserted+inferred distinct, literal-valued predicates must
    not carry inverse/symmetric/range declarations (the rules would mint
    literal subjects).  Raises when round ``max_rounds`` still derived
    statements: a stratified schema takes two rounds and closes the
    transitive properties once; a property both symmetric and transitive
    takes three (the reversed edges are closed in round two)."""
    return _seminaive(
        triples.limit(0), triples, owl=True, max_rounds=max_rounds,
        label="owl_rl_lite",
    )


# --------------------------------------------------------------------------
# owl:sameAs smushing, RDF collections and containers
# --------------------------------------------------------------------------


def sameas_canonicalize(
    triples: DataFrame, sameas_pred: str = OWL_SAMEAS
) -> DataFrame:
    """owl:sameAs smushing — the production alternative to OWL RL's
    eq-rep1/2/3 rules: instead of materializing every triple once per
    equivalent name (quadratic in clique size), rewrite every subject and
    object to ONE canonical representative per sameAs component (the
    lexicographically smallest name — deterministic under any
    partitioning) and drop the sameAs statements.  This is the
    triple-level generalization of the mention-linking canonicalization
    stage (pipeline/linking.py): there the equivalence comes from fuzzy
    surface matching; here it is asserted in the graph itself.

    Input needs columns (subj, pred, obj); extra columns (okind, graph)
    pass through.  When an ``okind`` column is present, objects are only
    rewritten where ``okind = 'iri'`` — a literal whose text collides
    with an IRI name must not be smushed.

    Scale shape: components via the large/small-star CC (pipeline/cc.py)
    run on the names themselves, so the component id is the
    representative; the (name -> representative) map is joined back — no
    broadcast hint, the map is corpus-sized in the worst case and AQE
    picks broadcast when it is small.  Rewrite = two left equi-joins + one
    distinct.
    """
    comp = connected_components(
        triples.filter(F.col("pred") == sameas_pred).select(
            F.col("subj").alias("u"), F.col("obj").alias("v")
        )
    )
    rest = triples.filter(F.col("pred") != F.lit(sameas_pred))
    m_subj = comp.select(F.col("node").alias("subj"), F.col("component").alias("_srep"))
    m_obj = comp.select(F.col("node").alias("obj"), F.col("component").alias("_orep"))
    joined = rest.join(m_subj, "subj", "left").join(m_obj, "obj", "left")
    obj_hit = F.col("_orep").isNotNull()
    if "okind" in triples.columns:
        obj_hit = obj_hit & (F.col("okind") == "iri")
    out_cols = [
        F.coalesce("_srep", "subj").alias("subj")
        if c == "subj"
        else F.when(obj_hit, F.col("_orep")).otherwise(F.col("obj")).alias("obj")
        if c == "obj"
        else F.col(c)
        for c in triples.columns
    ]
    return joined.select(*out_cols).distinct()


RDF_FIRST = "http://www.w3.org/1999/02/22-rdf-syntax-ns#first"
RDF_REST = "http://www.w3.org/1999/02/22-rdf-syntax-ns#rest"
RDF_NIL = "http://www.w3.org/1999/02/22-rdf-syntax-ns#nil"


def rdf_list_members(
    triples: DataFrame, *, max_len: int = 32
) -> DataFrame:
    """Materialize RDF collections (rdf:List cons-chains, RDF 1.1
    Schema §5.2) into flat ordered membership: ``(head, pos, member)``
    with ``pos`` 0-based along the ``rdf:rest`` spine — the unfolding
    every SPARQL user otherwise hand-writes as a fragile
    ``rest*/first`` path, and SQL engines as a recursive CTE.

    A node is a list HEAD iff it carries ``rdf:first`` and is not itself
    the object of any ``rdf:rest`` (interior cons cells are reachable
    but not heads).  The spine is walked level-synchronously: the
    frontier (head → current cell) advances one ``rdf:rest`` hop per
    round, emitting each cell's ``rdf:first`` — per-round lineage cut,
    early exit on an empty frontier, hard stop at ``max_len`` (named
    cap: deeper lists are truncated — well-formed RDF lists at 100 TB
    are shallow; a pathological million-element chain needs the
    path-doubling treatment of ``graph._doubling_closure``, not this).
    Cycles through ``rdf:rest`` (malformed RDF) terminate at the cap
    instead of looping, and a fork (a cell with two ``rdf:rest`` out-
    edges, also malformed) walks both branches — emission, not
    validation; pair with SHACL for rejection.

    Rounds are joins against the (typically tiny) first/rest edge
    relations only — the instance graph is scanned once to slice them.
    """
    if max_len < 1:
        raise ValueError("rdf_list_members: max_len must be >= 1")
    first = triples.filter(F.col("pred") == RDF_FIRST).select(
        F.col("subj").alias("cell"), F.col("obj").alias("member")
    ).localCheckpoint(eager=False)
    rest = triples.filter(F.col("pred") == RDF_REST).select(
        F.col("subj").alias("cell"), F.col("obj").alias("nxt")
    ).localCheckpoint(eager=False)
    heads = first.select("cell").distinct().join(
        rest.select(F.col("nxt").alias("cell")).distinct(),
        "cell",
        "left_anti",
    )
    frontier = heads.select(F.col("cell").alias("head"), "cell")
    out = None
    for pos in range(max_len):
        emitted = frontier.join(first, "cell").select(
            "head", F.lit(pos).cast("long").alias("pos"), "member"
        )
        out = emitted if out is None else out.unionByName(emitted)
        frontier = (
            frontier.join(rest, "cell")
            .filter(F.col("nxt") != RDF_NIL)
            .select("head", F.col("nxt").alias("cell"))
            .localCheckpoint(eager=True)
        )
        if frontier.limit(1).count() == 0:
            break
    return out


RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDF_CONTAINER_KINDS = (RDF_NS + "Seq", RDF_NS + "Bag", RDF_NS + "Alt")


def rdf_container_members(triples: DataFrame) -> DataFrame:
    """Materialize RDF containers (rdf:Seq / rdf:Bag / rdf:Alt, RDF 1.1
    Schema §5.1) into flat membership rows ``(container, kind, idx,
    member)`` — the sibling of ``rdf_list_members`` for the OTHER
    collection vocabulary: containers use numbered membership
    properties ``rdf:_1, rdf:_2, …`` instead of a cons-chain, so the
    unfolding is a pure regexp decomposition with NO spine walk at all
    (one narrow pass; the graph never recurses).

    ``idx`` is the integer N of ``rdf:_N`` (1-based, per spec).  ``kind``
    is the container's ``rdf:type`` among Seq/Bag/Alt, joined on; a
    container that carries membership properties but no (or a foreign)
    type — legal RDF — reports ``kind = 'untyped'``, and one carrying
    SEVERAL of the three types (malformed but representable) reports the
    lexicographically-least, so the output is a pure function of the
    triple SET.  Emission, not validation: duplicate indices (two
    ``rdf:_3`` arcs) both emit, like ``rdf_list_members``' fork rule —
    pair with SHACL to reject.

    Scale shape: one filtered scan for membership arcs (predicate prefix
    pushed to the scan), one filtered scan for the tiny type relation,
    one broadcast-friendly left join.  No per-container state.
    """
    member_re = "^" + RDF_NS.replace(".", "\\.") + "_([0-9]+)$"
    members = triples.filter(
        F.col("pred").rlike(member_re)
    ).select(
        F.col("subj").alias("container"),
        # try_cast, not cast: under ANSI mode ConstantFolding evaluates this
        # expression on literal-pred branches of a union BEFORE the rlike
        # filter prunes them, and a strict cast of the no-match '' throws at
        # planning time.  Surviving rows always match, so the value is equal.
        F.regexp_extract(F.col("pred"), member_re, 1).try_cast("long").alias("idx"),
        F.col("obj").alias("member"),
    )
    kinds = (
        triples.filter(
            (F.col("pred") == RDF_TYPE) & F.col("obj").isin(*RDF_CONTAINER_KINDS)
        )
        .groupBy(F.col("subj").alias("container"))
        .agg(F.min("obj").alias("kind"))
    )
    return members.join(kinds, "container", "left").select(
        "container",
        F.coalesce(F.col("kind"), F.lit("untyped")).alias("kind"),
        "idx",
        "member",
    )

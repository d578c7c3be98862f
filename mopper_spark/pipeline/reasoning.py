"""RDFS entailment materialization — the forward-chaining closure every
triple store ships (e.g. Jena RDFS reasoner, Oxigraph ruleset), expressed
as a staged datalog fixpoint over DataFrames.

Implements the core RDFS entailment rules of the W3C RDF 1.1 Semantics
recommendation (section 9.2.1, rule names kept):

    rdfs5   (p subPropertyOf q), (q subPropertyOf r)  ->  (p subPropertyOf r)
    rdfs7   (s p o), (p subPropertyOf q)              ->  (s q o)
    rdfs2   (s p o), (p domain C)                     ->  (s rdf:type C)
    rdfs3   (s p o), (p range  C)                     ->  (o rdf:type C)
    rdfs11  (C subClassOf D), (D subClassOf E)        ->  (C subClassOf E)
    rdfs9   (s rdf:type C), (C subClassOf D)          ->  (s rdf:type D)

The reference engine (ghsnd/mopper) CONSTRUCTS graphs from rows
(src/operator/serializer.rs); materializing what those graphs entail is
the canonical next step a KG-construction pipeline owes its consumers.

Scale shape: the rules are stratified so ONE staged pass (property
closure -> rdfs7 -> domain/range -> class closure -> rdfs9) reaches the
fixpoint for every schema in which the RDFS vocabulary itself is not
redefined; the pass is wrapped in a verification loop that re-runs until
the statement count is stable, so pathological schemas (e.g. some p
declared subPropertyOf rdf:type, which makes rule outputs feed earlier
strata) still converge exactly.  Schema-shaped relations (the two
closures, domain, range) are tiny next to the instance graph and are
explicitly broadcast — every rule is a broadcast hash join against the
instance triples, no instance-sized shuffle anywhere; the two transitive
closures run semi-naive over schema-sized edge lists
(pipeline/graph.py::transitive_closure).  Per-round lineage is cut with
eager local checkpoints inside ``graph._constraint_propagation_off``
(Spark 4.1 mis-rewrites Union constraints over checkpointed LogicalRDD
children; the engine note is there).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
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

_SPO = ("subj", "pred", "obj")


def _closure_pairs(g: DataFrame, pred_iri: str) -> DataFrame:
    """Transitive closure (>=1 hop) of one schema predicate as (src, dst)."""
    edges = g.filter(F.col("pred") == pred_iri).select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    return transitive_closure(edges)


def _rdfs_pass(g: DataFrame) -> DataFrame:
    """One stratified application of rdfs{5,7,2,3,11,9}; monotone."""
    spc = _closure_pairs(g, RDFS_SUBPROP)
    r5 = spc.select(
        F.col("src").alias("subj"),
        F.lit(RDFS_SUBPROP).alias("pred"),
        F.col("dst").alias("obj"),
    )
    r7 = (
        g.join(F.broadcast(spc), g["pred"] == spc["src"])
        .select("subj", F.col("dst").alias("pred"), "obj")
    )
    g1 = (
        g.unionByName(r5).unionByName(r7).distinct()
        .localCheckpoint(eager=False)
    )

    dom = g1.filter(F.col("pred") == RDFS_DOMAIN).select(
        F.col("subj").alias("p"), F.col("obj").alias("cls")
    )
    rng = g1.filter(F.col("pred") == RDFS_RANGE).select(
        F.col("subj").alias("p"), F.col("obj").alias("cls")
    )
    r2 = (
        g1.join(F.broadcast(dom), g1["pred"] == dom["p"])
        .select("subj", F.lit(RDF_TYPE).alias("pred"), F.col("cls").alias("obj"))
    )
    r3 = (
        g1.join(F.broadcast(rng), g1["pred"] == rng["p"])
        .select(
            F.col("obj").alias("subj"),
            F.lit(RDF_TYPE).alias("pred"),
            F.col("cls").alias("obj"),
        )
    )
    g2 = (
        g1.unionByName(r2).unionByName(r3).distinct()
        .localCheckpoint(eager=False)
    )

    scc = _closure_pairs(g2, RDFS_SUBCLASS)
    r11 = scc.select(
        F.col("src").alias("subj"),
        F.lit(RDFS_SUBCLASS).alias("pred"),
        F.col("dst").alias("obj"),
    )
    types = g2.filter(F.col("pred") == RDF_TYPE).select(
        F.col("subj").alias("s"), F.col("obj").alias("c")
    )
    r9 = (
        types.join(F.broadcast(scc), types["c"] == scc["src"])
        .select(
            F.col("s").alias("subj"),
            F.lit(RDF_TYPE).alias("pred"),
            F.col("dst").alias("obj"),
        )
    )
    return g2.unionByName(r11).unionByName(r9).distinct()


def _fixpoint(triples: DataFrame, pass_fn, max_rounds: int, label: str) -> DataFrame:
    """Run a monotone staged pass to count-stability with per-round eager
    checkpoints, inside ``graph._constraint_propagation_off``."""
    with _constraint_propagation_off(triples.sparkSession):
        g = triples.select(*_SPO).distinct().localCheckpoint(eager=True)
        n = g.count()
        for _ in range(max_rounds):
            g = pass_fn(g).localCheckpoint(eager=True)
            n_new = g.count()
            if n_new == n:
                return g
            n = n_new
        raise RuntimeError(
            f"{label} did not converge in {max_rounds} passes; "
            "the schema feeds earlier strata (RDFS/OWL vocabulary "
            "redefined) — raise max_rounds"
        )


def rdfs_entailment(triples: DataFrame, *, max_rounds: int = 4) -> DataFrame:
    """Materialize the RDFS closure of ``triples`` (columns subj, pred,
    obj; schema and instance statements mixed, RDF style).

    Returns the full entailed graph — asserted plus inferred statements,
    distinct.  ``range`` statements must only be declared for predicates
    whose objects are resources (RDF forbids literal subjects; the rule
    is applied verbatim, so a range on a literal-valued predicate would
    mint literal subjects).

    Raises after ``max_rounds`` verification passes without reaching the
    fixpoint (one pass suffices unless the schema redefines the RDFS
    vocabulary itself).
    """
    return _fixpoint(triples, _rdfs_pass, max_rounds, "rdfs_entailment")


_RDFS_VOCAB = (RDFS_SUBCLASS, RDFS_SUBPROP, RDFS_DOMAIN, RDFS_RANGE)


def rdfs_entailment_delta(
    base_closed: DataFrame, delta: DataFrame, *, max_rounds: int = 4
) -> DataFrame:
    """Incremental RDFS closure maintenance: given a graph that is
    ALREADY closed (``rdfs_entailment`` output) and a batch of new
    INSTANCE statements, return the closure of base ∪ delta — equal to
    ``rdfs_entailment(base ∪ delta)`` — touching only the delta.

    This is the streaming-scale form of the reasoner: at 10^12-turn
    scale the closed graph is petabyte-class and must never be
    recomputed because one conversation batch arrived.  The key
    property making frontier-only evaluation COMPLETE is that every
    RDFS instance rule (rdfs7, rdfs2, rdfs3, rdfs9) pairs one instance
    premise with one SCHEMA premise, and the closure rules (rdfs5,
    rdfs11) pair two schema premises — so an instance-only delta can
    never extend the schema relations, which are read pre-closed from
    the base and broadcast.  No rule pairs two instance statements,
    hence no (frontier × base-instance) join exists and each pass is
    schema-broadcast joins against the frontier alone.

    ``delta`` must therefore contain NO RDFS-vocabulary statements
    (subClassOf / subPropertyOf / domain / range) — a schema change
    invalidates previously-derived statements' premises and requires
    ``rdfs_entailment`` over the asserted graph; the function raises a
    ``ValueError`` naming the offending predicates.  ``rdf:type``
    statements in the delta are fine (rdfs9 applies via the broadcast
    class closure).

    The pass is wrapped in the same verification loop as the full
    reasoner: normally round 2's frontier derives nothing new and the
    loop exits; a base schema that redefines RDF/RDFS vocabulary
    (e.g. some p ⊑ rdf:type) makes round-1 inferences feed rdfs7
    again, and the loop chases that to the exact fixpoint.
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
            f"({sorted(r.pred for r in bad)}); schema changes invalidate "
            "incremental maintenance — recompute with rdfs_entailment"
        )
    with _constraint_propagation_off(base_closed.sparkSession):
        # Schema relations read pre-closed from the base; final for the
        # whole run (instance deltas cannot extend them — see above).
        spc = base_closed.filter(F.col("pred") == RDFS_SUBPROP).select(
            F.col("subj").alias("src"), F.col("obj").alias("dst")
        )
        scc = base_closed.filter(F.col("pred") == RDFS_SUBCLASS).select(
            F.col("subj").alias("src"), F.col("obj").alias("dst")
        )
        dom = base_closed.filter(F.col("pred") == RDFS_DOMAIN).select(
            F.col("subj").alias("p"), F.col("obj").alias("cls")
        )
        rng = base_closed.filter(F.col("pred") == RDFS_RANGE).select(
            F.col("subj").alias("p"), F.col("obj").alias("cls")
        )

        g = base_closed.select(*_SPO).distinct().localCheckpoint(eager=True)
        frontier = (
            delta.select(*_SPO)
            .distinct()
            .join(g, list(_SPO), "left_anti")
            .localCheckpoint(eager=True)
        )
        # Frontier is merged into g BEFORE its pass runs, so each round's
        # next frontier is exactly the statements whose consequences are
        # still unverified — genuine inferences only, never re-derivation.
        g = g.unionByName(frontier).localCheckpoint(eager=True)
        for _ in range(max_rounds):
            if frontier.isEmpty():
                return g
            r7 = frontier.join(
                F.broadcast(spc), frontier["pred"] == spc["src"]
            ).select("subj", F.col("dst").alias("pred"), "obj")
            d1 = (
                frontier.unionByName(r7).distinct()
                .localCheckpoint(eager=False)
            )
            r2 = d1.join(F.broadcast(dom), d1["pred"] == dom["p"]).select(
                "subj",
                F.lit(RDF_TYPE).alias("pred"),
                F.col("cls").alias("obj"),
            )
            r3 = d1.join(F.broadcast(rng), d1["pred"] == rng["p"]).select(
                F.col("obj").alias("subj"),
                F.lit(RDF_TYPE).alias("pred"),
                F.col("cls").alias("obj"),
            )
            d2 = (
                d1.unionByName(r2).unionByName(r3).distinct()
                .localCheckpoint(eager=False)
            )
            types = d2.filter(F.col("pred") == RDF_TYPE).select(
                F.col("subj").alias("s"), F.col("obj").alias("c")
            )
            r9 = types.join(F.broadcast(scc), types["c"] == scc["src"]).select(
                F.col("s").alias("subj"),
                F.lit(RDF_TYPE).alias("pred"),
                F.col("dst").alias("obj"),
            )
            d3 = d2.unionByName(r9).distinct()
            new = (
                d3.join(g, list(_SPO), "left_anti")
                .distinct()
                .localCheckpoint(eager=True)
            )
            g = g.unionByName(new).localCheckpoint(eager=True)
            frontier = new  # frontier ⊆ g already, so `new` excludes it
        raise RuntimeError(
            f"rdfs_entailment_delta did not converge in {max_rounds} "
            "passes; the base schema feeds earlier strata (RDF/RDFS "
            "vocabulary redefined) — raise max_rounds"
        )


# --------------------------------------------------------------------------
# OWL 2 RL (property-rule subset) + sameAs smushing
# --------------------------------------------------------------------------

OWL_NS = "http://www.w3.org/2002/07/owl#"
OWL_INVERSE_OF = OWL_NS + "inverseOf"
OWL_SYMMETRIC = OWL_NS + "SymmetricProperty"
OWL_TRANSITIVE = OWL_NS + "TransitiveProperty"
OWL_EQ_PROPERTY = OWL_NS + "equivalentProperty"
OWL_EQ_CLASS = OWL_NS + "equivalentClass"
OWL_SAMEAS = OWL_NS + "sameAs"


def _owl_pass(g: DataFrame) -> DataFrame:
    """One staged application of the OWL 2 RL property rules (W3C OWL 2
    Profiles §4.3, rule names kept) on top of the full RDFS stratum:

        eq-rep   owl:equivalentProperty/Class compiled to MUTUAL
                 rdfs:subPropertyOf / rdfs:subClassOf statements, so
                 prp-eqp1/2 and cax-eqc1/2 fall out of rdfs7/rdfs9
        rdfs     the complete _rdfs_pass stratum
        prp-trp  (p type TransitiveProperty), (s p o), (o p o2) -> (s p o2)
        prp-inv1/2  (p inverseOf q), (s p o) -> (o q s)  and symmetrically
        prp-symp (p type SymmetricProperty), (s p o) -> (o p s)

    Stages are CHAINED (each sees the previous stage's output), ordered
    transitive -> inverse -> symmetric so inverses/symmetries of
    closure-derived statements land in the same pass; the enclosing
    fixpoint loop covers schemas where a later stage feeds an earlier one
    (e.g. a symmetric property that is also transitive needs round 2's
    closure over the reversed edges).  Schema relations (inverse pairs,
    property-type sets) are broadcast; prp-trp's instance-level closure
    is the only super-linear stage and runs keyed per predicate in
    log(diameter) doubling rounds (``graph._doubling_closure``:
    transcripts chain hundreds of turns deep, where semi-naive's
    diameter-many rounds would dominate wall clock)."""
    eqp = g.filter(F.col("pred") == OWL_EQ_PROPERTY)
    eqp_sub = eqp.select(
        "subj", F.lit(RDFS_SUBPROP).alias("pred"), "obj"
    ).unionByName(
        eqp.select(
            F.col("obj").alias("subj"),
            F.lit(RDFS_SUBPROP).alias("pred"),
            F.col("subj").alias("obj"),
        )
    )
    eqc = g.filter(F.col("pred") == OWL_EQ_CLASS)
    eqc_sub = eqc.select(
        "subj", F.lit(RDFS_SUBCLASS).alias("pred"), "obj"
    ).unionByName(
        eqc.select(
            F.col("obj").alias("subj"),
            F.lit(RDFS_SUBCLASS).alias("pred"),
            F.col("subj").alias("obj"),
        )
    )
    g = _rdfs_pass(
        g.unionByName(eqp_sub).unionByName(eqc_sub).distinct()
        .localCheckpoint(eager=False)
    ).localCheckpoint(eager=False)

    tp = g.filter(
        (F.col("pred") == RDF_TYPE) & (F.col("obj") == OWL_TRANSITIVE)
    ).select(F.col("subj").alias("p"))
    tedges = g.join(F.broadcast(tp), g["pred"] == tp["p"]).select(
        "pred", F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    r_trp = _doubling_closure(tedges, ("pred",), max_iters=20).select(
        F.col("src").alias("subj"), "pred", F.col("dst").alias("obj")
    )
    g = g.unionByName(r_trp).distinct().localCheckpoint(eager=False)

    inv0 = g.filter(F.col("pred") == OWL_INVERSE_OF).select(
        F.col("subj").alias("p"), F.col("obj").alias("q")
    )
    inv = inv0.unionByName(
        inv0.select(F.col("q").alias("p"), F.col("p").alias("q"))
    ).distinct()
    r_inv = g.join(F.broadcast(inv), g["pred"] == inv["p"]).select(
        F.col("obj").alias("subj"),
        F.col("q").alias("pred"),
        F.col("subj").alias("obj"),
    )
    g = g.unionByName(r_inv).distinct().localCheckpoint(eager=False)

    symp = g.filter(
        (F.col("pred") == RDF_TYPE) & (F.col("obj") == OWL_SYMMETRIC)
    ).select(F.col("subj").alias("p"))
    r_sym = g.join(F.broadcast(symp), g["pred"] == symp["p"]).select(
        F.col("obj").alias("subj"), "pred", F.col("subj").alias("obj")
    )
    return g.unionByName(r_sym).distinct()


def owl_rl_lite(triples: DataFrame, *, max_rounds: int = 6) -> DataFrame:
    """Materialize the closure of ``triples`` under the OWL 2 RL property
    rules (equivalentProperty/Class, inverseOf, SymmetricProperty,
    TransitiveProperty) plus the full RDFS ruleset — the schema-driven
    entailment layer a KG-construction pipeline owes consumers who query
    the graph through an ontology (the reference emits asserted triples
    only; see rdfs_entailment's module docstring for the lineage).

    Same contract as ``rdfs_entailment``: statements mixed RDF-style,
    returns asserted+inferred distinct, literal-valued predicates must
    not carry inverse/symmetric/range declarations (the rules would mint
    literal subjects), raises if ``max_rounds`` verification passes don't
    reach the fixpoint (one pass suffices for stratified schemas; rule
    interactions like symmetric+transitive properties converge in 2-3)."""
    return _fixpoint(triples, _owl_pass, max_rounds, "owl_rl_lite")


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

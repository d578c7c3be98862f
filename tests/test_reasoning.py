"""RDFS entailment materialization (pipeline/reasoning.py) vs a python
forward-chaining replica, including the pathological stratum-breaking
schema the staged pass alone would miss."""

import pytest
from pyspark.sql import functions as F

from mopper_spark.pipeline.reasoning import (
    RDF_TYPE,
    RDFS_DOMAIN,
    RDFS_RANGE,
    RDFS_SUBCLASS,
    RDFS_SUBPROP,
    rdfs_entailment,
)


def _python_rdfs_fixpoint(triples):
    """Naive forward chaining to fixpoint — the semantics oracle."""
    g = set(triples)
    while True:
        new = set()
        sub_p = {(s, o) for s, p, o in g if p == RDFS_SUBPROP}
        # transitive closures
        for a, b in list(sub_p):
            for c, d in list(sub_p):
                if b == c:
                    new.add((a, RDFS_SUBPROP, d))
        sub_c = {(s, o) for s, p, o in g if p == RDFS_SUBCLASS}
        for a, b in list(sub_c):
            for c, d in list(sub_c):
                if b == c:
                    new.add((a, RDFS_SUBCLASS, d))
        dom = {(s, o) for s, p, o in g if p == RDFS_DOMAIN}
        rng = {(s, o) for s, p, o in g if p == RDFS_RANGE}
        for s, p, o in list(g):
            for a, b in sub_p:
                if p == a:
                    new.add((s, b, o))
            for a, c in dom:
                if p == a:
                    new.add((s, RDF_TYPE, c))
            for a, c in rng:
                if p == a:
                    new.add((o, RDF_TYPE, c))
            if p == RDF_TYPE:
                for a, b in sub_c:
                    if o == a:
                        new.add((s, RDF_TYPE, b))
        if new <= g:
            return g
        g |= new


def _run(spark, rows, **kw):
    df = spark.createDataFrame(rows, "subj string, pred string, obj string")
    got = {
        (r["subj"], r["pred"], r["obj"])
        for r in rdfs_entailment(df, **kw).collect()
    }
    assert got == _python_rdfs_fixpoint(rows)
    return got


def test_rdfs_rules_end_to_end(spark):
    rows = [
        # instance
        ("t1", "ex:mentions", "e1"),
        ("t2", "ex:mentions", "e2"),
        ("t1", "ex:inConv", "c1"),
        # property hierarchy (two levels -> exercises rdfs5 + rdfs7)
        ("ex:mentions", RDFS_SUBPROP, "ex:references"),
        ("ex:references", RDFS_SUBPROP, "ex:relatedTo"),
        # domain / range
        ("ex:mentions", RDFS_DOMAIN, "ex:Turn"),
        ("ex:mentions", RDFS_RANGE, "ex:Entity"),
        ("ex:inConv", RDFS_RANGE, "ex:Conversation"),
        # class hierarchy (two levels -> rdfs11 + rdfs9)
        ("ex:Entity", RDFS_SUBCLASS, "ex:Resource"),
        ("ex:Conversation", RDFS_SUBCLASS, "ex:Container"),
        ("ex:Container", RDFS_SUBCLASS, "ex:Resource"),
    ]
    got = _run(spark, rows)
    # spot entailments from every rule
    assert ("ex:mentions", RDFS_SUBPROP, "ex:relatedTo") in got  # rdfs5
    assert ("t1", "ex:relatedTo", "e1") in got  # rdfs7 via closure
    assert ("t1", RDF_TYPE, "ex:Turn") in got  # rdfs2
    assert ("e2", RDF_TYPE, "ex:Entity") in got  # rdfs3
    assert ("ex:Conversation", RDFS_SUBCLASS, "ex:Resource") in got  # rdfs11
    assert ("c1", RDF_TYPE, "ex:Resource") in got  # rdfs9 via closure


def test_rdfs_domain_on_inferred_property(spark):
    """rdfs2 must see triples minted by rdfs7 in the same pass: domain is
    declared on the SUPERproperty only."""
    rows = [
        ("s", "ex:p", "o"),
        ("ex:p", RDFS_SUBPROP, "ex:q"),
        ("ex:q", RDFS_DOMAIN, "ex:C"),
    ]
    got = _run(spark, rows)
    assert ("s", RDF_TYPE, "ex:C") in got


_STRATUM_BREAKER = [
    # ex:meta subPropertyOf rdfs:subPropertyOf: rdfs7 MINTS a
    # subPropertyOf edge (ex:a sub ex:b), which only a property closure
    # taken AFTER that round can see — the staged order is genuinely broken.
    ("ex:a", "ex:meta", "ex:b"),
    ("ex:meta", RDFS_SUBPROP, RDFS_SUBPROP),
    ("s", "ex:a", "o"),
]


def test_rdfs_pathological_vocabulary_redefinition(spark):
    """A derived subPropertyOf edge feeds an earlier stratum — the loop
    must close the schema again and revisit the whole graph."""
    got = _run(spark, _STRATUM_BREAKER, max_rounds=4)
    assert ("ex:a", RDFS_SUBPROP, "ex:b") in got  # round 1 (rdfs7)
    assert ("s", "ex:b", "o") in got  # round 2 (rdfs7 over the new edge)


def test_rdfs_nonconvergence_raises(spark):
    df = spark.createDataFrame(
        _STRATUM_BREAKER, "subj string, pred string, obj string"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        rdfs_entailment(df, max_rounds=2)


def test_rdfs_partitioning_invariance(spark):
    rows = [
        (f"s{i}", "ex:p", f"o{i % 3}") for i in range(20)
    ] + [
        ("ex:p", RDFS_SUBPROP, "ex:q"),
        ("ex:p", RDFS_DOMAIN, "ex:A"),
        ("ex:p", RDFS_RANGE, "ex:B"),
        ("ex:A", RDFS_SUBCLASS, "ex:Top"),
        ("ex:B", RDFS_SUBCLASS, "ex:Top"),
    ]
    df = spark.createDataFrame(rows, "subj string, pred string, obj string")
    a = {tuple(r) for r in rdfs_entailment(df.repartition(1)).collect()}
    b = {tuple(r) for r in rdfs_entailment(df.repartition(16)).collect()}
    assert a == b == _python_rdfs_fixpoint(rows)


# --------------------------------------------------------------------------
# OWL 2 RL property rules + sameAs smushing
# --------------------------------------------------------------------------

from mopper_spark.pipeline.reasoning import (  # noqa: E402
    OWL_EQ_CLASS,
    OWL_EQ_PROPERTY,
    OWL_INVERSE_OF,
    OWL_SAMEAS,
    OWL_SYMMETRIC,
    OWL_TRANSITIVE,
    owl_rl_lite,
    sameas_canonicalize,
)


def _python_owl_fixpoint(triples):
    """Naive forward chaining over the OWL-RL property rules + RDFS."""
    g = set(triples)
    while True:
        new = set()
        # equivalence compiled to mutual sub-hierarchy statements
        for s, p, o in list(g):
            if p == OWL_EQ_PROPERTY:
                new.add((s, RDFS_SUBPROP, o))
                new.add((o, RDFS_SUBPROP, s))
            if p == OWL_EQ_CLASS:
                new.add((s, RDFS_SUBCLASS, o))
                new.add((o, RDFS_SUBCLASS, s))
        new |= _python_rdfs_fixpoint(g | new) - g
        gg = g | new
        trans = {s for s, p, o in gg if p == RDF_TYPE and o == OWL_TRANSITIVE}
        for s, p, o in list(gg):
            if p in trans:
                for s2, p2, o2 in list(gg):
                    if p2 == p and s2 == o:
                        new.add((s, p, o2))
        inv = {(s, o) for s, p, o in gg if p == OWL_INVERSE_OF}
        inv |= {(b, a) for a, b in inv}
        sym = {s for s, p, o in gg if p == RDF_TYPE and o == OWL_SYMMETRIC}
        for s, p, o in list(gg):
            for a, b in inv:
                if p == a:
                    new.add((o, b, s))
            if p in sym:
                new.add((o, p, s))
        if new <= g:
            return g
        g |= new


def _run_owl(spark, rows, **kw):
    df = spark.createDataFrame(rows, "subj string, pred string, obj string")
    got = {
        (r["subj"], r["pred"], r["obj"])
        for r in owl_rl_lite(df, **kw).collect()
    }
    assert got == _python_owl_fixpoint(rows)
    return got


_OWL_STRATIFIED = [
    # a 4-node chain under a transitive property
    ("a", "ex:next", "b"),
    ("b", "ex:next", "c"),
    ("c", "ex:next", "d"),
    ("ex:next", RDF_TYPE, OWL_TRANSITIVE),
    # inverse minted over BOTH asserted and closure-derived statements
    ("ex:next", OWL_INVERSE_OF, "ex:prev"),
    # symmetric
    ("x", "ex:adj", "y"),
    ("ex:adj", RDF_TYPE, OWL_SYMMETRIC),
    # equivalence feeding rdfs7
    ("t", "ex:inConv", "c1"),
    ("ex:inConv", OWL_EQ_PROPERTY, "ex:partOf"),
]


def test_owl_rules_end_to_end(spark):
    got = _run_owl(spark, _OWL_STRATIFIED)
    assert ("a", "ex:next", "d") in got  # prp-trp, 3 hops
    assert ("d", "ex:prev", "a") in got  # prp-inv over the closure
    assert ("y", "ex:adj", "x") in got  # prp-symp
    assert ("t", "ex:partOf", "c1") in got  # eq-prop via rdfs7
    assert ("ex:partOf", RDFS_SUBPROP, "ex:inConv") in got


_SYM_TRANS = [
    ("a", "ex:near", "b"),
    ("c", "ex:near", "b"),  # needs b->c from symmetry to reach a->c
    ("ex:near", RDF_TYPE, OWL_SYMMETRIC),
    ("ex:near", RDF_TYPE, OWL_TRANSITIVE),
]


def test_owl_symmetric_transitive_interaction(spark):
    """A property both symmetric AND transitive: round 1's closure misses
    paths through reversed edges; the loop must complete them (the
    component becomes a clique plus self-loops)."""
    got = _run_owl(spark, _SYM_TRANS)
    assert ("a", "ex:near", "c") in got
    assert ("a", "ex:near", "a") in got  # via a->b->a


def test_owl_stratified_schema_closes_transitive_edges_once(spark, monkeypatch):
    """Round 2 of a stratified schema brings no transitive edge the
    prp-trp closure lacks, so the closure kernel runs once, not again to
    confirm the fixpoint."""
    from mopper_spark.pipeline import reasoning

    calls = []
    kernel = reasoning._doubling_closure

    def counting(*args, **kw):
        calls.append(1)
        return kernel(*args, **kw)

    monkeypatch.setattr(reasoning, "_doubling_closure", counting)
    _run_owl(spark, _OWL_STRATIFIED)
    assert len(calls) == 1


def test_owl_nonconvergence_raises(spark):
    """Symmetric + transitive derives new statements in rounds 1 and 2."""
    df = spark.createDataFrame(_SYM_TRANS, "subj string, pred string, obj string")
    with pytest.raises(RuntimeError, match="did not converge"):
        owl_rl_lite(df, max_rounds=1)


def test_owl_inverse_of_subproperty_inferred_statements(spark):
    """rdfs7-minted statements must feed prp-inv in the same fixpoint."""
    rows = [
        ("s", "ex:p", "o"),
        ("ex:p", RDFS_SUBPROP, "ex:q"),
        ("ex:q", OWL_INVERSE_OF, "ex:qinv"),
    ]
    got = _run_owl(spark, rows)
    assert ("o", "ex:qinv", "s") in got


def test_owl_partitioning_invariance(spark):
    rows = (
        [(f"t{i}", "ex:next", f"t{i+1}") for i in range(12)]
        + [(f"t{i}", "ex:adj", f"t{i+1}") for i in range(12)]
        + [
            ("ex:next", RDF_TYPE, OWL_TRANSITIVE),
            ("ex:next", OWL_INVERSE_OF, "ex:prev"),
            ("ex:adj", RDF_TYPE, OWL_SYMMETRIC),
        ]
    )
    df = spark.createDataFrame(rows, "subj string, pred string, obj string")
    a = {tuple(r) for r in owl_rl_lite(df.repartition(1)).collect()}
    b = {tuple(r) for r in owl_rl_lite(df.repartition(16)).collect()}
    assert a == b == _python_owl_fixpoint(rows)


def _python_smush(triples, sameas=OWL_SAMEAS, okind_idx=None):
    """Replica: components over sameAs names, min-string rep, rewrite."""
    import itertools

    pairs = [(t[0], t[2]) for t in triples if t[1] == sameas]
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    rep = {}
    for start in adj:
        if start in rep:
            continue
        seen, todo = {start}, [start]
        while todo:
            x = todo.pop()
            for y in adj[x]:
                if y not in seen:
                    seen.add(y)
                    todo.append(y)
        r = min(seen)
        for x in seen:
            rep[x] = r
    out = set()
    for t in triples:
        if t[1] == sameas:
            continue
        t = list(t)
        t[0] = rep.get(t[0], t[0])
        if okind_idx is None or t[okind_idx] == "iri":
            t[2] = rep.get(t[2], t[2])
        out.add(tuple(t))
    return out


def test_sameas_smush_chain(spark):
    """Transitive chain e1~e2~e3 collapses to one representative; subjects
    rewrite too; singleton sameAs self-loops are no-ops."""
    rows = [
        ("t1", "ex:mentions", "e2"),
        ("t2", "ex:mentions", "e3"),
        ("e3", "ex:knows", "e1"),
        ("e1", OWL_SAMEAS, "e2"),
        ("e2", OWL_SAMEAS, "e3"),
        ("e9", OWL_SAMEAS, "e9"),
        ("t3", "ex:mentions", "e9"),
    ]
    df = spark.createDataFrame(rows, "subj string, pred string, obj string")
    got = {tuple(r) for r in sameas_canonicalize(df).collect()}
    assert got == _python_smush(rows)
    assert ("t1", "ex:mentions", "e1") in got
    assert ("e1", "ex:knows", "e1") in got  # subj rewritten e3 -> e1
    assert ("t3", "ex:mentions", "e9") in got


def test_sameas_smush_okind_guards_literals(spark):
    """A literal whose text equals a smushed name must NOT be rewritten
    when okind marks it as a literal."""
    rows = [
        ("t1", "ex:label", "e2", "lit"),
        ("t1", "ex:mentions", "e2", "iri"),
        ("e1", OWL_SAMEAS, "e2", "iri"),
    ]
    df = spark.createDataFrame(rows, "subj string, pred string, obj string, okind string")
    got = {tuple(r) for r in sameas_canonicalize(df).collect()}
    assert got == _python_smush(rows, okind_idx=3)
    assert ("t1", "ex:label", "e2", "lit") in got
    assert ("t1", "ex:mentions", "e1", "iri") in got


def test_sameas_smush_partitioning_invariance(spark):
    rows = (
        [(f"t{i}", "ex:mentions", f"e{i % 6}") for i in range(30)]
        + [(f"e{i}", OWL_SAMEAS, f"e{i+1}") for i in range(5)]
    )
    df = spark.createDataFrame(rows, "subj string, pred string, obj string")
    a = {tuple(r) for r in sameas_canonicalize(df.repartition(1)).collect()}
    b = {tuple(r) for r in sameas_canonicalize(df.repartition(16)).collect()}
    assert a == b == _python_smush(rows)


# --------------------------------------------------------------------------
# Incremental RDFS closure maintenance
# --------------------------------------------------------------------------

from mopper_spark.pipeline.reasoning import rdfs_entailment_delta  # noqa: E402


def _spo_df(spark, rows):
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


_INC_SCHEMA = [
    ("ex:mentions", RDFS_SUBPROP, "ex:references"),
    ("ex:references", RDFS_SUBPROP, "ex:relatedTo"),
    ("ex:mentions", RDFS_DOMAIN, "ex:Turn"),
    ("ex:mentions", RDFS_RANGE, "ex:Entity"),
    ("ex:Entity", RDFS_SUBCLASS, "ex:Resource"),
    ("ex:Turn", RDFS_SUBCLASS, "ex:Resource"),
]


def test_delta_equals_full_recompute(spark):
    """Closing base then applying the delta incrementally must equal the
    one-shot closure of base ∪ delta — the contract, on a fixture that
    fires every instance rule (rdfs7 via closure, rdfs2/3, rdfs9 on an
    asserted rdf:type in the delta)."""
    base_inst = [("t1", "ex:mentions", "e1"), ("t2", "ex:mentions", "e2")]
    delta = [
        ("t3", "ex:mentions", "e3"),
        ("t3", "ex:mentions", "e1"),  # object already known to the base
        ("x9", RDF_TYPE, "ex:Entity"),  # asserted type -> rdfs9
        ("t1", "ex:mentions", "e1"),  # exact duplicate of a base statement
    ]
    base_closed = rdfs_entailment(_spo_df(spark, _INC_SCHEMA + base_inst))
    inc = {
        tuple(r)
        for r in rdfs_entailment_delta(
            base_closed, _spo_df(spark, delta)
        ).collect()
    }
    full = _python_rdfs_fixpoint(_INC_SCHEMA + base_inst + delta)
    assert inc == full
    assert ("t3", "ex:relatedTo", "e3") in inc  # rdfs7 via 2-level closure
    assert ("e3", RDF_TYPE, "ex:Resource") in inc  # rdfs3 then rdfs9
    assert ("x9", RDF_TYPE, "ex:Resource") in inc  # rdfs9 on delta type


def test_delta_empty_is_identity(spark):
    base_closed = rdfs_entailment(
        _spo_df(spark, _INC_SCHEMA + [("t1", "ex:mentions", "e1")])
    )
    out = rdfs_entailment_delta(base_closed, _spo_df(spark, []).limit(0))
    assert {tuple(r) for r in out.collect()} == {
        tuple(r) for r in base_closed.collect()
    }


def test_delta_schema_statement_refused(spark):
    base_closed = rdfs_entailment(_spo_df(spark, _INC_SCHEMA))
    delta = _spo_df(spark, [("ex:New", RDFS_SUBCLASS, "ex:Resource")])
    with pytest.raises(ValueError, match="schema statements"):
        rdfs_entailment_delta(base_closed, delta)


def test_delta_pathological_base_schema_iterates(spark):
    """Base schema redefines RDF vocabulary (p ⊑ rdf:type): rdfs7 output
    is an rdf:type statement that rdfs9 must then chase."""
    schema = [
        ("ex:isa", RDFS_SUBPROP, RDF_TYPE),
        ("ex:C", RDFS_SUBCLASS, "ex:D"),
    ]
    base_closed = rdfs_entailment(_spo_df(spark, schema))
    inc = {
        tuple(r)
        for r in rdfs_entailment_delta(
            base_closed, _spo_df(spark, [("s", "ex:isa", "ex:C")])
        ).collect()
    }
    assert inc == _python_rdfs_fixpoint(schema + [("s", "ex:isa", "ex:C")])
    assert ("s", RDF_TYPE, "ex:C") in inc  # rdfs7 via p ⊑ rdf:type
    assert ("s", RDF_TYPE, "ex:D") in inc  # rdfs9 over the derived type


@pytest.mark.parametrize(
    "meta_super, delta_obj, entailed",
    [
        (RDFS_SUBPROP, "ex:b", ("s", "ex:b", "o")),
        (RDFS_DOMAIN, "ex:C", ("s", RDF_TYPE, "ex:C")),
    ],
)
def test_delta_derives_schema_statement(spark, meta_super, delta_obj, entailed):
    """An instance statement in the delta whose predicate sits below a
    vocabulary term derives a schema statement, which applies to the
    BASE's statements too: (ex:a ex:meta X) makes ex:a a subproperty of
    ex:b, or gives ex:a the domain ex:C, and (s ex:a o) in the base must
    follow it."""
    base = [("ex:meta", RDFS_SUBPROP, meta_super), ("s", "ex:a", "o")]
    delta = [("ex:a", "ex:meta", delta_obj)]
    base_closed = rdfs_entailment(_spo_df(spark, base))
    inc = {
        tuple(r)
        for r in rdfs_entailment_delta(base_closed, _spo_df(spark, delta)).collect()
    }
    assert inc == _python_rdfs_fixpoint(base + delta)
    assert entailed in inc


def test_delta_partitioning_invariance(spark):
    base_inst = [(f"t{i}", "ex:mentions", f"e{i % 4}") for i in range(12)]
    delta_rows = [(f"d{i}", "ex:mentions", f"e{i % 5}") for i in range(9)]
    base_closed = rdfs_entailment(_spo_df(spark, _INC_SCHEMA + base_inst))
    d = _spo_df(spark, delta_rows)
    a = {
        tuple(r)
        for r in rdfs_entailment_delta(base_closed, d.repartition(1)).collect()
    }
    b = {
        tuple(r)
        for r in rdfs_entailment_delta(base_closed, d.repartition(16)).collect()
    }
    assert a == b == _python_rdfs_fixpoint(_INC_SCHEMA + base_inst + delta_rows)


# --------------------------------------------------------------------------
# Differential test: all three reasoners against the Python replicas
# --------------------------------------------------------------------------

# Vocabulary terms a random graph's ``meta`` property may be declared below,
# so that instance statements over ``meta`` derive schema statements.
_RDFS_SCHEMA = (RDFS_SUBPROP, RDFS_SUBCLASS, RDFS_DOMAIN, RDFS_RANGE)
_REDEFINABLE = _RDFS_SCHEMA + (
    RDF_TYPE, OWL_INVERSE_OF, OWL_EQ_PROPERTY, OWL_EQ_CLASS,
)


def _random_graph(rng, i):
    """A small graph over its own names (prefix ``g{i}:``) that uses every
    vocabulary term the reasoners handle, redefinitions included."""
    def name(kind, k):
        return f"g{i}:{kind}{rng.randrange(k)}"

    def prop():
        return name("p", 4)

    def cls():
        return name("c", 4)

    def node():
        return name("x", 5)

    meta = f"g{i}:meta"
    makers = [
        lambda: (node(), prop(), node()),
        lambda: (node(), RDF_TYPE, cls()),
        lambda: (prop(), RDFS_SUBPROP, prop()),
        lambda: (cls(), RDFS_SUBCLASS, cls()),
        lambda: (prop(), RDFS_DOMAIN, cls()),
        lambda: (prop(), RDFS_RANGE, cls()),
        lambda: (prop(), RDF_TYPE, OWL_TRANSITIVE),
        lambda: (prop(), RDF_TYPE, OWL_SYMMETRIC),
        lambda: (prop(), OWL_INVERSE_OF, prop()),
        lambda: (prop(), OWL_EQ_PROPERTY, prop()),
        lambda: (cls(), OWL_EQ_CLASS, cls()),
        lambda: (cls(), RDFS_SUBCLASS, rng.choice([OWL_TRANSITIVE, OWL_SYMMETRIC])),
        lambda: (meta, RDFS_SUBPROP, rng.choice(_REDEFINABLE)),
        lambda: (rng.choice([prop(), cls()]), meta, rng.choice([prop(), cls()])),
    ]
    rows = {(node(), prop(), node()) for _ in range(4)}
    rows |= {rng.choice(makers)() for _ in range(rng.randint(6, 12))}
    return sorted(rows)


def test_reasoners_match_python_replicas_on_random_graphs(spark):
    """The disjoint union of 20 seeded random graphs, one call per
    reasoner: ``rdfs_entailment`` and ``owl_rl_lite`` on the whole union,
    ``rdfs_entailment_delta`` on a random split whose delta holds no
    asserted RDFS schema statement (its base closed by the replica)."""
    import random

    rng = random.Random(20261021)
    rows = [t for i in range(20) for t in _random_graph(rng, i)]
    delta = [t for t in rows if t[1] not in _RDFS_SCHEMA and rng.random() < 0.4]
    base = [t for t in rows if t not in delta]
    want = _python_rdfs_fixpoint(rows)

    got = {tuple(r) for r in rdfs_entailment(_spo_df(spark, rows), max_rounds=20).collect()}
    assert got == want
    base_closed = _spo_df(spark, sorted(_python_rdfs_fixpoint(base)))
    got = {
        tuple(r)
        for r in rdfs_entailment_delta(
            base_closed, _spo_df(spark, delta), max_rounds=20
        ).collect()
    }
    assert got == want
    got = {tuple(r) for r in owl_rl_lite(_spo_df(spark, rows), max_rounds=20).collect()}
    assert got == _python_owl_fixpoint(rows)


class TestRdfListMembers:
    def _g(self, spark, rows):
        return spark.createDataFrame(rows, ["subj", "pred", "obj"])

    def test_unfolds_chains_heads_only(self, spark):
        from mopper_spark.pipeline.reasoning import (
            RDF_FIRST, RDF_NIL, RDF_REST, rdf_list_members,
        )

        rows = [
            # list A: [x, y]
            ("a0", RDF_FIRST, "x"), ("a0", RDF_REST, "a1"),
            ("a1", RDF_FIRST, "y"), ("a1", RDF_REST, RDF_NIL),
            # list B: [z]
            ("b0", RDF_FIRST, "z"), ("b0", RDF_REST, RDF_NIL),
            # unrelated triple
            ("s", "p", "o"),
        ]
        got = sorted(
            map(tuple, rdf_list_members(self._g(spark, rows)).collect())
        )
        assert got == [("a0", 0, "x"), ("a0", 1, "y"), ("b0", 0, "z")]

    def test_cycle_terminates_at_cap(self, spark):
        from mopper_spark.pipeline.reasoning import (
            RDF_FIRST, RDF_REST, rdf_list_members,
        )

        rows = [
            ("c0", RDF_FIRST, "x"), ("c0", RDF_REST, "c1"),
            ("c1", RDF_FIRST, "y"), ("c1", RDF_REST, "c0"),  # malformed cycle
        ]
        # c0 and c1 are each rest-objects... both interior -> no heads
        out = rdf_list_members(self._g(spark, rows), max_len=5).collect()
        assert out == []
        # open cycle: head h chains into the cycle
        rows += [("h", RDF_FIRST, "w"), ("h", RDF_REST, "c0")]
        got = rdf_list_members(self._g(spark, rows), max_len=4).collect()
        assert len(got) == 4  # capped, not infinite
        assert sorted(r.pos for r in got) == [0, 1, 2, 3]


class TestRdfContainerMembers:
    RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"

    def _triples(self, spark, rows):
        return spark.createDataFrame(rows, "subj string, pred string, obj string")

    def test_seq_unfolds_ordered(self, spark):
        from mopper_spark.pipeline.reasoning import rdf_container_members

        t = self._triples(spark, [
            ("s", self.RDF + "type", self.RDF + "Seq"),
            ("s", self.RDF + "_2", "b"),
            ("s", self.RDF + "_1", "a"),
            ("s", self.RDF + "_10", "j"),
            ("s", "http://ex/other", "noise"),
        ])
        got = sorted(
            (r.idx, r.member, r.kind) for r in rdf_container_members(t).collect()
        )
        assert got == [
            (1, "a", self.RDF + "Seq"),
            (2, "b", self.RDF + "Seq"),
            (10, "j", self.RDF + "Seq"),
        ]

    def test_untyped_and_multi_typed(self, spark):
        from mopper_spark.pipeline.reasoning import rdf_container_members

        t = self._triples(spark, [
            ("u", self.RDF + "_1", "x"),
            ("m", self.RDF + "type", self.RDF + "Seq"),
            ("m", self.RDF + "type", self.RDF + "Alt"),
            ("m", self.RDF + "_1", "y"),
            # foreign type does not count as a container kind
            ("u", self.RDF + "type", "http://ex/Thing"),
        ])
        got = {r.container: r.kind for r in rdf_container_members(t).collect()}
        assert got["u"] == "untyped"
        assert got["m"] == self.RDF + "Alt"  # lexicographically least

    def test_duplicate_index_both_emit(self, spark):
        from mopper_spark.pipeline.reasoning import rdf_container_members

        t = self._triples(spark, [
            ("s", self.RDF + "_3", "p"),
            ("s", self.RDF + "_3", "q"),
        ])
        assert rdf_container_members(t).count() == 2

    def test_non_numeric_suffix_ignored(self, spark):
        from mopper_spark.pipeline.reasoning import rdf_container_members

        t = self._triples(spark, [
            ("s", self.RDF + "_x", "bad"),
            ("s", self.RDF + "_1suffix", "bad"),
        ])
        assert rdf_container_members(t).count() == 0

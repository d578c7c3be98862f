"""BGP (SPARQL-lite) pattern matching over a triples DataFrame."""
import pytest
from pyspark.sql import functions as F

from mopper_spark.pipeline.bgp import bgp_match

EX = "http://ex/"


@pytest.fixture(scope="module")
def triples(spark):
    rows = [
        # (s, p, o)
        (EX + "t1", EX + "mentions", EX + "alice"),
        (EX + "t1", EX + "mentions", EX + "bob"),
        (EX + "t1", EX + "inConv", EX + "c1"),
        (EX + "t2", EX + "mentions", EX + "alice"),
        (EX + "t2", EX + "inConv", EX + "c2"),
        (EX + "t3", EX + "mentions", EX + "carol"),
        (EX + "t3", EX + "mentions", EX + "bob"),
        (EX + "t3", EX + "inConv", EX + "c1"),
        (EX + "loop", EX + "self", EX + "loop"),
    ]
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


def test_single_pattern_constants_filter(triples):
    out = bgp_match(triples, [("?t", EX + "inConv", EX + "c1")])
    assert sorted(r.t for r in out.collect()) == [EX + "t1", EX + "t3"]


def test_star_join_shared_variable(triples):
    out = (
        bgp_match(
            triples,
            [
                ("?t", EX + "mentions", "?e1"),
                ("?t", EX + "mentions", "?e2"),
                ("?t", EX + "inConv", "?c"),
            ],
            select=["c", "e1", "e2"],
        )
        .filter(F.col("e1") < F.col("e2"))
        .distinct()
    )
    got = sorted(tuple(r) for r in out.collect())
    assert got == [
        (EX + "c1", EX + "alice", EX + "bob"),
        (EX + "c1", EX + "bob", EX + "carol"),
    ]


def test_chain_join_two_hops(triples):
    # entities co-mentioned with alice anywhere
    out = bgp_match(
        triples,
        [("?t", EX + "mentions", EX + "alice"), ("?t", EX + "mentions", "?other")],
        select=["other"],
        distinct=True,
    )
    got = sorted(r.other for r in out.collect())
    assert got == [EX + "alice", EX + "bob"]


def test_repeated_variable_within_pattern(triples):
    out = bgp_match(triples, [("?x", EX + "self", "?x")])
    assert [r.x for r in out.collect()] == [EX + "loop"]


def test_disconnected_bgp_rejected(triples):
    with pytest.raises(ValueError, match="disconnected"):
        bgp_match(
            triples,
            [("?a", EX + "inConv", EX + "c1"), ("?b", EX + "inConv", EX + "c2")],
        )
    # but allowed explicitly
    out = bgp_match(
        triples,
        [("?a", EX + "inConv", EX + "c1"), ("?b", EX + "inConv", EX + "c2")],
        allow_cartesian=True,
    )
    assert out.count() == 2


def test_all_constant_pattern_rejected(triples):
    with pytest.raises(ValueError, match="no variables"):
        bgp_match(triples, [(EX + "t1", EX + "inConv", EX + "c1")])


def test_constant_filters_reach_the_scan(spark, tmp_path):
    """Constant predicate/object terms must appear as PushedFilters in the
    parquet scan — the property that makes a predicate-partitioned graph
    table prune I/O at 100 TB."""
    p = str(tmp_path / "g.parquet")
    spark.range(100).select(
        F.concat(F.lit(EX), F.col("id")).alias("subj"),
        F.when(F.col("id") % 2 == 0, EX + "mentions").otherwise(EX + "other").alias("pred"),
        F.concat(F.lit(EX + "e"), F.col("id")).alias("obj"),
    ).write.parquet(p)
    g = spark.read.parquet(p)
    out = bgp_match(g, [("?t", EX + "mentions", "?e")])
    plan = out._jdf.queryExecution().executedPlan().toString()
    pushed = plan.split("PushedFilters:", 1)
    assert len(pushed) == 2 and "EqualTo(pred," in pushed[1]
    assert out.count() == 50


def test_quad_pattern_binds_graph(spark):
    rows = [
        (EX + "s1", EX + "p", EX + "o1", EX + "g1"),
        (EX + "s2", EX + "p", EX + "o2", EX + "g2"),
    ]
    quads = spark.createDataFrame(
        rows, "subj string, pred string, obj string, graph string"
    )
    out = bgp_match(quads, [("?s", EX + "p", "?o", EX + "g1")], select=["s", "o"])
    assert [tuple(r) for r in out.collect()] == [(EX + "s1", EX + "o1")]
    bound = bgp_match(quads, [("?s", EX + "p", "?o", "?g")])
    assert sorted(r.g for r in bound.collect()) == [EX + "g1", EX + "g2"]


def test_optional_pattern_left_join(triples):
    # every turn-ish subject with an inConv triple, optionally a self link
    out = bgp_match(
        triples,
        [("?t", EX + "inConv", "?c")],
        optional=[("?t", EX + "mentions", "?e")],
        select=["t", "c", "e"],
    )
    got = {(r.t, r.e) for r in out.collect()}
    assert (EX + "t2", EX + "alice") in got
    # t2 has one mention; all three turns bind c; no nulls here, so add one:
    out2 = bgp_match(
        triples,
        [("?x", EX + "self", "?x")],
        optional=[("?x", EX + "inConv", "?c")],
        select=["x", "c"],
    ).collect()
    assert out2 == [type(out2[0])(x=EX + "loop", c=None)] or (
        out2[0].x == EX + "loop" and out2[0].c is None
    )


def test_optional_must_share_variable(triples):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="OPTIONAL"):
        bgp_match(
            triples,
            [("?t", EX + "inConv", "?c")],
            optional=[("?a", EX + "self", "?b")],
        )


def test_bgp_union_and_describe(triples):
    from mopper_spark.pipeline.bgp import bgp_union, describe_resource

    a = bgp_match(triples, [("?t", EX + "mentions", EX + "alice")])
    b = bgp_match(triples, [("?t", EX + "inConv", "?c")])
    u = bgp_union(a, b)
    rows = u.collect()
    assert set(u.columns) == {"t", "c"}
    # branch a contributes NULL c; branch b binds it
    assert sum(1 for r in rows if r.c is None) == 2
    assert len(rows) == 5

    d = describe_resource(triples, EX + "alice")
    assert sorted(r.subj for r in d.collect()) == [EX + "t1", EX + "t2"]


def test_kg_query_cli(spark, tmp_path):
    """jobs/kg_query.py: pattern parsing + query build over a materialized
    graph table (in-process; the spark-submit path itself is covered by
    test_spark_submit.py for the kg job)."""
    import argparse
    import sys

    sys.path.insert(0, str(__import__("pathlib").Path(__file__).parent.parent))
    from jobs.kg_query import build_query, parse_pattern

    assert parse_pattern("?s|p|?o") == ("?s", "p", "?o")
    assert parse_pattern("?s|p|?o|g") == ("?s", "p", "?o", "g")
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        parse_pattern("a|b")
    with _pytest.raises(SystemExit):
        parse_pattern("a|b|c")  # no variable

    gp = str(tmp_path / "graph")
    rows = [
        (EX + "t1", EX + "mentions", EX + "alice", "lit", EX + "g"),
        (EX + "t1", EX + "inConv", EX + "c1", "iri", EX + "g"),
    ]
    spark.createDataFrame(
        rows, "subj string, pred string, obj string, okind string, graph string"
    ).write.parquet(gp)
    args = argparse.Namespace(
        graph=gp,
        pattern=[f"?t|{EX}mentions|?e", f"?t|{EX}inConv|?c"],
        optional=None,
        filter=None,
        select="c,e",
        distinct=True,
        limit=None,
    )
    got = [tuple(r) for r in build_query(spark, args).collect()]
    assert got == [(EX + "c1", EX + "alice")]

    # 'p+' sugar → property-path tuple; FILTER flag is applied
    assert parse_pattern(f"?d|{EX}parent+|?a") == ("?d", (EX + "parent", "+"), "?a")
    gp2 = str(tmp_path / "graph2")
    tree = [(f"n{c}", EX + "parent", f"n{p}", "iri", EX + "g")
            for c, p in [(2, 1), (3, 1), (4, 2)]]
    spark.createDataFrame(
        tree, "subj string, pred string, obj string, okind string, graph string"
    ).write.parquet(gp2)
    args2 = argparse.Namespace(
        graph=gp2,
        pattern=[f"?d|{EX}parent+|?a"],
        optional=None,
        filter=["a = 'n1'"],
        select="d",
        distinct=False,
        limit=None,
    )
    got2 = sorted(r.d for r in build_query(spark, args2).collect())
    assert got2 == ["n2", "n3", "n4"]


class TestPropertyPathAndFilter:
    @pytest.fixture()
    def tree(self, spark):
        # 1 <- 2,3 ; 2 <- 4,5 ; 3 <- 6 ; plus an unrelated predicate
        rows = [(f"n{c}", "http://ex/parent", f"n{p}") for c, p in
                [(2, 1), (3, 1), (4, 2), (5, 2), (6, 3)]]
        rows += [("n4", "http://ex/label", "leaf")]
        return spark.createDataFrame(
            [(s, p, o, "iri", None) for s, p, o in rows],
            "subj string, pred string, obj string, okind string, graph string",
        )

    def test_plus_path_binds_all_ancestors(self, tree):
        got = bgp_match(
            tree, [("?d", ("http://ex/parent", "+"), "?a")], select=["d", "a"]
        ).collect()
        pairs = {(r.d, r.a) for r in got}
        assert pairs == {
            ("n2", "n1"), ("n3", "n1"), ("n4", "n2"), ("n5", "n2"),
            ("n6", "n3"), ("n4", "n1"), ("n5", "n1"), ("n6", "n1"),
        }

    def test_plus_path_with_constant_object(self, tree):
        got = bgp_match(
            tree, [("?d", ("http://ex/parent", "+"), "n2")], select=["d"]
        ).collect()
        assert sorted(r.d for r in got) == ["n4", "n5"]

    def test_star_refused(self, tree):
        with pytest.raises(NotImplementedError, match="property-path"):
            bgp_match(tree, [("?d", ("http://ex/parent", "*"), "?a")])

    def test_filter_applies_and_pushes_down(self, tree):
        q = bgp_match(
            tree,
            [("?s", "http://ex/parent", "?o")],
            select=["s", "o"],
            filters=["o = 'n1'"],
        )
        assert sorted(r.s for r in q.collect()) == ["n2", "n3"]
        # the single-variable filter must reach the scan, not sit above a join
        plan = q._jdf.queryExecution().optimizedPlan().toString()
        assert "n1" in plan and "Filter" in plan

    def test_filter_across_variables(self, tree):
        q = bgp_match(
            tree,
            [("?a", "http://ex/parent", "?x"), ("?b", "http://ex/parent", "?x")],
            select=["a", "b", "x"],
            filters=["a < b"],
        )
        got = {(r.a, r.b) for r in q.collect()}
        assert got == {("n2", "n3"), ("n4", "n5")}


class TestStatsDrivenOrdering:
    def test_order_key_prefers_rare_predicate(self):
        from mopper_spark.pipeline.bgp import _pattern_order_key

        stats = {"http://ex/common": 10**9, "http://ex/rare": 42}
        pats = [
            ("?t", "http://ex/common", "CONST"),   # 2 constants, huge pred
            ("?t", "http://ex/rare", "?e"),        # 1 constant, tiny pred
        ]
        ordered = sorted(pats, key=lambda p: _pattern_order_key(p, stats))
        assert ordered[0][1] == "http://ex/rare"
        # without stats the constants heuristic wins instead
        ordered0 = sorted(pats, key=lambda p: _pattern_order_key(p, None))
        assert ordered0[0][1] == "http://ex/common"

    def test_extra_constants_discount(self):
        from mopper_spark.pipeline.bgp import _pattern_order_key

        stats = {"p": 1000}
        loose = ("?s", "p", "?o")
        anchored = ("?s", "p", "obj-const")
        assert _pattern_order_key(anchored, stats) < _pattern_order_key(loose, stats)

    def test_results_invariant_under_stats(self, spark, triples):
        from mopper_spark.pipeline.bgp import bgp_match

        pats = [
            ("?t", EX + "mentions", "?e"),
            ("?t", EX + "inConv", "?c"),
        ]
        a = sorted(map(tuple, bgp_match(triples, pats, select=["c", "e"]).collect()))
        b = sorted(
            map(
                tuple,
                bgp_match(
                    triples,
                    pats,
                    select=["c", "e"],
                    stats={EX + "mentions": 5, EX + "inConv": 1000},
                ).collect(),
            )
        )
        assert a == b


class TestPathAlgebra:
    """Inverse ^ / sequence / alternation | / generalized + (VERDICT r3 #3)."""

    @pytest.fixture()
    def graph(self, spark):
        P, Q = "http://ex/p", "http://ex/q"
        rows = [
            ("a", P, "b"), ("b", P, "c"),          # p-chain a->b->c
            ("b", Q, "d"), ("c", Q, "e"),          # q-hops off the chain
            ("x", Q, "b"),
        ]
        return spark.createDataFrame(rows, "subj string, pred string, obj string")

    def test_inverse_swaps_endpoints(self, graph):
        got = bgp_match(
            graph, [("?o", ("^", "http://ex/p"), "?s")], select=["o", "s"]
        ).collect()
        assert {(r.o, r.s) for r in got} == {("b", "a"), ("c", "b")}

    def test_sequence_composes_hops(self, graph):
        # p/q: a-p->b-q->d, b-p->c-q->e
        got = bgp_match(
            graph, [("?s", ("/", "http://ex/p", "http://ex/q"), "?o")],
            select=["s", "o"],
        ).collect()
        assert {(r.s, r.o) for r in got} == {("a", "d"), ("b", "e")}

    def test_sequence_with_inverse_step(self, graph):
        # q/^q binds (s, o) sharing a q-target; no two sources share one
        # here, so only the reflexive pairs of q-sources survive
        got = bgp_match(
            graph,
            [("?s", ("/", "http://ex/q", ("^", "http://ex/q")), "?o")],
            select=["s", "o"],
        ).collect()
        assert {(r.s, r.o) for r in got} == {("b", "b"), ("c", "c"), ("x", "x")}

    def test_alternation_bag_union(self, graph):
        got = bgp_match(
            graph, [("?s", ("|", "http://ex/p", "http://ex/q"), "?o")],
            select=["s", "o"],
        ).collect()
        assert len(got) == 5  # bag semantics: all five edges survive
        assert {(r.s, r.o) for r in got} == {
            ("a", "b"), ("b", "c"), ("b", "d"), ("c", "e"), ("x", "b"),
        }

    def test_plus_over_alternation(self, graph):
        # (p|q)+ from 'a': a->b->{c,d}, c->e — full reachability set
        got = bgp_match(
            graph,
            [("a", ("+", ("|", "http://ex/p", "http://ex/q")), "?o")],
            select=["o"],
        ).collect()
        assert sorted(r.o for r in got) == ["b", "c", "d", "e"]

    def test_prefix_star_refused_and_materialize_star(self, graph):
        from mopper_spark.pipeline.bgp import materialize_star

        with pytest.raises(NotImplementedError, match="materialize_star"):
            bgp_match(graph, [("?s", ("*", "http://ex/p"), "?o")])
        star = materialize_star(graph, "http://ex/p")
        pairs = {(r.subj, r.obj) for r in star.collect()}
        # closure pairs + identity over EVERY graph node (subjects ∪ objects)
        closure = {("a", "b"), ("b", "c"), ("a", "c")}
        nodes = {"a", "b", "c", "d", "e", "x"}
        assert pairs == closure | {(n, n) for n in nodes}

    def test_materialize_star_restricted_nodes(self, graph):
        from mopper_spark.pipeline.bgp import materialize_star

        nodes = graph.sparkSession.createDataFrame([("a",), ("z",)], "n string")
        pairs = {
            (r.subj, r.obj)
            for r in materialize_star(graph, "http://ex/p", nodes=nodes).collect()
        }
        assert pairs == {("a", "a"), ("z", "z"), ("a", "b"), ("b", "c"), ("a", "c")}

    def test_bounded_repetition(self, spark):
        from mopper_spark.pipeline.bgp import path_edges

        P = "http://ex/p"
        # chain a->b->c->d->e plus a shortcut a->c (pair reachable at two
        # lengths must appear once: set semantics)
        rows = [("a", P, "b"), ("b", P, "c"), ("c", P, "d"),
                ("d", P, "e"), ("a", P, "c")]
        g = spark.createDataFrame(rows, "subj string, pred string, obj string")

        def pairs(path):
            return {(r.subj, r.obj) for r in path_edges(g, path).collect()}

        assert pairs(("{2,3}", P)) == {
            ("a", "c"), ("b", "d"), ("c", "e"),      # 2-hop
            ("a", "d"), ("b", "e"),                   # 3-hop
            ("a", "e"),                               # a->c->d->e (3 via shortcut)
        }
        # exact count {2}: 2-hops only (a->e unreachable in exactly 2? a->c->d yes)
        assert pairs(("{2}", P)) == {("a", "c"), ("b", "d"), ("c", "e"),
                                     ("a", "d")}
        # {1,1} degenerates to one hop
        assert pairs(("{1,1}", P)) == pairs(P)
        # rows counted once even when reachable at multiple lengths
        got = path_edges(g, ("{1,3}", P)).collect()
        assert len(got) == len({(r.subj, r.obj) for r in got})

    def test_bounded_repetition_validation(self, graph):
        from mopper_spark.pipeline.bgp import path_edges

        with pytest.raises(NotImplementedError, match="materialize_star"):
            path_edges(graph, ("{0,2}", "http://ex/p"))
        with pytest.raises(ValueError, match="m <= n"):
            path_edges(graph, ("{3,2}", "http://ex/p"))
        with pytest.raises(ValueError, match="malformed"):
            path_edges(graph, ("{x}", "http://ex/p"))

    def test_bounded_repetition_in_bgp_pattern(self, graph):
        got = bgp_match(
            graph, [("?s", ("{2}", "http://ex/p"), "?o")], select=["s", "o"]
        ).collect()
        assert {(r.s, r.o) for r in got} == {("a", "c")}

    def test_negated_property_set(self, graph):
        from mopper_spark.pipeline.bgp import path_edges

        P, Q = "http://ex/p", "http://ex/q"

        def pairs(path):
            return {(r.subj, r.obj) for r in path_edges(graph, path).collect()}

        # forward-only: every edge whose pred is NOT in the set
        assert pairs(("!", P)) == {("b", "d"), ("c", "e"), ("x", "b")}
        # inverse-only member: reversed edges whose pred is NOT in the set
        assert pairs(("!", ("^", Q))) == {("b", "a"), ("c", "b")}
        # mixed: NPS(F) UNION ^NPS(I)
        assert pairs(("!", P, ("^", P))) == {
            ("b", "d"), ("c", "e"), ("x", "b"),   # forward non-P (= Q)
            ("d", "b"), ("e", "c"), ("b", "x"),   # reversed non-P
        }

    def test_negated_property_set_validation(self, graph):
        from mopper_spark.pipeline.bgp import path_edges

        with pytest.raises(ValueError, match="members must be IRIs"):
            path_edges(graph, ("!", ("/", "p", "q")))
        with pytest.raises(ValueError, match="members must be IRIs"):
            path_edges(graph, ("!", "?v"))
        with pytest.raises(ValueError, match="empty negated"):
            path_edges(graph, ("!",))

    def test_path_repr_round_trip(self):
        from mopper_spark.pipeline.bgp import path_repr

        assert path_repr(("^", "p")) == "^p"
        assert path_repr(("/", "p", ("^", "q"))) == "(p/^q)"
        assert path_repr(("p", "+")) == "(p)+"
        assert path_repr(("+", ("|", "p", "q"))) == "((p|q))+"

    def test_variable_inside_path_rejected(self, graph):
        with pytest.raises(ValueError, match="variable"):
            bgp_match(graph, [("?s", ("/", "?v", "http://ex/q"), "?o")])


def test_kg_query_cli_path_syntax(spark, tmp_path):
    """CLI SPARQL path syntax: paren-aware term split + parse_path."""
    import argparse
    import sys

    sys.path.insert(0, str(__import__("pathlib").Path(__file__).parent.parent))
    from jobs.kg_query import build_query, parse_pattern

    # path syntax parses to the tuple algebra; term split survives inner '|'
    assert parse_pattern(f"?s|^<{EX}p>|?o") == ("?s", ("^", EX + "p"), "?o")
    assert parse_pattern(f"?s|<{EX}p>/<{EX}q>|?o") == (
        "?s", ("/", EX + "p", EX + "q"), "?o",
    )
    assert parse_pattern(f"?s|(<{EX}p>|<{EX}q>)+|?o") == (
        "?s", ("+", ("|", EX + "p", EX + "q")), "?o",
    )
    # plain IRIs (slashes, no operators) still pass through untouched
    assert parse_pattern(f"?s|{EX}p|?o") == ("?s", EX + "p", "?o")
    # round-4 syntax reaches the algebra through the CLI too
    assert parse_pattern(f"?s|<{EX}p>{{2,3}}|?o") == (
        "?s", ("{2,3}", EX + "p"), "?o",
    )
    assert parse_pattern(f"?s|!(<{EX}p>|^<{EX}q>)|?o") == (
        "?s", ("!", EX + "p", ("^", EX + "q")), "?o",
    )
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        parse_pattern(f"?s|(<{EX}p>|?o")  # unbalanced paren

    gp = str(tmp_path / "graph")
    rows = [("a", EX + "p", "b"), ("b", EX + "q", "c")]
    spark.createDataFrame(rows, "subj string, pred string, obj string").write.parquet(gp)
    args = argparse.Namespace(
        graph=gp,
        pattern=[f"?s|<{EX}p>/<{EX}q>|?o"],
        optional=None,
        filter=None,
        select="s,o",
        distinct=False,
        limit=None,
    )
    assert [tuple(r) for r in build_query(spark, args).collect()] == [("a", "c")]


def test_parse_path_precedence():
    from mopper_spark.pipeline.bgp import parse_path

    # '|' binds loosest, '/' tighter, postfix tightest
    assert parse_path("<a>|<b>/<c>") == ("|", "a", ("/", "b", "c"))
    assert parse_path("<a>/<b>+") == ("/", "a", ("+", "b"))
    assert parse_path("(<a>/<b>)+") == ("+", ("/", "a", "b"))
    assert parse_path("^<a>/<b>") == ("/", ("^", "a"), "b")
    assert parse_path("^(<a>/<b>)") == ("^", ("/", "a", "b"))
    assert parse_path("<a>") == "a"
    assert parse_path("bare") == "bare"
    # bounded repetition binds like the other postfix operators
    assert parse_path("<a>{2,4}") == ("{2,4}", "a")
    assert parse_path("<a>/<b>{2}") == ("/", "a", ("{2}", "b"))
    assert parse_path("(<a>|<b>){1,2}") == ("{1,2}", ("|", "a", "b"))
    import pytest as _pytest
    with _pytest.raises(ValueError, match="malformed repetition"):
        parse_path("<a>{,3}")
    with _pytest.raises(ValueError, match="unterminated"):
        parse_path("<a>{2,3")
    # negated property sets; postfix mods apply to the NPS (PathPrimary)
    assert parse_path("!<a>") == ("!", "a")
    assert parse_path("!(<a>|^<b>)") == ("!", "a", ("^", "b"))
    assert parse_path("!(<a>)+") == ("+", ("!", "a"))
    assert parse_path("<a>/!^<b>") == ("/", "a", ("!", ("^", "b")))
    from mopper_spark.pipeline.bgp import path_repr
    assert path_repr(("!", "p", ("^", "q"))) == "!(p|^q)"


def test_bgp_aggregate(spark, tmp_path):
    from mopper_spark.pipeline.bgp import bgp_aggregate, bgp_match

    rows = [
        (EX + "t1", EX + "mentions", EX + "alice"),
        (EX + "t1", EX + "mentions", EX + "bob"),
        (EX + "t1", EX + "inConv", EX + "c1"),
        (EX + "t2", EX + "mentions", EX + "alice"),
        (EX + "t2", EX + "inConv", EX + "c1"),
        (EX + "t3", EX + "mentions", EX + "carol"),
        (EX + "t3", EX + "inConv", EX + "c2"),
    ]
    g = spark.createDataFrame(rows, "subj string, pred string, obj string")
    sol = bgp_match(
        g,
        [("?t", EX + "mentions", "?e"), ("?t", EX + "inConv", "?c")],
        select=["c", "e"],
    )
    out = {r.c: (r.n_e, r.n_rows) for r in bgp_aggregate(
        sol, ["c"], {"n_e": "count(distinct e)", "n_rows": "count(e)"}
    ).collect()}
    assert out == {EX + "c1": (2, 3), EX + "c2": (1, 1)}
    # HAVING filters on the aggregate alias
    kept = bgp_aggregate(
        sol, ["c"], {"n_e": "count(distinct e)"}, having="n_e >= 2"
    ).collect()
    assert [r.c for r in kept] == [EX + "c1"]
    # empty group_by = single-group SPARQL form
    (row,) = bgp_aggregate(sol, [], {"n": "count(*)"}).collect()
    assert row.n == 4
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no aggregate"):
        bgp_aggregate(sol, ["c"], {})


class TestSeededClosure:
    """Constant-anchored `+` paths run a frontier BFS from the constant
    (closure_from) instead of the full-graph closure (VERDICT r3 #4)."""

    @pytest.fixture()
    def tree(self, spark):
        rows = [(f"n{c}", "http://ex/parent", f"n{p}") for c, p in
                [(2, 1), (3, 1), (4, 2), (5, 2), (6, 3), (8, 7)]]  # 7<-8 separate
        return spark.createDataFrame(rows, "subj string, pred string, obj string")

    def test_constant_subject_cone(self, tree):
        got = bgp_match(
            tree, [("n4", ("http://ex/parent", "+"), "?a")], select=["a"]
        ).collect()
        assert sorted(r.a for r in got) == ["n1", "n2"]

    def test_constant_object_cone(self, tree):
        got = bgp_match(
            tree, [("?d", ("http://ex/parent", "+"), "n2")], select=["d"]
        ).collect()
        assert sorted(r.d for r in got) == ["n4", "n5"]

    def test_matches_full_closure_semantics(self, tree):
        # the seeded path must equal filtering the full closure
        full = bgp_match(
            tree, [("?d", ("http://ex/parent", "+"), "?a")], select=["d", "a"]
        ).collect()
        want = sorted((r.d, r.a) for r in full if r.a == "n1")
        seeded = bgp_match(
            tree, [("?d", ("http://ex/parent", "+"), "n1")], select=["d"]
        ).collect()
        assert sorted((r.d, "n1") for r in seeded) == want

    def test_closure_from_cycle_safe(self, spark):
        from mopper_spark.pipeline.graph import closure_from

        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "a"), ("x", "y")], "src string, dst string"
        )
        seeds = spark.createDataFrame([("a",)], "origin string")
        got = {(r.origin, r.node) for r in closure_from(edges, seeds).collect()}
        assert got == {("a", "b"), ("a", "c"), ("a", "a")}  # cycle reaches self

    def test_closure_from_no_out_edges(self, spark):
        from mopper_spark.pipeline.graph import closure_from

        edges = spark.createDataFrame([("a", "b")], "src string, dst string")
        seeds = spark.createDataFrame([("b",), ("z",)], "origin string")
        assert closure_from(edges, seeds).count() == 0

    def test_closure_from_cone_depth_equal_to_max_iters(self, spark):
        # a 5-edge chain: the first frontier holds hop 1, rounds 1..4 add
        # hops 2..5 and round 5 derives nothing, so max_iters=5 suffices
        from mopper_spark.pipeline.graph import closure_from

        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(5)], "src long, dst long"
        )
        seeds = spark.createDataFrame([(0,)], "origin long")
        got = {(r.origin, r.node) for r in closure_from(edges, seeds, max_iters=5).collect()}
        assert got == {(0, n) for n in range(1, 6)}


def test_kg_query_cli_aggregation(spark, tmp_path):
    import argparse
    import sys

    sys.path.insert(0, str(__import__("pathlib").Path(__file__).parent.parent))
    from jobs.kg_query import build_query

    gp = str(tmp_path / "graph")
    rows = [
        ("t1", EX + "mentions", "alice"), ("t1", EX + "mentions", "bob"),
        ("t1", EX + "inConv", "c1"),
        ("t2", EX + "mentions", "alice"), ("t2", EX + "inConv", "c1"),
        ("t3", EX + "mentions", "carol"), ("t3", EX + "inConv", "c2"),
    ]
    spark.createDataFrame(rows, "subj string, pred string, obj string").write.parquet(gp)
    args = argparse.Namespace(
        graph=gp,
        pattern=[f"?t|{EX}mentions|?e", f"?t|{EX}inConv|?c"],
        optional=None, filter=None, select=None, distinct=False, limit=None,
        agg=["n=count(distinct e)"], group_by="c", having="n >= 2",
    )
    got = [tuple(r) for r in build_query(spark, args).collect()]
    assert got == [("c1", 2)]


class TestSolutionAlgebra:
    """MINUS / EXISTS / VALUES / BIND / slice / CONSTRUCT — the SPARQL
    solution-sequence algebra over bgp_match outputs."""

    @pytest.fixture(scope="class")
    def sol(self, spark, triples):
        return bgp_match(
            triples,
            [("?t", EX + "mentions", "?e"), ("?t", EX + "inConv", "?c")],
            select=["t", "e", "c"],
        )

    def test_minus_anti_join(self, spark, sol):
        from mopper_spark.pipeline.bgp import bgp_minus

        other = spark.createDataFrame([(EX + "alice",)], "e string")
        got = sorted(r.e for r in bgp_minus(sol, other).collect())
        assert got == [EX + "bob", EX + "bob", EX + "carol"]

    def test_minus_no_shared_vars_removes_nothing(self, spark, sol):
        from mopper_spark.pipeline.bgp import bgp_minus

        other = spark.createDataFrame([("x",)], "unrelated string")
        assert bgp_minus(sol, other).count() == sol.count()

    def test_exists_semi_join_no_fanout(self, spark, sol):
        from mopper_spark.pipeline.bgp import bgp_exists

        # two witness rows for the same key must not duplicate solutions
        other = spark.createDataFrame(
            [(EX + "alice", 1), (EX + "alice", 2)], "e string, w int"
        )
        got = sorted(r.t for r in bgp_exists(sol, other).collect())
        assert got == [EX + "t1", EX + "t2"]

    def test_exists_disconnected_refused(self, spark, sol):
        from mopper_spark.pipeline.bgp import bgp_exists

        other = spark.createDataFrame([("x",)], "unrelated string")
        with pytest.raises(ValueError, match="shares no variable"):
            bgp_exists(sol, other)

    def test_values_inline_join(self, sol):
        from mopper_spark.pipeline.bgp import bgp_values

        got = bgp_values(sol, [{"e": EX + "alice"}, {"e": EX + "carol"}])
        assert sorted((r.t, r.e) for r in got.collect()) == [
            (EX + "t1", EX + "alice"),
            (EX + "t2", EX + "alice"),
            (EX + "t3", EX + "carol"),
        ]

    def test_values_undef_and_unbound_refused(self, sol):
        from mopper_spark.pipeline.bgp import bgp_values

        with pytest.raises(ValueError, match="UNDEF"):
            bgp_values(sol, [{"e": None}])
        with pytest.raises(ValueError, match="not bound"):
            bgp_values(sol, [{"nope": "x"}])
        with pytest.raises(ValueError, match="empty"):
            bgp_values(sol, [])

    def test_bind_native_expr(self, sol):
        from mopper_spark.pipeline.bgp import bgp_bind

        out = bgp_bind(sol, "short", "substring(e, 11, 20)")
        assert set(out.columns) == {"t", "e", "c", "short"}
        assert {r.short for r in out.collect()} == {"alice", "bob", "carol"}
        with pytest.raises(ValueError, match="already bound"):
            bgp_bind(sol, "e", "1")

    def test_slice_order_limit_offset(self, sol):
        from mopper_spark.pipeline.bgp import bgp_slice

        ordered = bgp_slice(sol, ["e", "t"], limit=2, offset=1)
        got = [(r.e, r.t) for r in ordered.collect()]
        assert got == [(EX + "alice", EX + "t2"), (EX + "bob", EX + "t1")]
        desc = bgp_slice(sol, [("e", "desc"), "t"], limit=1)
        assert [r.e for r in desc.collect()] == [EX + "carol"]
        with pytest.raises(ValueError, match="ORDER BY"):
            bgp_slice(sol, [], limit=1)

    def test_slice_with_limit_plans_take_ordered(self, sol):
        from mopper_spark.pipeline.bgp import bgp_slice

        plan = bgp_slice(sol, ["e"], limit=2)._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan

    def test_construct_templates(self, spark, sol):
        from mopper_spark.pipeline.bgp import bgp_construct

        g = bgp_construct(
            sol,
            [
                ("?c", EX + "hadMention", "?e"),
                ("?e", EX + "type", EX + "Entity"),
            ],
        )
        rows = {tuple(r) for r in g.collect()}
        # distinct graph: alice mentioned twice collapses per (c,e)
        assert (EX + "c1", EX + "hadMention", EX + "alice") in rows
        assert (EX + "alice", EX + "type", EX + "Entity") in rows
        assert len([r for r in rows if r[1] == EX + "type"]) == 3
        assert g.columns == ["subj", "pred", "obj"]

    def test_construct_unbound_dropped_per_template(self, spark, triples):
        from mopper_spark.pipeline.bgp import bgp_construct, bgp_match

        sol = bgp_match(
            triples,
            [("?t", EX + "inConv", "?c")],
            optional=[("?t", EX + "tool", "?tl")],
            select=["t", "tl"],
        )
        g = bgp_construct(sol, [("?t", EX + "usedTool", "?tl")])
        assert g.count() == 0  # no tool triples in fixture -> all NULL

    def test_construct_bad_templates_refused(self, sol):
        from mopper_spark.pipeline.bgp import bgp_construct

        with pytest.raises(ValueError, match="not bound"):
            bgp_construct(sol, [("?c", EX + "p", "?nope")])
        with pytest.raises(ValueError, match="3 terms"):
            bgp_construct(sol, [("?c", EX + "p")])
        with pytest.raises(ValueError, match="no templates"):
            bgp_construct(sol, [])


def test_kg_query_cli_solution_algebra(spark, tmp_path):
    """jobs/kg_query.py: --values/--minus/--bind/--order-by/--construct."""
    import argparse
    import sys

    sys.path.insert(0, str(__import__("pathlib").Path(__file__).parent.parent))
    from jobs.kg_query import build_query

    gp = str(tmp_path / "graph")
    rows = [
        (EX + "t1", EX + "mentions", EX + "alice", "iri", EX + "g"),
        (EX + "t1", EX + "role", "user", "lit", EX + "g"),
        (EX + "t2", EX + "mentions", EX + "bob", "iri", EX + "g"),
        (EX + "t2", EX + "role", "user", "lit", EX + "g"),
        (EX + "t3", EX + "mentions", EX + "alice", "iri", EX + "g"),
        (EX + "t3", EX + "role", "assistant", "lit", EX + "g"),
    ]
    spark.createDataFrame(
        rows, "subj string, pred string, obj string, okind string, graph string"
    ).write.parquet(gp)

    base = dict(
        graph=gp,
        pattern=[f"?t|{EX}mentions|?e", f"?t|{EX}role|?r"],
        optional=None,
        filter=None,
        select="e,r,t",
        distinct=False,
        agg=None,
        group_by=None,
        having=None,
        construct=None,
        order_by=None,
        offset=None,
        limit=None,
        values=None,
        minus=None,
        bind=None,
    )

    # VALUES restricts; MINUS removes entities also mentioned by assistants
    args = argparse.Namespace(
        **{
            **base,
            "values": ['{"r": "user"}'],
            "minus": [f"?t2|{EX}mentions|?e", f"?t2|{EX}role|assistant"],
        }
    )
    # minus BGP binds (t2, e) -- wait, 'assistant' is a constant object
    got = sorted(r.e for r in build_query(spark, args).collect())
    assert got == [EX + "bob"]

    # BIND + ORDER BY desc + LIMIT
    args2 = argparse.Namespace(
        **{**base, "bind": ["eshort=substring(e, 11, 20)"],
           "order_by": "-e,t", "limit": 1}
    )
    out2 = build_query(spark, args2).collect()
    assert [(r.eshort, r.r) for r in out2] == [("bob", "user")]

    # CONSTRUCT emits the distinct instantiated graph
    args3 = argparse.Namespace(
        **{**base, "construct": [f"?e|{EX}type|{EX}Entity"]}
    )
    got3 = sorted(tuple(r) for r in build_query(spark, args3).collect())
    assert got3 == [
        (EX + "alice", EX + "type", EX + "Entity"),
        (EX + "bob", EX + "type", EX + "Entity"),
    ]


class TestAsk:
    def _kg(self, spark):
        return spark.createDataFrame(
            [
                ("t1", "ex:mentions", "alice"),
                ("t1", "ex:inConv", "c1"),
                ("t2", "ex:mentions", "bob"),
            ],
            "subj string, pred string, obj string",
        )

    def test_ask_true(self, spark):
        from mopper_spark.pipeline.bgp import bgp_ask, bgp_match

        sol = bgp_match(
            self._kg(spark),
            [("?t", "ex:mentions", "?e"), ("?t", "ex:inConv", "?c")],
        )
        rows = bgp_ask(sol).collect()
        assert len(rows) == 1 and rows[0].found is True

    def test_ask_false(self, spark):
        from mopper_spark.pipeline.bgp import bgp_ask, bgp_match

        sol = bgp_match(self._kg(spark), [("?t", "ex:missing", "?e")])
        rows = bgp_ask(sol).collect()
        assert len(rows) == 1 and rows[0].found is False

    def test_ask_short_circuits_with_limit(self, spark):
        """The plan must carry a CollectLimit/GlobalLimit below the
        aggregate — the witness short-circuit, not a full count."""
        from mopper_spark.pipeline.bgp import bgp_ask

        df = spark.range(10_000_000).select(F.lit("s").alias("subj"))
        plan = bgp_ask(df)._jdf.queryExecution().executedPlan().toString()
        assert "Limit" in plan


class TestSparqlUpdate:
    def _graph(self, spark):
        rows = [
            ("t1", "p:mentions", "alice"),
            ("t1", "p:role", "assistant"),
            ("t2", "p:mentions", "bob"),
            ("t2", "p:role", "user"),
            ("t1", "p:text", "hello"),
        ]
        return spark.createDataFrame(rows, "subj string, pred string, obj string")

    def test_delete_insert_where(self, spark):
        from mopper_spark.pipeline.bgp import sparql_update

        out = sparql_update(
            self._graph(spark),
            where=[("?t", "p:mentions", "?e"), ("?t", "p:role", "assistant")],
            delete=[("?t", "p:mentions", "?e")],
            insert=[("?t", "p:refersTo", "?e"), ("?e", "p:mentionedBy", "?t")],
        )
        got = {tuple(r) for r in out.collect()}
        assert ("t1", "p:mentions", "alice") not in got       # deleted
        assert ("t2", "p:mentions", "bob") in got             # user turn untouched
        assert ("t1", "p:refersTo", "alice") in got           # inserted
        assert ("alice", "p:mentionedBy", "t1") in got
        assert ("t1", "p:text", "hello") in got               # bystander kept
        assert len(got) == 6

    def test_insert_is_set_semantic(self, spark):
        """Inserting an already-present triple does not duplicate it."""
        from mopper_spark.pipeline.bgp import sparql_update

        out = sparql_update(
            self._graph(spark),
            where=[("?t", "p:role", "assistant")],
            insert=[("?t", "p:role", "assistant")],
        )
        assert out.count() == 5

    def test_bindings_match_original_graph(self, spark):
        """DELETE removes the triples the WHERE itself matched — the spec's
        evaluate-against-original order (a sequential engine that re-read
        the graph mid-update would find nothing to insert)."""
        from mopper_spark.pipeline.bgp import sparql_update

        out = sparql_update(
            self._graph(spark),
            where=[("?t", "p:mentions", "?e")],
            delete=[("?t", "p:mentions", "?e")],
            insert=[("?t", "p:sawMention", "?e")],
        )
        got = {tuple(r) for r in out.collect()}
        assert ("t1", "p:sawMention", "alice") in got
        assert ("t2", "p:sawMention", "bob") in got
        assert not any(p == "p:mentions" for _, p, _ in got)

    def test_refuses_quads_and_empty_update(self, spark):
        import pytest as _pytest

        from mopper_spark.pipeline.bgp import sparql_update

        g = self._graph(spark).withColumn("graph", F.lit("g"))
        with _pytest.raises(ValueError, match="subj, pred, obj"):
            sparql_update(g, where=[("?t", "p:role", "?r")],
                          delete=[("?t", "p:role", "?r")])
        with _pytest.raises(ValueError, match="neither"):
            sparql_update(self._graph(spark), where=[("?t", "p:role", "?r")])

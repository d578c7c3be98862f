"""SPARQL text front-end (pipeline/sparql.py) over the BGP algebra."""

import pytest

from mopper_spark.pipeline.sparql import RDF_TYPE, SparqlParseError, sparql_query

EX = "http://ex.com/"
ONT = "http://ex.com/ont/"


@pytest.fixture(scope="module")
def graph(spark):
    t = lambda s, p, o: (EX + s, ONT + p, o)  # noqa: E731
    rows = [
        t("t1", "mentions", EX + "alice"),
        t("t1", "inConv", EX + "c1"),
        t("t2", "mentions", EX + "bob"),
        t("t2", "inConv", EX + "c1"),
        t("t3", "mentions", EX + "alice"),
        t("t3", "inConv", EX + "c2"),
        t("t1", "role", "user"),
        t("t2", "role", "assistant"),
        t("t3", "role", "user"),
        (EX + "alice", RDF_TYPE, ONT + "Person"),
        (EX + "bob", RDF_TYPE, ONT + "Person"),
        (EX + "alice", ONT + "knows", EX + "bob"),
        (EX + "bob", ONT + "knows", EX + "carol"),
        (EX + "t1", ONT + "next", EX + "t2"),
        (EX + "t2", ONT + "next", EX + "t3"),
    ]
    return spark.createDataFrame(rows, ["subj", "pred", "obj"])


PFX = f"PREFIX ont: <{ONT}> PREFIX ex: <{EX}>\n"


def rows(df):
    return sorted(map(tuple, df.collect()))


def test_select_basic_semicolon_and_prefix(graph):
    out = sparql_query(
        graph,
        PFX
        + """SELECT ?t ?e WHERE {
              ?t ont:mentions ?e ; ont:inConv ex:c1 .
            }""",
    )
    assert out.columns == ["t", "e"]
    assert rows(out) == [(EX + "t1", EX + "alice"), (EX + "t2", EX + "bob")]


def test_a_keyword_and_distinct(graph):
    out = sparql_query(
        graph, PFX + "SELECT DISTINCT ?x WHERE { ?x a ont:Person . }"
    )
    assert rows(out) == [(EX + "alice",), (EX + "bob",)]


def test_filter_expressions(graph):
    out = sparql_query(
        graph,
        PFX
        + """SELECT ?t ?r WHERE {
              ?t ont:role ?r .
              FILTER(REGEX(?r, "^assist") || ?r = "user" && STRLEN(?r) < 3)
            }""",
    )
    # operator precedence: || lower than && — only the regex arm matches
    assert rows(out) == [(EX + "t2", "assistant")]


def test_filter_strstarts_contains(graph):
    out = sparql_query(
        graph,
        PFX
        + """SELECT ?e WHERE {
              ?t ont:mentions ?e .
              FILTER(STRSTARTS(STR(?e), "http://ex.com/a") && CONTAINS(?e, "lic"))
            }""",
    )
    assert rows(out) == [(EX + "alice",)] * 2


def test_optional_yields_nulls(graph):
    out = sparql_query(
        graph,
        PFX
        + """SELECT ?e ?k WHERE {
              ?t ont:mentions ?e .
              OPTIONAL { ?e ont:knows ?k }
            }""",
    )
    got = rows(out)
    assert (EX + "alice", EX + "bob") in got
    assert (EX + "bob", EX + "carol") in got


def test_union_standalone(graph):
    out = sparql_query(
        graph,
        PFX
        + """SELECT ?x WHERE {
              { ?x ont:role "user" } UNION { ?x ont:role "assistant" }
            }""",
    )
    assert rows(out) == [(EX + "t1",), (EX + "t2",), (EX + "t3",)]


def test_union_joined_with_rest(graph):
    out = sparql_query(
        graph,
        PFX
        + """SELECT ?t ?e WHERE {
              ?t ont:mentions ?e .
              { ?t ont:role "user" } UNION { ?t ont:role "assistant" }
              FILTER(?e != ex:bob)
            }""",
    )
    assert rows(out) == [(EX + "t1", EX + "alice"), (EX + "t3", EX + "alice")]


def test_minus_and_not_exists_agree(graph):
    q = """SELECT DISTINCT ?e WHERE {{
             ?t ont:mentions ?e .
             {clause}
           }}"""
    minus = sparql_query(
        graph, PFX + q.format(clause="MINUS { ?e ont:knows ex:bob }")
    )
    nexists = sparql_query(
        graph,
        PFX + q.format(clause="FILTER NOT EXISTS { ?e ont:knows ex:bob }"),
    )
    assert rows(minus) == rows(nexists) == [(EX + "bob",)]


def test_filter_exists(graph):
    out = sparql_query(
        graph,
        PFX
        + """SELECT DISTINCT ?e WHERE {
              ?t ont:mentions ?e .
              FILTER EXISTS { ?e ont:knows ?anyone }
            }""",
    )
    assert rows(out) == [(EX + "alice",), (EX + "bob",)]


def test_bind_and_values(graph):
    out = sparql_query(
        graph,
        PFX
        + """SELECT ?t ?who WHERE {
              ?t ont:role ?r .
              BIND(UCASE(?r) AS ?who)
              VALUES ?r { "assistant" }
            }""",
    )
    assert rows(out) == [(EX + "t2", "ASSISTANT")]


def test_values_multi_var_rows(graph):
    out = sparql_query(
        graph,
        PFX
        + """SELECT ?t WHERE {
              ?t ont:mentions ?e ; ont:inConv ?c .
              VALUES (?e ?c) { (ex:alice ex:c1) (ex:bob ex:c1) }
            }""",
    )
    assert rows(out) == [(EX + "t1",), (EX + "t2",)]


def test_aggregate_group_having_order_limit(graph):
    out = sparql_query(
        graph,
        PFX
        + """SELECT ?c (COUNT(DISTINCT ?e) AS ?n) WHERE {
              ?t ont:mentions ?e ; ont:inConv ?c .
            } GROUP BY ?c HAVING(COUNT(DISTINCT ?e) >= 1)
            ORDER BY DESC(?n) ?c LIMIT 2""",
    )
    assert out.columns == ["c", "n"]
    assert rows(out) == [(EX + "c1", 2), (EX + "c2", 1)]


def test_property_path_text_forms(graph):
    # one-or-more closure
    plus = sparql_query(
        graph, PFX + "SELECT ?y WHERE { ex:t1 ont:next+ ?y . }"
    )
    assert rows(plus) == [(EX + "t2",), (EX + "t3",)]
    # sequence + inverse
    seq = sparql_query(
        graph,
        PFX + "SELECT ?c WHERE { ex:alice ^ont:mentions/ont:inConv ?c . }",
    )
    assert rows(seq) == [(EX + "c1",), (EX + "c2",)]
    # alternation
    alt = sparql_query(
        graph,
        PFX + 'SELECT ?o WHERE { ex:t2 (ont:role|ont:next) ?o . }',
    )
    assert rows(alt) == [("assistant",), (EX + "t3",)]
    # bounded repetition
    rep = sparql_query(
        graph, PFX + "SELECT ?y WHERE { ex:t1 ont:next{2} ?y . }"
    )
    assert rows(rep) == [(EX + "t3",)]
    # negated property set
    nps = sparql_query(
        graph,
        PFX
        + "SELECT ?o WHERE { ex:t1 !(ont:mentions|ont:role|ont:next) ?o . }",
    )
    assert rows(nps) == [(EX + "c1",)]


def test_ask(graph):
    yes = sparql_query(graph, PFX + "ASK { ex:alice ont:knows ex:bob }")
    no = sparql_query(graph, PFX + "ASK { ex:bob ont:knows ex:alice }")
    assert [r["found"] for r in yes.collect()] == [True]
    assert [r["found"] for r in no.collect()] == [False]


def test_construct(graph):
    out = sparql_query(
        graph,
        PFX
        + """CONSTRUCT { ?e ont:appearsIn ?c . ?c a ont:Conversation }
            WHERE { ?t ont:mentions ?e ; ont:inConv ?c . }""",
    )
    got = rows(out)
    assert (EX + "alice", ONT + "appearsIn", EX + "c1") in got
    assert (EX + "c1", RDF_TYPE, ONT + "Conversation") in got
    # graph semantics: distinct (alice appears in c1 once despite 1 turn)
    assert len(got) == len(set(got))


def test_matches_programmatic_api(graph):
    from mopper_spark.pipeline.bgp import bgp_match

    text = sparql_query(
        graph,
        PFX
        + """SELECT ?conv ?e1 ?e2 WHERE {
              ?t1 ont:mentions ?e1 . ?t1 ont:inConv ?conv .
              ?t2 ont:mentions ?e2 . ?t2 ont:inConv ?conv .
              FILTER(?e1 < ?e2)
            }""",
    ).distinct()
    api = (
        bgp_match(
            graph,
            [
                ("?t1", ONT + "mentions", "?e1"),
                ("?t1", ONT + "inConv", "?conv"),
                ("?t2", ONT + "mentions", "?e2"),
                ("?t2", ONT + "inConv", "?conv"),
            ],
            select=["conv", "e1", "e2"],
        )
        .filter("e1 < e2")
        .distinct()
    )
    assert rows(text.select("conv", "e1", "e2")) == rows(api)


@pytest.mark.parametrize(
    "q,needle",
    [
        ("BASE <http://x/> SELECT ?x WHERE { ?x ?p ?o }", "BASE"),
        (
            PFX + "SELECT ?x WHERE { GRAPH ?g { ?x ont:role ?r "
            "FILTER(?x > 1) } }",
            "GRAPH",
        ),
        (PFX + "SELECT ?x WHERE { SELECT ?x WHERE { ?x ont:role ?r } }", "SELECT"),
        (PFX + "SELECT ?x WHERE { VALUES ?x { UNDEF } ?x ont:role ?r }", "UNDEF"),
        (PFX + 'SELECT ?x WHERE { ?x ont:role "u"^^ont:T }', "typed literals"),
        (PFX + "SELECT * (COUNT(?x) AS ?n) WHERE { ?x ont:role ?r }", "mix"),
        (PFX + "SELECT ?x WHERE { ?x ont:role ?r FILTER(NOW() > 3) }", "NOW"),
        (PFX + "SELECT ?x WHERE { ?x ont:role ?r } OFFSET 2 LIMIT 1", "ORDER BY"),
        (PFX + "SELECT ?nope WHERE { ?x ont:role ?r }", "nope"),
        (PFX + "SELECT ?r (SUM(?x) AS ?s) WHERE { ?x ont:role ?r }", "non-grouped"),
    ],
)
def test_refusals(graph, q, needle):
    with pytest.raises(ValueError, match=needle):
        sparql_query(graph, q).collect()


def test_star_path_refused(graph):
    with pytest.raises(
        (ValueError, NotImplementedError),
        match="materialize_star|zero-or-more|\\*",
    ):
        sparql_query(
            graph, PFX + "SELECT ?y WHERE { ex:t1 ont:next* ?y . }"
        ).collect()


def test_select_star(graph):
    out = sparql_query(
        graph, PFX + 'SELECT * WHERE { ?t ont:role "user" . ?t ont:inConv ?c }'
    )
    assert out.columns == ["c", "t"]  # sorted variable order
    assert len(out.collect()) == 2


def test_subquery_joined_with_outer_pattern(graph):
    """Braced subquery (SPARQL 1.1 §12): per-entity mention counts join
    the outer mention pattern on the projected ?e only."""
    out = sparql_query(
        graph,
        PFX
        + """SELECT ?t ?e ?n WHERE {
              ?t ont:mentions ?e .
              { SELECT ?e (COUNT(?x) AS ?n) WHERE {
                  ?x ont:mentions ?e .
                } GROUP BY ?e }
            }""",
    )
    got = rows(out.select("t", "e", out.n.cast("long")))
    assert got == sorted(
        [
            (EX + "t1", EX + "alice", 2),
            (EX + "t3", EX + "alice", 2),
            (EX + "t2", EX + "bob", 1),
        ]
    )


def test_subquery_alone_and_modifiers(graph):
    """A group may be JUST a subquery; inner ORDER/LIMIT apply before the
    outer projection sees the rows."""
    out = sparql_query(
        graph,
        PFX
        + """SELECT ?e WHERE {
              { SELECT ?e (COUNT(?x) AS ?n) WHERE { ?x ont:mentions ?e . }
                GROUP BY ?e ORDER BY DESC(?n) ?e LIMIT 1 }
            }""",
    )
    assert rows(out) == [(EX + "alice",)]


def test_subquery_scoping_hides_inner_variables(graph):
    """?x is not projected by the subquery, so the outer SELECT cannot
    see it — the §12 scoping rule."""
    with pytest.raises(SparqlParseError, match="x"):
        sparql_query(
            graph,
            PFX
            + """SELECT ?x WHERE {
                  { SELECT ?e WHERE { ?x ont:mentions ?e . } }
                }""",
        )


def test_subquery_cartesian_guard(graph):
    with pytest.raises(SparqlParseError, match="cartesian"):
        sparql_query(
            graph,
            PFX
            + """SELECT ?t WHERE {
                  ?t ont:role "user" .
                  { SELECT ?e WHERE { ?x ont:mentions ?e . } }
                }""",
        )


def test_bare_in_group_select_still_refused(graph):
    with pytest.raises(SparqlParseError, match="SELECT"):
        sparql_query(
            graph, PFX + "SELECT ?x WHERE { SELECT ?x WHERE { ?x ont:role ?r } }"
        )


@pytest.fixture(scope="module")
def quads(spark):
    rows = [
        (EX + "t1", ONT + "mentions", EX + "alice", EX + "g1"),
        (EX + "t2", ONT + "mentions", EX + "bob", EX + "g1"),
        (EX + "t3", ONT + "mentions", EX + "alice", EX + "g2"),
        (EX + "t3", ONT + "mentions", EX + "carol", EX + "g2"),
    ]
    return spark.createDataFrame(rows, ["subj", "pred", "obj", "graph"])


def test_graph_block_variable_binds_graph(quads):
    out = sparql_query(
        quads,
        PFX + "SELECT ?g ?e WHERE { GRAPH ?g { ?t ont:mentions ?e . } }",
    )
    assert rows(out) == sorted(
        [
            (EX + "g1", EX + "alice"),
            (EX + "g1", EX + "bob"),
            (EX + "g2", EX + "alice"),
            (EX + "g2", EX + "carol"),
        ]
    )


def test_graph_block_constant_graph(quads):
    out = sparql_query(
        quads,
        PFX + "SELECT ?e WHERE { GRAPH ex:g2 { ?t ont:mentions ?e . } }",
    )
    assert rows(out) == sorted([(EX + "alice",), (EX + "carol",)])


def test_graph_block_aggregate_per_graph(quads):
    out = sparql_query(
        quads,
        PFX
        + """SELECT ?g (COUNT(?e) AS ?n) WHERE {
              GRAPH ?g { ?t ont:mentions ?e . }
            } GROUP BY ?g ORDER BY ?g""",
    )
    got = [(r.g, int(r.n)) for r in out.collect()]
    assert got == [(EX + "g1", 2), (EX + "g2", 2)]


def test_nested_graph_refused(quads):
    with pytest.raises(SparqlParseError, match="nested GRAPH"):
        sparql_query(
            quads,
            PFX
            + "SELECT ?e WHERE { GRAPH ?g { GRAPH ?h { ?t ont:mentions ?e . } } }",
        )


def test_group_concat_and_sample(graph):
    out = sparql_query(
        graph,
        PFX
        + """SELECT ?c (GROUP_CONCAT(?e; SEPARATOR=",") AS ?es)
                      (SAMPLE(?t) AS ?any_t)
            WHERE { ?t ont:mentions ?e ; ont:inConv ?c . }
            GROUP BY ?c ORDER BY ?c""",
    )
    got = [(r.c, r.es, r.any_t) for r in out.collect()]
    assert got == [
        (EX + "c1", EX + "alice," + EX + "bob", EX + "t1"),
        (EX + "c2", EX + "alice", EX + "t3"),
    ]


def test_group_concat_distinct_and_default_separator(graph):
    out = sparql_query(
        graph,
        PFX
        + """SELECT (GROUP_CONCAT(DISTINCT ?r) AS ?roles)
            WHERE { ?t ont:role ?r . }""",
    )
    assert [r.roles for r in out.collect()] == ["assistant user"]


def test_group_concat_in_having_refused(graph):
    with pytest.raises(SparqlParseError, match="GROUP_CONCAT in HAVING"):
        sparql_query(
            graph,
            PFX
            + """SELECT ?c (COUNT(?e) AS ?n) WHERE {
                  ?t ont:mentions ?e ; ont:inConv ?c .
                } GROUP BY ?c HAVING(GROUP_CONCAT(?e) != "")""",
        )


def test_subquery_as_union_branch(graph):
    """A UNION branch may itself be a braced subquery (the
    GroupOrUnionGraphPattern grammar), in either position."""
    q1 = (
        PFX
        + """SELECT ?e WHERE {
              { SELECT ?e WHERE { ?t ont:mentions ?e . } }
              UNION { ex:alice ont:knows ?e }
            }"""
    )
    q2 = (
        PFX
        + """SELECT ?e WHERE {
              { ex:alice ont:knows ?e }
              UNION { SELECT ?e WHERE { ?t ont:mentions ?e . } }
            }"""
    )
    exp = sorted(
        [(EX + "alice",)] * 2 + [(EX + "bob",)] * 2  # 2 mentions + knows
    )
    assert rows(sparql_query(graph, q1)) == exp
    assert rows(sparql_query(graph, q2)) == exp


def test_star_in_non_count_aggregate_refused(graph):
    for agg in ("SUM", "SAMPLE", "GROUP_CONCAT"):
        with pytest.raises(SparqlParseError, match=r"\(\*\)"):
            sparql_query(
                graph,
                PFX + f"SELECT ({agg}(*) AS ?s) WHERE {{ ?x ont:role ?r }}",
            )


def test_regex_flags_case_insensitive(graph):
    out = sparql_query(
        graph,
        PFX
        + """SELECT ?t WHERE {
              ?t ont:role ?r . FILTER(REGEX(?r, "^ASSIST", "i"))
            }""",
    )
    assert rows(out) == [(EX + "t2",)]
    # empty flags string is a no-op
    out2 = sparql_query(
        graph,
        PFX + 'SELECT ?t WHERE { ?t ont:role ?r . FILTER(REGEX(?r, "^user", "")) }',
    )
    assert rows(out2) == [(EX + "t1",), (EX + "t3",)]


def test_replace_flags_case_insensitive(graph):
    out = sparql_query(
        graph,
        PFX
        + """SELECT ?t (REPLACE(?r, "USER", "human", "i") AS ?h) WHERE {
              ?t ont:role ?r .
            }""",
    )
    got = dict(rows(out))
    assert got[EX + "t1"] == "human" and got[EX + "t2"] == "assistant"


def test_regex_flags_refusals(graph):
    with pytest.raises(SparqlParseError, match="flag"):
        sparql_query(
            graph,
            PFX + 'SELECT ?t WHERE { ?t ont:role ?r . FILTER(REGEX(?r, "a", "q")) }',
        )
    with pytest.raises(SparqlParseError, match="string literal"):
        sparql_query(
            graph,
            PFX + 'SELECT ?t WHERE { ?t ont:role ?r . FILTER(REGEX(?r, "a", ?r)) }',
        )


def test_reduced_eliminates_duplicates(graph):
    out = sparql_query(
        graph, PFX + "SELECT REDUCED ?x WHERE { ?x a ont:Person . }"
    )
    assert rows(out) == [(EX + "alice",), (EX + "bob",)]


def test_strbefore_strafter_semantics(graph):
    out = sparql_query(
        graph,
        PFX
        + """SELECT ?t (STRAFTER(?r, "ss") AS ?a) (STRBEFORE(?r, "ss") AS ?b)
                     (STRBEFORE(?r, "zz") AS ?miss) (STRAFTER(?r, "") AS ?all)
            WHERE { ?t ont:role ?r . FILTER(?r = "assistant") }""",
    )
    r = out.collect()[0]
    assert (r.a, r.b, r.miss, r.all) == ("istant", "a", "", "assistant")


def test_hash_and_numeric_builtins(graph):
    import hashlib

    out = sparql_query(
        graph,
        PFX
        + """SELECT ?r (MD5(?r) AS ?m) (SHA1(?r) AS ?s1) (SHA256(?r) AS ?s2)
                     (FLOOR(STRLEN(?r) / 2) AS ?half)
            WHERE { ?t ont:role ?r . FILTER(?r = "user") }
            ORDER BY ?r LIMIT 1""",
    )
    r = out.collect()[0]
    assert r.m == hashlib.md5(b"user").hexdigest()
    assert r.s1 == hashlib.sha1(b"user").hexdigest()
    assert r.s2 == hashlib.sha256(b"user").hexdigest()
    assert r.half == 2


def test_encode_for_uri(graph):
    out = sparql_query(
        graph,
        PFX
        + """SELECT ?r (ENCODE_FOR_URI(?r) AS ?e)
             (ENCODE_FOR_URI("a b/c?d~e") AS ?x)
            WHERE { ?t ont:role ?r . FILTER(?r = "user") }
            ORDER BY ?r LIMIT 1""",
    )
    r = out.collect()[0]
    assert r.e == "user"
    assert r.x == "a%20b%2Fc%3Fd~e"


def test_encode_for_uri_non_ascii_raises(spark, graph):
    from pyspark.sql import functions as F

    g2 = graph.unionByName(
        spark.createDataFrame([("s", ONT + "role", "café")],
                              ["subj", "pred", "obj"])
    )
    out = sparql_query(
        g2,
        PFX + 'SELECT (ENCODE_FOR_URI(?r) AS ?e) WHERE { ?t ont:role ?r . }',
    )
    import pytest as _pt
    with _pt.raises(Exception, match="non-ASCII"):
        out.collect()


def _g3(spark, rows):
    return spark.createDataFrame(rows, ["subj", "pred", "obj"])


def test_update_insert_delete_data(spark, graph):
    from mopper_spark.pipeline.sparql import sparql_update_text

    g = _g3(spark, [("s1", "p", "o1"), ("s2", "p", "o2")])
    out = sparql_update_text(
        g, 'INSERT DATA { <s3> <p> "o3" . <s1> <p> "o1" }'
    )
    got = rows(out)
    assert ("s3", "p", "o3") in got and len(got) == 3  # existing not duped
    out2 = sparql_update_text(g, "DELETE DATA { <s1> <p> <o1> }")
    # <o1> is an IRI term; graph stores plain strings -> matches "o1"
    assert rows(out2) == [("s2", "p", "o2")]
    with pytest.raises(SparqlParseError, match="ground"):
        sparql_update_text(g, "INSERT DATA { ?x <p> <o> }")


def test_update_delete_where_shorthand(spark):
    from mopper_spark.pipeline.sparql import sparql_update_text

    g = _g3(spark, [("s1", "p", "x"), ("s2", "p", "x"), ("s1", "q", "y")])
    out = sparql_update_text(g, "DELETE WHERE { ?s <p> ?o }")
    assert rows(out) == [("s1", "q", "y")]
    with pytest.raises(SparqlParseError, match="shorthand"):
        sparql_update_text(g, "DELETE WHERE { OPTIONAL { ?s <p> ?o } }")


def test_update_delete_insert_where(spark):
    from mopper_spark.pipeline.sparql import sparql_update_text

    g = _g3(spark, [("a", "old", "1"), ("b", "old", "2"), ("c", "keep", "3")])
    out = sparql_update_text(
        g,
        """DELETE { ?s <old> ?v } INSERT { ?s <new> ?v } WHERE {
             ?s <old> ?v . FILTER(?v != "2")
           }""",
    )
    got = rows(out)
    assert ("a", "new", "1") in got
    assert ("a", "old", "1") not in got
    assert ("b", "old", "2") in got      # filtered out of the solution
    assert ("c", "keep", "3") in got


def test_filter_in_list(graph):
    got = rows(sparql_query(
        graph,
        PFX + """SELECT ?t ?e WHERE {
          ?t ont:mentions ?e .
          FILTER(?e IN (ex:alice, ex:carol))
        }""",
    ))
    assert got == [(EX + "t1", EX + "alice"), (EX + "t3", EX + "alice")]


def test_filter_not_in_list(graph):
    got = rows(sparql_query(
        graph,
        PFX + """SELECT ?t WHERE {
          ?t ont:mentions ?e .
          FILTER(?e NOT IN (ex:alice))
        }""",
    ))
    assert got == [(EX + "t2",)]


def test_in_with_string_literals_and_expr(graph):
    got = rows(sparql_query(
        graph,
        PFX + """SELECT ?t WHERE {
          ?t ont:role ?r .
          FILTER(UCASE(?r) IN ("USER"))
        }""",
    ))
    assert got == [(EX + "t1",), (EX + "t3",)]


def _notes(spark):
    app = spark.conf.get("spark.app.name")
    return spark.createDataFrame(
        [(EX + "n1", ONT + "note", "${spark.app.name}"),
         (EX + "n2", ONT + "note", app),
         (EX + "n3", ONT + "note", "it's"),
         (EX + "n4", ONT + "note", "a\\d")],
        ["subj", "pred", "obj"],
    )


def test_string_constant_is_not_variable_substituted(spark):
    # Spark SQL replaces ${...} in SQL text before parsing; a SPARQL
    # string constant must keep its characters
    got = rows(sparql_query(
        _notes(spark),
        PFX + 'SELECT ?n WHERE { ?n ont:note ?o . FILTER(?o = "${spark.app.name}") }',
    ))
    assert got == [(EX + "n1",)]


def test_string_constant_under_escaped_string_literals(spark):
    key = "spark.sql.parser.escapedStringLiterals"
    before = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        got = rows(sparql_query(
            _notes(spark),
            PFX + 'SELECT ?n WHERE { ?n ont:note ?o . '
            'FILTER(?o = "it\'s" || ?o = "a\\\\d") }',
        ))
    finally:
        spark.conf.set(key, before)
    assert got == [(EX + "n3",), (EX + "n4",)]

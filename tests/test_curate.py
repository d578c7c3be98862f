"""Tests for KG curation (pipeline/curate.py) and transitive closure
(pipeline/graph.py::transitive_closure): python-replica correctness,
determinism under repartitioning, and the closed-world filter guarantees
that make negative sampling safe to feed a trainer."""

import pytest
from pyspark.sql import functions as F

from mopper_spark.pipeline.curate import (
    indexed_objects,
    negative_samples,
    predicate_profile,
    resolve_functional,
)
from mopper_spark.pipeline.graph import _doubling_closure, transitive_closure

TRIPLES = [
    ("s1", "p1", "a"),
    ("s1", "p1", "a"),
    ("s1", "p1", "b"),
    ("s2", "p1", "c"),
    ("s2", "p2", "a"),
    ("s3", "p2", "d"),
    ("s4", "p3", "a"),
]


@pytest.fixture(scope="module")
def triples(spark):
    return spark.createDataFrame(TRIPLES, "subj string, pred string, obj string")


class TestPredicateProfile:
    def test_counts_and_flags(self, triples):
        rows = {r.pred: r for r in predicate_profile(triples).collect()}
        assert rows["p1"].n_triples == 4
        assert rows["p1"].n_subj == 2
        assert rows["p1"].n_obj == 3
        # s1 has two distinct objects under p1 -> not functional
        assert not rows["p1"].is_functional
        # every p1 object has exactly one subject -> inverse functional
        assert rows["p1"].is_inverse_functional
        assert rows["p2"].is_functional and rows["p2"].is_inverse_functional
        assert rows["p3"].is_functional


class TestResolveFunctional:
    def test_majority_then_lexicographic(self, triples):
        got = {
            (r.subj, r.pred): (r.obj, r.support, r.n_alternatives)
            for r in resolve_functional(triples).collect()
        }
        # (s1, p1): 'a' has support 2 vs 'b' 1
        assert got[("s1", "p1")] == ("a", 2, 2)
        assert got[("s2", "p1")] == ("c", 1, 1)
        assert got[("s2", "p2")] == ("a", 1, 1)

    def test_tie_breaks_to_smallest_object(self, spark):
        t = spark.createDataFrame(
            [("s", "p", "z"), ("s", "p", "b")], "subj string, pred string, obj string"
        )
        (row,) = resolve_functional(t).collect()
        assert row.obj == "b" and row.n_alternatives == 2

    def test_partitioning_invariance(self, triples):
        a = sorted(map(tuple, resolve_functional(triples).collect()))
        b = sorted(map(tuple, resolve_functional(triples.repartition(7)).collect()))
        assert a == b


class TestNegativeSamples:
    def test_index_is_dense_permutation(self, triples):
        idx = [r.idx for r in indexed_objects(triples).collect()]
        assert sorted(idx) == list(range(4))  # objects a, b, c, d

    def test_no_true_triples_and_deterministic(self, triples):
        true_set = {(s, p, o) for s, p, o in TRIPLES}
        out1 = sorted(map(tuple, negative_samples(triples, n_per=3).collect()))
        out2 = sorted(
            map(tuple, negative_samples(triples.repartition(5), n_per=3).collect())
        )
        assert out1 == out2  # pure function of (seed, data)
        assert out1  # fixture is small but draws must survive filtering
        for subj, pred, obj, neg_obj, draw in out1:
            assert (subj, pred, neg_obj) not in true_set
            assert neg_obj != obj
            assert 0 <= draw < 3
            assert (subj, pred, obj) in true_set

    def test_duplicated_positives_sample_once(self, triples):
        # (s1, p1, a) appears twice in the input; its draws must not double
        out = negative_samples(triples, n_per=3).collect()
        keys = [(r.subj, r.pred, r.obj, r.draw) for r in out]
        assert len(keys) == len(set(keys))

    def test_seed_changes_draws(self, triples):
        a = set(map(tuple, negative_samples(triples, n_per=3, seed="x").collect()))
        b = set(map(tuple, negative_samples(triples, n_per=3, seed="y").collect()))
        assert a != b

    def test_n_per_zero_refused(self, triples):
        # sequence(0, -1) DESCENDS in Spark (two draws, one with draw=-1)
        # — n_per < 1 must raise instead of silently emitting negatives
        with pytest.raises(ValueError, match="n_per"):
            negative_samples(triples, n_per=0)


def _py_closure(edges):
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    clo = set(edges)
    changed = True
    while changed:
        changed = False
        for a, b in list(clo):
            for c in adj.get(b, ()):
                if (a, c) not in clo:
                    clo.add((a, c))
                    changed = True
    return clo


class TestTransitiveClosure:
    def test_tree_ancestors(self, spark):
        edges = [(i, i // 2) for i in range(2, 64)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {(r.src, r.dst) for r in transitive_closure(df).collect()}
        assert got == _py_closure(set(edges))

    def test_cycle_reaches_fixpoint_including_self(self, spark):
        df = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long"
        )
        got = {(r.src, r.dst) for r in transitive_closure(df).collect()}
        assert got == _py_closure({(1, 2), (2, 3), (3, 1), (3, 4)})
        assert (1, 1) in got  # cycle members reach themselves

    @pytest.mark.parametrize(
        "run", ["transitive_closure", "transitive_closure_delta", "owl_rl_lite"]
    )
    def test_constraint_conf_restored(self, spark, run):
        # the delta and OWL paths nest the guard (the doubling kernel
        # holds it inside its caller's block)
        from mopper_spark.pipeline.graph import transitive_closure_delta
        from mopper_spark.pipeline.reasoning import OWL_TRANSITIVE, RDF_TYPE, owl_rl_lite

        key = "spark.sql.constraintPropagation.enabled"
        before = spark.conf.get(key)
        df = spark.createDataFrame([(1, 2)], "src long, dst long")
        if run == "transitive_closure":
            transitive_closure(df).count()
        elif run == "transitive_closure_delta":
            d = spark.createDataFrame([(2, 3)], "src long, dst long")
            transitive_closure_delta(transitive_closure(df), d).count()
        else:
            owl_rl_lite(spark.createDataFrame(
                [("p", RDF_TYPE, OWL_TRANSITIVE), ("a", "p", "b"), ("b", "p", "c")],
                "subj string, pred string, obj string",
            )).count()
        assert spark.conf.get(key) == before

    def test_nonconvergence_raises(self, spark):
        df = spark.createDataFrame([(i, i + 1) for i in range(10)], "src long, dst long")
        with pytest.raises(RuntimeError, match="converge"):
            transitive_closure(df, max_iters=3)


class TestClosureDoubling:
    """graph._doubling_closure, the path-doubling kernel behind
    transitive_closure_delta and OWL prp-trp."""

    def test_doubling_equals_seminaive_on_tree(self, spark):
        edges = [(i, i // 2) for i in range(2, 64)]
        df = spark.createDataFrame(edges, "src long, dst long")
        a = {(r.src, r.dst) for r in transitive_closure(df).collect()}
        b = {(r.src, r.dst)
             for r in _doubling_closure(df, max_iters=30).collect()}
        assert a == b == _py_closure(set(edges))

    def test_doubling_converges_in_log_rounds_on_deep_chain(self, spark):
        # chain of length 40: semi-naive needs ~40 rounds (max_iters=7
        # fails), doubling needs ceil(log2(40)) = 6 growth rounds + 1
        # empty round to detect the fixpoint
        edges = [(i, i + 1) for i in range(40)]
        df = spark.createDataFrame(edges, "src long, dst long")
        with pytest.raises(RuntimeError, match="converge"):
            transitive_closure(df, max_iters=7)
        got = {(r.src, r.dst)
               for r in _doubling_closure(df, max_iters=7).collect()}
        assert got == _py_closure(set(edges))

    def test_doubling_cycle(self, spark):
        df = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long"
        )
        got = {(r.src, r.dst)
               for r in _doubling_closure(df, max_iters=30).collect()}
        assert got == _py_closure({(1, 2), (2, 3), (3, 1), (3, 4)})


class TestTransitiveClosureDelta:
    """Incremental closure maintenance (graph.py::transitive_closure_delta)
    must equal the full recompute over E ∪ Δ in every topology."""

    def _check(self, spark, base_edges, delta_edges, **kw):
        from mopper_spark.pipeline.graph import transitive_closure_delta

        schema = "src long, dst long"
        c = transitive_closure(spark.createDataFrame(base_edges, schema))
        got = {
            (r.src, r.dst)
            for r in transitive_closure_delta(
                c, spark.createDataFrame(delta_edges, schema), **kw
            ).collect()
        }
        assert got == _py_closure(base_edges + delta_edges)
        return got

    def test_bridge_reconnects_two_chains(self, spark):
        # 1->2->3   and   10->11->12, delta bridges 3->10
        base = [(1, 2), (2, 3), (10, 11), (11, 12)]
        got = self._check(spark, base, [(3, 10)])
        assert (1, 12) in got  # prefix through C, Δ edge, suffix through C

    def test_delta_chain_converges_in_log_rounds(self, spark):
        # appending a 40-edge chain: 2^6 > 40 delta edges per path
        base = [(0, 1)]
        delta = [(i, i + 1) for i in range(1, 41)]
        self._check(spark, base, delta, max_iters=7)

    def test_delta_creates_cycle_with_self_pairs(self, spark):
        base = [(1, 2), (2, 3)]
        got = self._check(spark, base, [(3, 1)])
        assert {(1, 1), (2, 2), (3, 3)} <= got

    def test_redundant_delta_is_noop(self, spark):
        base = [(1, 2), (2, 3)]
        got = self._check(spark, base, [(1, 3)])  # already entailed
        assert got == _py_closure(base)

    def test_partitioning_invariance(self, spark):
        from mopper_spark.pipeline.graph import transitive_closure_delta

        schema = "src long, dst long"
        base = [(i, i + 1) for i in range(0, 20, 2)]
        delta = [(i, i + 1) for i in range(1, 20, 2)]
        c = transitive_closure(spark.createDataFrame(base, schema))
        d = spark.createDataFrame(delta, schema)
        a = {
            (r.src, r.dst)
            for r in transitive_closure_delta(c, d.repartition(1)).collect()
        }
        b = {
            (r.src, r.dst)
            for r in transitive_closure_delta(c, d.repartition(16)).collect()
        }
        assert a == b == _py_closure(base + delta)

    def test_nonconvergence_raises(self, spark):
        from mopper_spark.pipeline.graph import transitive_closure_delta

        schema = "src long, dst long"
        c = transitive_closure(spark.createDataFrame([(0, 1)], schema))
        delta = spark.createDataFrame([(i, i + 1) for i in range(1, 40)], schema)
        with pytest.raises(RuntimeError, match="did not converge"):
            transitive_closure_delta(c, delta, max_iters=3)


class TestResolveWeighted:
    """curate.resolve_weighted — source-weighted truth discovery."""

    def _triples(self, spark, rows):
        return spark.createDataFrame(
            rows, "subj string, pred string, obj string, source string"
        )

    def _weights(self, spark):
        return spark.createDataFrame(
            [("gold", 10), ("silver", 3)], "source string, weight_fp long"
        )

    def test_weight_beats_count(self, spark):
        # two silver votes (6) lose to one gold vote (10)
        t = self._triples(spark, [
            ("s", "p", "wrong", "silver"),
            ("s", "p", "wrong", "silver"),
            ("s", "p", "right", "gold"),
        ])
        from mopper_spark.pipeline.curate import resolve_weighted

        r = resolve_weighted(t, self._weights(spark)).collect()
        assert [(x.subj, x.obj, x.support_fp, x.n_alternatives) for x in r] == [
            ("s", "right", 10, 2)
        ]

    def test_default_weight_and_tie_break(self, spark):
        # unknown sources take default_weight_fp; equal support -> min obj
        t = self._triples(spark, [
            ("s", "p", "b", "unknown"),
            ("s", "p", "a", "unknown"),
        ])
        from mopper_spark.pipeline.curate import resolve_weighted

        r = resolve_weighted(
            t, self._weights(spark), default_weight_fp=7
        ).collect()
        assert [(x.obj, x.support_fp) for x in r] == [("a", 7)]

    def test_equal_weights_match_resolve_functional(self, spark):
        from mopper_spark.pipeline.curate import (
            resolve_functional,
            resolve_weighted,
        )

        rows = [
            (f"s{i % 5}", "p", f"o{(i * 7) % 3}", "any") for i in range(60)
        ]
        t = self._triples(spark, rows)
        ones = spark.createDataFrame(
            [("any", 1)], "source string, weight_fp long"
        )
        w = {
            (r.subj, r.pred, r.obj, r.support_fp, r.n_alternatives)
            for r in resolve_weighted(t, ones).collect()
        }
        f = {
            (r.subj, r.pred, r.obj, r.support, r.n_alternatives)
            for r in resolve_functional(t.drop("source")).collect()
        }
        assert w == f

    def test_partitioning_invariance(self, spark):
        from mopper_spark.pipeline.curate import resolve_weighted

        rows = [
            (f"s{i % 7}", "p", f"o{(i * 11) % 4}",
             ["gold", "silver", "x"][i % 3])
            for i in range(90)
        ]
        t = self._triples(spark, rows)
        a = {
            tuple(r)
            for r in resolve_weighted(
                t.repartition(1), self._weights(spark), default_weight_fp=1
            ).collect()
        }
        b = {
            tuple(r)
            for r in resolve_weighted(
                t.repartition(16), self._weights(spark), default_weight_fp=1
            ).collect()
        }
        assert a == b


class TestEntityCooccurrencePmi:
    def test_matches_python_replica(self, spark):
        import math

        from mopper_spark.pipeline.curate import entity_cooccurrence_pmi

        rows = [
            ("c1", "a"), ("c1", "b"), ("c1", "a"),
            ("c2", "a"), ("c2", "b"),
            ("c3", "a"), ("c3", "c"),
            ("c4", "b"), ("c4", "c"),
            ("c5", "a"),
        ]
        df = spark.createDataFrame(rows, "conv_id string, norm string")
        got = {(r.e1, r.e2): (r.n12, r.n1, r.n2, r.pmi)
               for r in entity_cooccurrence_pmi(df, min_co=1).collect()}
        C = 5
        n = {"a": 4, "b": 3, "c": 2}
        exp_pairs = {("a", "b"): 2, ("a", "c"): 1, ("b", "c"): 1}
        for (e1, e2), n12 in exp_pairs.items():
            pmi = math.log((n12 * C) / (n[e1] * n[e2]))
            assert got[(e1, e2)] == (n12, n[e1], n[e2], pmi)

    def test_group_cap_drops_hot_group_but_counts_context(self, spark):
        from mopper_spark.pipeline.curate import entity_cooccurrence_pmi

        rows = [("hot", f"e{i}") for i in range(10)]
        rows += [("c1", "x"), ("c1", "y"), ("c2", "x"), ("c2", "y")]
        df = spark.createDataFrame(rows, "conv_id string, norm string")
        got = {(r.e1, r.e2): r for r in entity_cooccurrence_pmi(
            df, min_co=1, max_entities_per_group=5).collect()}
        # hot group contributed no pairs, but C still counts it
        assert set(got) == {("x", "y")}
        import math
        assert got[("x", "y")].pmi == math.log((2 * 3) / (2 * 2))


class TestSourceVocabOverlap:
    def test_exact_set_arithmetic(self, spark):
        from mopper_spark.textops.analysis import source_vocab_overlap

        rows = [
            (1, "a b c", "s1"),
            (2, "b c d", "s2"),
            (3, "x y", "s3"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string, source string")
        got = {(r.s1, r.s2): (r.v1, r.v2, r.n_common, r.jaccard)
               for r in source_vocab_overlap(df).collect()}
        assert got[("s1", "s2")] == (3, 3, 2, 0.5)
        assert ("s1", "s3") not in got  # zero intersection -> no row
        assert ("s2", "s3") not in got


class TestSchemaCooccurrence:
    def test_exact_pair_counts(self, spark):
        from mopper_spark.pipeline.curate import schema_cooccurrence

        rows = [
            ("s1", "p_role", "x"), ("s1", "p_tool", "x"), ("s1", "p_conv", "x"),
            ("s2", "p_role", "x"), ("s2", "p_conv", "x"),
            ("s3", "p_role", "x"),
            # duplicate (subj, pred) must not double-count
            ("s1", "p_role", "y"),
        ]
        df = spark.createDataFrame(rows, "subj string, pred string, obj string")
        got = {(r.p1, r.p2): (r.n_subjects, r.n_p1, r.n_p2, r.jaccard)
               for r in schema_cooccurrence(df).collect()}
        assert got[("p_conv", "p_role")] == (2, 2, 3, 2 / 3)
        assert got[("p_conv", "p_tool")] == (1, 2, 1, 0.5)
        assert got[("p_role", "p_tool")] == (1, 3, 1, 1 / 3)


class TestDegreeHistogram:
    def test_log2_buckets(self, spark):
        from mopper_spark.pipeline.curate import degree_histogram

        rows = ([("s1", "p", f"o{i}") for i in range(5)]     # deg 5 -> bucket 2
                + [("s2", "p", "o")]                          # deg 1 -> bucket 0
                + [("s3", "q", f"o{i}") for i in range(8)])   # deg 8 -> bucket 3
        t = spark.createDataFrame(rows, "subj string, pred string, obj string")
        got = {(r.pred, r.bucket): r.n_subjects
               for r in degree_histogram(t).collect()}
        assert got == {("p", 2): 1, ("p", 0): 1, ("q", 3): 1}

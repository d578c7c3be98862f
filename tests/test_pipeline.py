"""Transcript→KG pipeline tests: extraction invariants, entity linking with
gold clusters, connected components, checkpoint/resume idempotence and
checkpoint counters."""

import json
import logging
import os
import random
import uuid
from urllib.parse import unquote, urlparse

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from mopper_spark.functions.encoding import pct_encode
from mopper_spark.pipeline.canonicalize import canonical_map
from mopper_spark.pipeline.checkpoint import CheckpointManager
from mopper_spark.pipeline.cc import connected_components
from mopper_spark.pipeline.extract import extract_mentions, extract_triples
from mopper_spark.pipeline.job import run_pipeline
from mopper_spark.pipeline.linking import (
    link_mentions,
    normalize_surface,
    normalize_surface_py,
)
from mopper_spark.pipeline.transcripts import ENTITY_FORMS, synth_transcripts


@pytest.fixture(scope="module")
def transcripts(spark):
    df = synth_transcripts(spark, n_turns=600, n_convs=20, seed=42)
    df.cache().count()
    return df


class TestTranscripts:
    def test_schema_and_determinism(self, spark, transcripts):
        assert transcripts.columns == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        again = synth_transcripts(spark, n_turns=600, n_convs=20, seed=42)
        assert transcripts.exceptAll(again).count() == 0
        assert again.exceptAll(transcripts).count() == 0

    def test_skew_and_ordering(self, transcripts):
        counts = dict(
            transcripts.groupBy("conv_id").count().collect()
        )
        assert counts["conv_00000"] >= 0.1 * 600  # skew fixture
        # (conv_id, turn_idx) unique and ts monotone within conversation
        dup = transcripts.groupBy("conv_id", "turn_idx").count().filter("count > 1")
        assert dup.count() == 0
        bad = (
            transcripts.alias("a")
            .join(
                transcripts.alias("b"),
                (F.col("a.conv_id") == F.col("b.conv_id"))
                & (F.col("a.turn_idx") + 1 == F.col("b.turn_idx"))
                & (F.col("a.ts") >= F.col("b.ts")),
            )
            .count()
        )
        assert bad == 0

    def test_tool_only_on_tool_role(self, transcripts):
        assert transcripts.filter("role != 'tool' and tool is not null").count() == 0
        assert transcripts.filter("role == 'tool' and tool is null").count() == 0


class TestExtract:
    def test_per_turn_text_equality(self, spark, transcripts):
        """BASELINE per-row invariant: text literal round-trips exactly,
        for every turn, under stable (conv_id, turn_idx) ordering."""
        triples = extract_triples(transcripts)
        texts = (
            triples.filter(F.col("pred").endswith("ontology/text"))
            .withColumn(
                "conv_id",
                F.url_decode(F.regexp_extract("subj", r"turn/([^/]+)/", 1)),
            )
            .withColumn(
                "turn_idx",
                F.regexp_extract("subj", r"turn/[^/]+/([0-9]+)$", 1).cast("int"),
            )
            .select("conv_id", "turn_idx", F.col("obj").alias("obj_text"))
        )
        joined = transcripts.join(texts, ["conv_id", "turn_idx"], "full_outer")
        mismatches = joined.filter(
            F.col("text").isNull()
            | F.col("obj_text").isNull()
            | (F.col("text") != F.col("obj_text"))
        )
        assert mismatches.count() == 0
        # stable ordering spot check: first three turns of the skew conv
        ordered = (
            joined.filter("conv_id = 'conv_00000'")
            .orderBy("turn_idx")
            .select("turn_idx")
            .limit(3)
            .collect()
        )
        assert [r[0] for r in ordered] == [0, 1, 2]

    def test_triple_shape_and_tool_nulls(self, transcripts):
        triples = extract_triples(transcripts)
        assert triples.columns == ["subj", "pred", "obj", "okind", "graph"]
        n_tool_turns = transcripts.filter("tool is not null").count()
        n_tool_triples = triples.filter(F.col("pred").endswith("/tool")).count()
        assert n_tool_triples == n_tool_turns
        # subject encodes conv_id/turn_idx
        one = transcripts.limit(1).collect()[0]
        subj = f"http://example.com/turn/{pct_encode(one.conv_id)}/{one.turn_idx}"
        assert triples.filter(F.col("subj") == subj).count() >= 3

    def test_no_batch_eval_python(self, transcripts):
        plan = extract_triples(transcripts)._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan

    def test_mentions_detected(self, transcripts):
        m = extract_mentions(transcripts)
        surfaces = {r[0] for r in m.select("surface").distinct().collect()}
        assert "Venus Williams" in surfaces
        assert "venus williams" in surfaces  # gazetteer catches lowercase


class TestLinking:
    def test_gold_clusters(self, spark, transcripts):
        mentions = extract_mentions(transcripts)
        edges = link_mentions(mentions)
        forms = mentions.select(
            normalize_surface(F.col("surface")).alias("norm")
        ).distinct()
        cmap = canonical_map(forms, edges).toPandas()
        norm_to_canon = dict(zip(cmap["norm"], cmap["canonical_norm"]))

        # gold: all surface forms of one entity share a canonical form
        gold: dict[int, set[str]] = {}
        for surface, cluster in ENTITY_FORMS:
            norm = normalize_surface_py(surface)
            if norm in norm_to_canon:
                gold.setdefault(cluster, set()).add(norm_to_canon[norm])
        for cluster, canons in gold.items():
            assert len(canons) == 1, f"cluster {cluster} split into {canons}"
        # and distinct entities never merge
        all_canons = [next(iter(c)) for c in gold.values()]
        assert len(set(all_canons)) == len(all_canons)


class TestConnectedComponents:
    def test_chain_and_star(self, spark):
        # path graph 0-1-2-3-4-5 plus separate triangle 10-11-12
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(5)] + [(10, 11), (11, 12), (10, 12)],
            "u long, v long",
        )
        got = {
            (r.node, r.component)
            for r in connected_components(edges).collect()
        }
        expect = {(i, 0) for i in range(6)} | {(i, 10) for i in (10, 11, 12)}
        assert got == expect

    def test_single_edge_and_self_loop(self, spark):
        edges = spark.createDataFrame([(7, 3), (9, 9)], "u long, v long")
        got = {(r.node, r.component) for r in connected_components(edges).collect()}
        assert got == {(7, 3), (3, 3)}  # self-loop drops out entirely

    @staticmethod
    def _min_labels(pairs) -> set:
        """Union-find min-label components of the non-self-loop edges."""
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in pairs:
            if u == v:
                continue
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = find(u), find(v)
            parent[max(ru, rv)] = min(ru, rv)
        return {(x, find(x)) for x in parent}

    @pytest.mark.parametrize("kind", ["long", "string"])
    @pytest.mark.parametrize("seed", [1, 2, 3])
    def test_random_graphs_match_union_find(self, spark, kind, seed):
        rng = random.Random(seed)
        ids = rng.sample(range(10_000), 60)
        if kind == "string":
            ids = [f"{rng.choice('abcxyz')}{i}" for i in ids]
        pairs = [tuple(rng.sample(ids, 2)) for _ in range(45)]
        pairs += [(v, u) for u, v in rng.sample(pairs, 10)]  # both orientations
        pairs += rng.sample(pairs, 10)  # duplicates
        pairs += [(x, x) for x in rng.sample(ids, 5)]  # self-loops
        edges = spark.createDataFrame(pairs, f"u {kind}, v {kind}")
        got = [(r.node, r.component) for r in connected_components(edges).collect()]
        assert len({node for node, _ in got}) == len(got)  # each node once
        assert set(got) == self._min_labels(pairs)

    def test_long_path(self, spark):
        # a path is the worst case for rounds; labels shuffled along it
        labels = random.Random(7).sample(range(64), 64)
        pairs = list(zip(labels, labels[1:]))
        edges = spark.createDataFrame(pairs, "u long, v long")
        got = {(r.node, r.component) for r in connected_components(edges).collect()}
        assert got == {(x, 0) for x in range(64)}

    def test_empty_edge_set(self, spark):
        edges = spark.createDataFrame([], "u string, v string")
        assert connected_components(edges).collect() == []

    def test_star_converges_in_one_round(self, spark, caplog):
        caplog.set_level(logging.INFO, logger="mopper_spark.pipeline.cc")
        pairs = [(0, i) for i in range(1, 11)] + [(i, 0) for i in range(11, 21)]
        edges = spark.createDataFrame(pairs, "u long, v long")
        got = {(r.node, r.component) for r in connected_components(edges).collect()}
        assert got == {(i, 0) for i in range(21)}
        rounds = [
            r.getMessage() for r in caplog.records
            if r.name == "mopper_spark.pipeline.cc"
        ]
        assert rounds == ["connected_components converged after 1 rounds"]

    def test_canonical_map_drops_edges_leaving_forms(self, spark):
        """An edge with an endpoint outside ``forms`` takes no part: ``x``
        does not bridge ``a`` and ``c``."""
        forms = spark.createDataFrame([("b",), ("a",), ("c",), ("d",)], "norm string")
        edges = spark.createDataFrame(
            [("a", "x"), ("x", "c"), ("c", "d"), ("x", "y")], "norm_a string, norm_b string"
        )
        got = sorted(map(tuple, canonical_map(forms, edges).collect()))
        ent = "http://example.com/entity/"
        assert got == [
            ("a", "a", ent + "a"),
            ("b", "b", ent + "b"),
            ("c", "c", ent + "c"),
            ("d", "c", ent + "c"),
        ]


class TestResume:
    def test_mid_run_kill_then_resume_identical(self, spark, tmp_path):
        root = str(tmp_path / "ckpt")
        with pytest.raises(RuntimeError, match="injected failure"):
            run_pipeline(
                spark, root, n_turns=200, n_convs=10, fail_after_stage="mentions"
            )
        # resume: completed stages skip, rest compute
        res = run_pipeline(spark, root, n_turns=200, n_convs=10)
        skipped = {m["stage"] for m in res.metrics if m.get("skipped")}
        assert {"transcripts", "triples", "mentions"} <= skipped

        # fresh run from scratch emits the identical triple set
        res2 = run_pipeline(spark, str(tmp_path / "ckpt2"), n_turns=200, n_convs=10)
        a = res.graph.select("subj", "pred", "obj", "graph")
        b = res2.graph.select("subj", "pred", "obj", "graph")
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    def test_rerun_all_skipped(self, spark, tmp_path):
        root = str(tmp_path / "ckpt3")
        run_pipeline(spark, root, n_turns=150, n_convs=5)
        res = run_pipeline(spark, root, n_turns=150, n_convs=5)
        assert all(m.get("skipped") for m in res.metrics)
        # changing params invalidates
        res3 = run_pipeline(spark, root, n_turns=151, n_convs=5)
        assert not any(m.get("skipped") for m in res3.metrics)


class TestCheckpointCounters:
    """Stage counters are read from the parquet footers of the write and
    match what Spark jobs over the read-back would compute, at no job."""

    @staticmethod
    def _spark_counters(spark, data_path, partition_by):
        """The counters as Spark jobs over the read-back compute them."""
        out = spark.read.parquet(data_path)
        ref = {"rows": out.count()}
        if partition_by:
            ref["partitions"] = {
                "|".join(str(r[c]) for c in partition_by): r["count"]
                for r in out.groupBy(*partition_by).count().collect()
            }
        abs_data = os.path.abspath(data_path)
        ref["files_detail"] = {
            os.path.relpath(unquote(urlparse(r["f"]).path), abs_data): r["count"]
            for r in out.groupBy(F.input_file_name().alias("f")).count().collect()
        }
        ref["files"] = len(ref["files_detail"])
        return ref

    def test_escaped_partition_values_match_spark(self, spark, tmp_path):
        values = F.array(*(F.lit(v) for v in ("a b", "x=y", "p/q")), F.lit(None))
        df = spark.range(0, 90, 1, 3).select(
            "id",
            F.element_at(values, (F.col("id") % 4 + 1).cast("int")).alias("k"),
            (F.floor(F.col("id") / 4) % 2).alias("j"),
        )
        res = CheckpointManager(spark, str(tmp_path)).stage(
            "s", "fp", lambda: df, partition_by=["k", "j"]
        )
        got = {k: v for k, v in res.manifest["counters"].items() if k != "seconds"}
        ref = self._spark_counters(spark, str(tmp_path / "s" / "data"), ["k", "j"])
        assert got == ref
        assert got["rows"] == 90 and len(got["partitions"]) == 8
        assert got["files"] == 3 * 8  # every task wrote to every partition

    def test_empty_stage_lists_its_zero_row_file(self, spark, tmp_path):
        df = spark.range(0).withColumn("v", F.lit("x"))
        res = CheckpointManager(spark, str(tmp_path)).stage("e", "fp", lambda: df)
        c = res.manifest["counters"]
        assert c["rows"] == 0 and c["files"] == 1
        assert list(c["files_detail"].values()) == [0]
        (name,) = c["files_detail"]
        assert os.path.isfile(tmp_path / "e" / "data" / name)

    @pytest.mark.parametrize("partition_by", [None, ["k"]])
    def test_stage_runs_no_counter_job(self, spark, tmp_path, partition_by):
        """A checkpointed stage runs the jobs of its write and nothing more:
        no counter job, and its read-back (also when the stage is skipped)
        is given its schema, so no schema-inference job."""
        sc = spark.sparkContext
        df = spark.range(0, 200, 1, 4).withColumn("k", F.col("id") % 3)

        def jobs_of(fn) -> int:
            group = f"ckpt-jobs-{uuid.uuid4().hex}"
            sc.setJobGroup(group, group)
            try:
                fn()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            return len(sc.statusTracker().getJobIdsForGroup(group))

        def bare():
            p = str(tmp_path / "bare")
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(p)

        ckpt = CheckpointManager(spark, str(tmp_path / "ckpt"))
        n_stage = jobs_of(lambda: ckpt.stage("s", "fp", lambda: df, partition_by))
        assert n_stage == jobs_of(bare) > 0
        skip = []
        assert jobs_of(lambda: skip.append(ckpt.stage("s", "fp", lambda: df, partition_by))) == 0
        assert skip[0].skipped

    def test_manifest_schema_is_the_inferred_schema(self, spark, tmp_path):
        """Every pipeline stage's recorded read-back schema, the partitioned
        ``graph`` included, is the one ``spark.read.parquet`` infers."""
        root = str(tmp_path / "ckpt")
        res = run_pipeline(spark, root, n_turns=150, n_convs=5)
        assert len(res.metrics) == 6
        for m in res.metrics:
            data = os.path.join(root, m["stage"], "data")
            with open(os.path.join(root, m["stage"], "manifest.json")) as f:
                recorded = StructType.fromJson(json.load(f)["schema"])
            assert recorded == spark.read.parquet(data).schema, m["stage"]

    def test_manifest_without_schema_recomputes(self, spark, tmp_path):
        ckpt = CheckpointManager(spark, str(tmp_path))
        df = spark.range(5)
        ckpt.stage("s", "fp", lambda: df)
        path = tmp_path / "s" / "manifest.json"
        man = json.loads(path.read_text())
        del man["schema"]
        path.write_text(json.dumps(man))
        res = ckpt.stage("s", "fp", lambda: df)
        assert not res.skipped and "schema" in res.manifest


class TestOracleFixturePins:
    """Properties the flagship DuckDB oracles rely on (see __spark_entry__):
    the committed transcript fixture matches the generator, and blocking
    loses no accepted pair on it."""

    FIXTURE = "/root/repo/fixtures/transcripts_2000.parquet"

    def test_fixture_matches_generator(self, spark):
        gen = synth_transcripts(spark, n_turns=2000, n_convs=40, seed=42)
        fix = spark.read.parquet(self.FIXTURE)
        assert fix.columns == gen.columns
        sym_diff = fix.exceptAll(gen).unionAll(gen.exceptAll(fix))
        assert sym_diff.isEmpty()

    def test_blocking_recall_total(self, spark):
        """The linking oracle scores ALL norm pairs; the Spark path scores
        only blocked candidates.  Equality of the two edge sets on the
        fixture is what makes the oracle strict."""
        from mopper_spark.pipeline.linking import _score_pair, link_mentions

        tr = spark.read.parquet(self.FIXTURE)
        mentions = extract_mentions(tr)
        forms = mentions.select(
            normalize_surface(F.col("surface")).alias("norm")
        ).distinct()
        a, b = forms.alias("a"), forms.alias("b")
        all_pairs = a.join(b, F.col("a.norm") < F.col("b.norm")).select(
            F.col("a.norm").alias("norm_a"), F.col("b.norm").alias("norm_b")
        )
        exhaustive = {
            (r.norm_a, r.norm_b)
            for r in all_pairs.filter(
                _score_pair(F.col("norm_a"), F.col("norm_b"))
            ).collect()
        }
        blocked = {
            (r.norm_a, r.norm_b) for r in link_mentions(mentions).collect()
        }
        assert exhaustive == blocked


class TestClusteringPairCounts:
    """pipeline/linking.py::clustering_pair_counts — pairwise P/R counts
    via the C(n,2) identity, checked against a brute-force pair replica."""

    def _replica(self, labels):
        tp = fp = fn = 0
        for i, (p1, t1) in enumerate(labels):
            for p2, t2 in labels[i + 1 :]:
                same_p, same_t = p1 == p2, t1 == t2
                tp += same_p and same_t
                fp += same_p and not same_t
                fn += same_t and not same_p
        return len(labels), tp, fp, fn

    def _run(self, spark, labels):
        from mopper_spark.pipeline.linking import clustering_pair_counts

        df = spark.createDataFrame(labels, "pred string, truth int")
        r = clustering_pair_counts(df, "pred", "truth").collect()[0]
        assert (r.n_items, r.tp, r.fp, r.fn) == self._replica(labels)
        return r

    def test_imperfect_clustering(self, spark):
        # pred merges truth-0 with truth-1 (fp) and splits truth-2 (fn)
        labels = [
            ("A", 0), ("A", 0), ("A", 1),
            ("B", 2), ("C", 2),
            ("D", 3),
        ]
        r = self._run(spark, labels)
        assert r.tp == 1 and r.fp == 2 and r.fn == 1

    def test_perfect_clustering(self, spark):
        labels = [("A", 0), ("A", 0), ("B", 1), ("C", 2), ("C", 2), ("C", 2)]
        r = self._run(spark, labels)
        assert r.fp == 0 and r.fn == 0 and r.tp == 1 + 3

    def test_singletons_only(self, spark):
        r = self._run(spark, [("A", 0), ("B", 1), ("C", 2)])
        assert (r.tp, r.fp, r.fn) == (0, 0, 0)


def test_pair_counts_empty_labels_are_zero(spark):
    """Empty labels table -> (0, 0, 0, 0), not NULLs (review fix)."""
    from mopper_spark.pipeline.linking import clustering_pair_counts

    empty = spark.createDataFrame([], "pred string, truth int")
    r = clustering_pair_counts(empty, "pred", "truth").collect()[0]
    assert (r.n_items, r.tp, r.fp, r.fn) == (0, 0, 0, 0)


def test_entity_trending_burst_direction(spark):
    """A day where an entity is mentioned in many turns scores a higher
    z than its quiet days (composition: extract -> normalize -> ts join
    -> rate_anomaly with day buckets)."""
    from datetime import datetime

    from mopper_spark.pipeline.extract import extract_mentions
    from mopper_spark.pipeline.linking import normalize_surface
    from mopper_spark.textops.joins import rate_anomaly
    from pyspark.sql import functions as F

    rows = []
    # days 1-3: one mention/day; day 4: five mentions
    for d in (1, 2, 3):
        rows.append((f"c{d}", 0, "user", "we saw Ada Lovelace today", None,
                     datetime(2024, 1, d)))
    for i in range(5):
        rows.append(("c4", i, "user", "Ada Lovelace again", None,
                     datetime(2024, 1, 4, i)))
    tr = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string,"
              " tool string, ts timestamp")
    men = extract_mentions(tr).select(
        "conv_id", "turn_idx", normalize_surface(F.col("surface")).alias("norm"))
    ev = men.join(tr.select("conv_id", "turn_idx", "ts"),
                  ["conv_id", "turn_idx"]).select(
        F.col("norm").alias("event_type"), "ts")
    out = {r.bucket_us: r for r in
           rate_anomaly(ev, bucket_us=86_400_000_000)
           .filter(F.col("event_type") == "ada lovelace").collect()}
    zs = sorted((r.n, r.z) for r in out.values())
    assert zs[-1][0] == 5 and zs[-1][1] > 0 and all(z < 0 for _, z in zs[:-1])

"""Driver contract for the spark-graft builder (PySpark target).

``entry``: flagship transcript→KG extraction (smoke).
``queries``/``oracle_sql``: one entry per implemented operator/capability
from SURVEY.md §2 — the ``rml_*`` queries execute *real AlgeMapLoom plans*
through the engine (``mopper_spark.engine``), exercising source scan,
projection pushdown, extend-function trees (templates, UriEncode, Iri,
Literal, BlankNode, constants, references), the inner join with alias
prefixing, multi-line serializer fan-out, quads, union-into-one-sink and
dedup.  ``dedup_*`` / ``similarity_*`` / ``text_*`` queries cover the
corpus-scale operations (textops).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_TRANSCRIPTS_FIXTURE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "fixtures", "transcripts_2000.parquet"
)

EX = "http://example.com/"


# --------------------------------------------------------------------------
# plan-building helpers (AlgeMapLoom JSON shape, see mopper_spark.plan)
# --------------------------------------------------------------------------
def _src(path: str) -> dict:
    return {
        "type": "SourceOp",
        "config": {
            "path": path,
            "source_type": "File",
            "root_iterator": {"reference_formulation": "CSVRows", "fields": []},
        },
    }


def _iri_tfv(template: str, vars_: list[str]) -> dict:
    return {
        "type": "Iri",
        "base_iri": EX + "base/",
        "inner_function": {
            "type": "TemplateFunctionValue",
            "template": template,
            "variable_function_pairs": [
                [v, {"type": "UriEncode", "inner_function": {"type": "Reference", "value": v}}]
                for v in vars_
            ],
        },
    }


def _iri_const(value: str) -> dict:
    return {"type": "Iri", "base_iri": EX + "base/",
            "inner_function": {"type": "Constant", "value": value}}


def _lit_ref(col: str) -> dict:
    return {"type": "Literal", "inner_function": {"type": "Reference", "value": col},
            "dtype_function": None, "langtype_function": None}


def _plan(nodes: list[tuple[str, dict]], edges: list[tuple[int, int]]) -> dict:
    return {
        "nodes": [{"id": nid, "operator": op} for nid, op in nodes],
        "edges": [[a, b, {"fragment": "default"}] for a, b in edges],
    }


def _run(spark: SparkSession, plan: dict, dedup: bool = False) -> DataFrame:
    from mopper_spark.engine import run_plan
    from mopper_spark.options import MopperOptions

    targets = run_plan(plan, spark, MopperOptions(deduplicate=dedup))
    df = targets[0].statements
    for t in targets[1:]:
        df = df.unionByName(t.statements)
    # multi-line templates emit per-statement rows already; normalize NFC no-op
    return df


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: transcript→KG extraction + mention triples (sf0.001 tier)."""
    from mopper_spark.pipeline.extract import (
        extract_mentions,
        extract_triples,
        mention_triples,
    )
    from mopper_spark.pipeline.transcripts import synth_transcripts

    tr = synth_transcripts(spark, n_turns=1000, n_convs=50, seed=42)
    triples = extract_triples(tr)
    mentions = extract_mentions(tr)
    return triples.unionByName(mention_triples(mentions))


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------
def _q_rml_extend_customer(spark: SparkSession, sf: str) -> DataFrame:
    nodes = [
        ("S0", _src(f"{sf}/customer.parquet")),
        ("E1", {"type": "ExtendOp", "config": {
            "?s": _iri_tfv(EX + "customer/{c_custkey}/{c_name}", ["c_custkey", "c_name"]),
            "?p1": _iri_const(EX + "ontology/name"),
            "?o1": _lit_ref("c_name"),
            "?p2": _iri_const(EX + "ontology/segment"),
            "?o2": _lit_ref("c_mktsegment"),
        }}),
        ("Z2", {"type": "SerializerOp", "config": {
            "template": "?s ?p1 ?o1 .\n?s ?p2 ?o2 .", "format": "NQuads"}}),
        ("T3", {"type": "TargetOp", "config": {"target_type": "StdOut"}}),
    ]
    return _run(spark, _plan(nodes, [(0, 1), (1, 2), (2, 3)]))


_SQL_RML_EXTEND_CUSTOMER = """
WITH c AS (
  SELECT CAST(c_custkey AS VARCHAR) AS ck, c_name, c_mktsegment FROM customer
), s AS (
  SELECT '<http://example.com/customer/' || ck || '/' || replace(c_name, '#', '%23') || '>' AS subj,
         c_name, c_mktsegment FROM c
)
SELECT subj || ' <http://example.com/ontology/name> "' || c_name || '" .' AS statement FROM s
UNION ALL
SELECT subj || ' <http://example.com/ontology/segment> "' || c_mktsegment || '" .' FROM s
"""


def _q_rml_join_customer_nation(spark: SparkSession, sf: str) -> DataFrame:
    nodes = [
        ("S0", _src(f"{sf}/customer.parquet")),
        ("S1", _src(f"{sf}/nation.parquet")),
        ("J2", {"type": "JoinOp", "config": {
            "left_right_attr_pairs": [["c_nationkey", "n_nationkey"]],
            "join_type": "InnerJoin", "predicate_type": "Equal",
            "join_alias": "join_0"}}),
        ("E3", {"type": "ExtendOp", "config": {
            "?s": _iri_tfv(EX + "customer/{c_custkey}", ["c_custkey"]),
            "?p": _iri_const(EX + "ontology/nation"),
            "?o": _iri_tfv(EX + "nation/{join_0_n_name}", ["join_0_n_name"]),
            "?g": _iri_tfv(EX + "graph/{c_mktsegment}", ["c_mktsegment"]),
        }}),
        ("Z4", {"type": "SerializerOp", "config": {"template": "?s ?p ?o ?g .", "format": "NQuads"}}),
        ("T5", {"type": "TargetOp", "config": {"target_type": "StdOut"}}),
    ]
    return _run(spark, _plan(nodes, [(0, 2), (1, 2), (2, 3), (3, 4), (4, 5)]))


_SQL_RML_JOIN = """
SELECT '<http://example.com/customer/' || CAST(c.c_custkey AS VARCHAR) || '>'
       || ' <http://example.com/ontology/nation> '
       || '<http://example.com/nation/' || n.n_name || '>'
       || ' <http://example.com/graph/' || c.c_mktsegment || '> .' AS statement
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
"""


def _q_rml_quads_orders(spark: SparkSession, sf: str) -> DataFrame:
    nodes = [
        ("S0", _src(f"{sf}/orders.parquet")),
        ("E1", {"type": "ExtendOp", "config": {
            "?s": _iri_tfv(EX + "order/{o_orderkey}", ["o_orderkey"]),
            "?p": _iri_const(EX + "ontology/status"),
            "?o": _lit_ref("o_orderstatus"),
            "?g": _iri_tfv(EX + "graph/{o_orderstatus}", ["o_orderstatus"]),
        }}),
        ("Z2", {"type": "SerializerOp", "config": {"template": "?s ?p ?o ?g .", "format": "NQuads"}}),
        ("T3", {"type": "TargetOp", "config": {"target_type": "StdOut"}}),
    ]
    return _run(spark, _plan(nodes, [(0, 1), (1, 2), (2, 3)]))


_SQL_RML_QUADS_ORDERS = """
SELECT '<http://example.com/order/' || CAST(o_orderkey AS VARCHAR) || '>'
       || ' <http://example.com/ontology/status> "' || o_orderstatus || '"'
       || ' <http://example.com/graph/' || o_orderstatus || '> .' AS statement
FROM orders
"""


def _q_rml_fanout_nation(spark: SparkSession, sf: str) -> DataFrame:
    template = (
        "?s <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://example.com/ontology/Nation> .\n"
        "?s ?p1 ?o1 .\n"
        "?s ?p2 ?o2 ."
    )
    nodes = [
        ("S0", _src(f"{sf}/nation.parquet")),
        ("E1", {"type": "ExtendOp", "config": {
            "?s": _iri_tfv(EX + "nation/{n_nationkey}", ["n_nationkey"]),
            "?p1": _iri_const("http://www.w3.org/2000/01/rdf-schema#label"),
            "?o1": _lit_ref("n_name"),
            "?p2": _iri_const(EX + "ontology/region"),
            "?o2": _lit_ref("n_regionkey"),
        }}),
        ("Z2", {"type": "SerializerOp", "config": {"template": template, "format": "NQuads"}}),
        ("T3", {"type": "TargetOp", "config": {"target_type": "StdOut"}}),
    ]
    return _run(spark, _plan(nodes, [(0, 1), (1, 2), (2, 3)]))


_SQL_RML_FANOUT = """
WITH n AS (SELECT '<http://example.com/nation/' || CAST(n_nationkey AS VARCHAR) || '>' AS subj,
                  n_name, CAST(n_regionkey AS VARCHAR) AS rk FROM nation)
SELECT subj || ' <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://example.com/ontology/Nation> .' AS statement FROM n
UNION ALL
SELECT subj || ' <http://www.w3.org/2000/01/rdf-schema#label> "' || n_name || '" .' FROM n
UNION ALL
SELECT subj || ' <http://example.com/ontology/region> "' || rk || '" .' FROM n
"""


def _q_rml_union_one_target(spark: SparkSession, sf: str) -> DataFrame:
    """Two triples maps (region + nation) into ONE sink (union semantics)."""
    nodes = [
        ("S0", _src(f"{sf}/region.parquet")),
        ("S1", _src(f"{sf}/nation.parquet")),
        ("E2", {"type": "ExtendOp", "config": {
            "?s": _iri_tfv(EX + "region/{r_regionkey}", ["r_regionkey"]),
            "?p": _iri_const("http://www.w3.org/2000/01/rdf-schema#label"),
            "?o": _lit_ref("r_name")}}),
        ("E3", {"type": "ExtendOp", "config": {
            "?s": _iri_tfv(EX + "nation/{n_nationkey}", ["n_nationkey"]),
            "?p": _iri_const("http://www.w3.org/2000/01/rdf-schema#label"),
            "?o": _lit_ref("n_name")}}),
        ("Z4", {"type": "SerializerOp", "config": {"template": "?s ?p ?o .", "format": "NTriples"}}),
        ("Z5", {"type": "SerializerOp", "config": {"template": "?s ?p ?o .", "format": "NTriples"}}),
        ("T6", {"type": "TargetOp", "config": {"target_type": "StdOut"}}),
    ]
    return _run(spark, _plan(nodes, [(0, 2), (1, 3), (2, 4), (3, 5), (4, 6), (5, 6)]))


_SQL_RML_UNION = """
SELECT '<http://example.com/region/' || CAST(r_regionkey AS VARCHAR)
       || '> <http://www.w3.org/2000/01/rdf-schema#label> "' || r_name || '" .' AS statement
FROM region
UNION ALL
SELECT '<http://example.com/nation/' || CAST(n_nationkey AS VARCHAR)
       || '> <http://www.w3.org/2000/01/rdf-schema#label> "' || n_name || '" .'
FROM nation
"""


def _q_rml_blank_nodes(spark: SparkSession, sf: str) -> DataFrame:
    nodes = [
        ("S0", _src(f"{sf}/region.parquet")),
        ("E1", {"type": "ExtendOp", "config": {
            "?s": {"type": "BlankNode", "inner_function": {
                "type": "TemplateString", "value": "region_{r_regionkey}"}},
            "?p": _iri_const(EX + "ontology/name"),
            "?o": _lit_ref("r_name")}}),
        ("Z2", {"type": "SerializerOp", "config": {"template": "?s ?p ?o .", "format": "NQuads"}}),
        ("T3", {"type": "TargetOp", "config": {"target_type": "StdOut"}}),
    ]
    return _run(spark, _plan(nodes, [(0, 1), (1, 2), (2, 3)]))


_SQL_RML_BLANK = """
SELECT '_:region_' || CAST(r_regionkey AS VARCHAR)
       || ' <http://example.com/ontology/name> "' || r_name || '" .' AS statement
FROM region
"""


def _q_rml_invalid_iri(spark: SparkSession, sf: str) -> DataFrame:
    """IRI INVALID sentinel: events.props is JSON → always invalid as IRI."""
    nodes = [
        ("S0", _src(f"{sf}/events.parquet")),
        ("E1", {"type": "ExtendOp", "config": {
            "?s": _iri_tfv(EX + "event/{event_id}", ["event_id"]),
            "?p": _iri_const(EX + "ontology/props"),
            "?o": {"type": "Iri", "base_iri": EX + "base/",
                   "inner_function": {"type": "Reference", "value": "props"}}}}),
        ("Z2", {"type": "SerializerOp", "config": {"template": "?s ?p ?o .", "format": "NQuads"}}),
        ("T3", {"type": "TargetOp", "config": {"target_type": "StdOut"}}),
    ]
    return _run(spark, _plan(nodes, [(0, 1), (1, 2), (2, 3)]))


_SQL_RML_INVALID = """
SELECT '<http://example.com/event/' || CAST(event_id AS VARCHAR)
       || '> <http://example.com/ontology/props> <INVALID> .' AS statement
FROM events
"""


def _q_rml_selfjoin_part(spark: SparkSession, sf: str) -> DataFrame:
    """RefObjectMap over the SAME source with a NaturalJoin (RMLTC0008b
    shape): source merging turns it into a self-join, which the rewriter
    eliminates entirely (plan_rewriter.rs:169-204) — the extend reads the
    join_0_-prefixed refs from the original row, no join in the plan."""
    nodes = [
        ("S0", _src(f"{sf}/part.parquet")),
        ("S1", _src(f"{sf}/part.parquet")),
        ("J2", {"type": "JoinOp", "config": {
            "left_right_attr_pairs": [], "join_type": "NaturalJoin",
            "predicate_type": "Equal", "join_alias": "join_0"}}),
        ("E3", {"type": "ExtendOp", "config": {
            "?s": _iri_tfv(EX + "part/{p_partkey}", ["p_partkey"]),
            "?p": _iri_const(EX + "ontology/brandType"),
            "?o": _iri_tfv(EX + "brand/{join_0_p_brand}/{join_0_p_type}",
                           ["join_0_p_brand", "join_0_p_type"]),
        }}),
        ("Z4", {"type": "SerializerOp", "config": {"template": "?s ?p ?o .", "format": "NQuads"}}),
        ("T5", {"type": "TargetOp", "config": {"target_type": "StdOut"}}),
    ]
    return _run(spark, _plan(nodes, [(0, 2), (1, 2), (2, 3), (3, 4), (4, 5)]))


_SQL_RML_SELFJOIN = """
SELECT '<http://example.com/part/' || CAST(p_partkey AS VARCHAR) || '>'
       || ' <http://example.com/ontology/brandType> '
       || '<http://example.com/brand/' || replace(p_brand, '#', '%23')
       || '/' || replace(replace(p_type, ' ', '%20'), '#', '%23') || '> .' AS statement
FROM part
"""


_TTL_SUPPLIER = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
@prefix ex: <http://example.com/> .
@base <http://example.com/base/> .

<SupplierMap> a rr:TriplesMap ;
  rml:logicalSource [ rml:source "supplier.parquet" ] ;
  rr:subjectMap [ rr:template "http://example.com/supplier/{s_suppkey}" ;
                  rr:class ex:Supplier ] ;
  rr:predicateObjectMap [ rr:predicate rdfs:label ;
                          rr:objectMap [ rml:reference "s_name" ] ] ;
  rr:predicateObjectMap [ rr:predicate ex:nation ;
                          rr:objectMap [ rr:template "http://example.com/nation/{s_nationkey}" ] ] .
"""


def _q_rml_turtle_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """Full RML front-end: Turtle mapping → plan → engine (SURVEY §3.1)."""
    from mopper_spark.engine import run_plan
    from mopper_spark.options import MopperOptions
    from mopper_spark.rml import rml_to_plan

    plan = rml_to_plan(_TTL_SUPPLIER)
    targets = run_plan(plan, spark, MopperOptions(working_dir_hint=sf))
    df = targets[0].statements
    for t in targets[1:]:
        df = df.unionByName(t.statements)
    return df


_SQL_RML_TURTLE_SUPPLIER = """
WITH s AS (SELECT '<http://example.com/supplier/' || CAST(s_suppkey AS VARCHAR) || '>' AS subj,
                  s_name, CAST(s_nationkey AS VARCHAR) AS nk FROM supplier)
SELECT subj || ' <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://example.com/Supplier> .' AS statement FROM s
UNION ALL
SELECT subj || ' <http://www.w3.org/2000/01/rdf-schema#label> "' || s_name || '" .' FROM s
UNION ALL
SELECT subj || ' <http://example.com/nation> <http://example.com/nation/' || nk || '> .' FROM s
"""


# ---------------------------------------------------------------- textops --
def _q_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    norm = F.lower(F.regexp_replace(F.trim("text"), r"\s+", " "))
    return (
        docs.groupBy(norm.alias("norm"))
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("dup_count"))
        .select("doc_id", "dup_count")
    )


_SQL_DEDUP_EXACT = """
SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
FROM (SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS norm FROM documents)
GROUP BY norm
"""


def _q_dedup_minhash(spark: SparkSession, sf: str) -> DataFrame:
    """LSH-banded minhash candidates verified by exact word-shingle Jaccard.

    Strict oracle: candidates are verified with EXACT Jaccard (precision
    1.0 by construction) and banding recall is measured 1.0 on this fixture
    at the 0.5 threshold — every qualifying pair has Jaccard ≥ 0.9, where a
    4-row band collides with p = 0.9^4 per band across 8 bands (asserted in
    tests/test_textops.py::test_minhash_banding_recall_is_total) — so the
    exact-Jaccard SQL is an equality oracle, not an approximation bound.
    """
    from mopper_spark.textops.dedup import minhash_near_dup_pairs

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return minhash_near_dup_pairs(docs, threshold=0.5).select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")
    )


def _q_dedup_minhash_oph(spark: SparkSession, sf: str) -> DataFrame:
    """One-permutation-hashing minhash (textops/dedup.py::
    make_oph_minhash_udf — Li/Owen/Zhang NIPS'12 + Shrivastava/Li
    ICML'14 rotation densification): the same 32-wide signature as
    dedup_minhash from ONE hash pass instead of 32 — the K× signature-
    compute reduction for the 100 TB dedup job.  Same banding, same
    exact-Jaccard verify, same exact all-pairs SQL oracle; OPH banding
    recall is measured 1.0 on this fixture (RECALL_PINS entry)."""
    from mopper_spark.textops.dedup import minhash_near_dup_pairs

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return minhash_near_dup_pairs(docs, threshold=0.5, scheme="oph").select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")
    )


def _q_dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash near-dup pairs; 8×8-bit bands GUARANTEE recall at hamming ≤ 6
    (pigeonhole) and the hamming filter is exact, so an all-pairs hamming
    SQL is an equality oracle.  The signature itself is INDEPENDENTLY
    recomputed in DuckDB — the gram hash is md5_number_lower on both
    sides — so the oracle covers kernel, banding, and verification with
    no shared artifacts."""
    from mopper_spark.textops.dedup import simhash_near_dup_pairs

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return simhash_near_dup_pairs(docs, max_hamming=6)


def _q_dedup_embedding(spark: SparkSession, sf: str) -> DataFrame:
    from mopper_spark.textops.dedup import embedding_near_dup_pairs

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    # Synthetic embeddings are near-orthogonal (max pairwise cos ≈ 0.51), so
    # the gate threshold is 0.4 (59 exact pairs at sf0.01).  Banded LSH with
    # shallow bands (2 planes × 24 bands) reaches measured recall 1.0 there
    # (asserted in tests/test_textops.py); production near-dup thresholds
    # (≥0.9) allow deep bands (8-16 planes) with far smaller buckets.
    return embedding_near_dup_pairs(
        emb, threshold=0.4, n_planes=2, n_bands=24
    ).select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


def _q_dedup_embedding_planned(spark: SparkSession, sf: str) -> DataFrame:
    """The SCALE-SAFE embedding near-dup path (r4 VERDICT #3): band
    geometry comes from ``similarity.lsh_band_plan`` — depth
    r = ⌈log₂(n/target_bucket)⌉ grows with the corpus so per-bucket
    occupancy (and with it the within-bucket verify) stays constant and
    total candidate work is Θ(n^(1+ρ)), vs the fixed-config gate query
    whose sf1 probe measured 117.9× wall at 10× rows.  This planned
    path is the DEFAULT for production corpora; ``dedup_embedding``
    (fixed 2×24) remains as the regression fixture.  target_recall
    0.999 plans r=1,B=7 at sf0.01 and r=2,B=14 at sf0.1 — measured
    recall 1.0 on both fixtures (RECALL_PINS), so the exact all-pairs
    SQL is an equality oracle."""
    from mopper_spark.textops.dedup import embedding_near_dup_pairs
    from mopper_spark.textops.similarity import lsh_band_plan

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    r, bands = lsh_band_plan(emb.count(), 0.4, target_recall=0.999)
    return embedding_near_dup_pairs(
        emb, threshold=0.4, n_planes=r, n_bands=bands
    ).select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


def _dedup_deep_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup corpus for the production-shape ANN config: every 4th
    vector gets a perturbed copy (id + 1_000_000).  The perturbation uses
    only +/*/% on doubles — IEEE-exact and therefore bit-identical between
    Spark and DuckDB (no transcendentals) — so the oracle can rebuild the
    same corpus in SQL."""
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    dupes = emb.filter(F.col("vec_id") % 4 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x
            + F.lit(0.01) * ((F.col("vec_id") * 31 + i * 7) % 5 - 2).cast("double"),
        ).alias("embedding"),
    )
    return emb.unionByName(dupes)


def _q_dedup_embedding_deep(spark: SparkSession, sf: str) -> DataFrame:
    """Production-shape embedding near-dup config (r2 VERDICT item #5):
    threshold 0.9 with DEEP bands (8 planes × 8 bands) over a corpus with
    real near-duplicates, vs the gate fixture's near-orthogonal vectors
    that force threshold 0.4 with shallow bands.  Deep bands mean tiny
    buckets (≤2 expected members), so the quadratic verify stage is
    near-linear — this is the config a 100 TB run would use.  Oracle:
    exact all-pairs cosine in SQL; equality rests on banding recall 1.0 at
    this (threshold, planes, bands) on this corpus, PINNED by
    tests/test_textops.py::test_embedding_deep_band_recall_total — if that
    test is ever skipped or the fixture changes, re-validate before
    trusting a gate failure (it would be a recall gap, not an engine bug)."""
    from mopper_spark.textops.dedup import embedding_near_dup_pairs

    corpus = _dedup_deep_corpus(spark, sf)
    return embedding_near_dup_pairs(
        corpus, threshold=0.9, n_planes=8, n_bands=8
    ).select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


_SQL_DEDUP_EMBEDDING_DEEP = """
WITH corpus AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000,
         list_transform(range(len(embedding)),
                        i -> embedding[i+1]::DOUBLE
                             + 0.01::DOUBLE * ((vec_id*31 + i*7) % 5 - 2))
  FROM embeddings WHERE vec_id % 4 = 0
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(a.v, b.v), 4) AS cosine
FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.v, b.v) >= 0.9
"""


def _q_dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    from mopper_spark.textops.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return ngram_jaccard_pairs(docs, n=3, threshold=0.2).select(
        "id_a", "id_b", F.round("jaccard", 5).alias("jaccard")
    )


_SQL_DEDUP_MINHASH = """
WITH toks AS (
  SELECT doc_id AS id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS tk
  FROM documents
), shingled AS (
  SELECT id,
         list_distinct(CASE WHEN len(tk) >= 3
           THEN list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' '))
           ELSE [array_to_string(tk, ' ')] END) AS sh
  FROM toks
)
SELECT a.id AS id_a, b.id AS id_b,
       ROUND(len(list_intersect(a.sh, b.sh)) * 1.0
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jaccard
FROM shingled a JOIN shingled b ON a.id < b.id
WHERE len(list_intersect(a.sh, b.sh)) * 1.0
      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
"""

# Full independent SimHash oracle: the signature is recomputed from the
# raw documents in SQL (md5_number_lower gram hash == the kernel's
# little-endian lower-8-bytes-of-md5), then all pairs hamming-filtered.
_SQL_DEDUP_SIMHASH = r"""
WITH toks AS (
  SELECT doc_id AS id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS tk
  FROM documents
), grams AS (
  SELECT id, unnest(CASE WHEN len(tk) >= 2
      THEN [tk[i] || ' ' || tk[i+1] for i in range(1, len(tk))]
      ELSE tk END) AS g
  FROM toks
), bits AS (
  SELECT id, b.b AS b,
         SUM(CASE WHEN (md5_number_lower(g) >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS acc
  FROM grams CROSS JOIN (SELECT unnest(range(64)) AS b) b
  GROUP BY id, b.b
), usig AS (
  SELECT id, SUM(CASE WHEN acc > 0 THEN CAST(1::UBIGINT << b AS HUGEINT) ELSE 0::HUGEINT END) AS u
  FROM bits GROUP BY id
), sigs AS (
  SELECT t.id,
         COALESCE(CAST(CASE WHEN u >= 9223372036854775808::HUGEINT
                        THEN u - 18446744073709551616::HUGEINT ELSE u END AS BIGINT), 0) AS sim
  FROM toks t LEFT JOIN usig s ON s.id = t.id
)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
FROM sigs a JOIN sigs b ON a.id < b.id
WHERE bit_count(xor(a.sim, b.sim)) <= 6
"""

_SQL_DEDUP_EMBEDDING = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
"""

def _q_dedup_keep_docs(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end dedup pipeline: minhash near-dup pairs → connected
    components over the duplicate graph → keep the minimum doc_id per
    cluster (drop the rest).  Oracle: exact-Jaccard pairs + recursive-CTE
    closure + anti-join in SQL."""
    from mopper_spark.textops.dedup import dedup_keep_min, minhash_near_dup_pairs

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    pairs = minhash_near_dup_pairs(docs, threshold=0.5)
    return dedup_keep_min(docs, pairs).select("doc_id")


# ``pairs`` and ``sym`` are MATERIALIZED so the quadratic pair join runs
# once, not once per reference and recursion step (measured 27 s vs 9 s,
# same rows, at sf0.001).
_SQL_DEDUP_KEEP_DOCS = """
WITH RECURSIVE toks AS (
  SELECT doc_id AS id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS tk
  FROM documents
), shingled AS (
  SELECT id,
         list_distinct(CASE WHEN len(tk) >= 3
           THEN list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' '))
           ELSE [array_to_string(tk, ' ')] END) AS sh
  FROM toks
), pairs AS MATERIALIZED (
  SELECT a.id AS u, b.id AS v
  FROM shingled a JOIN shingled b ON a.id < b.id
  WHERE len(list_intersect(a.sh, b.sh)) * 1.0
        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
), sym AS MATERIALIZED (
  SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs
), reach AS (
  SELECT u AS node, u AS comp FROM sym
  UNION
  SELECT s.v, r.comp FROM reach r JOIN sym s ON s.u = r.node
), comp AS (
  SELECT node, MIN(comp) AS component FROM reach GROUP BY node
)
SELECT d.doc_id FROM documents d
LEFT JOIN comp c ON c.node = d.doc_id
WHERE c.node IS NULL OR c.component = d.doc_id
"""

_SQL_DEDUP_NGRAM = """
WITH toks AS (
  SELECT doc_id AS id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS tk
  FROM documents
), shingled AS (
  SELECT id,
         list_distinct(CASE WHEN len(tk) >= 3
           THEN list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' '))
           ELSE [array_to_string(tk, ' ')] END) AS sh
  FROM toks
), inv AS (SELECT id, unnest(sh) AS g FROM shingled),
sizes AS (SELECT id, len(sh) AS n_sh FROM shingled),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
  FROM inv a JOIN inv b ON a.g = b.g AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b, ROUND(i * 1.0 / (sa.n_sh + sb.n_sh - i), 5) AS jaccard
FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
WHERE i * 1.0 / (sa.n_sh + sb.n_sh - i) >= 0.2
"""


def _q_similarity_topk_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """ANN scale path: BANDED multi-probe hyperplane-LSH top-k.  At the
    gate's shallow-wide config (3 planes × 12 bands, single-flip probes)
    the candidate union provably covers every exact top-5 row on this
    fixture (pinned in tests/test_textops.py), so the brute-force SQL is
    an equality oracle; production high-cosine corpora use deeper bands
    for sub-linear candidates."""
    from mopper_spark.textops.similarity import lsh_topk

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    out = lsh_topk(emb, emb.filter("vec_id < 5"), k=5, n_planes=3, n_bands=12)
    return out.select(
        "query_id", "vec_id", F.round("cosine", 5).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def _q_multimodal_features(spark: SparkSession, sf: str) -> DataFrame:
    """Binary media columns → typed features via mapInPandas.  The decode
    is a deterministic fake (no image libs in this container) but FULLY
    SPECIFIED — payload = utf8(sha256_hex), features = seeded rng — so the
    oracle is a parquet fixture re-derived independently of Spark/Arrow
    (scripts/gen_multimodal_oracle.py), pinning the mapInPandas plumbing
    end-to-end."""
    from mopper_spark.textops.multimodal import extract_features, synth_media

    media = synth_media(spark, n=64, seed=5)
    feats = extract_features(media, deterministic_fake=True)
    return feats.select(
        "media_id", "mime", "n_bytes",
        F.round(F.aggregate("features", F.lit(0.0), lambda a, x: a + x), 4)
        .alias("feat_sum"),
    )


_MULTIMODAL_ORACLE_FIXTURE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "fixtures", "multimodal_features.parquet"
)

_SQL_MULTIMODAL_FEATURES = f"""
SELECT media_id, mime, n_bytes, feat_sum
FROM read_parquet('{_MULTIMODAL_ORACLE_FIXTURE}')
"""


def _q_multimodal_wav_features(spark: SparkSession, sf: str) -> DataFrame:
    """REAL WAV decode path: deterministic RIFF/WAVE payloads generated
    executor-side, decoded with the stdlib ``wave`` kernel (header fields +
    PCM16 RMS / zero-crossing rate in Arrow batches).  Oracle: a parquet
    fixture computed by an independent pure-Python (no Spark, no numpy)
    re-derivation — scripts/gen_wav_oracle.py."""
    from mopper_spark.textops.multimodal import extract_wav_features, synth_wav_media

    media = synth_wav_media(spark, n=32, seed=7)
    feats = extract_wav_features(media)
    return feats.select(
        "media_id",
        "sample_rate",
        "n_channels",
        "n_frames",
        F.round(F.col("rms").cast("double"), 6).alias("rms"),
        F.round(F.col("zcr").cast("double"), 6).alias("zcr"),
    )


_WAV_ORACLE_FIXTURE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "fixtures", "wav_features.parquet"
)

_SQL_MULTIMODAL_WAV = f"""
SELECT media_id, sample_rate, n_channels, n_frames, rms, zcr
FROM read_parquet('{_WAV_ORACLE_FIXTURE}')
"""


def _q_multimodal_png_features(spark: SparkSession, sf: str) -> DataFrame:
    """REAL PNG decode path (second non-stub media kernel): deterministic
    PNGs generated executor-side through all five scanline filters, decoded
    with the stdlib zlib/struct kernel (CRC-checked chunk walk, multi-IDAT
    inflate, unfilter incl. Paeth).  Oracle: a parquet fixture re-derived
    from the pixel FORMULA alone — no PNG parsing anywhere in the oracle
    (scripts/gen_png_oracle.py), so only a genuinely correct decoder
    round-trips it."""
    from mopper_spark.textops.multimodal import extract_png_features, synth_png_media

    media = synth_png_media(spark, n=24, seed=9)
    feats = extract_png_features(media)
    return feats.select(
        "media_id",
        "width",
        "height",
        "bit_depth",
        "color_type",
        F.round(F.col("mean_px").cast("double"), 6).alias("mean_px"),
    )


_PNG_ORACLE_FIXTURE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "fixtures", "png_features.parquet"
)

_SQL_MULTIMODAL_PNG = f"""
SELECT media_id, width, height, bit_depth, color_type, mean_px
FROM read_parquet('{_PNG_ORACLE_FIXTURE}')
"""


def _q_cosine_pairs_exact(spark: SparkSession, sf: str) -> DataFrame:
    from mopper_spark.textops.similarity import cosine_native

    emb = spark.read.parquet(f"{sf}/embeddings.parquet").filter("vec_id < 300")
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    cos = cosine_native(
        F.col("va").cast("array<double>"), F.col("vb").cast("array<double>")
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cos, 5).alias("cosine"))
        .filter(F.col("cosine") >= 0.3)
    )


_SQL_COSINE_PAIRS = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 5) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE a.vec_id < 300 AND b.vec_id < 300
  AND ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 5) >= 0.3
"""


def _q_similarity_topk(spark: SparkSession, sf: str) -> DataFrame:
    from mopper_spark.textops.similarity import brute_force_topk

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    out = brute_force_topk(emb, emb.filter("vec_id < 5"), k=5)
    return out.select(
        "query_id", "vec_id", F.round("cosine", 5).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


_SQL_SIMILARITY_TOPK = """
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 5),
s AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])) AS cos
  FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id
), r AS (
  SELECT query_id, vec_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM s
)
SELECT query_id, vec_id, ROUND(cos, 5) AS cosine, rank FROM r WHERE rank <= 5
"""


def _q_text_quality(spark: SparkSession, sf: str) -> DataFrame:
    from mopper_spark.textops.analysis import (
        bpe_token_count,
        punct_ratio,
        stopword_ratio,
        token_count,
    )

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    t = F.col("text")
    return docs.select(
        "doc_id",
        token_count(t).cast("long").alias("n_tokens"),
        bpe_token_count(t).cast("long").alias("n_bpe_tokens"),
        F.round(punct_ratio(t), 5).alias("punct_ratio"),
        F.round(stopword_ratio(t), 5).alias("stopword_ratio"),
    )


_SQL_TEXT_QUALITY = """
WITH toks AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS tk
  FROM documents
)
SELECT doc_id,
       CAST(len(tk) AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^\\sA-Za-z0-9]')) AS BIGINT) AS n_bpe_tokens,
       ROUND(CASE WHEN length(text) > 0
             THEN (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1.0 / length(text)
             ELSE 0 END, 5) AS punct_ratio,
       ROUND(CASE WHEN len(tk) > 0
             THEN len(list_filter(tk, x -> lower(x) IN
                  ('the','and','of','to','a','in','is','that','it','for','this','with','as','on','be','are'))) * 1.0 / len(tk)
             ELSE 0 END, 5) AS stopword_ratio
FROM toks
"""


def _q_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    from mopper_spark.textops.analysis import lang_id

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return docs.select("doc_id", lang_id(F.col("text")).alias("lang_pred"))


_SQL_LANG_ID = """
WITH toks AS (
  SELECT doc_id,
         list_transform(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''),
                        x -> lower(x)) AS tk
  FROM documents
), scores AS (
  SELECT doc_id,
    len(list_filter(tk, x -> x IN ('the','and','of','to','a','in','is','that','it','for'))) AS s_en,
    len(list_filter(tk, x -> x IN ('el','la','de','que','y','en','un','por','con','los'))) AS s_es,
    len(list_filter(tk, x -> x IN ('le','la','de','et','les','des','un','une','que','dans'))) AS s_fr,
    len(list_filter(tk, x -> x IN ('der','die','und','das','von','zu','mit','den','ist','ein'))) AS s_de
  FROM toks
)
SELECT doc_id,
  CASE WHEN greatest(s_en, s_es, s_fr, s_de) = 0 THEN 'und'
       WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
       WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
       WHEN s_en >= s_de THEN 'en'
       ELSE 'de' END AS lang_pred
FROM scores
"""


def _q_token_frequencies(spark: SparkSession, sf: str) -> DataFrame:
    from mopper_spark.textops.analysis import tokens

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )


_SQL_TOKEN_FREQ = """
SELECT token, COUNT(*) AS cnt
FROM (SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS token
      FROM documents)
GROUP BY token
"""


def _q_docs_cms_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """Count-Min sketch frequencies (textops/sketches.py::cms_registers/
    cms_lookup): a 4×2048-cell integer sketch of the token stream —
    bounded by the SKETCH size, not the vocabulary — probed back with
    every distinct token and joined to the exact counts, so the gate
    pins both the estimates and the one-sided guarantee row-by-row."""
    from mopper_spark.textops.analysis import tokens
    from mopper_spark.textops.sketches import cms_lookup, cms_registers

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    regs = cms_registers(toks, "tok", width=2048, depth=4)
    est = cms_lookup(regs, toks, "tok", width=2048, depth=4)
    exact = toks.groupBy(F.col("tok").alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("exact_count")
    )
    return est.join(exact, "key").select("key", "cms_count", "exact_count")


_SQL_DOCS_CMS_TOKENS = """
WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS tok
  FROM documents
), js AS (
  SELECT unnest([0, 1, 2, 3]) AS j
), cells AS (
  SELECT j,
         ('0x' || substr(md5('cms-v1:' || CAST(j AS VARCHAR) || ':' || tok), 1, 12))::BIGINT % 2048 AS bucket
  FROM toks CROSS JOIN js
), regs AS (
  SELECT j, bucket, CAST(COUNT(*) AS BIGINT) AS c FROM cells GROUP BY j, bucket
), keys AS (
  SELECT DISTINCT tok AS key FROM toks
), probe AS (
  SELECT key, j,
         ('0x' || substr(md5('cms-v1:' || CAST(j AS VARCHAR) || ':' || key), 1, 12))::BIGINT % 2048 AS bucket
  FROM keys CROSS JOIN js
), est AS (
  SELECT key, CAST(MIN(COALESCE(r.c, 0)) AS BIGINT) AS cms_count
  FROM probe p LEFT JOIN regs r ON p.j = r.j AND p.bucket = r.bucket
  GROUP BY key
), exact AS (
  SELECT tok AS key, CAST(COUNT(*) AS BIGINT) AS exact_count FROM toks GROUP BY tok
)
SELECT e.key, e.cms_count, x.exact_count FROM est e JOIN exact x USING (key)
"""


def _q_docs_table_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Generic per-column data-quality profile (textops/profile.py::
    table_profile) of the documents table: null counts, exact distincts,
    portable min/max, string lengths — the whole profile in ONE
    aggregate job (multi-distinct planned as a single Expand; ≤1 scan
    pinned in tests/test_profile.py).  No doubles are ever rendered."""
    from mopper_spark.textops.profile import table_profile

    return table_profile(spark.read.parquet(f"{sf}/documents.parquet"))


def _profile_oracle_sql() -> str:
    num = """
SELECT '{c}' AS "column", 'n_null' AS metric,
       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS VARCHAR) AS value_str FROM documents
UNION ALL SELECT '{c}', 'n_distinct', CAST(COUNT(DISTINCT {c}) AS VARCHAR) FROM documents
UNION ALL SELECT '{c}', 'min', CAST(MIN({c}) AS VARCHAR) FROM documents
UNION ALL SELECT '{c}', 'max', CAST(MAX({c}) AS VARCHAR) FROM documents"""
    txt = num + """
UNION ALL SELECT '{c}', 'len_min', CAST(MIN(length({c})) AS VARCHAR) FROM documents
UNION ALL SELECT '{c}', 'len_max', CAST(MAX(length({c})) AS VARCHAR) FROM documents
UNION ALL SELECT '{c}', 'len_sum', CAST(SUM(length({c})) AS VARCHAR) FROM documents"""
    parts = [
        num.format(c="doc_id"),
        txt.format(c="text"),
        txt.format(c="lang"),
        txt.format(c="source"),
        num.format(c="n_chars"),
    ]
    return "\nUNION ALL".join(parts)


_SQL_DOCS_TABLE_PROFILE = _profile_oracle_sql()


def _q_bpe_train_merges(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed BPE tokenizer TRAINING (textops/tokenizer.py): the
    first 8 merges learned from the documents corpus, all-native (pair
    counting is split/zip_with/explode + one combine-able groupBy per
    round; applying a merge is one native ``replace`` over the
    sentinel-wrapped segmentation — left-to-right non-overlapping, BPE's
    exact within-word order).  The oracle replays every round in DuckDB
    as an unrolled CTE chain (scalar-subquery argmax per step), so the
    gate covers pair counting, the deterministic tie-break AND merge
    application, hex for hex."""
    from mopper_spark.textops.tokenizer import bpe_train, word_counts

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    merges, _ = bpe_train(word_counts(docs), 8)
    return spark.createDataFrame(
        [(i + 1, l, r, f) for i, (l, r, f) in enumerate(merges)],
        "step int, lhs string, rhs string, freq long",
    )


def _sql_bpe_train(n_merges: int) -> str:
    """Unrolled-CTE DuckDB replay of bpe_train: per step, pair counts over
    the current segmentation, scalar-subquery argmax (freq DESC, pair
    ASC — the sentinel-wrapped comparison IS the engine's tie-break), and
    one replace() application.  Every CTE is MATERIALIZED: DuckDB inlines
    CTEs by default, and the 8-level chain of scalar subqueries would
    otherwise re-evaluate exponentially (measured: minutes vs 0.2 s).
    (DuckDB replace is left-to-right non-overlapping, same as Java's)."""
    ctes = ["""w0 AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS word FROM documents)
  WHERE word <> '' GROUP BY word
),
s0 AS MATERIALIZED (
  SELECT word, n,
         array_to_string(list_transform(string_split(word, ''),
                                        c -> chr(30) || c || chr(30)), ' ') AS sym
  FROM w0
)"""]
    selects = []
    for i in range(1, n_merges + 1):
        prev = f"s{i - 1}"
        ctes.append(f"""p{i} AS MATERIALIZED (
  SELECT pair, SUM(n) AS freq FROM (
    SELECT n, unnest(list_transform(range(greatest(len(a) - 1, 0)),
                                    j -> a[j + 1] || ' ' || a[j + 2])) AS pair
    FROM (SELECT n, string_split(sym, ' ') AS a FROM {prev})
  ) GROUP BY pair
),
m{i} AS MATERIALIZED (SELECT pair, freq FROM p{i} ORDER BY freq DESC, pair ASC LIMIT 1),
s{i} AS MATERIALIZED (
  SELECT word, n,
         replace(sym, (SELECT pair FROM m{i}),
                 replace((SELECT pair FROM m{i}), chr(30) || ' ' || chr(30), '')) AS sym
  FROM {prev}
)""")
        selects.append(
            f"SELECT {i} AS step,\n"
            f"  replace(string_split((SELECT pair FROM m{i}), ' ')[1], chr(30), '') AS lhs,\n"
            f"  replace(string_split((SELECT pair FROM m{i}), ' ')[2], chr(30), '') AS rhs,\n"
            # CAST: SUM over BIGINT is HUGEINT, which renders differently
            # on the pandas fetch path (the r2 events_sessionize lesson)
            f"  (SELECT CAST(freq AS BIGINT) FROM m{i}) AS freq"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


_SQL_BPE_TRAIN = _sql_bpe_train(8)


def _q_bpe_encode_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """BPE ENCODING under the corpus-trained merges: per-document token
    count and distinct-token count.  Encode is embarrassingly parallel —
    chained native replaces per word (no UDF, plan pinned in
    tests/test_tokenizer.py); the oracle re-derives the trained
    segmentation dictionary in SQL (the same unrolled chain as
    bpe_train_merges) and joins it back to the per-doc word stream."""
    from mopper_spark.textops.tokenizer import bpe_encode, bpe_train, word_counts

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    merges, _ = bpe_train(word_counts(docs), 8)
    enc = bpe_encode(docs, merges)
    return enc.select(
        "doc_id",
        "n_tokens",
        F.size(F.array_distinct("tokens")).alias("n_distinct"),
    )


_SQL_BPE_ENCODE = (
    _sql_bpe_train(8).split("\nSELECT 1 AS step")[0]
    + """,
docwords AS (
  SELECT doc_id, word
  FROM (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS word
        FROM documents)
  WHERE word <> ''
),
toks AS (
  SELECT d.doc_id, unnest(string_split(s.sym, ' ')) AS wrapped
  FROM docwords d JOIN s8 s USING (word)
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(DISTINCT replace(wrapped, chr(30), '')) AS BIGINT) AS n_distinct
FROM toks GROUP BY doc_id
"""
)


def _q_docs_chunking(spark: SparkSession, sf: str) -> DataFrame:
    """RAG retrieval-corpus chunking (textops/analysis.py::
    chunk_documents): 64-token sliding windows with 16-token overlap,
    chunk count by exact integer arithmetic (engine-reproducible layout),
    one narrow pass — split → posexplode(sequence) → slice."""
    from mopper_spark.textops.analysis import chunk_documents

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return chunk_documents(docs, chunk_tokens=64, overlap=16)


_SQL_DOCS_CHUNKING = """
WITH toks AS (
  SELECT doc_id AS id,
         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS tk
  FROM documents
),
base AS (SELECT id, tk, len(tk) AS n FROM toks WHERE len(tk) > 0),
nc AS (
  SELECT id, tk,
         CASE WHEN n <= 64 THEN 1
              ELSE CAST((n - 64 + 47) // 48 AS INTEGER) + 1 END AS c
  FROM base
),
ch AS (SELECT id, tk, unnest(range(c)) AS i FROM nc)
SELECT id,
       CAST(i AS INTEGER) AS chunk_idx,
       CAST(len(tk[i * 48 + 1 : i * 48 + 64]) AS INTEGER) AS n_tokens,
       array_to_string(tk[i * 48 + 1 : i * 48 + 64], ' ') AS chunk
FROM ch
"""


def _q_events_scd2(spark: SparkSession, sf: str) -> DataFrame:
    """SCD type-2 interval collapse (textops/joins.py::scd2_intervals):
    the per-user event stream collapsed into event_type validity runs
    (valid_from / valid_to, NULL = current) — the dimension-table layout
    the as-of join consumes.  Gaps-and-islands with a NULL-safe change
    flag; ts ties ordered by the attribute tuple for determinism.
    Bounds are emitted as epoch µs with -1 for the open interval — the
    same non-nullable-BIGINT sentinel as the as-of oracle (a nullable
    BIGINT turns float64 on the pandas fetch path and hash-diverges;
    pinned by test_oracle_fetch_path_parity)."""
    from mopper_spark.textops.joins import scd2_intervals

    ev = spark.read.parquet(f"{sf}/events.parquet")
    iv = scd2_intervals(ev, ["user_id"], "ts", ["event_type"])
    epoch = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {})"
    return iv.select(
        "user_id",
        "event_type",
        F.expr(epoch.format("valid_from")).alias("valid_from_us"),
        F.coalesce(
            F.expr(epoch.format("valid_to")), F.lit(-1).cast("long")
        ).alias("valid_to_us"),
    )


_SQL_EVENTS_SCD2 = """
WITH ordered AS (
  SELECT user_id, ts, event_type,
         CASE WHEN (lag(event_type) OVER w IS NOT DISTINCT FROM event_type)
                   AND lag(ts) OVER w IS NOT NULL
              THEN 0 ELSE 1 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_type)
),
runs AS (
  SELECT user_id, ts, event_type,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_type
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM ordered
),
iv AS (
  SELECT user_id, run, event_type, MIN(ts) AS valid_from
  FROM runs GROUP BY user_id, run, event_type
)
SELECT user_id, event_type, epoch_us(valid_from) AS valid_from_us,
       COALESCE(epoch_us(lead(valid_from)
                         OVER (PARTITION BY user_id ORDER BY run)), -1)
         AS valid_to_us
FROM iv
"""


def _q_graph_bfs_distances(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-source shortest hop distances (pipeline/graph.py::
    bfs_distances — k-hop neighborhoods over the KG): undirected BFS from
    the doc-id binary tree's root; every node sits at its tree depth.
    Frontier iteration costs the seed's cone, not the graph; oracle =
    bounded recursive-CTE walk with MIN(dist)."""
    from mopper_spark.pipeline.graph import bfs_distances

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    edges = docs.filter(F.col("doc_id") >= 2).select(
        F.col("doc_id").cast("long").alias("src"),
        F.expr("doc_id div 2").cast("long").alias("dst"),
    )
    seeds = spark.createDataFrame([(1,)], "origin long")
    return bfs_distances(edges, seeds, directed=False)


_SQL_GRAPH_BFS = """
WITH RECURSIVE ed AS (
  SELECT doc_id AS s, doc_id // 2 AS d FROM documents WHERE doc_id >= 2
),
sym AS (SELECT s, d FROM ed UNION ALL SELECT d AS s, s AS d FROM ed),
walk(node, dist) AS (
  SELECT CAST(1 AS BIGINT), 0
  UNION
  SELECT s2.d, w.dist + 1 FROM walk w JOIN sym s2 ON s2.s = w.node
  WHERE w.dist < 30
)
SELECT CAST(1 AS BIGINT) AS origin, node, CAST(MIN(dist) AS BIGINT) AS dist
FROM walk WHERE node <> 1 GROUP BY node
"""


def _q_fingerprint_md5(spark: SparkSession, sf: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    norm = F.lower(F.regexp_replace(F.trim("text"), r"\s+", " "))
    return docs.select("doc_id", F.md5(norm.cast("binary")).alias("fp_md5"))


_SQL_FINGERPRINT = """
SELECT doc_id, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp_md5
FROM documents
"""


def _q_contamination_ngram(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark-contamination check (GPT-3 appendix-C style n-gram
    overlap): docs with doc_id % 20 == 0 act as the held-out benchmark,
    the rest are the training candidates; a candidate is contaminated if
    it shares ≥1 distinct word 4-gram with ANY benchmark doc (4 chosen
    because the synthetic vocab makes 13-grams never collide and 3-grams
    almost always — 49/475 docs flag at sf0.01).  The benchmark side
    collapses to its distinct-n-gram set and is broadcast, so the corpus
    side is one narrow pass + broadcast probe — exact, no quadratic
    regime (mopper_spark/textops/contamination.py)."""
    from mopper_spark.textops.contamination import ngram_contamination

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    cand = docs.filter(F.col("doc_id") % 20 != 0)
    return ngram_contamination(cand, bench, n=4)


_SQL_CONTAMINATION = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS tk
  FROM documents
), grams AS (
  SELECT doc_id, CASE WHEN len(tk) >= 4
     THEN list_distinct(list_transform(range(1, len(tk) - 2), i -> array_to_string(tk[i:i+3], ' ')))
     ELSE [array_to_string(tk, ' ')] END AS gs
  FROM toks
), bench AS (
  SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id % 20 = 0
), cand AS (
  SELECT doc_id, unnest(gs) AS g FROM grams WHERE doc_id % 20 <> 0
)
SELECT doc_id,
       CAST(COUNT(g) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN g IN (SELECT g FROM bench) THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
       SUM(CASE WHEN g IN (SELECT g FROM bench) THEN 1 ELSE 0 END) >= 1 AS contaminated
FROM cand GROUP BY doc_id
"""


def _q_docs_length_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Per-(lang, source) EXACT length profile: n, min, max, nearest-rank
    p50/p90 of n_chars.  Exact order statistics, not an approx_percentile
    sketch (sketches aren't engine-reproducible); the window sort is per
    profiling dimension, never corpus-wide
    (mopper_spark/textops/analysis.py::group_quantiles)."""
    from mopper_spark.textops.analysis import group_quantiles

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return group_quantiles(docs, ["lang", "source"], "n_chars", qs=(0.5, 0.9))


_SQL_DOCS_LENGTH_PROFILE = """
WITH ranked AS (
  SELECT lang, source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY n_chars) AS rn,
         COUNT(*) OVER (PARTITION BY lang, source) AS n
  FROM documents
)
SELECT lang, source, CAST(MAX(n) AS BIGINT) AS n,
       MIN(n_chars) AS min_v, MAX(n_chars) AS max_v,
       MAX(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN n_chars END) AS p50,
       MAX(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT) THEN n_chars END) AS p90
FROM ranked GROUP BY lang, source
"""


def _q_repeated_spans(spark: SparkSession, sf: str) -> DataFrame:
    """ExactSubstr-style duplicated-span mining: 5-token windows recurring
    in ≥2 distinct docs (5 because the synthetic vocabulary makes
    50-token exact repeats nonexistent; production window=50 per Lee et
    al. 2022).  One combine-able aggregate keyed by span content — no
    pair join (mopper_spark/textops/dedup.py::repeated_spans)."""
    from mopper_spark.textops.dedup import repeated_spans

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return repeated_spans(docs, window=5, min_docs=2)


_SQL_REPEATED_SPANS = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS tk
  FROM documents
), wins AS (
  SELECT doc_id,
         unnest(range(1, len(tk) - 3)) AS pos,
         unnest(list_transform(range(1, len(tk) - 3), i -> array_to_string(tk[i:i+4], ' '))) AS g
  FROM toks WHERE len(tk) >= 5
), counts AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n_occ,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM wins GROUP BY g
), firsts AS (
  SELECT g, doc_id AS first_doc, CAST(pos AS BIGINT) AS first_pos FROM (
    SELECT g, doc_id, pos,
           ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
    FROM wins) WHERE rn = 1
)
SELECT c.g, c.n_occ, c.n_docs, f.first_doc, f.first_pos
FROM counts c JOIN firsts f USING (g)
WHERE c.n_docs >= 2
"""


def _q_docs_duplicated_ranges(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT ExactSubstr range mining (VERDICT r3 #6): maximal per-doc
    token ranges covered by duplicated 8-token windows (≥2 distinct
    docs), overlap-merged, gap-split — exact boundaries, closing
    ``repeated_spans``'s window-grain blur
    (mopper_spark/textops/dedup.py::duplicated_ranges).  The oracle
    replays the same gram counts + gaps-and-islands in SQL."""
    from mopper_spark.textops.dedup import duplicated_ranges

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return duplicated_ranges(docs, min_len=8, min_docs=2)


_SQL_DOCS_DUPLICATED_RANGES = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS tk
  FROM documents
), wins AS (
  SELECT doc_id,
         unnest(range(1, len(tk) - 6)) AS pos,
         unnest(list_transform(range(1, len(tk) - 6), i -> array_to_string(tk[i:i+7], ' '))) AS g
  FROM toks WHERE len(tk) >= 8
), dup AS (
  SELECT g FROM wins GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2
), dw AS (
  SELECT doc_id, pos FROM wins JOIN dup USING (g)
), marked AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER w IS NULL OR pos - lag(pos) OVER w > 7
              THEN 1 ELSE 0 END AS ni
  FROM dw WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), isl AS (
  SELECT doc_id, pos,
         SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM marked
)
SELECT doc_id,
       CAST(MIN(pos) AS BIGINT) AS start_tok,
       CAST(MAX(pos) + 7 AS BIGINT) AS end_tok,
       CAST(MAX(pos) - MIN(pos) + 8 AS BIGINT) AS span_len,
       CAST(COUNT(*) AS BIGINT) AS n_windows
FROM isl GROUP BY doc_id, island
"""


def _q_ivf_kmeans_step(spark: SparkSession, sf: str) -> DataFrame:
    """IVF coarse-quantizer training: one distributed Lloyd step over the
    embeddings table (K=8 deterministic seeds), ENTIRELY in fixed-point
    integer arithmetic so the cluster sums are associative — the same
    bit-reproducibility trick as mention_pagerank, and what makes a
    single-threaded SQL engine a strict oracle for a k-means step
    (mopper_spark/textops/ivf.py)."""
    from mopper_spark.textops.ivf import kmeans_step, seed_centroids

    vecs = spark.read.parquet(f"{sf}/embeddings.parquet")
    seeds = seed_centroids(vecs, k=8)
    _, new_centroids = kmeans_step(vecs, seeds)
    # the centroid vector is emitted as a comma-joined STRING: a LIST
    # column renders "[1, 2]" via fetchall but "[1 2]" (numpy) via the
    # pandas fetch path the driver gate uses — the exact class of
    # divergence test_oracle_fetch_path_parity exists to catch
    return new_centroids.select(
        "cid",
        "n_members",
        "inertia_fp",
        F.concat_ws(
            ",", F.transform("centroid_fp", lambda x: x.cast("string"))
        ).alias("centroid_fp"),
    )


def _q_ivf_kmeans_train(spark: SparkSession, sf: str) -> DataFrame:
    """IVF coarse-quantizer FULL training (VERDICT r3 #4): iterate the
    fixed-point Lloyd step to the integer-inertia fixpoint with
    deterministic empty-cluster re-seeding (furthest member of the
    largest cluster), per-round lineage cuts
    (mopper_spark/textops/ivf.py::kmeans_train).

    Strict-oracled by ``_sql_kmeans_train(8, 12)``: an unrolled 12-step
    MATERIALIZED-CTE chain of the proven ivf_kmeans_step kernel (the
    round count is data-dependent in general, but at THIS fixture the
    training runs all 12 rounds with no re-seed and no early convergence
    — pinned by the RECALL_PINS entry, so a gate failure here is
    investigated as a fixture/round-shape change first).  Exactness is
    additionally pinned by tests/test_ivf.py::TestKmeansTrain, whose
    single-threaded python replica must match every integer centroid,
    inertia, and history entry bit-for-bit, under any partitioning."""
    from mopper_spark.textops.ivf import kmeans_train

    vecs = spark.read.parquet(f"{sf}/embeddings.parquet")
    _, cents, hist = kmeans_train(vecs, k=8, max_iters=12)
    return cents.select(
        "cid",
        "n_members",
        "inertia_fp",
        F.concat_ws(
            ",", F.transform("centroid_fp", lambda x: x.cast("string"))
        ).alias("centroid_fp"),
        F.lit(len(hist)).cast("long").alias("rounds"),
        F.lit(int(hist[-1]["inertia_fp"])).alias("final_inertia_fp"),
    )


def _sql_kmeans_train(k: int, rounds: int) -> str:
    """Unrolled-CTE DuckDB replay of kmeans_train: ``rounds`` Lloyd steps
    chained (each = the proven ivf_kmeans_step kernel: fixed-point
    distance, ROW_NUMBER argmin with the (dist_fp, cid) tie-break,
    integer per-dimension sums; next-round float centroids are the same
    int/int → double division the engine computes).  All CTEs
    MATERIALIZED — DuckDB's default CTE inlining re-evaluates a 12-level
    chain exponentially (the bpe_train_merges lesson).

    Equality with the engine holds iff the training at this fixture runs
    the full ``rounds`` with NO re-seed and NO early convergence — both
    pinned by the RECALL_PINS entry for ivf_kmeans_train (at a fixpoint
    extra Lloyd steps would be no-ops, but `rounds`/`final_inertia_fp`
    would then diverge, and a re-seed is driver-side logic SQL does not
    replay)."""
    ctes = [
        """v AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
),
c0 AS MATERIALIZED (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, vec AS cvec
  FROM (SELECT * FROM v ORDER BY vec_id LIMIT %d)
)"""
        % k
    ]
    for r in range(1, rounds + 1):
        ctes.append(f"""x{r} AS MATERIALIZED (
  SELECT vec_id, cid, vec,
         CAST(list_sum(list_transform(range(1, len(vec) + 1),
              i -> CAST(round((vec[i] - cvec[i]) * (vec[i] - cvec[i]) * 1e12) AS BIGINT)))
              AS BIGINT) AS dist_fp
  FROM v CROSS JOIN c{r - 1}
),
b{r} AS MATERIALIZED (
  SELECT vec_id, cid, dist_fp, vec FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist_fp, cid) AS rn
    FROM x{r}) WHERE rn = 1
),
nc{r} AS MATERIALIZED (
  SELECT cid, n_members, inertia_fp, slist
  FROM (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(SUM(dist_fp) AS BIGINT) AS inertia_fp
        FROM b{r} GROUP BY cid) agg
  JOIN (SELECT cid, list(s ORDER BY pos) AS slist
        FROM (SELECT cid, pos, CAST(SUM(x_fp) AS BIGINT) AS s
              FROM (SELECT cid, CAST(round(x * 1000000) AS BIGINT) AS x_fp, pos
                    FROM (SELECT cid, unnest(vec) AS x,
                                 unnest(range(1, len(vec) + 1)) AS pos FROM b{r}))
              GROUP BY cid, pos)
        GROUP BY cid) dims USING (cid)
),
c{r} AS MATERIALIZED (
  SELECT cid, list_transform(slist, s -> s / (n_members * 1000000)) AS cvec
  FROM nc{r}
)""")
    last = f"nc{rounds}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT cid, n_members, inertia_fp,
       array_to_string(list_transform(slist, s -> CAST(s AS VARCHAR)), ',')
         AS centroid_fp,
       CAST({rounds} AS BIGINT) AS rounds,
       (SELECT CAST(SUM(inertia_fp) AS BIGINT) FROM {last}) AS final_inertia_fp
FROM {last}
"""
    )


_SQL_IVF_KMEANS_TRAIN = _sql_kmeans_train(8, 12)


def _q_pq_encode_codes(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization ENCODE (textops/pq.py): train M=8 codebooks of
    K=8 entries over the 8-dim subspaces (fixed-point Lloyd, 2 rounds,
    reusing ivf.kmeans_train per subspace) and code every corpus vector —
    the FAISS-style 32× compression step that makes a 100 TB embedding
    corpus scannable from executor memory.  Strict-oracled by an unrolled
    sub-keyed MATERIALIZED-CTE replay of the training + assignment kernel;
    parity requires NO re-seed at this fixture (pinned in
    tests/test_pq.py — early convergence is harmless here because only
    centroids are consumed and a Lloyd fixpoint is stable)."""
    from mopper_spark.textops.pq import pq_encode, pq_train

    vecs = spark.read.parquet(f"{sf}/embeddings.parquet")
    books = pq_train(vecs, m=8, k=8, dim=64, max_iters=2)
    codes = pq_encode(vecs, books, m=8, dim=64)
    return codes.select(
        "vec_id",
        F.concat_ws(
            ",", F.transform("codes", lambda c: c.cast("string"))
        ).alias("codes"),
    )


def _q_pq_adc_topk(spark: SparkSession, sf: str) -> DataFrame:
    """PQ asymmetric-distance top-k (textops/pq.py::pq_adc_topk): the
    query stays un-quantized, its M×K fixed-point distance table vs the
    codebook is broadcast, and each coded corpus vector costs M integer
    lookups summed map-side — the compressed-domain scan of Jégou et al.
    TPAMI'11.  Approximation lives in the DISTANCE (quantized corpus);
    the operator itself is all-integer and strictly SQL-replayable.  At
    100 TB, restrict ``codes`` to IVF-probed candidates first
    (IndexIVFPQ) — composition pinned in tests/test_pq.py with a recall
    floor vs brute force."""
    from mopper_spark.textops.pq import pq_adc_topk, pq_encode, pq_train

    vecs = spark.read.parquet(f"{sf}/embeddings.parquet")
    books = pq_train(vecs, m=8, k=8, dim=64, max_iters=2)
    codes = pq_encode(vecs, books, m=8, dim=64)
    qs = vecs.filter(F.col("vec_id") < 3)
    return pq_adc_topk(codes, qs, books, k_top=5, m=8, dim=64)


def _sql_pq_prefix(m: int, k: int, sd: int, rounds: int) -> str:
    """Shared unrolled-CTE replay of pq_train + pq_encode: the proven
    _sql_kmeans_train kernel generalized with a ``sub`` key so all M
    subspaces train jointly.  Ends at ``be`` = (vec_id, sub, cid)
    assignments under the final codebook ``c{rounds}``."""
    dist = (
        "CAST(list_sum(list_transform(range(1, %d + 1), "
        "i -> CAST(round((%s[i] - %s[i]) * (%s[i] - %s[i]) * 1e12) AS BIGINT)))"
        " AS BIGINT)" % (sd, "%(a)s", "%(b)s", "%(a)s", "%(b)s")
    )
    d_sv_cv = dist % {"a": "s.svec", "b": "c.cvec"}
    ctes = [
        f"""v AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
),
sv AS MATERIALIZED (
  SELECT vec_id, sub,
         list_transform(range(1, {sd} + 1), i -> vec[sub * {sd} + i]) AS svec
  FROM v CROSS JOIN (SELECT CAST(unnest(range(0, {m})) AS INTEGER) AS sub)
),
c0 AS MATERIALIZED (
  SELECT sub,
         CAST(ROW_NUMBER() OVER (PARTITION BY sub ORDER BY vec_id) - 1 AS INTEGER) AS cid,
         svec AS cvec
  FROM sv WHERE vec_id IN (SELECT vec_id FROM v ORDER BY vec_id LIMIT {k})
)"""
    ]
    for r in range(1, rounds + 1):
        ctes.append(f"""x{r} AS MATERIALIZED (
  SELECT s.vec_id, s.sub, c.cid, s.svec, {d_sv_cv} AS dist_fp
  FROM sv s JOIN c{r - 1} c ON s.sub = c.sub
),
b{r} AS MATERIALIZED (
  SELECT vec_id, sub, cid, svec FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist_fp, cid) AS rn
    FROM x{r}) WHERE rn = 1
),
c{r} AS MATERIALIZED (
  SELECT agg.sub, agg.cid,
         list_transform(dims.slist, s -> s / (agg.n_members * 1000000)) AS cvec
  FROM (SELECT sub, cid, CAST(COUNT(*) AS BIGINT) AS n_members
        FROM b{r} GROUP BY 1, 2) agg
  JOIN (SELECT sub, cid, list(s ORDER BY pos) AS slist
        FROM (SELECT sub, cid, pos, CAST(SUM(x_fp) AS BIGINT) AS s
              FROM (SELECT sub, cid, CAST(round(x * 1000000) AS BIGINT) AS x_fp, pos
                    FROM (SELECT sub, cid, unnest(svec) AS x,
                                 unnest(range(1, {sd} + 1)) AS pos FROM b{r}))
              GROUP BY 1, 2, 3)
        GROUP BY 1, 2) dims ON dims.sub = agg.sub AND dims.cid = agg.cid
)""")
    ctes.append(f"""xe AS MATERIALIZED (
  SELECT s.vec_id, s.sub, c.cid, {d_sv_cv} AS dist_fp
  FROM sv s JOIN c{rounds} c ON s.sub = c.sub
),
be AS MATERIALIZED (
  SELECT vec_id, sub, cid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist_fp, cid) AS rn
    FROM xe) WHERE rn = 1
)""")
    return ",\n".join(ctes)


_SQL_PQ_ENCODE = (
    "WITH "
    + _sql_pq_prefix(8, 8, 8, 2)
    + """
SELECT vec_id,
       array_to_string(list_transform(list(cid ORDER BY sub),
                                      c -> CAST(c AS VARCHAR)), ',') AS codes
FROM be GROUP BY vec_id
"""
)

_SQL_PQ_ADC_TOPK = (
    "WITH "
    + _sql_pq_prefix(8, 8, 8, 2)
    + """,
q AS MATERIALIZED (
  SELECT vec_id AS query_id, sub, svec FROM sv WHERE vec_id < 3
),
dtab AS MATERIALIZED (
  SELECT s.query_id, s.sub, c.cid AS code,
         CAST(list_sum(list_transform(range(1, 8 + 1),
              i -> CAST(round((s.svec[i] - c.cvec[i]) * (s.svec[i] - c.cvec[i]) * 1e12) AS BIGINT)))
              AS BIGINT) AS d_fp
  FROM q s JOIN c2 c ON s.sub = c.sub
),
cand AS MATERIALIZED (
  SELECT d.query_id, e.vec_id, CAST(SUM(d.d_fp) AS BIGINT) AS adc_fp
  FROM be e JOIN dtab d ON d.sub = e.sub AND d.code = e.cid
  WHERE e.vec_id <> d.query_id GROUP BY 1, 2
)
SELECT query_id, vec_id, adc_fp, CAST(rn AS BIGINT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_fp, vec_id) AS rn
      FROM cand)
WHERE rn <= 5
"""
)


_SQL_IVF_KMEANS = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
), seeds AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, vec AS cvec
  FROM (SELECT * FROM v ORDER BY vec_id LIMIT 8)
), crossd AS (
  SELECT vec_id, cid, vec,
         CAST(list_sum(list_transform(range(1, len(vec) + 1),
              i -> CAST(round((vec[i] - cvec[i]) * (vec[i] - cvec[i]) * 1e12) AS BIGINT)))
              AS BIGINT) AS dist_fp
  FROM v CROSS JOIN seeds
), best AS (
  SELECT vec_id, cid, dist_fp, vec FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist_fp, cid) AS rn
    FROM crossd) WHERE rn = 1
), dims AS (
  SELECT cid, pos, CAST(round(x * 1000000) AS BIGINT) AS x_fp
  FROM (SELECT cid, unnest(vec) AS x, unnest(range(1, len(vec) + 1)) AS pos FROM best)
), cents AS (
  SELECT cid, array_to_string(list(s ORDER BY pos), ',') AS centroid_fp
  FROM (SELECT cid, pos, CAST(SUM(x_fp) AS BIGINT) AS s FROM dims GROUP BY 1, 2)
  GROUP BY cid
)
SELECT b.cid, CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(b.dist_fp) AS BIGINT) AS inertia_fp,
       ANY_VALUE(c.centroid_fp) AS centroid_fp
FROM best b JOIN cents c USING (cid) GROUP BY b.cid
"""


def _q_similarity_topk_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """IVF approximate top-k search (FAISS IndexIVFFlat shape): K=8
    fixed-point-seeded clusters, nprobe=3, exact cosine over probed
    clusters only.  The oracle replicates the OPERATOR (routing is
    all-integer, so strictly SQL-expressible); recall vs brute force is a
    measured property (~0.8 on this clusterless fixture, pinned in
    tests/test_ivf.py — production corpora with real cluster structure
    sit far higher), NOT assumed equality — unlike similarity_topk_lsh,
    whose gate config provably covers the exact top-5."""
    from mopper_spark.textops.ivf import ivf_topk, seed_centroids

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    cents = seed_centroids(emb, k=8)
    return ivf_topk(emb, emb.filter("vec_id < 5"), cents, k=5, nprobe=3)


_SQL_SIMILARITY_TOPK_IVF = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
), seeds AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, vec AS cvec
  FROM (SELECT * FROM v ORDER BY vec_id LIMIT 8)
), dists AS (
  SELECT vec_id, cid, vec,
         CAST(list_sum(list_transform(range(1, len(vec) + 1),
              i -> CAST(round((vec[i] - cvec[i]) * (vec[i] - cvec[i]) * 1e12) AS BIGINT)))
              AS BIGINT) AS dist_fp
  FROM v CROSS JOIN seeds
), corpus_assign AS (
  SELECT vec_id, cid, vec FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist_fp, cid) AS rn
    FROM dists) WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, cid, vec AS qvec FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist_fp, cid) AS rn
    FROM dists WHERE vec_id < 5) WHERE rn <= 3
), scored AS (
  SELECT p.query_id, c.vec_id,
         list_cosine_similarity(p.qvec, c.vec) AS cos
  FROM probes p JOIN corpus_assign c USING (cid)
  WHERE c.vec_id <> p.query_id
), r AS (
  SELECT query_id, vec_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, ROUND(cos, 5) AS cosine, rank FROM r WHERE rank <= 5
"""


def _q_transcript_turn_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style boilerplate removal over the transcript corpus: turns
    with identical normalized text (repeated system prompts, canned
    replies) collapse to their first occurrence in (conv_id, turn_idx)
    order.  Window-free: a combine-able min(struct)+count aggregate per
    md5(text) key joined back — boilerplate hot keys are absorbed
    map-side instead of sorted in one reducer
    (mopper_spark/textops/dedup.py::keep_first_occurrence)."""
    from mopper_spark.textops.dedup import keep_first_occurrence

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    return keep_first_occurrence(tr).select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        "n_copies",
        "keep",
    )


_SQL_TURN_DEDUP = f"""
WITH t AS (
  SELECT conv_id, turn_idx,
         md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS k
  FROM read_parquet('{_TRANSCRIPTS_FIXTURE}')
)
SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx,
       CAST(COUNT(*) OVER (PARTITION BY k) AS BIGINT) AS n_copies,
       ROW_NUMBER() OVER (PARTITION BY k ORDER BY conv_id, turn_idx) = 1 AS keep
FROM t
"""


def _q_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """Concat-and-chunk training-sequence packing layout (seq_len=64):
    global token offsets via a deterministic two-phase distributed prefix
    sum (fixed id-range buckets, never sampled range partitioning), pure
    integer arithmetic end to end
    (mopper_spark/textops/packing.py::pack_sequences)."""
    from mopper_spark.textops.packing import pack_sequences

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return pack_sequences(docs, seq_len=64, bucket_size=128)


_SQL_PACK_SEQUENCES = """
WITH toks AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
), o AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
  FROM toks
)
SELECT doc_id, n_tokens, start_tok,
       CASE WHEN n_tokens > 0 THEN CAST(start_tok // 64 AS BIGINT) END AS seq_first,
       CASE WHEN n_tokens > 0 THEN CAST((start_tok + n_tokens - 1) // 64 AS BIGINT) END AS seq_last
FROM o
"""


def _q_vocab_oov_rate(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer-coverage profile: corpus top-20 vocabulary (deterministic
    count-then-token tie-break, TakeOrdered not a global sort) broadcast
    back for per-doc OOV counts/fraction
    (mopper_spark/textops/analysis.py::vocab_oov; top_k=20 because the
    synthetic vocabulary is ~50 words — production uses 10⁵-10⁶)."""
    from mopper_spark.textops.analysis import vocab_oov

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return vocab_oov(docs, top_k=20)


_SQL_VOCAB_OOV = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS tk
  FROM documents
), ex AS (
  SELECT doc_id, unnest(tk) AS tok FROM toks
), counts AS (
  SELECT tok, COUNT(*) AS cnt FROM ex GROUP BY tok
), vocab AS (
  SELECT tok FROM (
    SELECT tok, ROW_NUMBER() OVER (ORDER BY cnt DESC, tok ASC) AS rn FROM counts)
  WHERE rn <= 20
), per AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(CASE WHEN tok IN (SELECT tok FROM vocab) THEN 0 ELSE 1 END) AS BIGINT) AS n_oov
  FROM ex GROUP BY doc_id
)
SELECT t.doc_id,
       COALESCE(p.n_tokens, 0) AS n_tokens,
       COALESCE(p.n_oov, 0) AS n_oov,
       ROUND(CASE WHEN COALESCE(p.n_tokens, 0) > 0
             THEN p.n_oov * 1.0 / p.n_tokens ELSE 0 END, 5) AS oov_frac
FROM toks t LEFT JOIN per p USING (doc_id)
"""


def _q_docs_unigram_xent(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style quality ranking: per-document cross-entropy under the
    corpus's own unigram LM (mopper_spark/textops/analysis.py::
    unigram_xent).  Fixed-point ``floor(ln(c)*1e6)`` per DISTINCT token
    count keeps every multi-row sum in exact integers; the final xent is
    one double expression over those integers, so both engines agree
    bit-for-bit.  Two word-count-shaped shuffles, vocabulary broadcast."""
    from mopper_spark.textops.analysis import unigram_xent

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return unigram_xent(docs)


_SQL_UNIGRAM_XENT = """
WITH ex AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                            x -> x <> '')) AS tok
  FROM documents
), vocab AS (
  SELECT tok, COUNT(*) AS cnt,
         CAST(floor(ln(COUNT(*)) * 1000000.0) AS BIGINT) AS lnc_fp
  FROM ex GROUP BY tok
), total AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM vocab
), per AS (
  SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(v.lnc_fp) AS BIGINT) AS sum_lnc_fp
  FROM ex e JOIN vocab v USING (tok)
  GROUP BY e.doc_id
)
SELECT doc_id, n_tokens, sum_lnc_fp,
       ln(CAST(n_total AS DOUBLE)) - sum_lnc_fp / (1000000.0 * n_tokens) AS xent
FROM per, total
"""


def _q_docs_hll_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """HyperLogLog distinct-count of the corpus's 4-gram shingle domain
    (mopper_spark/textops/sketches.py::hll_distinct) — the "how big is
    the shingle universe" sizing question that precedes dedup-index
    planning.  4096 exact-integer registers from md5 bits (map-side
    combine, shuffle carries ≤ m rows/partition vs countDistinct's full
    domain); the harmonic denominator sums exact BIGINTs (2^(50-rho)) so
    the one-row result is engine-exact, including the double estimate.
    ``n_exact`` is the fixture-scale verification leg."""
    from mopper_spark.textops.dedup import _lower_tokens, word_ngram_array
    from mopper_spark.textops.sketches import hll_distinct

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    grams = docs.select(_lower_tokens("text").alias("toks")).select(
        F.explode(word_ngram_array("toks", 4)).alias("g")
    )
    return hll_distinct(grams, "g")


_SQL_HLL_DISTINCT = """
WITH toks AS (
  SELECT list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS tk
  FROM documents
), grams AS (
  SELECT unnest(CASE WHEN len(tk) >= 4
     THEN list_transform(range(1, len(tk) - 2), i -> array_to_string(tk[i:i+3], ' '))
     ELSE [array_to_string(tk, ' ')] END) AS g
  FROM toks
), r AS (
  SELECT ('0x' || substr(md5(g), 1, 3))::BIGINT AS bucket,
         ('0x' || substr(md5(g), 4, 12))::BIGINT AS w
  FROM grams WHERE g IS NOT NULL
), regs AS (
  SELECT bucket,
         MAX(CASE WHEN w = 0 THEN 49 ELSE 49 - length(bin(w)) END) AS mj
  FROM r GROUP BY bucket
), summary AS (
  SELECT COUNT(*) AS n_present,
         CAST(SUM((1::BIGINT) << (50 - mj)) AS BIGINT) AS s_present
  FROM regs
), ex AS (
  SELECT CAST(COUNT(DISTINCT g) AS BIGINT) AS n_exact FROM grams
), base AS (
  SELECT CAST(4096 AS BIGINT) AS m,
         CAST(4096 - n_present AS BIGINT) AS v_zero,
         CAST(s_present + (4096 - n_present) * 1125899906842624 AS BIGINT) AS s_fp,
         n_exact
  FROM summary, ex
), est AS (
  SELECT *,
         CASE WHEN (0.7213 / (1.0 + 1.079 / 4096.0)) * 4096.0 * 4096.0
                   * 1125899906842624.0 / s_fp <= 2.5 * 4096.0
               AND v_zero > 0
              THEN 4096.0 * ln(4096.0 / CAST(v_zero AS DOUBLE))
              ELSE (0.7213 / (1.0 + 1.079 / 4096.0)) * 4096.0 * 4096.0
                   * 1125899906842624.0 / s_fp
         END AS estimate
  FROM base
)
SELECT m, v_zero, s_fp, n_exact, estimate,
       (estimate - n_exact) / CAST(n_exact AS DOUBLE) AS rel_err
FROM est
"""


def _q_docs_winnowing(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing/MOSS fingerprints (Schleimer et al. SIGMOD'03;
    mopper_spark/textops/dedup.py::winnowing_fingerprints, k=3 w=4):
    rightmost-min-per-window 48-bit gram hashes — position-aware overlap
    location at ~2/(w+1) the gram density.  One higher-order expression
    per document, no shuffle before the output projection."""
    from mopper_spark.textops.dedup import winnowing_fingerprints

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return winnowing_fingerprints(docs, k=3, window=4)


_SQL_DOCS_WINNOWING = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS tk
  FROM documents
), grams AS (
  SELECT doc_id, CASE WHEN len(tk) >= 3
     THEN list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' '))
     ELSE [array_to_string(tk, ' ')] END AS gs
  FROM toks
), hashes AS (
  SELECT doc_id,
         list_transform(gs, g -> ('0x' || substr(md5(g), 1, 12))::BIGINT) AS hs
  FROM grams
), fps AS (
  SELECT doc_id,
         unnest(list_transform(
           range(0, greatest(len(hs) - 4, 0) + 1),
           i -> struct_pack(
             pos := i + len(hs[i+1:i+4]) -
                    list_position(list_reverse(hs[i+1:i+4]), list_min(hs[i+1:i+4])),
             h48 := list_min(hs[i+1:i+4])))) AS f
  FROM hashes WHERE len(hs) > 0
)
SELECT DISTINCT doc_id, CAST(f.pos AS BIGINT) AS pos, f.h48 AS h48
FROM fps
"""


def _q_stream_hll_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming distinct-count sketch: the corpus 4-gram stream arrives
    as a 4-micro-batch file stream; each batch's HLL registers fold into
    versioned parquet state by per-bucket max
    (mopper_spark/streaming.py::hll_distinct_stream).  Register merge is
    associative+commutative, so the drained stream's summary is
    byte-identical to the batch sketch — the oracle IS the batch HLL SQL
    (minus the exact-verification leg)."""
    from mopper_spark.streaming import hll_distinct_stream, read_hll_registers
    from mopper_spark.textops.dedup import _lower_tokens, word_ngram_array
    from mopper_spark.textops.sketches import hll_summary

    root = _scratch_root("stream_hll")
    src, state, ck = (os.path.join(root, d) for d in ("src", "state", "ck"))
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    docs.select(_lower_tokens("text").alias("toks")).select(
        F.explode(word_ngram_array("toks", 4)).alias("g")
    ).repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema("g string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = hll_distinct_stream(stream, state, ck)
    q.awaitTermination(300)
    return hll_summary(read_hll_registers(spark, state))


_SQL_STREAM_HLL = """
WITH toks AS (
  SELECT list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS tk
  FROM documents
), grams AS (
  SELECT unnest(CASE WHEN len(tk) >= 4
     THEN list_transform(range(1, len(tk) - 2), i -> array_to_string(tk[i:i+3], ' '))
     ELSE [array_to_string(tk, ' ')] END) AS g
  FROM toks
), r AS (
  SELECT ('0x' || substr(md5(g), 1, 3))::BIGINT AS bucket,
         ('0x' || substr(md5(g), 4, 12))::BIGINT AS w
  FROM grams WHERE g IS NOT NULL
), regs AS (
  SELECT bucket,
         MAX(CASE WHEN w = 0 THEN 49 ELSE 49 - length(bin(w)) END) AS mj
  FROM r GROUP BY bucket
), summary AS (
  SELECT COUNT(*) AS n_present,
         CAST(SUM((1::BIGINT) << (50 - mj)) AS BIGINT) AS s_present
  FROM regs
), base AS (
  SELECT CAST(4096 AS BIGINT) AS m,
         CAST(4096 - n_present AS BIGINT) AS v_zero,
         CAST(s_present + (4096 - n_present) * 1125899906842624 AS BIGINT) AS s_fp
  FROM summary
)
SELECT m, v_zero, s_fp,
       CASE WHEN (0.7213 / (1.0 + 1.079 / 4096.0)) * 4096.0 * 4096.0
                 * 1125899906842624.0 / s_fp <= 2.5 * 4096.0
             AND v_zero > 0
            THEN 4096.0 * ln(4096.0 / CAST(v_zero AS DOUBLE))
            ELSE (0.7213 / (1.0 + 1.079 / 4096.0)) * 4096.0 * 4096.0
                 * 1125899906842624.0 / s_fp
       END AS estimate
FROM base
"""


def _q_docs_textrank(spark: SparkSession, sf: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau EMNLP'04;
    mopper_spark/textops/ranking.py::textrank_keywords): exact-integer
    PageRank over the corpus token-adjacency graph, top-20 by
    (pr_scaled DESC, token ASC) via TakeOrdered.  The oracle unrolls the
    same 3 integer rounds over the same edge set."""
    from mopper_spark.textops.ranking import textrank_keywords

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return textrank_keywords(docs, iters=3, top_k=20)


def _sql_docs_textrank(iters: int, top_k: int) -> str:
    scale, base = 10**9, (15 * 10**9) // 100
    rounds = []
    prev = "r0"
    for i in range(1, iters + 1):
        rounds.append(
            f"""s{i} AS MATERIALIZED (SELECT d.dst AS node, SUM(r.pr // r.out_deg) AS s
      FROM dirx d JOIN {prev} r ON d.src = r.node GROUP BY d.dst),
r{i} AS MATERIALIZED (SELECT r.node, r.out_deg,
               CAST({base} + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS pr
        FROM {prev} r LEFT JOIN s{i} s ON s.node = r.node)"""
        )
        prev = f"r{i}"
    return rf"""
WITH toks AS MATERIALIZED (
  SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS tk
  FROM documents
), ed AS MATERIALIZED (
  SELECT DISTINCT least(p.a, p.b) AS u, greatest(p.a, p.b) AS v
  FROM (SELECT unnest(list_transform(range(1, len(tk)),
            i -> struct_pack(a := tk[i], b := tk[i+1]))) AS p
        FROM toks WHERE len(tk) >= 2)
  WHERE p.a <> p.b
), dirx AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM ed UNION ALL SELECT v AS src, u AS dst FROM ed
), r0 AS MATERIALIZED (
  SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS out_deg,
         CAST({scale} AS BIGINT) AS pr
  FROM dirx GROUP BY src
),
{",".join(rounds)}
SELECT node, pr AS pr_scaled FROM {prev}
ORDER BY pr_scaled DESC, node ASC LIMIT {top_k}
"""


_SQL_DOCS_TEXTRANK = _sql_docs_textrank(3, 20)


def _q_docs_bigram_xent(spark: SparkSession, sf: str) -> DataFrame:
    """Held-out bigram-LM cross-entropy with Stupid Backoff (Brants et
    al. EMNLP'07; textops/ranking.py::bigram_backoff_xent): docs with
    doc_id % 5 == 0 scored under the LM of the other 80% — unseen
    bigrams take the smoothed backoff leg, so BOTH branches are
    gate-exercised.  One fp ln per distinct train bigram / scored token,
    integer sums, one final division."""
    from mopper_spark.textops.ranking import bigram_backoff_xent

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return bigram_backoff_xent(
        docs.filter(F.col("doc_id") % 5 != 0),
        docs.filter(F.col("doc_id") % 5 == 0),
    )


_SQL_BIGRAM_XENT = r"""
WITH tr AS (
  SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS tk
  FROM documents WHERE doc_id % 5 <> 0
), trb AS (
  SELECT unnest(list_transform(range(1, len(tk)),
           i -> struct_pack(u := tk[i], v := tk[i+1]))) AS p
  FROM tr WHERE len(tk) >= 2
), big AS (
  SELECT p.u AS u, p.v AS v, CAST(COUNT(*) AS BIGINT) AS c_uv
  FROM trb GROUP BY p.u, p.v
), pre AS (
  SELECT u, CAST(SUM(c_uv) AS BIGINT) AS c_u FROM big GROUP BY u
), uni AS (
  SELECT tok AS v, CAST(COUNT(*) AS BIGINT) AS c_v
  FROM (SELECT unnest(tk) AS tok FROM tr) GROUP BY tok
), tot AS (
  SELECT CAST(SUM(c_v) AS BIGINT) AS n_total,
         CAST(COUNT(*) AS BIGINT) AS n_vocab
  FROM uni
), lp_big AS (
  SELECT b.u, b.v,
         CAST(floor(ln(CAST(b.c_uv AS DOUBLE) / CAST(p.c_u AS DOUBLE))
                    * 1000000.0) AS BIGINT) AS lp_fp
  FROM big b JOIN pre p USING (u)
), lp_back AS (
  SELECT v, CAST(floor(ln(0.4 * CAST(c_v + 1 AS DOUBLE)
                          / CAST(n_total + n_vocab AS DOUBLE))
                       * 1000000.0) AS BIGINT) AS lb_fp
  FROM uni, tot
), lb_oov AS (
  SELECT CAST(floor(ln(0.4 / CAST(n_total + n_vocab AS DOUBLE)) * 1000000.0)
              AS BIGINT) AS lb_oov_fp
  FROM tot
), sc AS (
  SELECT doc_id, p.u AS u, p.v AS v FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(tk)),
             i -> struct_pack(u := tk[i], v := tk[i+1]))) AS p
    FROM (SELECT doc_id,
                 list_filter(string_split_regex(lower(trim(text)), '\s+'),
                             x -> x <> '') AS tk
          FROM documents WHERE doc_id % 5 = 0)
    WHERE len(tk) >= 2)
), joined AS (
  SELECT sc.doc_id,
         COALESCE(lp_big.lp_fp, lp_back.lb_fp, lb_oov.lb_oov_fp) AS fp
  FROM sc
  LEFT JOIN lp_big ON sc.u = lp_big.u AND sc.v = lp_big.v
  LEFT JOIN lp_back ON sc.v = lp_back.v
  , lb_oov
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(fp) AS BIGINT) AS sum_lp_fp,
       -CAST(SUM(fp) AS BIGINT) / (1000000.0 * COUNT(*)) AS xent
FROM joined GROUP BY doc_id
"""


def _q_docs_tfidf_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """TF-IDF cosine near-dup pairs (textops/ranking.py::
    tfidf_cosine_pairs, threshold 0.8): Salton VSM — frequency-sensitive
    where Jaccard is set-based.  Fixed-point idf, exact integer
    dots/norms, prefix-filtered inverted-index join.

    Runs over TRIGRAM-SHINGLED text (r4 VERDICT #7): the raw synthetic
    ~50-token vocabulary makes the unigram VSM DENSE — 3.6% of all doc
    pairs genuinely exceed cosine 0.8 (the answer is quadratic by its
    own size, 120+ s at sf0.1, and Bayardo prefix filtering cannot prune
    a corpus where every doc shares every token).  Shingling to word
    trigrams is the standard near-dup move on template-heavy text: the
    reachable vocabulary explodes (~27k trigrams on this fixture), df
    collapses, and the prefix filter is effective again — 256 pairs,
    measured <10 s warm at sf0.1.  On real text the unigram path works
    as shipped; the shingled variant IS the dense-template discipline."""
    from mopper_spark.textops.ranking import tfidf_cosine_pairs

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda x: x != ""
    )
    tri = docs.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.when(
                F.size(toks) >= 3,
                F.transform(
                    F.sequence(F.lit(0), F.size(toks) - 3),
                    lambda i: F.concat_ws(
                        "_",
                        F.element_at(toks, i + 1),
                        F.element_at(toks, i + 2),
                        F.element_at(toks, i + 3),
                    ),
                ),
            ).otherwise(F.array().cast("array<string>")),
        ).alias("text"),
    )
    # localCheckpoint: CollapseProject re-substitutes the split+filter
    # token expression into every element_at reference (3 per trigram ×
    # ~52 trigrams per doc), re-tokenizing each doc ~156× — the barrier
    # materializes the shingled text once (measured 24.6 s → ~7 s at
    # sf0.1).
    return tfidf_cosine_pairs(tri.localCheckpoint(eager=False), threshold=0.8)


_SQL_TFIDF_PAIRS = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS tk
  FROM documents
), tf AS (
  SELECT doc_id AS id, tok, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(tk) - 2, 0) + 1),
                      i -> tk[i] || '_' || tk[i+1] || '_' || tk[i+2])) AS tok
        FROM base)
  GROUP BY doc_id, tok
), nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM documents),
dfreq AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok
), w AS (
  SELECT id, tok,
         tf * CAST(floor(ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE)) * 1000.0)
                   AS BIGINT) AS w
  FROM tf JOIN dfreq USING (tok), nd
  WHERE df <= 4096
), wp AS (SELECT * FROM w WHERE w > 0),
norms AS (
  SELECT id, CAST(SUM(w * w) AS BIGINT) AS nrm FROM wp GROUP BY id
), dots AS (
  SELECT a.id AS id_a, b.id AS id_b, CAST(SUM(a.w * b.w) AS BIGINT) AS dot_fp
  FROM wp a JOIN wp b ON a.tok = b.tok AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b, dot_fp, x.nrm AS norm_a_fp, y.nrm AS norm_b_fp,
       dot_fp / (sqrt(CAST(x.nrm AS DOUBLE)) * sqrt(CAST(y.nrm AS DOUBLE))) AS cos
FROM dots JOIN norms x ON dots.id_a = x.id JOIN norms y ON dots.id_b = y.id
WHERE dot_fp / (sqrt(CAST(x.nrm AS DOUBLE)) * sqrt(CAST(y.nrm AS DOUBLE))) >= 0.8
"""


def _q_docs_cdc_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Content-defined chunking (LBFS/FastCDC boundary rule at word
    granularity; mopper_spark/textops/dedup.py::cdc_chunks, divisor=8):
    boundaries are a local-content hash condition, so shared passages
    chunk identically regardless of surrounding edits — the
    shift-resistant dedup unit fixed-size chunking can't give.  Output
    includes the corpus-wide identical-chunk count."""
    from mopper_spark.textops.dedup import cdc_chunks

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return cdc_chunks(docs, divisor=8)


_SQL_CDC_CHUNKS = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS tk
  FROM documents
), flat AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(tk) + 1), i -> struct_pack(
           pos := i - 1,
           tok := tk[i],
           b := CASE WHEN i = 1 THEN 0
                WHEN ('0x' || substr(md5(tk[i-1] || ' ' || tk[i]), 1, 12))::BIGINT % 8 = 0
                THEN 1 ELSE 0 END))) AS u
  FROM toks WHERE len(tk) > 0
), pos AS (
  SELECT doc_id, u.pos AS pos, u.tok AS tok,
         SUM(u.b) OVER (PARTITION BY doc_id ORDER BY u.pos) AS chunk_idx
  FROM flat
), chunks AS (
  SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
  FROM pos GROUP BY doc_id, chunk_idx
)
SELECT doc_id, chunk_idx, n_tokens, chunk_hash,
       CAST(COUNT(*) OVER (PARTITION BY chunk_hash) AS BIGINT) AS n_copies
FROM chunks
"""


def _q_docs_importance_resample(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR data selection (Xie et al. NeurIPS 2023): Gumbel-top-50
    resample of the raw pool (source != 'src0') toward the 'src0' target
    domain over 1024 hashed-unigram buckets
    (mopper_spark/textops/dsir.py::importance_resample).  Fixed-point
    per-bucket log-ratios and md5-rational Gumbel keys keep the output
    all-BIGINT; two word-count shuffles + broadcast log-ratio table +
    TakeOrdered — never a global sort."""
    from mopper_spark.textops.dsir import importance_resample

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return importance_resample(docs, target_source="src0", k=50)


_SQL_IMPORTANCE_RESAMPLE = """
WITH ex AS (
  SELECT doc_id, source,
         unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                            x -> x <> '')) AS tok
  FROM documents
), b AS (
  SELECT doc_id, source,
         (('0x' || substr(md5(tok), 1, 3))::BIGINT) % 1024 AS bucket
  FROM ex
), counts AS (
  SELECT bucket,
         CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS c_t,
         CAST(SUM(CASE WHEN source = 'src0' THEN 0 ELSE 1 END) AS BIGINT) AS c_r
  FROM b GROUP BY bucket
), totals AS (
  SELECT CAST(SUM(c_t) AS BIGINT) AS n_t, CAST(SUM(c_r) AS BIGINT) AS n_r
  FROM counts
), lw AS (
  SELECT bucket,
         CAST(floor((ln(c_t + 1) - ln(c_r + 1)) * 1000000.0) AS BIGINT) AS lw_fp
  FROM counts
), cst AS (
  SELECT CAST(floor((ln(CAST(n_r + 1024 AS DOUBLE))
                     - ln(CAST(n_t + 1024 AS DOUBLE))) * 1000000.0) AS BIGINT)
         AS const_fp
  FROM totals
), per AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(lw_fp) AS BIGINT) AS s_fp
  FROM b JOIN lw USING (bucket)
  WHERE source <> 'src0'
  GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       s_fp + n_tokens * const_fp AS w_fp,
       s_fp + n_tokens * const_fp
         + CAST(floor(-ln(-ln(
             (('0x' || substr(md5('dsir-v1' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT + 1)
             / 281474976710656.0)) * 1000000.0) AS BIGINT) AS key_fp
FROM per, cst
ORDER BY key_fp DESC, doc_id
LIMIT 50
"""


def _q_docs_filter_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """Composed Gopher/C4 quality filter with per-rule audit flags
    (mopper_spark/textops/analysis.py::filter_pipeline): length band,
    mean-word-length band, distinct-token ratio, symbol ratio, stopword
    presence, and their conjunction — every threshold cross-multiplied in
    exact integers, one narrow no-shuffle pass."""
    from mopper_spark.textops.analysis import filter_pipeline

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return filter_pipeline(docs)


_SQL_FILTER_PIPELINE = r"""
WITH t AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS tk
  FROM documents
), m AS (
  SELECT doc_id,
         CAST(len(tk) AS BIGINT) AS n_tok,
         CAST(COALESCE(list_sum(list_transform(tk, x -> length(x))), 0) AS BIGINT) AS n_chars_words,
         CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct,
         CAST(length(text) AS BIGINT) AS n_all,
         CAST(length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS BIGINT) AS n_sym,
         CAST(len(list_filter(tk, x -> list_contains(
           ['the','and','of','to','a','in','is','that','it','for',
            'this','with','as','on','be','are'], x))) AS BIGINT) AS sw_hits
  FROM t
)
SELECT doc_id, n_tok AS n_tokens,
       (n_tok >= 5 AND n_tok <= 10000) AS r_len,
       (n_tok > 0 AND 2 * n_tok <= n_chars_words
        AND n_chars_words <= 12 * n_tok) AS r_mean_word,
       (n_distinct * 10 >= n_tok * 3) AS r_distinct,
       (n_sym * 5 <= n_all) AS r_symbol,
       (sw_hits >= 1) AS r_stopword,
       ((n_tok >= 5 AND n_tok <= 10000)
        AND (n_tok > 0 AND 2 * n_tok <= n_chars_words
             AND n_chars_words <= 12 * n_tok)
        AND (n_distinct * 10 >= n_tok * 3)
        AND (n_sym * 5 <= n_all)
        AND (sw_hits >= 1)) AS keep
FROM m
"""


def _q_docs_source_divergence(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source KL(p_source || p_corpus) over unigram distributions —
    the mixture-drift audit (mopper_spark/textops/analysis.py::
    source_divergence).  One ln per (source, token) over a ratio of
    exact integer products, fixed-point-quantized; per-source sums exact
    integers; word-shaped shuffles only."""
    from mopper_spark.textops.analysis import source_divergence

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return source_divergence(docs)


_SQL_SOURCE_DIVERGENCE = r"""
WITH ex AS (
  SELECT source,
         unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                            x -> x <> '')) AS tok
  FROM documents
), st AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c_st
  FROM ex GROUP BY source, tok
), marg AS (
  SELECT tok, CAST(SUM(c_st) AS BIGINT) AS c_t FROM st GROUP BY tok
), ns AS (
  SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_s FROM st GROUP BY source
), n AS (
  SELECT CAST(SUM(c_t) AS BIGINT) AS n_total FROM marg
), terms AS (
  SELECT st.source, st.c_st, ns.n_s,
         CAST(floor(ln(CAST(st.c_st * n.n_total AS DOUBLE)
                       / CAST(ns.n_s * marg.c_t AS DOUBLE)) * 1000000.0)
              AS BIGINT) AS t_fp
  FROM st JOIN marg USING (tok) JOIN ns USING (source), n
)
SELECT source,
       MAX(n_s) AS n_tokens,
       CAST(SUM(c_st * t_fp) AS BIGINT) AS kl_fp,
       CAST(SUM(c_st * t_fp) AS BIGINT) / (1000000.0 * MAX(n_s)) AS kl
FROM terms GROUP BY source
"""


def _q_embeddings_label_cosines(spark: SparkSession, sf: str) -> DataFrame:
    """Class-separation audit (textops/similarity.py::
    label_centroid_cosines): cosine between per-label embedding SUM
    vectors, every multi-row reduction in 2^20 fixed-point integers —
    posexplode to 64·|labels| reduce keys, |labels|² output."""
    from mopper_spark.textops.similarity import label_centroid_cosines

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    return label_centroid_cosines(emb)


_SQL_EMB_LABEL_COSINES = """
WITH per_dim AS (
  SELECT label, dim,
         CAST(SUM(CAST(round(CAST(c AS DOUBLE) * 1048576.0) AS BIGINT)) AS BIGINT) AS s
  FROM (SELECT label, unnest(embedding) AS c,
               generate_subscripts(embedding, 1) - 1 AS dim
        FROM embeddings)
  GROUP BY label, dim
), dots AS (
  SELECT a.label AS l1, b.label AS l2, CAST(SUM(a.s * b.s) AS BIGINT) AS dot
  FROM per_dim a JOIN per_dim b ON a.dim = b.dim AND a.label <= b.label
  GROUP BY a.label, b.label
), norms AS (
  SELECT l1 AS label, dot AS nrm FROM dots WHERE l1 = l2
)
SELECT d.l1, d.l2, d.dot AS dot_fp, x.nrm AS norm1_fp, y.nrm AS norm2_fp,
       d.dot / (sqrt(CAST(x.nrm AS DOUBLE)) * sqrt(CAST(y.nrm AS DOUBLE))) AS cos
FROM dots d JOIN norms x ON d.l1 = x.label JOIN norms y ON d.l2 = y.label
WHERE d.l1 < d.l2
"""


def _q_docs_langid_confusion(spark: SparkSession, sf: str) -> DataFrame:
    """Language-ID eval: confusion matrix of the stopword-profile
    classifier (textops/analysis.py::lang_id) against the corpus's gold
    ``lang`` column, with per-cell recall share — the classifier-audit
    table every lang-filter pipeline needs before trusting the filter.
    One narrow pass + a |langs|² aggregate; recall is one double
    division over exact counts."""
    from mopper_spark.textops.analysis import lang_id

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    cm = (
        docs.select(F.col("lang").alias("gold"), lang_id(F.col("text")).alias("pred"))
        .groupBy("gold", "pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    totals = cm.groupBy("gold").agg(F.sum("n").cast("long").alias("n_gold"))
    return cm.join(F.broadcast(totals), "gold").select(
        "gold", "pred", "n", "n_gold",
        (F.col("n") / F.col("n_gold").cast("double")).alias("share"),
    )


_SQL_LANGID_CONFUSION = None  # assigned below (needs the lang profile SQL)


def _langid_confusion_oracle_sql() -> str:
    """DuckDB replay of lang_id: per-language stopword hit counts over
    whitespace tokens, argmax with the array_max struct tie-break
    (score DESC then lang DESC — Spark's array_max on (score, lang)
    structs takes the lexicographically LARGEST, so ties go to the
    later language name), 'und' when nothing matches."""
    from mopper_spark.textops.analysis import _LANG_PROFILES

    score_cols = []
    for lang, words in _LANG_PROFILES.items():
        lst = ", ".join(f"'{w}'" for w in words)
        score_cols.append(
            f"len(list_filter(tk, t -> list_contains([{lst}], t))) AS s_{lang}"
        )
    langs = list(_LANG_PROFILES)
    struct_list = ", ".join(
        f"struct_pack(score := s_{lang}, lang := '{lang}')" for lang in langs
    )
    return f"""
WITH t AS (
  SELECT lang AS gold,
         list_transform(list_filter(string_split_regex(trim(text), '\\s+'),
                                    x -> x <> ''), x -> lower(x)) AS tk
  FROM documents
), scored AS (
  SELECT gold, {", ".join(score_cols)} FROM t
), best AS (
  SELECT gold,
         list_aggregate([{struct_list}], 'max') AS b
  FROM scored
), pred AS (
  SELECT gold, CASE WHEN b.score > 0 THEN b.lang ELSE 'und' END AS pred
  FROM best
), cm AS (
  SELECT gold, pred, CAST(COUNT(*) AS BIGINT) AS n FROM pred GROUP BY 1, 2
), tot AS (
  SELECT gold, CAST(SUM(n) AS BIGINT) AS n_gold FROM cm GROUP BY gold
)
SELECT cm.gold, cm.pred, cm.n, tot.n_gold,
       cm.n / CAST(tot.n_gold AS DOUBLE) AS share
FROM cm JOIN tot USING (gold)
"""


_SQL_LANGID_CONFUSION = _langid_confusion_oracle_sql()


def _q_docs_weighted_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted sampling without replacement, A-ES scheme (Efraimidis &
    Spirakis 2006; textops/sampling.py::weighted_sample): 40 docs drawn
    ∝ token count via md5-rational uniforms and the monotone fixed-point
    key floor(1e6·ln(u)/w) — one narrow pass + TakeOrdered, output
    all-BIGINT."""
    from mopper_spark.textops.sampling import weighted_sample

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda x: x != ""
    )
    weighted = docs.select("doc_id", F.size(toks).cast("long").alias("n_tokens"))
    return weighted_sample(weighted, "n_tokens", k=40)


_SQL_WEIGHTED_SAMPLE = r"""
WITH w AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
), keyed AS (
  SELECT doc_id AS id, n_tokens AS w,
         CAST(floor(1000000.0 * ln(
           (('0x' || substr(md5('wrs-v1' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT + 1)
           / 281474976710656.0) / n_tokens) AS BIGINT) AS key_fp
  FROM w WHERE n_tokens > 0
)
SELECT id, w, key_fp FROM keyed
ORDER BY key_fp DESC, id
LIMIT 40
"""


def _q_docs_top_tokens_per_source(spark: SparkSession, sf: str) -> DataFrame:
    """Grouped top-k (textops/analysis.py::top_tokens_per_group): each
    source's 5 most frequent tokens, exact counts, deterministic
    (count DESC, token ASC) ties.  The per-group window sorts the
    aggregated (group, token) count table — vocabulary-bounded, never
    corpus-bounded."""
    from mopper_spark.textops.analysis import top_tokens_per_group

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return top_tokens_per_group(docs, k=5)


_SQL_TOP_TOKENS_PER_SOURCE = r"""
WITH ex AS (
  SELECT source AS grp,
         unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                            x -> x <> '')) AS tok
  FROM documents
), counts AS (
  SELECT grp, tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM ex GROUP BY grp, tok
)
SELECT grp, rank, tok, cnt FROM (
  SELECT grp, tok, cnt,
         CAST(ROW_NUMBER() OVER (PARTITION BY grp ORDER BY cnt DESC, tok ASC)
              AS BIGINT) AS rank
  FROM counts)
WHERE rank <= 5
"""


def _q_docs_mixture_weights(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-scaled source mixture (p_s ∝ n_s^0.7, Lample & Conneau
    2019) over per-source token counts
    (mopper_spark/textops/prepare.py::mixture_weights).  Fixed-point
    floor(n^alpha * 1e6) per source, exact-integer normalizer, one double
    division — one count aggregate + a one-row broadcast."""
    from mopper_spark.textops.prepare import mixture_weights

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return mixture_weights(docs, alpha=0.7)


_SQL_MIXTURE_WEIGHTS = r"""
WITH per AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                  x -> x <> ''))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), w AS (
  SELECT *, CAST(floor(exp(0.7 * ln(CAST(n_tokens AS DOUBLE))) * 1000000.0)
                 AS BIGINT) AS w_fp
  FROM per
), z AS (SELECT CAST(SUM(w_fp) AS BIGINT) AS z_fp FROM w)
SELECT source, n_docs, n_tokens, w_fp,
       w_fp / CAST(z_fp AS DOUBLE) AS p
FROM w, z
"""


def _q_stream_contamination(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming ingest screen: candidate docs arrive as a 4-micro-batch
    file stream; each batch's distinct 4-grams probe the STATIC broadcast
    benchmark set (docs with doc_id % 20 == 0) in a stateless
    stream-static join — no watermark, no state store.  Stream output
    (all (doc_id, gram) hits) must equal the batch predicate
    (mopper_spark/streaming.py::contamination_hits_stream)."""
    from mopper_spark.streaming import contamination_hits_stream, write_stream

    root = _scratch_root("stream_contamination")
    src, out, ck = (os.path.join(root, d) for d in ("src", "out", "ck"))
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    docs.filter(F.col("doc_id") % 20 != 0).select("doc_id", "text").repartition(
        4
    ).write.parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    q = write_stream(contamination_hits_stream(stream, bench, n=4), out, ck)
    q.awaitTermination(300)
    return spark.read.parquet(out).select("doc_id", "g")


_SQL_STREAM_CONTAMINATION = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS tk
  FROM documents
), grams AS (
  SELECT doc_id, CASE WHEN len(tk) >= 4
     THEN list_distinct(list_transform(range(1, len(tk) - 2), i -> array_to_string(tk[i:i+3], ' ')))
     ELSE [array_to_string(tk, ' ')] END AS gs
  FROM toks
), bench AS (
  SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id % 20 = 0
)
SELECT doc_id, g
FROM (SELECT doc_id, unnest(gs) AS g FROM grams WHERE doc_id % 20 <> 0)
WHERE g IN (SELECT g FROM bench)
"""


def _q_docs_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: character
    fraction covered by the most frequent word bigram (deterministic
    smallest-gram tie-break) and duplicate-trigram occurrence fraction —
    one explode + combine-able aggregates keyed by doc_id, no windows,
    all native (mopper_spark/textops/analysis.py::repetition_metrics)."""
    from mopper_spark.textops.analysis import repetition_metrics

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return repetition_metrics(docs, top_n=2, dup_n=3)


_SQL_DOCS_REPETITION = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS tk
  FROM documents
), base AS (
  SELECT doc_id,
         CAST(COALESCE(list_sum(list_transform(tk, t -> length(t))), 0) AS BIGINT) AS total_chars,
         CASE WHEN len(tk) >= 2
              THEN list_transform(range(1, len(tk)), i -> array_to_string(tk[i:i+1], ' '))
              ELSE [array_to_string(tk, ' ')] END AS g2,
         CASE WHEN len(tk) >= 3
              THEN list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' '))
              ELSE [array_to_string(tk, ' ')] END AS g3
  FROM toks
), counts AS (
  SELECT doc_id, total_chars, g, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT doc_id, total_chars, unnest(g2) AS g FROM base)
  GROUP BY 1, 2, 3
), top AS (
  SELECT doc_id, total_chars, cnt AS top_cnt, g AS top_gram
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g ASC) AS rn
        FROM counts)
  WHERE rn = 1
), dup AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct
  FROM (SELECT doc_id, unnest(g3) AS g FROM base) GROUP BY 1
)
SELECT t.doc_id, t.total_chars, t.top_cnt, t.top_gram,
       ROUND(CASE WHEN t.total_chars > 0
             THEN LEAST(t.top_cnt * length(replace(t.top_gram, ' ', '')) * 1.0 / t.total_chars, 1.0)
             ELSE 0 END, 5) AS top_char_frac,
       ROUND(CASE WHEN d.n_grams > 0 THEN 1.0 - d.n_distinct * 1.0 / d.n_grams ELSE 0 END, 5) AS dup_gram_frac
FROM top t JOIN dup d USING (doc_id)
"""


def _q_events_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Window functions over event streams: 30-min-gap sessionization."""
    from pyspark.sql import Window

    # Explicit read schema: ts is pinned TIMESTAMP_NTZ so the plan no longer
    # depends on the session's inferTimestampNTZ setting (the parquet file is
    # timestamp[us] with no zone; NTZ is its faithful reading).  The partial
    # schema also prunes the scan to the three used columns.
    ev = spark.read.schema("user_id long, event_id long, ts timestamp_ntz").parquet(
        f"{sf}/events.parquet"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Gap computed directly on the NTZ timestamp via timestampdiff, which
    # never consults the session timezone — boundaries are identical under
    # any driver TZ and across DST transitions (round-1 hash-fail was an
    # NTZ->LTZ cast here). MICROSECOND granularity: the events carry
    # sub-second timestamps, and SECOND would truncate a 1800.9 s gap to
    # 1800, flipping the boundary vs the exact-epoch oracle.
    gap = F.expr(
        "timestampdiff(MICROSECOND, lag(ts) over"
        " (partition by user_id order by ts, event_id), ts)"
    )
    new_session = F.when(gap.isNull() | (gap > 1800 * 1000000), 1).otherwise(0)
    return (
        ev.withColumn("_new_session", new_session)
        .select(
            "user_id",
            "event_id",
            F.sum("_new_session").over(w).cast("long").alias("session_num"),
            F.row_number().over(w).cast("long").alias("event_rank"),
        )
    )


# The CAST(... AS BIGINT) on session_num is load-bearing: DuckDB's SUM over
# integers returns HUGEINT (int128), which survives fetchall() as a Python
# int but becomes float64 via fetchdf() ("1.0") and decimal128 via Arrow.
# A gate that fetches oracle rows through pandas/Arrow therefore sees
# "1.0" != "1" for every row — rows+schema match, hash fails — which is
# exactly the r1/r2 events_sessionize signature (the only oracle whose
# OUTPUT carried a bare integer SUM).  scripts/check_fetch_paths.py sweeps
# all oracles for this class of divergence.
_SQL_EVENTS_SESSIONIZE = """
SELECT user_id, event_id,
       CAST(SUM(CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800 * 1000000 THEN 1 ELSE 0 END)
         OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_num,
       ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS event_rank
FROM (SELECT user_id, event_id, ts,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events)
"""


def _q_cc_components(spark: SparkSession, sf: str) -> DataFrame:
    """Iterative large-star/small-star connected components, verified
    against a DuckDB recursive-CTE transitive closure (min-label)."""
    from mopper_spark.pipeline.cc import connected_components
    from mopper_spark.textops.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    edges = ngram_jaccard_pairs(docs, n=3, threshold=0.2).select(
        F.col("id_a").cast("long").alias("u"), F.col("id_b").cast("long").alias("v")
    )
    return connected_components(edges).select(
        F.col("node").cast("long").alias("node"),
        F.col("component").cast("long").alias("component"),
    )


#: shared CTE chain: bigram-Jaccard pair generation over ``documents`` +
#: recursive min-label closure — ends at ``reach(node, comp)``.  Used by
#: both the cc_components oracle and the keep-list oracle built on it.
_SQL_CC_PREFIX = """
WITH RECURSIVE toks AS (
  SELECT doc_id AS id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS tk
  FROM documents
), shingled AS (
  SELECT id,
         list_distinct(CASE WHEN len(tk) >= 3
           THEN list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' '))
           ELSE [array_to_string(tk, ' ')] END) AS sh
  FROM toks
), inv AS (SELECT id, unnest(sh) AS g FROM shingled),
sizes AS (SELECT id, len(sh) AS n_sh FROM shingled),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
  FROM inv a JOIN inv b ON a.g = b.g AND a.id < b.id
  GROUP BY a.id, b.id
), pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
  WHERE i * 1.0 / (sa.n_sh + sb.n_sh - i) >= 0.2
), edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
), reach(node, comp) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.node
)"""

_SQL_CC_COMPONENTS = (
    _SQL_CC_PREFIX
    + """
SELECT CAST(node AS BIGINT) AS node, CAST(MIN(comp) AS BIGINT) AS component
FROM reach GROUP BY node
"""
)

_SQL_DEDUP_KEEP_LIST = (
    _SQL_CC_PREFIX
    + """,
comp AS (SELECT node, MIN(comp) AS component FROM reach GROUP BY node),
lens AS (SELECT doc_id AS node, CAST(length(text) AS BIGINT) AS n_chars FROM documents),
member AS (SELECT c.node, c.component, l.n_chars FROM comp c JOIN lens l USING (node)),
canon AS (
  SELECT component, node AS canonical_id FROM (
    SELECT component, node,
           ROW_NUMBER() OVER (PARTITION BY component ORDER BY n_chars DESC, node) AS rn
    FROM member) WHERE rn = 1
),
verdicts AS (
  SELECT m.node AS doc_id, m.component, c.canonical_id
  FROM member m JOIN canon c USING (component)
  UNION ALL
  SELECT node, node, node FROM lens WHERE node NOT IN (SELECT node FROM comp)
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(component AS BIGINT) AS component,
       CAST(canonical_id AS BIGINT) AS canonical_id,
       (doc_id = canonical_id) AS keep
FROM verdicts
"""
)


def _q_dedup_keep_list(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end dedup DECISION list (textops/dedup.py::keep_list): the
    per-document keep/drop verdict a corpus-dedup run actually ships —
    near-dup pairs (bigram Jaccard ≥ 0.2, same generator as
    ``cc_components``) → connected components → canonical survivor per
    cluster (longest text, ties to smallest id) → singleton self-clusters
    for untouched docs.  Oracle replays pairs + closure in a recursive
    CTE and the survivor pick as a window argmax."""
    from mopper_spark.textops.dedup import keep_list, ngram_jaccard_pairs

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.2)
    return keep_list(docs, pairs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
        F.col("canonical_id").cast("long").alias("canonical_id"),
        "keep",
    )


#: committed transcript fixture (synth_transcripts(n_turns=2000, n_convs=40,
#: seed=42), sorted by (conv_id, turn_idx)) — both the Spark queries and the
#: DuckDB oracles read THIS parquet, so the xxhash64-based generator never
#: needs reproducing in SQL.  tests/test_pipeline.py pins fixture == generator.


def _mentions_ts(spark: SparkSession):
    """The transcript fixture's mention stream joined back to its turn
    timestamps — the shared input of every temporal-layer driver query
    (one definition, so a fixture schema change edits one place)."""
    from mopper_spark.pipeline.extract import extract_mentions

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    return extract_mentions(tr).join(
        tr.select("conv_id", "turn_idx", "ts"), ["conv_id", "turn_idx"]
    )


def _q_entity_linking_transcripts(spark: SparkSession, sf: str) -> DataFrame:
    """Blocking-key EL + CC canonicalization over the transcript fixture.

    Strict oracle: the DuckDB side scores ALL distinct-norm pairs with the
    ``_score_pair`` predicate transcribed to SQL and closes them with a
    recursive CTE; equality holds because blocking recall is 1.0 on the
    fixture (pinned by tests/test_pipeline.py::test_blocking_recall_total)
    and the scoring predicate is exact on both sides.
    """
    from mopper_spark.pipeline.canonicalize import canonical_map
    from mopper_spark.pipeline.extract import extract_mentions
    from mopper_spark.pipeline.linking import link_mentions, normalize_surface

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    mentions = extract_mentions(tr)
    edges = link_mentions(mentions)
    forms = mentions.select(normalize_surface(F.col("surface")).alias("norm")).distinct()
    return canonical_map(forms, edges).orderBy("norm")


def _q_linking_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Pairwise entity-resolution quality (pipeline/linking.py::
    clustering_pair_counts) of the full blocking→scoring→CC pipeline
    against the fixture's GOLD clusters (transcripts.py::ENTITY_FORMS
    carries a cluster id per gazetteer form): one integer row
    ``(n_items, tp, fp, fn)`` over the labeled norms.  Precision =
    tp/(tp+fp), recall = tp/(tp+fn) — the P/R statistic the north rule
    gates at >= 0.95; the fixture pins BOTH at 1.0 (fp = fn = 0), and
    this query keeps that pinned through the driver gate.  Pairs are
    never materialized (three C(n,2)-identity aggregations)."""
    from mopper_spark.pipeline.canonicalize import canonical_map
    from mopper_spark.pipeline.extract import extract_mentions
    from mopper_spark.pipeline.linking import (
        clustering_pair_counts,
        link_mentions,
        normalize_surface,
    )
    from mopper_spark.pipeline.transcripts import ENTITY_FORMS

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    mentions = extract_mentions(tr)
    edges = link_mentions(mentions)
    forms = mentions.select(
        normalize_surface(F.col("surface")).alias("norm")
    ).distinct()
    canon = canonical_map(forms, edges)

    truth = (
        spark.createDataFrame(ENTITY_FORMS, "form string, cluster int")
        .select(
            normalize_surface(F.col("form")).alias("norm"), "cluster"
        )
        .groupBy("norm")
        .agg(F.min("cluster").alias("truth"))
    )
    labels = canon.join(F.broadcast(truth), "norm").select(
        "canonical_norm", "truth"
    )
    return clustering_pair_counts(labels, "canonical_norm", "truth")


def _linking_quality_oracle_sql() -> str:
    """Same pairwise counts in DuckDB: the recursive-CTE canonical map
    (the entity_linking oracle, nested as a subquery CTE) joined to a
    VALUES gold table normalized with the same accent-fold expression."""
    from mopper_spark.pipeline.linking import _ACCENTS, _FOLDED
    from mopper_spark.pipeline.transcripts import ENTITY_FORMS

    norm = (
        "trim(regexp_replace(regexp_replace(translate(lower({v}), "
        f"'{_ACCENTS}', '{_FOLDED}'), '\\.', '', 'g'), '\\s+', ' ', 'g'))"
    )
    vals = ", ".join(f"('{f}', {c})" for f, c in ENTITY_FORMS)
    return f"""
WITH canon AS ({_SQL_ENTITY_LINKING}),
gold(form, cluster) AS (VALUES {vals}),
truth AS (
  SELECT {norm.format(v="form")} AS norm, MIN(cluster) AS truth
  FROM gold GROUP BY 1
),
labels AS (
  SELECT c.canonical_norm, t.truth FROM canon c JOIN truth t USING (norm)
),
tp AS (SELECT CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS tp FROM
       (SELECT COUNT(*) AS n FROM labels GROUP BY canonical_norm, truth)),
pp AS (SELECT CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS pp FROM
       (SELECT COUNT(*) AS n FROM labels GROUP BY canonical_norm)),
gp AS (SELECT CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS gp FROM
       (SELECT COUNT(*) AS n FROM labels GROUP BY truth)),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items FROM labels)
SELECT n_items, tp, CAST(pp - tp AS BIGINT) AS fp,
       CAST(gp - tp AS BIGINT) AS fn
FROM nn, tp, pp, gp
"""


def _q_kg_resolve_weighted(spark: SparkSession, sf: str) -> DataFrame:
    """Source-weighted truth discovery (pipeline/curate.py::
    resolve_weighted): the dominant entity per conversation, where each
    mention votes with its turn's ROLE weight (user=3, assistant=2,
    tool=1 fixed-point) — the weighted generalization of the functional-
    conflict resolver, winner exact via the associative
    min(struct(-support, obj)) aggregate.  Oracle replays the weighted
    count + (support DESC, obj ASC) argmax in SQL."""
    from mopper_spark.pipeline.curate import resolve_weighted
    from mopper_spark.pipeline.extract import extract_mentions
    from mopper_spark.pipeline.linking import normalize_surface

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    m = extract_mentions(tr).join(
        tr.select("conv_id", "turn_idx", "role"), ["conv_id", "turn_idx"]
    )
    triples = m.select(
        F.concat(F.lit("http://example.com/conv/"), F.col("conv_id")).alias(
            "subj"
        ),
        F.lit("http://example.com/ontology/dominantEntity").alias("pred"),
        normalize_surface(F.col("surface")).alias("obj"),
        F.col("role").alias("source"),
    )
    weights = spark.createDataFrame(
        [("user", 3), ("assistant", 2), ("tool", 1)],
        "source string, weight_fp long",
    )
    return resolve_weighted(triples, weights, default_weight_fp=1)


def _resolve_weighted_oracle_sql() -> str:
    from mopper_spark.pipeline.extract import MENTION_REGEX
    from mopper_spark.pipeline.linking import _ACCENTS, _FOLDED
    from mopper_spark.pipeline.transcripts import ENTITY_FORMS

    forms = ", ".join(f"'{f}'" for f, _ in ENTITY_FORMS)
    norm = (
        "trim(regexp_replace(regexp_replace(translate(lower({v}), "
        f"'{_ACCENTS}', '{_FOLDED}'), '\\.', '', 'g'), '\\s+', ' ', 'g'))"
    )
    return f"""
WITH tr AS (SELECT * FROM read_parquet('{_TRANSCRIPTS_FIXTURE}')),
men AS (
  SELECT conv_id, turn_idx, surface FROM (
    SELECT conv_id, turn_idx,
           unnest(list_distinct(list_concat(
             regexp_extract_all(text, '{MENTION_REGEX}'),
             list_filter([{forms}], f -> contains(text, f))
           ))) AS surface
    FROM tr
  ) WHERE length(surface) >= 3
),
votes AS (
  SELECT 'http://example.com/conv/' || m.conv_id AS subj,
         'http://example.com/ontology/dominantEntity' AS pred,
         {norm.format(v="m.surface")} AS obj,
         CASE t.role WHEN 'user' THEN 3 WHEN 'assistant' THEN 2
                     WHEN 'tool' THEN 1 ELSE 1 END AS w
  FROM men m JOIN tr t
    ON m.conv_id = t.conv_id AND m.turn_idx = t.turn_idx
),
support AS (
  SELECT subj, pred, obj, CAST(SUM(w) AS BIGINT) AS support_fp
  FROM votes GROUP BY 1, 2, 3
)
SELECT subj, pred, obj, support_fp,
       CAST(COUNT(*) OVER (PARTITION BY subj, pred) AS BIGINT)
         AS n_alternatives
FROM support
QUALIFY ROW_NUMBER() OVER (PARTITION BY subj, pred
                           ORDER BY support_fp DESC, obj ASC) = 1
"""


def _q_kg_verbalize_docs(spark: SparkSession, sf: str) -> DataFrame:
    """KG-to-text training documents (pipeline/verbalize.py): each
    conversation's weighted dominant entity (kg_resolve_weighted's
    output) plus its distinct mentioned entities, verbalized through
    per-predicate sentence templates and assembled into one document per
    conversation (sentences sorted — order-proof under partitioning).
    Untemplated predicates are dropped (default=None curation stance)."""
    from mopper_spark.pipeline.curate import resolve_weighted
    from mopper_spark.pipeline.extract import extract_mentions
    from mopper_spark.pipeline.linking import normalize_surface
    from mopper_spark.pipeline.verbalize import verbalize_subject_docs

    ont = "http://example.com/ontology/"
    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    # one extraction pass feeds both fact families (localCheckpoint cuts
    # the double-regex re-evaluation the naive compose would pay)
    m = (
        extract_mentions(tr)
        .join(tr.select("conv_id", "turn_idx", "role"), ["conv_id", "turn_idx"])
        .select(
            F.concat(
                F.lit("http://example.com/conv/"), F.col("conv_id")
            ).alias("subj"),
            normalize_surface(F.col("surface")).alias("obj"),
            "role",
        )
        .localCheckpoint(eager=False)
    )
    votes = m.select(
        "subj",
        F.lit(ont + "dominantEntity").alias("pred"),
        "obj",
        F.col("role").alias("source"),
    )
    weights = spark.createDataFrame(
        [("user", 3), ("assistant", 2), ("tool", 1)],
        "source string, weight_fp long",
    )
    dom = resolve_weighted(votes, weights, default_weight_fp=1).select(
        "subj", "pred", "obj"
    )
    ment = m.select(
        "subj", F.lit(ont + "mentionsEntity").alias("pred"), "obj"
    ).distinct()
    templates = {
        ont + "dominantEntity": "This conversation is mainly about {o}.",
        ont + "mentionsEntity": "It mentions {o}.",
    }
    return verbalize_subject_docs(
        dom.unionByName(ment), templates, default=None
    )


def _verbalize_oracle_sql() -> str:
    """Sentence building + ordered string_agg over the weighted-dominant
    CTE (nested as a subquery) and the distinct mention facts."""
    from mopper_spark.pipeline.extract import MENTION_REGEX
    from mopper_spark.pipeline.linking import _ACCENTS, _FOLDED
    from mopper_spark.pipeline.transcripts import ENTITY_FORMS

    forms = ", ".join(f"'{f}'" for f, _ in ENTITY_FORMS)
    norm = (
        "trim(regexp_replace(regexp_replace(translate(lower({v}), "
        f"'{_ACCENTS}', '{_FOLDED}'), '\\.', '', 'g'), '\\s+', ' ', 'g'))"
    )
    return f"""
WITH dom AS ({_resolve_weighted_oracle_sql()}),
tr AS (SELECT * FROM read_parquet('{_TRANSCRIPTS_FIXTURE}')),
men AS (
  SELECT conv_id, turn_idx, surface FROM (
    SELECT conv_id, turn_idx,
           unnest(list_distinct(list_concat(
             regexp_extract_all(text, '{MENTION_REGEX}'),
             list_filter([{forms}], f -> contains(text, f))
           ))) AS surface
    FROM tr
  ) WHERE length(surface) >= 3
),
sentences AS (
  SELECT subj, 'This conversation is mainly about ' || obj || '.' AS sentence
  FROM dom
  UNION ALL
  SELECT DISTINCT 'http://example.com/conv/' || conv_id AS subj,
         'It mentions ' || {norm.format(v="surface")} || '.' AS sentence
  FROM men
)
SELECT subj,
       string_agg(sentence, ' ' ORDER BY sentence) AS text,
       CAST(COUNT(*) AS BIGINT) AS n_facts
FROM sentences GROUP BY subj
"""


def _q_kg_graph_transcripts(spark: SparkSession, sf: str) -> DataFrame:
    """Full KG extraction over the transcript fixture: the COMPLETE
    (subj, pred, obj, okind, graph) statement set — per-POM turn triples
    (NULL-tool rule included) plus mention triples — strict-oracled by
    pure string-building SQL."""
    from mopper_spark.pipeline.extract import (
        extract_mentions,
        extract_triples,
        mention_triples,
    )

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    return extract_triples(tr).unionByName(mention_triples(extract_mentions(tr)))


def _q_kg_sparql_ask(spark: SparkSession, sf: str) -> DataFrame:
    """SPARQL ASK (pipeline/bgp.py::bgp_ask): three probes over the
    extracted KG — a 2-pattern chain that matches, a constant-anchored
    pattern that matches, and a pattern that cannot match.  Each ASK is
    a limit(1) witness probe above the pattern plan (CollectLimit
    short-circuits the scan on the first witness; only the NO answer
    pays full evaluation), returned as (probe, found) rows so the three
    booleans gate-compare against DuckDB EXISTS()."""
    from mopper_spark.pipeline.bgp import bgp_ask, bgp_match
    from mopper_spark.pipeline.extract import (
        extract_mentions,
        extract_triples,
        mention_triples,
    )

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    kg = extract_triples(tr).unionByName(
        mention_triples(extract_mentions(tr))
    ).select("subj", "pred", "obj")
    ont = "http://example.com/ontology/"
    probes = {
        "chain_match": [
            ("?t", ont + "mentions", "?e"),
            ("?t", ont + "inConversation", "?c"),
        ],
        "const_match": [("?t", ont + "role", "user")],
        "no_match": [("?t", ont + "mentions", EX + "entity/NoSuchEntity")],
    }
    out = None
    for name, pats in probes.items():
        one = bgp_ask(bgp_match(kg, pats)).select(
            F.lit(name).alias("probe"), "found"
        )
        out = one if out is None else out.unionByName(one)
    return out


def _q_kg_bgp_comention(spark: SparkSession, sf: str) -> DataFrame:
    """SPARQL-lite BGP over the extracted KG: the 4-pattern chain query

        SELECT DISTINCT ?conv ?e1 ?e2 WHERE {
          ?t1 ont:mentions ?e1 . ?t1 ont:inConversation ?conv .
          ?t2 ont:mentions ?e2 . ?t2 ont:inConversation ?conv .
          FILTER(?e1 < ?e2) }

    (entities co-mentioned anywhere in one conversation — each fixture
    turn carries exactly one mention, so the turn-level star is empty and
    the conversation-level chain is the informative query) compiled to
    DataFrame joins by ``pipeline/bgp.py`` (SPARQLGX/S2RDF relational
    encoding): constant predicates become pushed scan filters, pattern
    relations join on shared variables (``?t1``/``?t2`` then ``?conv``;
    AQE broadcasts the small sides), and the oracle is the same chain as
    DuckDB self-joins over the string-built triple set."""
    from mopper_spark.pipeline.bgp import bgp_match
    from mopper_spark.pipeline.extract import (
        extract_mentions,
        extract_triples,
        mention_triples,
    )

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    kg = extract_triples(tr).unionByName(mention_triples(extract_mentions(tr)))
    ont = "http://example.com/ontology/"
    return (
        bgp_match(
            kg.select("subj", "pred", "obj"),
            [
                ("?t1", ont + "mentions", "?e1"),
                ("?t1", ont + "inConversation", "?conv"),
                ("?t2", ont + "mentions", "?e2"),
                ("?t2", ont + "inConversation", "?conv"),
            ],
            select=["conv", "e1", "e2"],
        )
        .filter(F.col("e1") < F.col("e2"))
        .distinct()
    )


def _transcript_oracle_sqls() -> tuple[str, str, str, str, str]:
    """Build the kg_graph / entity_linking oracle SQL from the same public
    constants the Spark pipeline uses (gazetteer, mention regex, accent
    fold table), so the two sides cannot silently drift apart.

    Encoding note: mention surfaces draw from a closed alphabet
    (letters incl. é/ü, space, period); pct-str URIReserved keeps period
    raw and encodes space/é/ü, so three ``replace`` calls reproduce
    UriEncode exactly — any unexpected character would surface as a hash
    mismatch rather than being silently accepted.
    """
    from mopper_spark.pipeline.extract import MENTION_REGEX
    from mopper_spark.pipeline.linking import _ACCENTS, _FOLDED
    from mopper_spark.pipeline.transcripts import ENTITY_FORMS

    forms = ", ".join(f"'{f}'" for f, _ in ENTITY_FORMS)
    enc = "replace(replace(replace({v}, ' ', '%20'), 'é', '%C3%A9'), 'ü', '%C3%BC')"
    norm = (
        "trim(regexp_replace(regexp_replace(translate(lower({v}), "
        f"'{_ACCENTS}', '{_FOLDED}'), '\\.', '', 'g'), '\\s+', ' ', 'g'))"
    )
    mentions_cte = f"""
tr AS (SELECT * FROM read_parquet('{_TRANSCRIPTS_FIXTURE}')),
men AS (
  SELECT conv_id, turn_idx, surface FROM (
    SELECT conv_id, turn_idx,
           unnest(list_distinct(list_concat(
             regexp_extract_all(text, '{MENTION_REGEX}'),
             list_filter([{forms}], f -> contains(text, f))
           ))) AS surface
    FROM tr
  ) WHERE length(surface) >= 3
)"""

    turns_sql = f"""
WITH {mentions_cte},
base AS (
  SELECT 'http://example.com/turn/' || conv_id || '/' || turn_idx AS subj,
         'http://example.com/graph/' || role AS graph,
         'http://example.com/conv/' || conv_id AS conv_iri,
         role, text, tool
  FROM tr
)
SELECT subj, 'http://example.com/ontology/role' AS pred, role AS obj, 'lit' AS okind, graph FROM base
UNION ALL
SELECT subj, 'http://example.com/ontology/text', text, 'lit', graph FROM base
UNION ALL
SELECT subj, 'http://example.com/ontology/tool', tool, 'lit', graph FROM base WHERE tool IS NOT NULL
UNION ALL
SELECT subj, 'http://example.com/ontology/inConversation', conv_iri, 'iri', graph FROM base
"""

    kg_sql = turns_sql + f"""
UNION ALL
SELECT 'http://example.com/turn/' || conv_id || '/' || turn_idx,
       'http://example.com/ontology/mentions',
       'http://example.com/entity/' || {enc.format(v="surface")},
       'iri',
       'http://example.com/graph/mentions'
FROM men
"""

    linking_sql = f"""
WITH RECURSIVE {mentions_cte},
norms AS (SELECT DISTINCT {norm.format(v="surface")} AS norm FROM men),
feat AS (
  SELECT a.norm AS x, b.norm AS y,
         string_split(a.norm, ' ') AS tx, string_split(b.norm, ' ') AS ty,
         '^' || a.norm || '$' AS sx, '^' || b.norm || '$' AS sy
  FROM norms a JOIN norms b ON a.norm < b.norm
),
grams AS (
  SELECT x, y, tx, ty,
         CASE WHEN length(sx) <= 3 THEN [sx]
              ELSE list_distinct(list_transform(range(1, length(sx) - 1),
                                                i -> substr(sx, i::INT, 3))) END AS gx,
         CASE WHEN length(sy) <= 3 THEN [sy]
              ELSE list_distinct(list_transform(range(1, length(sy) - 1),
                                                i -> substr(sy, i::INT, 3))) END AS gy
  FROM feat
),
scored AS (
  SELECT x, y,
    (len(tx) = len(ty) AND len(list_filter(list_zip(tx, ty),
        p -> NOT (p[1] = p[2]
                  OR (length(p[1]) = 1 AND starts_with(p[2], p[1]))
                  OR (length(p[2]) = 1 AND starts_with(p[1], p[2]))))) = 0
    ) AS initials_ok,
    (CASE WHEN len(list_distinct(tx)) <= len(list_distinct(ty))
          THEN list_has_all(list_distinct(ty), list_distinct(tx))
               AND len(list_filter(list_distinct(ty),
                     t -> NOT list_contains(list_distinct(tx), t) AND length(t) > 2)) = 0
          ELSE list_has_all(list_distinct(tx), list_distinct(ty))
               AND len(list_filter(list_distinct(tx),
                     t -> NOT list_contains(list_distinct(ty), t) AND length(t) > 2)) = 0
     END) AS subset_ok,
    (len(list_intersect(gx, gy)) * 1.0
       / greatest(len(gx) + len(gy) - len(list_intersect(gx, gy)), 1) >= 0.6) AS jac_ok
  FROM grams
),
edges AS (SELECT x AS u, y AS v FROM scored WHERE initials_ok OR subset_ok OR jac_ok),
sym AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
reach AS (
  SELECT u AS node, u AS comp FROM sym
  UNION
  SELECT s.v, r.comp FROM reach r JOIN sym s ON s.u = r.node
),
members AS (SELECT node, MIN(comp) AS canonical_norm FROM reach GROUP BY node)
SELECT n.norm AS norm,
       coalesce(m.canonical_norm, n.norm) AS canonical_norm,
       'http://example.com/entity/'
         || replace(coalesce(m.canonical_norm, n.norm), ' ', '%20') AS canonical_iri
FROM norms n LEFT JOIN members m ON m.node = n.norm
"""
    # triangle counts over the mention co-occurrence graph: same mentions
    # CTE and normalization; edges = distinct normalized-form pairs
    # co-mentioned in one conversation; triangles via the canonical
    # 3-way self-join (x < y < z), then each triangle credits its 3 nodes
    triangles_sql = f"""
WITH {mentions_cte},
cn AS (SELECT DISTINCT conv_id, {norm.format(v="surface")} AS norm FROM men),
ed AS (SELECT DISTINCT a.norm AS u, b.norm AS v
       FROM cn a JOIN cn b ON a.conv_id = b.conv_id AND a.norm < b.norm),
tri AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
        FROM ed e1
        JOIN ed e2 ON e2.u = e1.u AND e1.v < e2.v
        JOIN ed e3 ON e3.u = e1.v AND e3.v = e2.v)
SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM (SELECT unnest([x, y, z]) AS node FROM tri)
GROUP BY node
"""
    # fixed-point PageRank (pipeline/graph.py::pagerank_fixed): all-integer
    # arithmetic, so the oracle is EXACT — DuckDB's // and Spark's `div`
    # both truncate non-negative BIGINTs identically; SUM(BIGINT)->HUGEINT
    # is cast back to BIGINT at each iteration (the r2 events_sessionize
    # fetch-path lesson).  3 unrolled iterations, scale 1e9, damping 85/100.
    scale, base = 10**9, (15 * 10**9) // 100
    pr_iters = []
    prev = "r0"
    for i in (1, 2, 3):
        pr_iters.append(
            f"""s{i} AS (SELECT d.dst AS node, SUM(r.pr // r.out_deg) AS s
      FROM dirx d JOIN {prev} r ON d.src = r.node GROUP BY d.dst),
r{i} AS (SELECT r.node, r.out_deg,
               CAST({base} + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS pr
        FROM {prev} r LEFT JOIN s{i} s ON s.node = r.node)"""
        )
        prev = f"r{i}"
    pagerank_sql = f"""
WITH {mentions_cte},
cn AS (SELECT DISTINCT conv_id, {norm.format(v="surface")} AS norm FROM men),
ed AS (SELECT DISTINCT a.norm AS u, b.norm AS v
       FROM cn a JOIN cn b ON a.conv_id = b.conv_id AND a.norm < b.norm),
dirx AS (SELECT u AS src, v AS dst FROM ed UNION ALL SELECT v AS src, u AS dst FROM ed),
r0 AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS out_deg,
              CAST({scale} AS BIGINT) AS pr
       FROM dirx GROUP BY src),
{",".join(pr_iters)}
SELECT node, pr AS pr_scaled FROM {prev}
"""
    # synchronous label propagation, 3 unrolled rounds: per round every
    # node adopts the argmax over neighbor labels (count DESC, label ASC)
    # from the previous round's snapshot — graph.py::label_propagation
    lpa_rounds = []
    prev_l = "l0"
    for i in (1, 2, 3):
        lpa_rounds.append(
            f"""n{i} AS (SELECT s.dst AS node, l.label, COUNT(*) AS cnt
      FROM sym s JOIN {prev_l} l ON s.src = l.node GROUP BY 1, 2),
l{i} AS (SELECT node, label FROM (
      SELECT node, label,
             ROW_NUMBER() OVER (PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn
      FROM n{i}) WHERE rn = 1)"""
        )
        prev_l = f"l{i}"
    lpa_sql = f"""
WITH {mentions_cte},
cn AS (SELECT DISTINCT conv_id, {norm.format(v="surface")} AS norm FROM men),
ed AS (SELECT DISTINCT a.norm AS u, b.norm AS v
       FROM cn a JOIN cn b ON a.conv_id = b.conv_id AND a.norm < b.norm),
sym AS (SELECT u AS src, v AS dst FROM ed UNION ALL SELECT v AS src, u AS dst FROM ed),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM sym),
{",".join(lpa_rounds)}
SELECT node, label FROM {prev_l}
"""
    # shared mention-edges CTE prefix (everything through `ed`), exported
    # so new graph oracles reuse the SAME derivation instead of a copy
    # that could drift from the Spark-side _mention_edges
    edges_cte = f"""{mentions_cte},
cn AS (SELECT DISTINCT conv_id, {norm.format(v="surface")} AS norm FROM men),
ed AS (SELECT DISTINCT a.norm AS u, b.norm AS v
       FROM cn a JOIN cn b ON a.conv_id = b.conv_id AND a.norm < b.norm)"""
    return (
        kg_sql,
        linking_sql,
        turns_sql,
        triangles_sql,
        pagerank_sql,
        lpa_sql,
        edges_cte,
        mentions_cte,
        norm,
    )


(
    _SQL_KG_GRAPH,
    _SQL_ENTITY_LINKING,
    _SQL_KG_STREAM,
    _SQL_MENTION_TRIANGLES,
    _SQL_MENTION_PAGERANK,
    _SQL_MENTION_COMMUNITIES,
    _MENTION_EDGES_CTE,
    _MENTIONS_CTE,
    _NORM_TMPL,
) = _transcript_oracle_sqls()

_SQL_GRAPH_LINK_PREDICTION = """
WITH e_raw AS (
  SELECT CAST(doc_id AS BIGINT) AS a, CAST(doc_id // 2 AS BIGINT) AS b
  FROM documents WHERE doc_id >= 2
  UNION ALL
  SELECT CAST(doc_id AS BIGINT), CAST(doc_id // 3 AS BIGINT)
  FROM documents WHERE doc_id >= 3
), ed AS (
  SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
  FROM e_raw WHERE a <> b
),
sym AS (SELECT u AS apex, v AS n FROM ed UNION ALL SELECT v AS apex, u AS n FROM ed),
wdeg AS (SELECT apex,
                CAST(FLOOR(1000000000.0 / ln(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS w
         FROM sym GROUP BY apex HAVING COUNT(*) >= 2),
nb AS (SELECT s.apex, s.n, w.w FROM sym s JOIN wdeg w USING (apex)),
pairs AS (SELECT x.n AS u, y.n AS v, CAST(COUNT(*) AS BIGINT) AS common_neighbors,
                 CAST(SUM(x.w) AS BIGINT) AS aa_fp
          FROM nb x JOIN nb y ON x.apex = y.apex AND x.n < y.n
          GROUP BY x.n, y.n)
SELECT p.u, p.v, p.common_neighbors, p.aa_fp,
       CAST(p.aa_fp AS DOUBLE) / 1000000000.0 AS aa
FROM pairs p ANTI JOIN ed e ON p.u = e.u AND p.v = e.v
"""

_SQL_LINKING_QUALITY = _linking_quality_oracle_sql()

def _q_kg_describe(spark: SparkSession, sf: str) -> DataFrame:
    """SPARQL DESCRIBE-lite (pipeline/bgp.py::describe_resource): the
    full neighborhood of two resources — a TURN IRI (appears only as
    subject: role/text/inConversation/mentions triples) and an ENTITY
    IRI (appears only as object: every mention of it), each labeled with
    its probe so both directions of the subject-or-object union are
    gate-checked.  Both filters push to the scan."""
    from mopper_spark.pipeline.bgp import describe_resource
    from mopper_spark.pipeline.extract import (
        extract_mentions,
        extract_triples,
        mention_triples,
    )

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    kg = extract_triples(tr).unionByName(
        mention_triples(extract_mentions(tr))
    ).select("subj", "pred", "obj")
    probes = {
        "turn": EX + "turn/conv_00000/0",
        "entity": EX + "entity/Ada%20Lovelace",
    }
    out = None
    for name, iri in probes.items():
        one = describe_resource(kg, iri).select(
            F.lit(name).alias("probe"), "subj", "pred", "obj"
        )
        out = one if out is None else out.unionByName(one)
    return out


_SQL_KG_DESCRIBE = f"""
WITH kg AS ({_SQL_KG_GRAPH})
SELECT 'turn' AS probe, subj, pred, obj FROM kg
WHERE subj = 'http://example.com/turn/conv_00000/0'
   OR obj  = 'http://example.com/turn/conv_00000/0'
UNION ALL
SELECT 'entity', subj, pred, obj FROM kg
WHERE subj = 'http://example.com/entity/Ada%20Lovelace'
   OR obj  = 'http://example.com/entity/Ada%20Lovelace'
"""


def _q_kg_bgp_optional(spark: SparkSession, sf: str) -> DataFrame:
    """BGP with a QUAD pattern and SPARQL OPTIONAL: every turn's role
    triple (binding the named graph as ?g) left-joined with its tool
    triple — tool comes back NULL for turns without one, exactly
    SPARQL's OPTIONAL semantics compiled to a left join."""
    from mopper_spark.pipeline.bgp import bgp_match
    from mopper_spark.pipeline.extract import extract_triples

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    kg = extract_triples(tr).select("subj", "pred", "obj", "graph")
    ont = "http://example.com/ontology/"
    return bgp_match(
        kg,
        [("?t", ont + "role", "?role", "?g")],
        optional=[("?t", ont + "tool", "?tool")],
        select=["t", "g", "role", "tool"],
    )


_SQL_BGP_OPTIONAL = f"""
WITH kg AS ({_SQL_KG_GRAPH})
SELECT r.subj AS t, r.graph AS g, r.obj AS role, tl.obj AS tool
FROM kg r
LEFT JOIN (SELECT subj, obj FROM kg
           WHERE pred = 'http://example.com/ontology/tool') tl
       ON tl.subj = r.subj
WHERE r.pred = 'http://example.com/ontology/role'
"""


def _q_kg_entity_intervals(spark: SparkSession, sf: str) -> DataFrame:
    """Temporal KG scoping (pipeline/temporal.py::entity_activity_intervals):
    per-turn point mentions collapsed into maximal validity intervals per
    (conversation, entity), split when the entity goes unmentioned for
    more than 60 s (fixture turns are 7 s apart, so ≤8-turn silences
    chain and longer ones split — the fixture yields both).  The
    reference engine emits point-in-time triples only (serializer.rs has
    no temporal qualifier support); interval semantics are part of the
    beyond-reference query layer.  Bounds are epoch MICROSECONDS
    (int64) — the TZ/fetch-path-proof convention shared with the as-of
    join oracles."""
    from mopper_spark.pipeline.temporal import entity_activity_intervals

    return entity_activity_intervals(_mentions_ts(spark), max_gap_s=60)


def _temporal_oracle_sql() -> str:
    """Gaps-and-islands replica in DuckDB over the same mentions CTE the
    other transcript oracles build from the shared public constants.
    Island ids depend only on the at_us sequence, so tie order inside a
    window never changes the grouped result; no SUM reaches the output,
    so no HUGEINT fetch-path hazard."""
    from mopper_spark.pipeline.extract import MENTION_REGEX
    from mopper_spark.pipeline.transcripts import ENTITY_FORMS

    forms = ", ".join(f"'{f}'" for f, _ in ENTITY_FORMS)
    return f"""
WITH tr AS (SELECT * FROM read_parquet('{_TRANSCRIPTS_FIXTURE}')),
men AS (
  SELECT conv_id, turn_idx, surface FROM (
    SELECT conv_id, turn_idx,
           unnest(list_distinct(list_concat(
             regexp_extract_all(text, '{MENTION_REGEX}'),
             list_filter([{forms}], f -> contains(text, f))
           ))) AS surface
    FROM tr
  ) WHERE length(surface) >= 3
),
mts AS (
  SELECT m.conv_id, m.surface AS entity, epoch_us(t.ts) AS at_us
  FROM men m JOIN tr t ON m.conv_id = t.conv_id AND m.turn_idx = t.turn_idx
),
lagged AS (
  SELECT conv_id, entity, at_us,
         lag(at_us) OVER (PARTITION BY conv_id, entity ORDER BY at_us) AS prev_us
  FROM mts
),
isl AS (
  SELECT conv_id, entity, at_us,
         SUM(CASE WHEN prev_us IS NULL OR at_us - prev_us > 60 * 1000000
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY conv_id, entity ORDER BY at_us
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM lagged
)
SELECT conv_id, entity,
       MIN(at_us) AS valid_from_us,
       MAX(at_us) AS valid_to_us,
       CAST(COUNT(*) AS BIGINT) AS n_mentions
FROM isl GROUP BY conv_id, entity, island
"""


_SQL_ENTITY_INTERVALS = _temporal_oracle_sql()


def _q_kg_temporal_quads(spark: SparkSession, sf: str) -> DataFrame:
    """Temporal-KG materialization (pipeline/temporal.py::interval_quads):
    activity intervals published as interval-qualified RDF quads (six
    statements per interval about an ex:interval/... resource in the
    ex:graph/temporal named graph).  Lossless N-Quads round-trip is
    pinned in tests/test_temporal.py; here the full statement set is
    strict-oracled by string-building SQL over the same islands CTE."""
    from mopper_spark.pipeline.temporal import (
        entity_activity_intervals,
        interval_quads,
    )

    return interval_quads(
        entity_activity_intervals(_mentions_ts(spark), max_gap_s=60)
    )


_ENC_SQL = (
    "replace(replace(replace({v}, ' ', '%20'), 'é', '%C3%A9'), 'ü', '%C3%BC')"
)
_SQL_TEMPORAL_QUADS = f"""
WITH ints AS ({{ints}}),
base AS (
  SELECT 'http://example.com/interval/' || conv_id || '/'
           || {_ENC_SQL.format(v="entity")} || '/' || valid_from_us AS subj,
         'http://example.com/entity/' || {_ENC_SQL.format(v="entity")} AS ent,
         'http://example.com/conv/' || conv_id AS conv_iri,
         valid_from_us, valid_to_us, n_mentions
  FROM ints
)
SELECT subj, pred, obj, okind,
       'http://example.com/graph/temporal' AS graph
FROM (
  SELECT subj, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS pred,
         'http://example.com/ontology/ActivityInterval' AS obj, 'iri' AS okind
  FROM base
  UNION ALL
  SELECT subj, 'http://example.com/ontology/entity', ent, 'iri' FROM base
  UNION ALL
  SELECT subj, 'http://example.com/ontology/inConversation', conv_iri, 'iri'
  FROM base
  UNION ALL
  SELECT subj, 'http://example.com/ontology/validFrom',
         CAST(valid_from_us AS VARCHAR), 'lit' FROM base
  UNION ALL
  SELECT subj, 'http://example.com/ontology/validTo',
         CAST(valid_to_us AS VARCHAR), 'lit' FROM base
  UNION ALL
  SELECT subj, 'http://example.com/ontology/mentionCount',
         CAST(n_mentions AS VARCHAR), 'lit' FROM base
)
"""


def _q_kg_intervals_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental interval maintenance (pipeline/temporal.py::
    intervals_increment): the fixture's mention stream folded in TWO
    micro-batches (turn_idx < 25, then the rest) into an intervals table
    — only batch-touched (conv, entity) groups are rebuilt, everything
    else anti-join passes through.  The oracle is the FULL-batch islands
    SQL, so the gate proves the monoid fold exact (same guarantee shape
    as graph_closure_incremental)."""
    from mopper_spark.pipeline.temporal import intervals_increment

    mentions_ts = _mentions_ts(spark)
    empty = spark.createDataFrame(
        [],
        "conv_id string, entity string, valid_from_us long, "
        "valid_to_us long, n_mentions long",
    )
    state = intervals_increment(
        empty, mentions_ts.filter(F.col("turn_idx") < 25), max_gap_s=60
    ).localCheckpoint(eager=True)
    return intervals_increment(
        state, mentions_ts.filter(F.col("turn_idx") >= 25), max_gap_s=60
    )


def _q_kg_pagerank_weighted(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted PageRank (pipeline/graph.py::pagerank_weighted) over the
    GLOBAL temporal co-occurrence graph: edge weight = summed interval
    overlap (µs) + overlap count across conversations (always positive).
    Exact integer fixed-point with per-source share quantization — the
    oracle replays three unrolled iterations of the identical formula,
    so the gate proves bit-equality, not approximation."""
    from mopper_spark.pipeline.graph import pagerank_weighted
    from mopper_spark.pipeline.temporal import (
        entity_activity_intervals,
        interval_cooccurrence,
    )

    cooc = interval_cooccurrence(
        entity_activity_intervals(_mentions_ts(spark), max_gap_s=60)
    )
    edges = cooc.groupBy("e1", "e2").agg(
        F.sum(F.col("total_overlap_us") + F.col("n_overlaps")).alias("w")
    )
    return pagerank_weighted(edges, "e1", "e2", "w", iters=3)


def _pagerank_weighted_oracle_sql() -> str:
    iters, scale, prec = 3, 10**9, 10**6
    base = (15 * scale) // 100
    steps = []
    prev = "p0"
    for i in (1, 2, 3)[:iters]:
        steps.append(
            f"""s{i} AS (
  SELECT sh.dst AS node, SUM((p.pr * sh.share) // {prec}) AS s
  FROM shares sh JOIN {prev} p ON sh.src = p.node GROUP BY 1),
p{i} AS (
  SELECT p.node,
         CAST({base} + (85 * COALESCE(s{i}.s, 0)) // 100 AS BIGINT) AS pr
  FROM {prev} p LEFT JOIN s{i} ON p.node = s{i}.node)"""
        )
        prev = f"p{i}"
    return f"""
WITH cooc AS ({_SQL_INTERVAL_COOC}),
e AS (
  SELECT least(e1, e2) AS u, greatest(e1, e2) AS v,
         SUM(total_overlap_us + n_overlaps) AS wt
  FROM cooc GROUP BY 1, 2
),
directed AS (
  SELECT u AS src, v AS dst, wt FROM e
  UNION ALL SELECT v, u, wt FROM e
),
outw AS (SELECT src, SUM(wt) AS out_w FROM directed GROUP BY src),
shares AS (
  SELECT d.src, d.dst, (d.wt * {prec}) // o.out_w AS share
  FROM directed d JOIN outw o USING (src)
),
p0 AS (SELECT src AS node, CAST({scale} AS BIGINT) AS pr FROM outw),
{",".join(steps)}
SELECT node, pr AS pr_scaled FROM {prev}
"""


def _q_kg_entity_profiles(spark: SparkSession, sf: str) -> DataFrame:
    """Per-entity corpus profile — the KG consumer's summary table: for
    every normalized entity, total mentions, distinct conversations,
    first/last observation (epoch µs), and distinct surface-form count.
    One groupBy over the mention stream (count_distinct keeps the
    shuffle word-count-shaped; no window, no join beyond the ts
    attach)."""
    from mopper_spark.pipeline.linking import normalize_surface

    m = _mentions_ts(spark)
    epoch = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    return (
        m.select(
            normalize_surface(F.col("surface")).alias("entity"),
            F.col("surface"),
            F.col("conv_id"),
            F.expr(epoch).alias("at_us"),
        )
        .groupBy("entity")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_mentions"),
            F.count_distinct("conv_id").cast("long").alias("n_convs"),
            F.count_distinct("surface").cast("long").alias("n_surface_forms"),
            F.min("at_us").alias("first_seen_us"),
            F.max("at_us").alias("last_seen_us"),
        )
    )


def _entity_profiles_oracle_sql() -> str:
    from mopper_spark.pipeline.extract import MENTION_REGEX
    from mopper_spark.pipeline.linking import _ACCENTS, _FOLDED
    from mopper_spark.pipeline.transcripts import ENTITY_FORMS

    forms = ", ".join(f"'{f}'" for f, _ in ENTITY_FORMS)
    norm = (
        "trim(regexp_replace(regexp_replace(translate(lower({v}), "
        f"'{_ACCENTS}', '{_FOLDED}'), '\\.', '', 'g'), '\\s+', ' ', 'g'))"
    )
    return f"""
WITH tr AS (SELECT * FROM read_parquet('{_TRANSCRIPTS_FIXTURE}')),
men AS (
  SELECT conv_id, turn_idx, surface FROM (
    SELECT conv_id, turn_idx,
           unnest(list_distinct(list_concat(
             regexp_extract_all(text, '{MENTION_REGEX}'),
             list_filter([{forms}], f -> contains(text, f))
           ))) AS surface
    FROM tr
  ) WHERE length(surface) >= 3
)
SELECT {norm.format(v="m.surface")} AS entity,
       CAST(COUNT(*) AS BIGINT) AS n_mentions,
       CAST(COUNT(DISTINCT m.conv_id) AS BIGINT) AS n_convs,
       CAST(COUNT(DISTINCT m.surface) AS BIGINT) AS n_surface_forms,
       MIN(epoch_us(t.ts)) AS first_seen_us,
       MAX(epoch_us(t.ts)) AS last_seen_us
FROM men m JOIN tr t ON m.conv_id = t.conv_id AND m.turn_idx = t.turn_idx
GROUP BY 1
"""


def _q_docs_heavy_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """Exact ε-heavy-hitter tokens (textops/sketches.py::heavy_hitters,
    ε = 1/301): two-pass Misra-Gries — per-partition k-entry summaries
    built by Arrow-batched mergeable reductions (no shuffle), then exact
    counts of the bounded candidate set only.  The final set (every
    token with count > n/301, exact counts) is deterministic even though
    the sketch is partitioning-dependent; the oracle affords the full
    GROUP BY at fixture scale."""
    from mopper_spark.textops.sketches import heavy_hitters

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    toks = docs.select(
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    return heavy_hitters(toks, "tok", k=300)


_SQL_HEAVY_TOKENS = r"""
WITH toks AS (
  SELECT unnest(string_split_regex(lower(text), '\s+')) AS value
  FROM documents
),
t AS (SELECT value FROM toks WHERE value <> ''),
n AS (SELECT COUNT(*) AS n FROM t)
SELECT value, CAST(COUNT(*) AS BIGINT) AS freq
FROM t, n GROUP BY value, n.n
HAVING COUNT(*) * 301 > n.n
"""


def _q_docs_sample_per_group(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic bottom-k-of-hash per-group sampling
    (textops/sampling.py::sample_per_group): at most 20 documents per
    (source, lang) cell, selected by md5 order of doc_id — reproducible
    across runs/engines/partitionings and stable under corpus growth
    (the curation property rand() sampling lacks).  The oracle replays
    the identical md5-ordered QUALIFY."""
    from mopper_spark.textops.sampling import sample_per_group

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return sample_per_group(
        docs.select("doc_id", "source", "lang"),
        ["source", "lang"],
        F.col("doc_id"),
        k=20,
    )


_SQL_SAMPLE_PER_GROUP = """
SELECT doc_id, source, lang FROM (
  SELECT doc_id, source, lang,
         ROW_NUMBER() OVER (
           PARTITION BY source, lang
           ORDER BY md5('grp-v1' || CAST(doc_id AS VARCHAR)),
                    CAST(doc_id AS VARCHAR)
         ) AS rk
  FROM documents
) WHERE rk <= 20
"""


def _q_kg_intervals_canonical(spark: SparkSession, sf: str) -> DataFrame:
    """The WHOLE pipeline composed: extract → block/score/link →
    CC-canonicalize → temporal islands.  Activity intervals keyed by the
    CANONICAL entity, so surface variants ("Venus Williams",
    "V. Williams", "venus  williams") merge into ONE timeline per
    conversation — intervals that were separate under surface keying
    chain when the variants interleave.  The canonical dictionary
    broadcast-joins onto the mention stream (it is tiny by construction);
    everything downstream is the shared islands core."""
    from mopper_spark.pipeline.canonicalize import canonical_map
    from mopper_spark.pipeline.extract import extract_mentions
    from mopper_spark.pipeline.linking import link_mentions, normalize_surface
    from mopper_spark.pipeline.temporal import entity_activity_intervals

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    mentions = extract_mentions(tr)
    forms = mentions.select(
        normalize_surface(F.col("surface")).alias("norm")
    ).distinct()
    canon = canonical_map(forms, link_mentions(mentions))
    m = (
        mentions.withColumn("norm", normalize_surface(F.col("surface")))
        .join(F.broadcast(canon.select("norm", "canonical_norm")), "norm")
        .join(tr.select("conv_id", "turn_idx", "ts"), ["conv_id", "turn_idx"])
    )
    return entity_activity_intervals(m, max_gap_s=60, entity_col="canonical_norm")


def _canonical_intervals_oracle_sql() -> str:
    """The temporal islands SQL with the recursive-CTE canonical map
    applied to the mention stream first — the oracle-side composition of
    linking and temporal (built from the same shared public constants as
    every transcript oracle)."""
    from mopper_spark.pipeline.extract import MENTION_REGEX
    from mopper_spark.pipeline.linking import _ACCENTS, _FOLDED
    from mopper_spark.pipeline.transcripts import ENTITY_FORMS

    forms = ", ".join(f"'{f}'" for f, _ in ENTITY_FORMS)
    norm = (
        "trim(regexp_replace(regexp_replace(translate(lower({v}), "
        f"'{_ACCENTS}', '{_FOLDED}'), '\\.', '', 'g'), '\\s+', ' ', 'g'))"
    )
    return f"""
WITH canon AS ({_SQL_ENTITY_LINKING}),
tr AS (SELECT * FROM read_parquet('{_TRANSCRIPTS_FIXTURE}')),
men AS (
  SELECT conv_id, turn_idx, surface FROM (
    SELECT conv_id, turn_idx,
           unnest(list_distinct(list_concat(
             regexp_extract_all(text, '{MENTION_REGEX}'),
             list_filter([{forms}], f -> contains(text, f))
           ))) AS surface
    FROM tr
  ) WHERE length(surface) >= 3
),
mts AS (
  SELECT m.conv_id, c.canonical_norm AS entity, epoch_us(t.ts) AS at_us
  FROM men m
  JOIN tr t ON m.conv_id = t.conv_id AND m.turn_idx = t.turn_idx
  JOIN canon c ON {norm.format(v="m.surface")} = c.norm
),
lagged AS (
  SELECT conv_id, entity, at_us,
         lag(at_us) OVER (PARTITION BY conv_id, entity ORDER BY at_us) AS prev_us
  FROM mts
),
isl AS (
  SELECT conv_id, entity, at_us,
         SUM(CASE WHEN prev_us IS NULL OR at_us - prev_us > 60 * 1000000
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY conv_id, entity ORDER BY at_us
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM lagged
)
SELECT conv_id, entity,
       MIN(at_us) AS valid_from_us,
       MAX(at_us) AS valid_to_us,
       CAST(COUNT(*) AS BIGINT) AS n_mentions
FROM isl GROUP BY conv_id, entity, island
"""


def _q_transcripts_latency(spark: SparkSession, sf: str) -> DataFrame:
    """Agent-ops latency metrics (textops/prepare.py::response_latency):
    per conversation, integer epoch-µs statistics of how quickly
    assistant turns follow their immediately preceding user turn.  One
    lag window per conversation + one combine-able aggregate; oracle =
    the same adjacent-pair window in DuckDB."""
    from mopper_spark.textops.prepare import response_latency

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    return response_latency(tr)


_SQL_TRANSCRIPTS_LATENCY = f"""
WITH lagged AS (
  SELECT conv_id, role, epoch_us(ts) AS at_us,
         LAG(role) OVER w AS prev_role,
         LAG(epoch_us(ts)) OVER w AS prev_us
  FROM read_parquet('{_TRANSCRIPTS_FIXTURE}')
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
)
SELECT conv_id,
       CAST(COUNT(*) AS BIGINT) AS n_responses,
       CAST(SUM(at_us - prev_us) AS BIGINT) AS total_latency_us,
       MIN(at_us - prev_us) AS min_latency_us,
       MAX(at_us - prev_us) AS max_latency_us
FROM lagged
WHERE role = 'assistant' AND prev_role = 'user'
GROUP BY conv_id
"""


def _q_transcripts_tool_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """Agent-ops tool-usage Markov profile: ``prev_tool -> next_tool``
    transition counts and ML probabilities along each conversation's
    tool-invocation sequence, first call transitioning from ``_START_``
    (mopper_spark/textops/prepare.py::tool_transitions).  One
    per-conversation lag window + a transition-matrix-sized aggregate;
    ``p`` is the one double division over exact integers."""
    from mopper_spark.textops.prepare import tool_transitions

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    return tool_transitions(tr)


_SQL_TOOL_TRANSITIONS = f"""
WITH seq AS (
  SELECT COALESCE(LAG(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx),
                  '_START_') AS prev_tool,
         tool AS next_tool
  FROM read_parquet('{_TRANSCRIPTS_FIXTURE}')
  WHERE tool IS NOT NULL
), c AS (
  SELECT prev_tool, next_tool, CAST(COUNT(*) AS BIGINT) AS n_trans
  FROM seq GROUP BY prev_tool, next_tool
)
SELECT prev_tool, next_tool, n_trans,
       CAST(SUM(n_trans) OVER (PARTITION BY prev_tool) AS BIGINT) AS n_from,
       n_trans / CAST(SUM(n_trans) OVER (PARTITION BY prev_tool) AS DOUBLE) AS p
FROM c
"""


def _q_transcripts_dedup_convs(spark: SparkSession, sf: str) -> DataFrame:
    """CONVERSATION-granularity near-dup: the chat-rendered documents
    (render_conversations) pushed through the exact n-gram Jaccard
    inverted index (dedup.ngram_jaccard_pairs) — whole-conversation
    duplicates a turn-level dedup cannot see.  Same inverted-index scale
    shape (shingle-keyed shuffle, never all-pairs); threshold 0.3 sits
    inside the fixture's observed 0.17–0.35 pair range so the answer is
    a non-trivial strict subset."""
    from mopper_spark.textops.dedup import ngram_jaccard_pairs
    from mopper_spark.textops.prepare import render_conversations

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    docs = render_conversations(tr).select("conv_id", "text")
    return ngram_jaccard_pairs(
        docs, id_col="conv_id", n=3, threshold=0.3
    ).select("id_a", "id_b", F.round("jaccard", 5).alias("jaccard"))


_SQL_DEDUP_CONVS = f"""
WITH r AS (
  SELECT conv_id AS id,
         string_agg('<|' || role || '|>' || text, chr(10)
                    ORDER BY turn_idx, '<|' || role || '|>' || text) AS text
  FROM read_parquet('{_TRANSCRIPTS_FIXTURE}') GROUP BY conv_id
), toks AS (
  SELECT id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS tk
  FROM r
), shingled AS (
  SELECT id,
         list_distinct(CASE WHEN len(tk) >= 3
           THEN list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' '))
           ELSE [array_to_string(tk, ' ')] END) AS sh
  FROM toks
), inv AS (SELECT id, unnest(sh) AS g FROM shingled),
sizes AS (SELECT id, len(sh) AS n_sh FROM shingled),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
  FROM inv a JOIN inv b ON a.g = b.g AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b, ROUND(i * 1.0 / (sa.n_sh + sb.n_sh - i), 5) AS jaccard
FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
WHERE i * 1.0 / (sa.n_sh + sb.n_sh - i) >= 0.3
"""


def _q_kg_temporal_communities(spark: SparkSession, sf: str) -> DataFrame:
    """Entity communities by SIMULTANEOUS discussion: min-label connected
    components (the large/small-star operator, via canonical_map's
    string-node wrapper) over the temporal co-occurrence graph
    thresholded at 175 s of summed overlap — entities that repeatedly
    share airtime cluster together, a stronger signal than bag-of-
    conversation co-mention communities (mention_communities).  Returns
    (entity, community = lexicographic min member)."""
    from mopper_spark.pipeline.canonicalize import canonical_map
    from mopper_spark.pipeline.extract import extract_mentions
    from mopper_spark.pipeline.temporal import (
        entity_activity_intervals,
        interval_cooccurrence,
    )

    cooc = interval_cooccurrence(
        entity_activity_intervals(_mentions_ts(spark), max_gap_s=60)
    )
    edges = (
        cooc.groupBy("e1", "e2")
        .agg(F.sum("total_overlap_us").alias("w"))
        .filter(F.col("w") >= 175 * 1_000_000)
        .select(F.col("e1").alias("norm_a"), F.col("e2").alias("norm_b"))
    )
    forms = (
        edges.select(F.col("norm_a").alias("norm"))
        .union(edges.select("norm_b"))
        .distinct()
    )
    return canonical_map(forms, edges).select(
        F.col("norm").alias("entity"),
        F.col("canonical_norm").alias("community"),
    )


_SQL_TEMPORAL_COMMUNITIES = """
WITH RECURSIVE cooc AS ({cooc}),
pairs AS (
  SELECT least(e1, e2) AS a, greatest(e1, e2) AS b
  FROM cooc GROUP BY 1, 2
  HAVING SUM(total_overlap_us) >= 175 * 1000000
),
edges AS (
  SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs
),
reach(node, comp) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.node
)
SELECT node AS entity, MIN(comp) AS community FROM reach GROUP BY node
"""


def _q_kg_mentions_by_segment(spark: SparkSession, sf: str) -> DataFrame:
    """Topic-scoped entity mentions: the lexical-cohesion segmentation
    (textops/prepare.py::segment_conversations) joined onto the mention
    stream, aggregated per (conversation, segment, entity) — which
    entities each SECTION of a conversation is about, with its turn
    span.  Both inputs are per-conversation window passes; the join is a
    co-partitioned (conv_id, turn_idx) equi-join, and the aggregate is
    word-count-shaped."""
    from mopper_spark.pipeline.extract import extract_mentions
    from mopper_spark.pipeline.linking import normalize_surface
    from mopper_spark.textops.prepare import segment_conversations

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    segs = segment_conversations(tr)
    m = extract_mentions(tr).join(segs, ["conv_id", "turn_idx"])
    return (
        m.select(
            "conv_id",
            "seg_id",
            normalize_surface(F.col("surface")).alias("entity"),
            "turn_idx",
        )
        .groupBy("conv_id", "seg_id", "entity")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_mentions"),
            F.min("turn_idx").cast("long").alias("first_turn"),
            F.max("turn_idx").cast("long").alias("last_turn"),
        )
    )


def _mentions_by_segment_oracle_sql() -> str:
    from mopper_spark.pipeline.extract import MENTION_REGEX
    from mopper_spark.pipeline.linking import _ACCENTS, _FOLDED
    from mopper_spark.pipeline.transcripts import ENTITY_FORMS

    forms = ", ".join(f"'{f}'" for f, _ in ENTITY_FORMS)
    norm = (
        "trim(regexp_replace(regexp_replace(translate(lower({v}), "
        f"'{_ACCENTS}', '{_FOLDED}'), '\\.', '', 'g'), '\\s+', ' ', 'g'))"
    )
    return f"""
WITH seg AS ({_SQL_TRANSCRIPTS_SEGMENT}),
tr AS (SELECT * FROM read_parquet('{_TRANSCRIPTS_FIXTURE}')),
men AS (
  SELECT conv_id, turn_idx, surface FROM (
    SELECT conv_id, turn_idx,
           unnest(list_distinct(list_concat(
             regexp_extract_all(text, '{MENTION_REGEX}'),
             list_filter([{forms}], f -> contains(text, f))
           ))) AS surface
    FROM tr
  ) WHERE length(surface) >= 3
)
SELECT m.conv_id, s.seg_id, {norm.format(v="m.surface")} AS entity,
       CAST(COUNT(*) AS BIGINT) AS n_mentions,
       CAST(MIN(m.turn_idx) AS BIGINT) AS first_turn,
       CAST(MAX(m.turn_idx) AS BIGINT) AS last_turn
FROM men m JOIN seg s
  ON m.conv_id = s.conv_id AND m.turn_idx = s.turn_idx
GROUP BY 1, 2, 3
"""


def _q_kg_active_between(spark: SparkSession, sf: str) -> DataFrame:
    """The temporal-KG retrieval question the interval table exists for:
    which entities were being discussed during [t1, t2]?  An interval
    qualifies when it OVERLAPS the window (lo <= t2 AND hi >= t1,
    inclusive) — two pushed range filters over the intervals table (at
    scale: partition-prunable on a coarse valid_from_us bucket), then
    one per-(conv, entity) aggregate collapsing multiple qualifying
    intervals.  Window = minutes 5-15 of the fixture's hot conversation
    (conv_00000, the skew conv — the only one with hours of activity;
    conversations are a day apart, so any one window hits one conv)."""
    from mopper_spark.pipeline.temporal import entity_activity_intervals

    t1 = (1704067200 + 300) * 1_000_000
    t2 = (1704067200 + 900) * 1_000_000
    ints = entity_activity_intervals(_mentions_ts(spark), max_gap_s=60)
    return (
        ints.filter(
            (F.col("valid_from_us") <= F.lit(t2))
            & (F.col("valid_to_us") >= F.lit(t1))
        )
        .groupBy("conv_id", "entity")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_intervals"),
            F.sum("n_mentions").cast("long").alias("n_mentions"),
        )
    )


_SQL_ACTIVE_BETWEEN = f"""
WITH ints AS ({{ints}})
SELECT conv_id, entity,
       CAST(COUNT(*) AS BIGINT) AS n_intervals,
       CAST(SUM(n_mentions) AS BIGINT) AS n_mentions
FROM ints
WHERE valid_from_us <= {(1704067200 + 900) * 1_000_000}
  AND valid_to_us >= {(1704067200 + 300) * 1_000_000}
GROUP BY 1, 2
"""


def _q_kg_interval_cooccurrence(spark: SparkSession, sf: str) -> DataFrame:
    """Temporal co-occurrence (pipeline/temporal.py::interval_cooccurrence):
    entity pairs whose activity intervals OVERLAP within a conversation —
    stricter than the co-mention BGP (kg_bgp_comention), which only needs
    both entities somewhere in the same conversation.  The Spark side is
    the bucketed interval join (equi-join on (conv_id, time-bucket), pair
    counted once at the bucket of the later start); the oracle is the
    quadratic self-join DuckDB can afford at fixture scale, so the gate
    also proves the bucket-dedup trick exact."""
    from mopper_spark.pipeline.temporal import (
        entity_activity_intervals,
        interval_cooccurrence,
    )

    ints = entity_activity_intervals(_mentions_ts(spark), max_gap_s=60)
    return interval_cooccurrence(ints)


_SQL_INTERVAL_COOC = f"""
WITH ints AS ({_SQL_ENTITY_INTERVALS})
SELECT a.conv_id, a.entity AS e1, b.entity AS e2,
       CAST(SUM(least(a.valid_to_us, b.valid_to_us)
                - greatest(a.valid_from_us, b.valid_from_us)) AS BIGINT)
         AS total_overlap_us,
       CAST(COUNT(*) AS BIGINT) AS n_overlaps
FROM ints a
JOIN ints b
  ON a.conv_id = b.conv_id AND a.entity < b.entity
 AND least(a.valid_to_us, b.valid_to_us)
     >= greatest(a.valid_from_us, b.valid_from_us)
GROUP BY 1, 2, 3
"""


# BGP star query oracle: the same three-pattern self-join expressed directly
# over the string-built triple set (kg = the kg_graph_transcripts oracle).
_SQL_BGP_COMENTION = f"""
WITH kg AS ({_SQL_KG_GRAPH})
SELECT DISTINCT c1.obj AS conv, m1.obj AS e1, m2.obj AS e2
FROM kg m1
JOIN kg c1 ON m1.subj = c1.subj
JOIN kg c2 ON c1.obj = c2.obj
JOIN kg m2 ON c2.subj = m2.subj
WHERE m1.pred = 'http://example.com/ontology/mentions'
  AND m2.pred = 'http://example.com/ontology/mentions'
  AND c1.pred = 'http://example.com/ontology/inConversation'
  AND c2.pred = 'http://example.com/ontology/inConversation'
  AND m1.obj < m2.obj
"""


def _q_kg_bgp_aggregate(spark: SparkSession, sf: str) -> DataFrame:
    """SPARQL aggregation over a BGP solution (pipeline/bgp.py::
    bgp_aggregate):

        SELECT ?conv (COUNT(DISTINCT ?e) AS ?n_entities)
                     (COUNT(?e) AS ?n_mentions)
        WHERE { ?t ont:mentions ?e . ?t ont:inConversation ?conv }
        GROUP BY ?conv HAVING(COUNT(DISTINCT ?e) >= 2)

    — per-conversation entity fan-out over the extracted KG.  The BGP
    compiles to pushed-filter pattern relations joined on ``?t``; the
    aggregation is one Catalyst groupBy with a map-side partial."""
    from mopper_spark.pipeline.bgp import bgp_aggregate, bgp_match
    from mopper_spark.pipeline.extract import (
        extract_mentions,
        extract_triples,
        mention_triples,
    )

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    kg = extract_triples(tr).unionByName(mention_triples(extract_mentions(tr)))
    ont = "http://example.com/ontology/"
    sol = bgp_match(
        kg.select("subj", "pred", "obj"),
        [
            ("?t", ont + "mentions", "?e"),
            ("?t", ont + "inConversation", "?conv"),
        ],
        select=["conv", "e"],
    )
    return bgp_aggregate(
        sol,
        ["conv"],
        {
            "n_entities": "cast(count(distinct e) as long)",
            "n_mentions": "cast(count(e) as long)",
        },
        having="n_entities >= 2",
    )


_SQL_BGP_AGGREGATE = f"""
WITH kg AS ({_SQL_KG_GRAPH})
SELECT c.obj AS conv,
       CAST(COUNT(DISTINCT m.obj) AS BIGINT) AS n_entities,
       CAST(COUNT(m.obj) AS BIGINT) AS n_mentions
FROM kg m JOIN kg c ON m.subj = c.subj
WHERE m.pred = 'http://example.com/ontology/mentions'
  AND c.pred = 'http://example.com/ontology/inConversation'
GROUP BY c.obj
HAVING COUNT(DISTINCT m.obj) >= 2
"""


def _mention_edges(spark: SparkSession) -> DataFrame:
    """Undirected mention co-occurrence edges: normalized entity forms
    co-mentioned in one conversation of the transcripts fixture — the
    shared input of `mention_triangles` and `mention_pagerank`."""
    from mopper_spark.pipeline.extract import extract_mentions
    from mopper_spark.pipeline.linking import normalize_surface

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    cn = (
        extract_mentions(tr)
        .select("conv_id", normalize_surface(F.col("surface")).alias("norm"))
        .distinct()
    )
    a, b = cn.alias("a"), cn.alias("b")
    return (
        a.join(
            b,
            (F.col("a.conv_id") == F.col("b.conv_id"))
            & (F.col("a.norm") < F.col("b.norm")),
        )
        .select(F.col("a.norm").alias("a"), F.col("b.norm").alias("b"))
        .distinct()
    )


def _q_graph_link_prediction(spark: SparkSession, sf: str) -> DataFrame:
    """Adamic-Adar / common-neighbor link prediction (pipeline/graph.py::
    link_prediction) over the sf-driven tree+chord graph: which
    non-adjacent node pairs share the most (inverse-log-weighted)
    neighbors — the classic candidate-edge proposer (Liben-Nowell &
    Kleinberg CIKM'03).  Integer wedge weights floor(1e9/ln d) make the
    pair sums exact, so a single-threaded SQL engine is a strict oracle.
    The conversation-level mention graph is a near-clique (every pair
    adjacent → empty output), so the prediction target is the sparse
    synthetic graph shared with graph_clustering/graph_kcore."""
    from mopper_spark.pipeline.graph import link_prediction

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    e1 = docs.filter(F.col("doc_id") >= 2).select(
        F.col("doc_id").cast("long").alias("a"),
        F.expr("doc_id div 2").cast("long").alias("b"),
    )
    e2 = docs.filter(F.col("doc_id") >= 3).select(
        F.col("doc_id").cast("long").alias("a"),
        F.expr("doc_id div 3").cast("long").alias("b"),
    )
    return link_prediction(e1.union(e2))


def _q_mention_triangles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact per-node triangle counts over the mention co-occurrence graph
    (normalized entity forms co-mentioned in one conversation), via the
    degree-ordered node-iterator algorithm — wedge work is capped at
    O(sqrt(|E|)) per node, so one celebrity entity cannot become "the
    last reducer" (mopper_spark/pipeline/graph.py)."""
    from mopper_spark.pipeline.graph import triangle_counts

    return triangle_counts(_mention_edges(spark))


def _q_mention_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-point integer PageRank (3 iterations, damping 0.85, scale 1e9)
    over the mention co-occurrence graph — bit-reproducible under any
    partitioning because every reduction is an integer sum, which is what
    lets a single-threaded SQL engine serve as an exact oracle
    (mopper_spark/pipeline/graph.py::pagerank_fixed)."""
    from mopper_spark.pipeline.graph import pagerank_fixed

    return pagerank_fixed(_mention_edges(spark), iters=3, scale=10**9)


def _q_mention_communities(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic SYNCHRONOUS label propagation (3 rounds, argmax
    neighbor label with count-desc/label-asc tie-break — pipeline/
    graph.py::label_propagation) over the mention co-occurrence graph:
    community labels for every co-mentioned entity form.  Synchronous +
    total-order tie-break is what makes LPA engine-reproducible (the
    classic asynchronous variant is order-dependent by construction);
    the oracle unrolls the same 3 rounds in SQL."""
    from mopper_spark.pipeline.graph import label_propagation

    return label_propagation(_mention_edges(spark), rounds=3)


def _q_kg_entity_pmi(spark: SparkSession, sf: str) -> DataFrame:
    """Entity-level PMI collocation over conversations as contexts
    (pipeline/curate.py::entity_cooccurrence_pmi): which canonical-form
    entities co-occur more than their marginals predict — the candidate-
    relation proposer over the extracted mention stream.  One ln per
    output pair over an exact integer ratio; within-group pair generator
    capped at 1000 distinct entities per conversation (skew guard)."""
    from mopper_spark.pipeline.curate import entity_cooccurrence_pmi
    from mopper_spark.pipeline.extract import extract_mentions
    from mopper_spark.pipeline.linking import normalize_surface

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    cn = extract_mentions(tr).select(
        "conv_id", normalize_surface(F.col("surface")).alias("norm")
    )
    return entity_cooccurrence_pmi(cn, min_co=2)


def _entity_pmi_oracle_sql() -> str:
    """Same counts in DuckDB over the shared mentions CTE + accent-fold
    normalization (the fragments of _transcript_oracle_sqls)."""
    from mopper_spark.pipeline.extract import MENTION_REGEX
    from mopper_spark.pipeline.linking import _ACCENTS, _FOLDED
    from mopper_spark.pipeline.transcripts import ENTITY_FORMS

    forms = ", ".join(f"'{f}'" for f, _ in ENTITY_FORMS)
    norm = (
        "trim(regexp_replace(regexp_replace(translate(lower({v}), "
        f"'{_ACCENTS}', '{_FOLDED}'), '\\.', '', 'g'), '\\s+', ' ', 'g'))"
    )
    return f"""
WITH tr AS (SELECT * FROM read_parquet('{_TRANSCRIPTS_FIXTURE}')),
men AS (
  SELECT conv_id, turn_idx, surface FROM (
    SELECT conv_id, turn_idx,
           unnest(list_distinct(list_concat(
             regexp_extract_all(text, '{MENTION_REGEX}'),
             list_filter([{forms}], f -> contains(text, f))
           ))) AS surface
    FROM tr
  ) WHERE length(surface) >= 3
),
cn AS (SELECT DISTINCT conv_id AS g, {norm.format(v="surface")} AS e FROM men),
keepg AS (SELECT g FROM cn GROUP BY g HAVING COUNT(*) <= 1000),
cnk AS (SELECT cn.g, cn.e FROM cn JOIN keepg USING (g)),
c AS (SELECT COUNT(DISTINCT g) AS c FROM cn),
ent AS (SELECT e, CAST(COUNT(DISTINCT g) AS BIGINT) AS n_e FROM cnk GROUP BY e),
pairs AS (
  SELECT a.e AS e1, b.e AS e2, CAST(COUNT(*) AS BIGINT) AS n12
  FROM cnk a JOIN cnk b ON a.g = b.g AND a.e < b.e
  GROUP BY a.e, b.e HAVING COUNT(*) >= 2
)
SELECT e1, e2, n12, x.n_e AS n1, y.n_e AS n2,
       ln(CAST(n12 * c.c AS DOUBLE) / CAST(x.n_e * y.n_e AS DOUBLE)) AS pmi
FROM pairs JOIN ent x ON pairs.e1 = x.e JOIN ent y ON pairs.e2 = y.e, c
"""


_SQL_KG_ENTITY_PMI = _entity_pmi_oracle_sql()


def _q_kg_schema_graph(spark: SparkSession, sf: str) -> DataFrame:
    """Emergent-schema discovery (pipeline/curate.py::schema_cooccurrence):
    predicate pairs sharing subjects over the extracted KG, with exact
    subject-set sizes and Jaccard — star-planning statistics + mapping-
    rule QA.  Subject-keyed self-join bounded by schema width squared."""
    from mopper_spark.pipeline.curate import schema_cooccurrence
    from mopper_spark.pipeline.extract import (
        extract_mentions,
        extract_triples,
        mention_triples,
    )

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    kg = extract_triples(tr).unionByName(
        mention_triples(extract_mentions(tr))
    ).select("subj", "pred", "obj")
    return schema_cooccurrence(kg)


_SQL_KG_SCHEMA_GRAPH = f"""
WITH kg AS ({_SQL_KG_GRAPH}),
sp AS (SELECT DISTINCT subj, pred FROM kg),
sizes AS (SELECT pred, CAST(COUNT(*) AS BIGINT) AS n FROM sp GROUP BY pred),
pairs AS (
  SELECT a.pred AS p1, b.pred AS p2, CAST(COUNT(*) AS BIGINT) AS n_subjects
  FROM sp a JOIN sp b ON a.subj = b.subj AND a.pred < b.pred
  GROUP BY a.pred, b.pred
)
SELECT p1, p2, n_subjects, x.n AS n_p1, y.n AS n_p2,
       n_subjects / CAST(x.n + y.n - n_subjects AS DOUBLE) AS jaccard
FROM pairs JOIN sizes x ON pairs.p1 = x.pred JOIN sizes y ON pairs.p2 = y.pred
"""


def _q_kg_entity_trending(spark: SparkSession, sf: str) -> DataFrame:
    """Entity trending/burst detection: the rate-anomaly kernel
    (textops/joins.py::rate_anomaly) applied to the normalized mention
    stream with DAY buckets — "which entities are mentioned unusually
    often today" over exact integer S1/S2 statistics.  Pure composition:
    extract → normalize → turn-ts join → z-scores."""
    from mopper_spark.pipeline.extract import extract_mentions
    from mopper_spark.pipeline.linking import normalize_surface
    from mopper_spark.textops.joins import rate_anomaly

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    men = extract_mentions(tr).select(
        "conv_id", "turn_idx", normalize_surface(F.col("surface")).alias("norm")
    )
    with_ts = men.join(
        tr.select("conv_id", "turn_idx", "ts"), ["conv_id", "turn_idx"]
    ).select(F.col("norm").alias("event_type"), "ts")
    return rate_anomaly(with_ts, bucket_us=86_400_000_000)


def _entity_trending_oracle_sql() -> str:
    from mopper_spark.pipeline.extract import MENTION_REGEX
    from mopper_spark.pipeline.linking import _ACCENTS, _FOLDED
    from mopper_spark.pipeline.transcripts import ENTITY_FORMS

    forms = ", ".join(f"'{f}'" for f, _ in ENTITY_FORMS)
    norm = (
        "trim(regexp_replace(regexp_replace(translate(lower({v}), "
        f"'{_ACCENTS}', '{_FOLDED}'), '\\.', '', 'g'), '\\s+', ' ', 'g'))"
    )
    return f"""
WITH tr AS (SELECT * FROM read_parquet('{_TRANSCRIPTS_FIXTURE}')),
men AS (
  SELECT conv_id, turn_idx, surface FROM (
    SELECT conv_id, turn_idx,
           unnest(list_distinct(list_concat(
             regexp_extract_all(text, '{MENTION_REGEX}'),
             list_filter([{forms}], f -> contains(text, f))
           ))) AS surface
    FROM tr
  ) WHERE length(surface) >= 3
),
ev AS (
  SELECT {norm.format(v="m.surface")} AS event_type, t.ts AS ts
  FROM men m JOIN tr t USING (conv_id, turn_idx)
),
counts AS (
  SELECT event_type,
         CAST(epoch_us(ts) - epoch_us(ts) % 86400000000 AS BIGINT) AS bucket_us,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM ev GROUP BY 1, 2
), stats AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n) AS BIGINT) AS s1, CAST(SUM(n * n) AS BIGINT) AS s2
  FROM counts GROUP BY event_type
)
SELECT c.event_type, c.bucket_us, c.n,
       CASE WHEN s.k * s.s2 - s.s1 * s.s1 > 0
            THEN (c.n * s.k - s.s1)
                 / sqrt(CAST(s.k * s.s2 - s.s1 * s.s1 AS DOUBLE))
            ELSE 0.0 END AS z
FROM counts c JOIN stats s USING (event_type)
"""


_SQL_KG_ENTITY_TRENDING = _entity_trending_oracle_sql()


def _q_docs_source_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Pairwise source vocabulary overlap (textops/analysis.py::
    source_vocab_overlap): exact distinct-token set sizes, intersections
    and Jaccard for every source pair — the redundancy screen before
    mixture weighting.  Token-keyed self-join fan-out bounded by
    |sources|^2 per token."""
    from mopper_spark.textops.analysis import source_vocab_overlap

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return source_vocab_overlap(docs)


_SQL_SOURCE_OVERLAP = r"""
WITH st AS (
  SELECT DISTINCT source,
         unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                            x -> x <> '')) AS tok
  FROM documents
), sizes AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS v FROM st GROUP BY source
), inter AS (
  SELECT a.source AS s1, b.source AS s2, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT s1, s2, x.v AS v1, y.v AS v2, n_common,
       n_common / CAST(x.v + y.v - n_common AS DOUBLE) AS jaccard
FROM inter JOIN sizes x ON inter.s1 = x.source
           JOIN sizes y ON inter.s2 = y.source
"""


def _q_stream_interval_join(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-stream inner join with a time-range condition: purchases
    matched to same-user views at most 1 h older, both sides arriving as
    independent file streams in several micro-batches.  The watermark is
    set to the corpus's full time span so NO match can be lost to state
    eviction on the unsorted replay — making stream output == batch join
    provable (the oracle) — while the operator itself is the bounded-state
    scale path when sources arrive roughly time-ordered."""
    from mopper_spark.streaming import (
        interval_join_stream,
        stream_events,
        write_stream,
    )

    root = _scratch_root("stream_interval_join")
    src, out, ck = (os.path.join(root, d) for d in ("src", "out", "ck"))
    spark.read.schema(
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string"
    ).parquet(f"{sf}/events.parquet").repartition(4).write.parquet(src)

    purchases = (
        stream_events(spark, src, max_files_per_trigger=1)
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("purchase_id")
        )
    )
    views = (
        stream_events(spark, src, max_files_per_trigger=1)
        .filter(F.col("event_type") == "view")
        .select(
            "user_id", F.col("ts").alias("v_ts"), F.col("event_id").alias("view_id")
        )
    )
    j = interval_join_stream(
        purchases,
        views,
        by="user_id",
        left_ts="p_ts",
        right_ts="v_ts",
        max_span="1 hour",
        watermark="40 days",
    ).select(
        F.col("l.purchase_id").alias("purchase_id"),
        F.col("l.user_id").alias("user_id"),
        F.col("l.p_ts").alias("p_ts"),
        F.col("r.view_id").alias("view_id"),
        F.col("r.v_ts").alias("v_ts"),
    )
    q = write_stream(j, out, ck)
    q.awaitTermination(300)
    return spark.read.parquet(out).select(
        "purchase_id",
        "user_id",
        F.unix_micros("p_ts").alias("purchase_ts_us"),
        "view_id",
        F.unix_micros("v_ts").alias("view_ts_us"),
    )


_SQL_STREAM_INTERVAL_JOIN = """
SELECT p.event_id AS purchase_id, p.user_id,
       epoch_us(p.ts) AS purchase_ts_us,
       v.event_id AS view_id, epoch_us(v.ts) AS view_ts_us
FROM events p
JOIN events v
  ON p.event_type = 'purchase' AND v.event_type = 'view'
 AND p.user_id = v.user_id
 AND p.ts >= v.ts
 AND p.ts <= v.ts + INTERVAL 1 HOUR
"""


def _q_kg_stream_parity(spark: SparkSession, sf: str) -> DataFrame:
    """Structured-Streaming/batch parity: incremental triple extraction
    over the transcript fixture (file-source stream, one file per
    micro-batch, availableNow trigger) must emit EXACTLY the batch turn
    triples — strict-oracled by the same string-building SQL the batch
    flagship uses.  Stateless narrow extraction is the streaming scale
    path for continuously-arriving transcripts."""
    import atexit
    import shutil
    import tempfile

    from mopper_spark.streaming import (
        stream_extract,
        stream_transcripts,
        write_stream,
    )

    # one scratch root per process, wiped on re-entry and removed at exit —
    # repeated bench reps / gate runs no longer accumulate temp dirs
    root = os.path.join(tempfile.gettempdir(), f"kg_stream_parity_{os.getpid()}")
    if os.path.isdir(root):
        shutil.rmtree(root, ignore_errors=True)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    src_dir, out_dir, ck_dir = (os.path.join(root, d) for d in ("src", "out", "ck"))
    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    # ts is unused by extraction; cast NTZ→LTZ only to match the stream
    # reader's schema (output is ts-free, so TZ interpretation is moot)
    tr.withColumn("ts", F.col("ts").cast("timestamp")).repartition(4).write.parquet(src_dir)
    stream = stream_transcripts(spark, src_dir, max_files_per_trigger=1)
    write_stream(stream_extract(stream), out_dir, ck_dir).awaitTermination()
    return spark.read.parquet(out_dir)


def _scratch_root(tag: str) -> str:
    """Per-process scratch dir, wiped on re-entry, removed at exit (the
    kg_stream_parity pattern — repeated gate/bench runs don't accumulate)."""
    import atexit
    import shutil
    import tempfile

    root = os.path.join(tempfile.gettempdir(), f"{tag}_{os.getpid()}")
    if os.path.isdir(root):
        shutil.rmtree(root, ignore_errors=True)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def _q_events_rate_anomaly(spark: SparkSession, sf: str) -> DataFrame:
    """Per-type event-rate anomaly (textops/joins.py::rate_anomaly):
    z-score of each hour bucket's event COUNT against the type's own
    bucket distribution — exact integer S1/S2 statistics, one double
    z expression, integer zero-variance guard.  One count aggregate +
    a per-type stats broadcast."""
    from mopper_spark.textops.joins import rate_anomaly

    ev = spark.read.parquet(f"{sf}/events.parquet")
    return rate_anomaly(ev)


_SQL_EVENTS_RATE_ANOMALY = """
WITH counts AS (
  SELECT event_type,
         CAST(epoch_us(ts) - epoch_us(ts) % 3600000000 AS BIGINT) AS bucket_us,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), stats AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n) AS BIGINT) AS s1, CAST(SUM(n * n) AS BIGINT) AS s2
  FROM counts GROUP BY event_type
)
SELECT c.event_type, c.bucket_us, c.n,
       CASE WHEN s.k * s.s2 - s.s1 * s.s1 > 0
            THEN (c.n * s.k - s.s1)
                 / sqrt(CAST(s.k * s.s2 - s.s1 * s.s1 AS DOUBLE))
            ELSE 0.0 END AS z
FROM counts c JOIN stats s USING (event_type)
"""


def _q_events_cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort retention triangle (textops/joins.py::cohort_retention):
    users grouped by first-activity day; per (cohort, day) the exact
    distinct-active count and its cohort share.  One min-aggregate, one
    distinct projection joined back, a buckets²-row matrix."""
    from mopper_spark.textops.joins import cohort_retention

    ev = spark.read.parquet(f"{sf}/events.parquet")
    return cohort_retention(ev)


_SQL_COHORT_RETENTION = """
WITH acts AS (
  SELECT DISTINCT user_id,
         CAST(epoch_us(ts) - epoch_us(ts) % 86400000000 AS BIGINT) AS bucket_us
  FROM events
), cohorts AS (
  SELECT user_id, MIN(bucket_us) AS cohort_us FROM acts GROUP BY user_id
), sizes AS (
  SELECT cohort_us, CAST(COUNT(*) AS BIGINT) AS cohort_size
  FROM cohorts GROUP BY cohort_us
), cells AS (
  SELECT c.cohort_us, a.bucket_us, CAST(COUNT(*) AS BIGINT) AS n_active
  FROM acts a JOIN cohorts c USING (user_id)
  GROUP BY c.cohort_us, a.bucket_us
)
SELECT cells.cohort_us, cells.bucket_us, cells.n_active, sizes.cohort_size,
       cells.n_active / CAST(sizes.cohort_size AS DOUBLE) AS share
FROM cells JOIN sizes USING (cohort_us)
"""


def _q_events_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Conversion funnel (textops/joins.py::funnel_steps): users who
    signup, then view strictly later, then purchase strictly later still
    — earliest-chain rule.  k-1 user-keyed equi-joins against pushed
    single-type scans; min-aggregates only, no windows, no event lists."""
    from mopper_spark.textops.joins import funnel_steps

    ev = spark.read.parquet(f"{sf}/events.parquet")
    return funnel_steps(ev, ["signup", "view", "purchase"])


_SQL_EVENTS_FUNNEL = """
WITH s0 AS (
  SELECT user_id, MIN(CAST(epoch_us(ts) AS BIGINT)) AS t
  FROM events WHERE event_type = 'signup' GROUP BY user_id
), s1 AS (
  SELECT e.user_id, MIN(CAST(epoch_us(e.ts) AS BIGINT)) AS t
  FROM events e JOIN s0 ON e.user_id = s0.user_id
   AND CAST(epoch_us(e.ts) AS BIGINT) > s0.t
  WHERE e.event_type = 'view' GROUP BY e.user_id
), s2 AS (
  SELECT e.user_id, MIN(CAST(epoch_us(e.ts) AS BIGINT)) AS t
  FROM events e JOIN s1 ON e.user_id = s1.user_id
   AND CAST(epoch_us(e.ts) AS BIGINT) > s1.t
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
), base AS (
  SELECT GREATEST(COUNT(*), 1) AS b FROM s0
), counts AS (
  SELECT 0 AS step_idx, 'signup' AS step,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM s0) AS n_users
  UNION ALL
  SELECT 1, 'view', (SELECT CAST(COUNT(*) AS BIGINT) FROM s1)
  UNION ALL
  SELECT 2, 'purchase', (SELECT CAST(COUNT(*) AS BIGINT) FROM s2)
)
SELECT CAST(step_idx AS INT) AS step_idx, step, n_users,
       n_users / CAST((SELECT b FROM base) AS DOUBLE) AS share
FROM counts
"""


def _q_events_survival(spark: SparkSession, sf: str) -> DataFrame:
    """Kaplan-Meier survival curve for signup→purchase conversion time
    (textops/joins.py::survival_km): per duration day the at-risk count,
    events, censored, and the product-limit survival estimate — computed
    as an INTEGER fixed-point fold (exact long division per step), so a
    single-threaded SQL engine replays the identical recurrence.  The
    day axis is bounded by the corpus time span, never its row count."""
    from mopper_spark.textops.joins import survival_km

    ev = spark.read.parquet(f"{sf}/events.parquet")
    return survival_km(ev, "signup", "purchase")


_SQL_EVENTS_SURVIVAL = """
WITH RECURSIVE typed AS (
  SELECT user_id, event_type AS etype, CAST(epoch_us(ts) AS BIGINT) AS ts_us
  FROM events
), starts AS (
  SELECT user_id, MIN(ts_us) AS t0 FROM typed WHERE etype = 'signup'
  GROUP BY user_id
), fe AS (
  SELECT t.user_id, MIN(t.ts_us) AS t1
  FROM typed t JOIN starts s ON t.user_id = s.user_id AND t.ts_us > s.t0
  WHERE t.etype = 'purchase' GROUP BY t.user_id
), durs AS (
  SELECT CASE WHEN fe.t1 IS NOT NULL
              THEN (fe.t1 - s.t0) // 86400000000
              ELSE ((SELECT MAX(ts_us) FROM typed) - s.t0) // 86400000000
         END AS t_days,
         fe.t1 IS NOT NULL AS observed
  FROM starts s LEFT JOIN fe ON s.user_id = fe.user_id
), per_day AS (
  SELECT t_days,
         CAST(SUM(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT) AS d,
         CAST(SUM(CASE WHEN observed THEN 0 ELSE 1 END) AS BIGINT) AS c
  FROM durs GROUP BY t_days
), ord AS (
  SELECT t_days, d, c,
         ROW_NUMBER() OVER (ORDER BY t_days) AS rn,
         CAST((SELECT SUM(d + c) FROM per_day)
              - COALESCE(SUM(d + c) OVER (ORDER BY t_days
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS n_risk
  FROM per_day
), km AS (
  SELECT rn, t_days, n_risk, d, c,
         CAST((1000000000000000 // n_risk) * (n_risk - d)
              + ((1000000000000000 % n_risk) * (n_risk - d)) // n_risk
           AS BIGINT) AS s
  FROM ord WHERE rn = 1
  UNION ALL
  SELECT o.rn, o.t_days, o.n_risk, o.d, o.c,
         CAST((k.s // o.n_risk) * (o.n_risk - o.d)
              + ((k.s % o.n_risk) * (o.n_risk - o.d)) // o.n_risk
           AS BIGINT) AS s
  FROM km k JOIN ord o ON o.rn = k.rn + 1
)
SELECT t_days, n_risk, d AS n_events, c AS n_censored, s AS s_fp,
       CAST(s AS DOUBLE) / 1000000000000000.0 AS survival
FROM km
"""


def _q_events_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """OLAP ROLLUP lattice (textops/olap.py::rollup_metrics) over
    event_type × day: detail rows, per-type subtotals, and the grand
    total in ONE Expand+aggregate job (single Exchange — pinned in
    tests/test_olap.py), each row tagged with the grouping-ID bitmask.
    Measures are COUNT and an integer cents sum, so DuckDB's ROLLUP with
    the identical GROUPING bitmask is a strict oracle.  Subtotal rows'
    NULL day_us is re-rendered as the -1 sentinel (gid disambiguates;
    a real day cannot be negative): a nullable BIGINT becomes float64
    on the pandas/Arrow oracle fetch path — the r2 HUGEINT divergence
    class the fetch-path sweep (tests/test_driver_contract.py) pins."""
    from mopper_spark.textops.olap import rollup_metrics

    ev = spark.read.parquet(f"{sf}/events.parquet")
    ep = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    base = ev.select(
        "event_type",
        F.expr(f"{ep} - {ep} % 86400000000").cast("long").alias("day_us"),
        "value",
    )
    lat = rollup_metrics(base, ["event_type", "day_us"], "value")
    return lat.select(
        "event_type",
        F.coalesce(F.col("day_us"), F.lit(-1)).cast("long").alias("day_us"),
        "gid",
        "n",
        "value_fp",
    )


_SQL_EVENTS_ROLLUP = """
WITH base AS (
  SELECT event_type,
         CAST(epoch_us(ts) - epoch_us(ts) % 86400000000 AS BIGINT) AS day_us,
         value
  FROM events
)
SELECT event_type, COALESCE(day_us, -1) AS day_us,
       CAST(GROUPING(event_type, day_us) AS BIGINT) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(value * 100.0) AS BIGINT)) AS BIGINT) AS value_fp
FROM base GROUP BY ROLLUP(event_type, day_us)
"""


def _q_events_bloom_semi(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom runtime-filtered semi-join (textops/bloom.py): all events of
    a deterministic ~10% md5-bucket cohort of purchasing users (the
    engine-portable hash-split idiom — selectivity is sf-STABLE, unlike
    any per-user count threshold, which saturates as events/user grow
    with sf).  The cohort's key set is collapsed to a 64 Kbit broadcast
    bitmap that prunes the probe side BEFORE the confirming semi-join's
    Exchange; output is exact for any FP rate, so the oracle is a plain
    SEMI JOIN."""
    from mopper_spark.textops.bloom import bloom_semi_join

    ev = spark.read.parquet(f"{sf}/events.parquet")
    cohort = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .filter(
            F.md5(F.concat(F.lit("bloomq"), F.col("user_id").cast("string")))
            < "1a"
        )
    )
    return bloom_semi_join(
        ev.select("event_id", "user_id", "event_type"),
        cohort,
        "user_id",
        m_bits=1 << 16,
    )


_SQL_EVENTS_BLOOM_SEMI = """
SELECT event_id, user_id, event_type
FROM events
WHERE user_id IN (
  SELECT DISTINCT user_id FROM events
  WHERE event_type = 'purchase'
    AND md5(concat('bloomq', CAST(user_id AS VARCHAR))) < '1a'
)
"""


def _q_events_session_paths(spark: SparkSession, sf: str) -> DataFrame:
    """Sequential pattern mining (textops/joins.py::session_paths):
    corpus-wide counts of every consecutive event-type trigram within a
    (user, day) session, ordered by (ts, event_id) — deterministic under
    ties.  Per-session local sorts only (collect→array_sort→slide, the
    prepare.py idiom); output bounded by |event types|³.  The oracle
    derives the same trigrams by ROW_NUMBER self-joins."""
    from mopper_spark.textops.joins import session_paths

    ev = spark.read.parquet(f"{sf}/events.parquet")
    return session_paths(ev, n=3)


_SQL_EVENTS_SESSION_PATHS = """
WITH t AS (
  SELECT user_id,
         CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
         event_type AS etype,
         ROW_NUMBER() OVER (
           PARTITION BY user_id, CAST(epoch_us(ts) AS BIGINT) // 86400000000
           ORDER BY CAST(epoch_us(ts) AS BIGINT), event_id) AS rn
  FROM events
)
SELECT a.etype AS t1, b.etype AS t2, c.etype AS t3,
       CAST(COUNT(*) AS BIGINT) AS n_paths
FROM t a
JOIN t b ON b.user_id = a.user_id AND b.day = a.day AND b.rn = a.rn + 1
JOIN t c ON c.user_id = a.user_id AND c.day = a.day AND c.rn = a.rn + 2
GROUP BY 1, 2, 3
"""


def _q_events_ivm_delta(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental view maintenance (textops/ivm.py::ivm_update): the
    per-(user, event_type) (count, sum, max) view is bootstrapped over 80%
    of events, then a changelog (the remaining 20% as inserts + every 7th
    base row as a retract) is merged WITHOUT a base rescan — count/sum by
    self-maintainable delta merge, max by dirty-key-only multiset
    recompute (Gupta–Mumick).  The oracle is the semantic spec itself: a
    direct aggregate over the effective post-changelog multiset, so the
    gate proves the incremental path reproduces the full recompute."""
    from mopper_spark.textops.ivm import agg_snapshot, ivm_update

    keys = ["user_id", "event_type"]
    ev = spark.read.parquet(f"{sf}/events.parquet").select(
        "event_id",
        *keys,
        F.floor(F.col("value") * 100.0).cast("long").alias("value_fp"),
    )
    detail = ev.filter(F.col("event_id") % 5 != 0)
    base = agg_snapshot(detail, keys, "value_fp")
    changelog = (
        ev.filter(F.col("event_id") % 5 == 0)
        .withColumn("op", F.lit(1))
        .unionByName(
            detail.filter(F.col("event_id") % 7 == 0).withColumn("op", F.lit(-1))
        )
        .select(*keys, "value_fp", "op")
    )
    return ivm_update(base, changelog, detail, keys).select(
        F.col("user_id").cast("long").alias("user_id"),
        "event_type",
        "cnt",
        "total",
        "mx",
    )


_SQL_EVENTS_IVM_DELTA = """
SELECT CAST(user_id AS BIGINT) AS user_id, event_type,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(SUM(CAST(FLOOR(value * 100.0) AS BIGINT)) AS BIGINT) AS total,
       CAST(MAX(CAST(FLOOR(value * 100.0) AS BIGINT)) AS BIGINT) AS mx
FROM events
WHERE NOT (event_id % 5 <> 0 AND event_id % 7 = 0)
GROUP BY 1, 2
"""


def _q_events_rfm(spark: SparkSession, sf: str) -> DataFrame:
    """RFM customer scoring (textops/joins.py::rfm_scores): recency /
    frequency / monetary per purchasing user, each quintile-scored by
    EXACT nearest-rank value boundaries (ties deterministic — the
    property ntile cannot give), recency inverted so 5 = most recent."""
    from mopper_spark.textops.joins import rfm_scores

    ev = spark.read.parquet(f"{sf}/events.parquet")
    return rfm_scores(ev)


_SQL_EVENTS_RFM = """
WITH typed AS (
  SELECT user_id, event_type AS etype, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
         value AS v
  FROM events
), per_user AS (
  SELECT user_id,
         CAST(((SELECT MAX(ts_us) FROM typed) - MAX(ts_us)) // 86400000000
           AS BIGINT) AS recency_days,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM(CAST(FLOOR(v * 100.0) AS BIGINT)) AS BIGINT) AS monetary_fp
  FROM typed WHERE etype = 'purchase' GROUP BY user_id
), m AS (
  SELECT user_id, 'recency' AS metric, recency_days AS v FROM per_user
  UNION ALL SELECT user_id, 'frequency', frequency FROM per_user
  UNION ALL SELECT user_id, 'monetary', monetary_fp FROM per_user
), r AS (
  SELECT metric, v, ROW_NUMBER() OVER (PARTITION BY metric ORDER BY v) AS rn,
         COUNT(*) OVER (PARTITION BY metric) AS n
  FROM m
), b AS (
  SELECT metric,
         MAX(CASE WHEN rn = CAST(CEIL(n * 0.2) AS BIGINT) THEN v END) AS p20,
         MAX(CASE WHEN rn = CAST(CEIL(n * 0.4) AS BIGINT) THEN v END) AS p40,
         MAX(CASE WHEN rn = CAST(CEIL(n * 0.6) AS BIGINT) THEN v END) AS p60,
         MAX(CASE WHEN rn = CAST(CEIL(n * 0.8) AS BIGINT) THEN v END) AS p80
  FROM r GROUP BY metric
), s AS (
  SELECT user_id, metric,
         1 + CAST(v > p20 AS INT) + CAST(v > p40 AS INT)
           + CAST(v > p60 AS INT) + CAST(v > p80 AS INT) AS score
  FROM m JOIN b USING (metric)
), wide AS (
  SELECT user_id,
         CAST(6 - MAX(CASE WHEN metric = 'recency' THEN score END) AS INT) AS r_score,
         CAST(MAX(CASE WHEN metric = 'frequency' THEN score END) AS INT) AS f_score,
         CAST(MAX(CASE WHEN metric = 'monetary' THEN score END) AS INT) AS m_score
  FROM s GROUP BY user_id
)
SELECT p.user_id, p.recency_days, p.frequency, p.monetary_fp,
       w.r_score, w.f_score, w.m_score,
       CAST(w.r_score AS VARCHAR) || CAST(w.f_score AS VARCHAR)
         || CAST(w.m_score AS VARCHAR) AS rfm
FROM per_user p JOIN wide w USING (user_id)
"""


def _q_events_global_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT corpus-wide order statistics without a global sort
    (textops/analysis.py::global_order_statistics): iterative histogram
    narrowing over the integer cents column — per round one pushed-range
    scan and one ≤4096-row metadata collect; 2-3 rounds pin every
    nearest-rank target exactly.  The single-group scale path that
    group_quantiles' contract defers to."""
    from mopper_spark.textops.analysis import global_order_statistics

    ev = spark.read.parquet(f"{sf}/events.parquet")
    cents = ev.select(
        F.floor(F.col("value") * 100.0).cast("long").alias("cents")
    )
    return global_order_statistics(cents, "cents", qs=(0.5, 0.9, 0.99))


_SQL_EVENTS_GLOBAL_QUANTILES = """
WITH v AS (
  SELECT CAST(FLOOR(value * 100.0) AS BIGINT) AS v FROM events
  WHERE value IS NOT NULL
), r AS (
  SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn, COUNT(*) OVER () AS n FROM v
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n,
       (SELECT MIN(v) FROM v) AS min_v,
       (SELECT MAX(v) FROM v) AS max_v,
       MAX(CASE WHEN rn = CAST(CEIL(n * 0.5) AS BIGINT) THEN v END) AS p50,
       MAX(CASE WHEN rn = CAST(CEIL(n * 0.9) AS BIGINT) THEN v END) AS p90,
       MAX(CASE WHEN rn = CAST(CEIL(n * 0.99) AS BIGINT) THEN v END) AS p99
FROM r
"""


def _q_events_skew_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Hot-key audit (textops/analysis.py::skew_profile): the 20
    heaviest user_ids with exact counts and ppm shares — the
    pre-shuffle diagnostic that decides salting/AQE-skew handling.
    Deterministic (count DESC, key ASC) rank."""
    from mopper_spark.textops.analysis import skew_profile

    ev = spark.read.parquet(f"{sf}/events.parquet")
    return skew_profile(ev, ["user_id"], top_k=20)


_SQL_EVENTS_SKEW_PROFILE = """
WITH counts AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY user_id
), ranked AS (
  SELECT user_id, n,
         ROW_NUMBER() OVER (ORDER BY n DESC, user_id ASC) AS rank
  FROM counts
)
SELECT user_id, n,
       CAST((n * 1000000) // (SELECT SUM(n) FROM counts) AS BIGINT) AS share_ppm,
       CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 20
"""


def _q_docs_edit_distance_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Typo-tolerant string similarity self-join (textops/similarity.py::
    edit_distance_join): all vocabulary pairs within Levenshtein
    distance 2, via FastSS deletion-neighborhood signatures (recall-
    complete candidate buckets, exact JVM levenshtein verify — never a
    brute-force pair space).  The ORACLE is the brute-force cross join
    (DuckDB levenshtein), so the gate proves the signature scheme loses
    nothing."""
    from mopper_spark.textops.analysis import tokens
    from mopper_spark.textops.similarity import edit_distance_join

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    vocab = (
        docs.select(F.explode(tokens(F.col("text"))).alias("s"))
        .distinct()
        .select(F.col("s").alias("id"), "s")  # the token is its own id
    )
    return edit_distance_join(vocab, "id", "s", k=2).select(
        "id_a", "id_b", "dist"
    )


_SQL_DOCS_EDIT_PAIRS = """
WITH vocab AS (
  SELECT DISTINCT unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                                     x -> x <> '')) AS s
  FROM documents
)
SELECT a.s AS id_a, b.s AS id_b,
       CAST(levenshtein(a.s, b.s) AS INT) AS dist
FROM vocab a JOIN vocab b ON a.s < b.s
WHERE levenshtein(a.s, b.s) <= 2
"""


def _q_graph_random_walks(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic DeepWalk corpus (pipeline/graph.py::random_walks)
    over the tree+chord graph: 4-step walks, neighbor choice =
    argmin md5(seed:walk:step:neighbor) — hash-uniform yet
    bit-reproducible, which is what lets the oracle unroll the same
    argmin per step.  Per step one frontier-adjacency join + one
    associative min aggregate."""
    from mopper_spark.pipeline.graph import random_walks

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    e1 = docs.filter(F.col("doc_id") >= 2).select(
        F.col("doc_id").cast("long").alias("a"),
        F.expr("doc_id div 2").cast("long").alias("b"),
    )
    e2 = docs.filter(F.col("doc_id") >= 3).select(
        F.col("doc_id").cast("long").alias("a"),
        F.expr("doc_id div 3").cast("long").alias("b"),
    )
    return random_walks(e1.union(e2), walk_len=4, walks_per_node=1)


def _walks_oracle_sql() -> str:
    steps = []
    prev = "starts"
    for t in (1, 2, 3, 4):
        steps.append(
            f"""s{t} AS (
  SELECT f.walk_id,
         CAST(split_part(MIN(md5('walk-v1:' || f.walk_id || ':{t}:'
                || CAST(sym.dst AS VARCHAR)) || '|' || CAST(sym.dst AS VARCHAR)),
              '|', 2) AS BIGINT) AS node
  FROM {prev} f JOIN sym ON sym.src = f.node GROUP BY f.walk_id)"""
        )
        prev = f"s{t}"
    selects = ["SELECT walk_id, CAST(0 AS INT) AS step, node FROM starts"] + [
        f"SELECT walk_id, CAST({t} AS INT), node FROM s{t}" for t in (1, 2, 3, 4)
    ]
    return f"""
WITH e_raw AS (
  SELECT CAST(doc_id AS BIGINT) AS a, CAST(doc_id // 2 AS BIGINT) AS b
  FROM documents WHERE doc_id >= 2
  UNION ALL
  SELECT CAST(doc_id AS BIGINT), CAST(doc_id // 3 AS BIGINT)
  FROM documents WHERE doc_id >= 3
), ed AS (
  SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
  FROM e_raw WHERE a <> b
), sym AS (
  SELECT u AS src, v AS dst FROM ed UNION ALL SELECT v AS src, u AS dst FROM ed
), starts AS (
  SELECT CAST(src AS VARCHAR) || '#0' AS walk_id, src AS node
  FROM (SELECT DISTINCT src FROM sym)
),
{",".join(steps)}
{" UNION ALL ".join(selects)}
"""


_SQL_GRAPH_RANDOM_WALKS = _walks_oracle_sql()


def _q_docs_source_hll_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """HLL sketch SET ALGEBRA (textops/sketches.py::hll_set_algebra):
    per source-pair the sketched distinct-token counts of A, B, A∪B
    (per-bucket register max — the HLL closure property) and the
    inclusion-exclusion intersection — cross-source vocabulary overlap
    from 4096-cell sketches, never a cross-source exact distinct.  The
    sketch-free exact twin is docs_source_overlap; this is the one that
    still runs when each source is 10 TB."""
    from mopper_spark.textops.analysis import tokens
    from mopper_spark.textops.sketches import hll_set_algebra

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    toks = docs.select(
        F.col("source").alias("g"), F.explode(tokens(F.col("text"))).alias("v")
    )
    return hll_set_algebra(toks, "g", "v")


def _hll_overlap_oracle_sql() -> str:
    est = (
        "CASE WHEN (0.7213 / (1.0 + 1.079 / 4096.0)) * 4096.0 * 4096.0"
        " * 1125899906842624.0 / s_fp <= 2.5 * 4096.0 AND v_zero > 0"
        " THEN 4096.0 * ln(4096.0 / CAST(v_zero AS DOUBLE))"
        " ELSE (0.7213 / (1.0 + 1.079 / 4096.0)) * 4096.0 * 4096.0"
        " * 1125899906842624.0 / s_fp END"
    )
    sfp = (
        "SELECT {keys}, CAST(4096 - n_present AS BIGINT) AS v_zero,"
        " CAST(s_present + (4096 - n_present) * 1125899906842624 AS BIGINT) AS s_fp"
        " FROM {src}"
    )
    return f"""
WITH toks AS (
  SELECT source AS g,
         unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                            x -> x <> '')) AS v
  FROM documents
), r AS (
  SELECT g, ('0x' || substr(md5(v), 1, 3))::BIGINT AS bucket,
         ('0x' || substr(md5(v), 4, 12))::BIGINT AS w
  FROM toks WHERE v IS NOT NULL
), regs AS (
  SELECT g, bucket,
         MAX(CASE WHEN w = 0 THEN 49 ELSE 49 - length(bin(w)) END) AS mj
  FROM r GROUP BY g, bucket
), per AS (
  SELECT g, COUNT(*) AS n_present,
         CAST(SUM((1::BIGINT) << (50 - mj)) AS BIGINT) AS s_present
  FROM regs GROUP BY g
), perest AS (
  SELECT g, {est} AS estimate FROM ({sfp.format(keys="g", src="per")})
), pairs AS (
  SELECT a.g AS group_a, b.g AS group_b
  FROM (SELECT DISTINCT g FROM regs) a JOIN (SELECT DISTINCT g FROM regs) b
    ON a.g < b.g
), merged AS (
  SELECT p.group_a, p.group_b, rg.bucket, MAX(rg.mj) AS mj
  FROM pairs p JOIN regs rg ON rg.g = p.group_a OR rg.g = p.group_b
  GROUP BY 1, 2, 3
), uni AS (
  SELECT group_a, group_b, COUNT(*) AS n_present,
         CAST(SUM((1::BIGINT) << (50 - mj)) AS BIGINT) AS s_present
  FROM merged GROUP BY 1, 2
), uniest AS (
  SELECT group_a, group_b, {est} AS est_union
  FROM ({sfp.format(keys="group_a, group_b", src="uni")})
)
SELECT u.group_a, u.group_b, ea.estimate AS est_a, eb.estimate AS est_b,
       u.est_union,
       GREATEST(0.0, ea.estimate + eb.estimate - u.est_union) AS est_intersection
FROM uniest u
JOIN perest ea ON ea.g = u.group_a
JOIN perest eb ON eb.g = u.group_b
"""


_SQL_DOCS_SOURCE_HLL_OVERLAP = _hll_overlap_oracle_sql()


def _q_docs_zorder_files(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order layout assignment (textops/layout.py): Morton key over
    (n_chars, doc_id) and an exact nearest-rank-boundary file id — the
    OPTIMIZE ZORDER BY primitive; a min/max-skipping scan filtered on
    EITHER dimension then touches a minority of files (pinned in
    tests/test_layout.py).  Boundaries come from the sort-free
    global_order_statistics, so there is no global sort anywhere."""
    from mopper_spark.textops.layout import zorder_files

    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    return zorder_files(docs, ["n_chars", "doc_id"], n_files=8, bits=10)


def _zorder_oracle_sql() -> str:
    terms = []
    for j, c in enumerate(["n_chars", "doc_id"]):
        for i in range(10):
            terms.append(f"(((CAST({c} AS BIGINT) >> {i}) & 1) << {i * 2 + j})")
    z = " + ".join(terms)
    bounds = ", ".join(
        f"MAX(CASE WHEN rn = CAST(CEIL(n * ({i}/8.0)) AS BIGINT) THEN zval END) AS p{i}"
        for i in range(1, 8)
    )
    fid = " + ".join(f"CAST(k.zval > b.p{i} AS INT)" for i in range(1, 8))
    return f"""
WITH keyed AS (
  SELECT doc_id, n_chars, CAST({z} AS BIGINT) AS zval FROM documents
), r AS (
  SELECT zval, ROW_NUMBER() OVER (ORDER BY zval) AS rn, COUNT(*) OVER () AS n
  FROM keyed
), b AS (
  SELECT {bounds} FROM r
)
SELECT k.doc_id, k.n_chars, k.zval, CAST({fid} AS INT) AS file_id
FROM keyed k CROSS JOIN b
"""


_SQL_DOCS_ZORDER_FILES = _zorder_oracle_sql()


def _q_docs_stratified_split(spark: SparkSession, sf: str) -> DataFrame:
    """Exact stratified train/val/test split (textops/sampling.py::
    stratified_split): within each source the split sizes are exactly
    floor(n * cum_weight) — the per-stratum-count guarantee hash_split
    trades away.  One rank window per stratum, ppm-quantized integer
    boundaries so Spark and the oracle cut identically."""
    from mopper_spark.textops.sampling import stratified_split

    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "source"
    )
    return stratified_split(docs, "source", "doc_id")


_SQL_STRATIFIED_SPLIT = """
WITH ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5(concat('strat-v1', CAST(doc_id AS VARCHAR))) ASC,
                    CAST(doc_id AS VARCHAR) ASC
         ) AS rk,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM documents
)
SELECT doc_id, source,
       CASE WHEN rk <= (n * 800000) // 1000000 THEN 'train'
            WHEN rk <= (n * 900000) // 1000000 THEN 'val'
            ELSE 'test' END AS split
FROM ranked
"""


def _q_events_asof_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join (purchase → most recent prior view per user): union +
    single hash partition + running `last ignorenulls` window — ONE
    shuffle, never a per-key cross product (mopper_spark/textops/joins.py).
    Strict oracle: DuckDB's native ASOF LEFT JOIN.  Timestamps are emitted
    as epoch microseconds (TZ- and fetch-path-proof); (user_id, ts) is
    globally unique in the fixture so the match is deterministic."""
    from mopper_spark.textops.joins import asof_join

    ev = spark.read.schema(
        "event_id long, ts timestamp_ntz, user_id long, event_type string"
    ).parquet(f"{sf}/events.parquet")
    epoch = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {})"
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id")
    )
    joined = asof_join(
        purchases, views, by="user_id", on="ts", right_cols=["view_id"]
    )
    # no-match sentinel -1 instead of NULL: a nullable BIGINT becomes
    # float64 through pandas/Arrow oracle fetch paths ("123.0" vs "123"),
    # the same divergence class as the r2 HUGEINT bug — the fetch-path
    # sweep (tests/test_driver_contract.py) pins this
    return joined.select(
        "purchase_id",
        "user_id",
        F.expr(epoch.format("ts")).alias("purchase_ts_us"),
        F.coalesce("view_id_right", F.lit(-1)).alias("view_id"),
        F.coalesce(F.expr(epoch.format("ts_right")), F.lit(-1)).alias(
            "view_ts_us"
        ),
    )


_SQL_EVENTS_ASOF = """
SELECT p.event_id AS purchase_id, p.user_id,
       epoch_us(p.ts) AS purchase_ts_us,
       COALESCE(v.event_id, -1) AS view_id,
       COALESCE(epoch_us(v.ts), -1) AS view_ts_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id AND p.ts >= v.ts
"""


def _q_events_value_bands(spark: SparkSession, sf: str) -> DataFrame:
    """Interval/range join via fixed-width bucketing: overlapping value
    bands derived from the nation table (stride 20, width 30 — every fact
    can match two bands), exploded into bucket ids and equi-joined with a
    residual predicate.  A broadcast HASH join where Catalyst would
    otherwise pick a nested-loop theta join; cost is O(|facts| ×
    bands-per-bucket), not |facts| × |bands|."""
    from mopper_spark.textops.joins import range_join_buckets

    ev = spark.read.schema("event_id long, value double").parquet(
        f"{sf}/events.parquet"
    )
    bands = (
        spark.read.parquet(f"{sf}/nation.parquet")
        .select(
            F.col("n_nationkey").cast("long").alias("band_id"),
            (F.col("n_nationkey") * 20.0).alias("lo"),
            (F.col("n_nationkey") * 20.0 + 30.0).alias("hi"),
        )
    )
    return range_join_buckets(
        ev, bands, "value", "lo", "hi", bucket_width=20.0
    ).select("event_id", "value", "band_id", "lo", "hi")


# the CASTs to DOUBLE are load-bearing: DuckDB's 20.0 literal is
# DECIMAL(3,1), and a DECIMAL output column renders "30.0" where Spark's
# DOUBLE renders "30" — same fetch-path/format class as the HUGEINT bug
_SQL_EVENTS_RANGE = """
SELECT e.event_id, e.value, CAST(n.n_nationkey AS BIGINT) AS band_id,
       CAST(n.n_nationkey * 20.0 AS DOUBLE) AS lo,
       CAST(n.n_nationkey * 20.0 + 30.0 AS DOUBLE) AS hi
FROM events e
JOIN nation n
  ON e.value >= n.n_nationkey * 20.0 AND e.value < n.n_nationkey * 20.0 + 30.0
"""


def _q_events_sessions_stream(spark: SparkSession, sf: str) -> DataFrame:
    """Structured-Streaming gap sessionization: the built-in
    ``session_window`` + event-time watermark, drained with availableNow.
    Append mode emits exactly the sessions finalized by the final
    watermark; the oracle replicates that cutoff in SQL (see
    _SQL_EVENTS_SESSIONS_STREAM for the exact emission rule).  Epoch-µs
    output columns keep the hash TZ- and fetch-path-proof."""
    from mopper_spark.streaming import (
        sessionize_stream,
        stream_events,
        write_stream,
    )

    root = _scratch_root("events_sessions_stream")
    src, out, ck = (os.path.join(root, d) for d in ("src", "out", "ck"))
    spark.read.schema(
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string"
    ).parquet(f"{sf}/events.parquet").repartition(4).write.parquet(src)

    q = write_stream(
        sessionize_stream(
            stream_events(spark, src), gap="30 minutes", watermark="1 hour"
        ),
        out,
        ck,
    )
    q.awaitTermination(300)
    # session_start/end are UTC-instant TIMESTAMPs (see as_utc_instant);
    # unix_micros is the TZ-free instant→µs conversion (a timestampdiff
    # against an NTZ literal would consult the session timezone here)
    return spark.read.parquet(out).select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        "n_events",
    )


# Emission rule measured empirically (two boundary probes, µs-grain):
# append mode emits a session iff
#   session_end <= floor_to_ms(max event ts over ALL data) - watermark_delay
# — INCLUSIVE at the boundary, and the watermark truncates the max event
# time to milliseconds (a session ending 300 µs past the truncated cutoff
# is held back even though the raw max-ts arithmetic would release it).
# Session semantics: merge is INCLUSIVE at the boundary — a gap exactly
# equal to the gap duration still merges (measured: events 10 s apart with
# a 10 s gap form ONE session), so the break rule is diff > gap, the same
# convention as the batch events_sessionize query.  Pinned by
# tests/test_streaming.py.  All timestamps compared as epoch µs (TZ-free).
_SQL_EVENTS_SESSIONS_STREAM = """
WITH ev AS (SELECT user_id, ts FROM events),
wm AS (SELECT (epoch_us(MAX(ts)) // 1000) * 1000
              - CAST(3600 AS BIGINT) * 1000000 AS cutoff_us
       FROM ev),
o AS (
  SELECT user_id, ts,
         CASE WHEN prev_ts IS NULL
                   OR epoch_us(ts) - epoch_us(prev_ts) > 1800 * 1000000
              THEN 1 ELSE 0 END AS brk
  FROM (SELECT user_id, ts,
               LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        FROM ev)
),
s AS (SELECT user_id, ts,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM o),
g AS (SELECT user_id,
             MIN(epoch_us(ts)) AS session_start_us,
             MAX(epoch_us(ts)) + 1800 * 1000000 AS session_end_us,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM s GROUP BY user_id, sid)
SELECT user_id, session_start_us, session_end_us, n_events
FROM g, wm
WHERE session_end_us <= cutoff_us
"""


def _q_stream_dedup_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming exact-dedup ledger: per-fingerprint running counts held in
    applyInPandasWithState state across 4 micro-batches
    (maxFilesPerTrigger=1); the final ledger row per fingerprint (max of
    the running counts) must equal the batch GROUP BY."""
    from mopper_spark.streaming import dedup_counts_stream, write_stream

    root = _scratch_root("stream_dedup_counts")
    src, out, ck = (os.path.join(root, d) for d in ("src", "out", "ck"))
    spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text"
    ).repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = write_stream(dedup_counts_stream(stream), out, ck, output_mode="update")
    q.awaitTermination(300)
    return (
        spark.read.parquet(out)
        .groupBy("fingerprint")
        .agg(F.max("n_seen").alias("n_seen"))
    )


_SQL_STREAM_DEDUP_COUNTS = """
SELECT md5(text) AS fingerprint, CAST(COUNT(*) AS BIGINT) AS n_seen
FROM documents
GROUP BY md5(text)
"""


def _q_doc_hash_split(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic train/val/test assignment by key hash (80/10/10):
    reproducible across runs and engines, stable under corpus growth, and
    group-safe when keyed by a group id (textops/sampling.py).  The oracle
    re-derives the md5-hex bucket with pure string arithmetic."""
    from mopper_spark.textops.sampling import hash_split

    docs = spark.read.schema("doc_id long").parquet(f"{sf}/documents.parquet")
    return hash_split(docs, key="doc_id")


# bucket = first 4 md5 hex chars of 'split-v1' || key, parsed via strpos
# arithmetic (DuckDB-portable); thresholds are the exact constants
# hash_split compiles: round(0.8*65536)=52429, round(0.9*65536)=58982
_SQL_DOC_HASH_SPLIT = """
WITH h AS (
  SELECT doc_id,
         substr(md5('split-v1' || CAST(doc_id AS VARCHAR)), 1, 4) AS hx
  FROM documents
),
b AS (SELECT doc_id,
        (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 4096
      + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) * 256
      + (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) * 16
      + (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1) AS bucket
      FROM h)
SELECT doc_id,
       CASE WHEN bucket < 52429 THEN 'train'
            WHEN bucket < 58982 THEN 'val'
            ELSE 'test' END AS split
FROM b
"""


_BM25_TERMS = ["join", "hash", "stream", "vector"]
_BM25_K1, _BM25_B = 1.2, 0.75


def _dlit(v: float) -> str:
    """Render a Python double as a DuckDB DOUBLE literal that parses back
    to the exact same bits.  Plain decimal literals in DuckDB are DECIMAL,
    and DECIMAL->DOUBLE conversion of a 17-digit repr is NOT guaranteed
    correctly rounded (the mantissa exceeds 2^53); an exponent suffix makes
    the literal a DOUBLE parsed by strtod, which is."""
    r = repr(float(v))
    return r if ("e" in r or "E" in r or "inf" in r or "nan" in r) else r + "e0"


def _q_docs_bm25(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 relevance of every document against a fixed topic seed — the
    retrieval-style quality filter of a training-data pipeline
    (mopper_spark/textops/ranking.py::bm25_scores).  One narrow native
    pass + a one-row broadcast stats aggregate; zero Python, zero explode."""
    from mopper_spark.textops.ranking import bm25_scores

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return bm25_scores(docs, _BM25_TERMS, k1=_BM25_K1, b=_BM25_B)


def _bm25_oracle_sql() -> str:
    """Mirror of bm25_scores with IDENTICAL association order: per-term
    contributions added left-to-right, each a single division chain, and
    every float constant emitted via _dlit so both engines hold the same
    doubles (k1+1 = 2.1999999999999997 is not the literal 2.2!)."""
    k1, k1p1 = _dlit(_BM25_K1), _dlit(_BM25_K1 + 1.0)
    bb, omb = _dlit(_BM25_B), _dlit(1.0 - _BM25_B)
    half, one = _dlit(0.5), _dlit(1.0)
    tf_cols = ",\n         ".join(
        f"len(list_filter(t, x -> x = '{t}')) AS tf_{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ",\n        ".join(
        f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(_BM25_TERMS))
    )
    contribs = []
    for i in range(len(_BM25_TERMS)):
        idf = (
            f"ln({one} + ((CAST(n_docs AS DOUBLE) - CAST(df_{i} AS DOUBLE)) + {half})"
            f" / (CAST(df_{i} AS DOUBLE) + {half}))"
        )
        denom = (
            f"(CAST(tf_{i} AS DOUBLE) + {k1} * ({omb} + ({bb} * CAST(dl AS DOUBLE))"
            f" / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))"
        )
        contribs.append(f"({idf} * ((CAST(tf_{i} AS DOUBLE) * {k1p1}) / {denom}))")
    score = contribs[0]
    for c in contribs[1:]:
        score = f"({score} + {c})"
    matched = " OR ".join(f"tf_{i} > 0" for i in range(len(_BM25_TERMS)))
    return f"""
WITH tf AS (
  SELECT doc_id, len(t) AS dl,
         {tf_cols}
  FROM (SELECT doc_id,
               list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                           x -> x <> '') AS t
        FROM documents)
),
st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl,
        {df_cols}
       FROM tf)
SELECT doc_id, {score} AS bm25
FROM tf, st
WHERE {matched}
"""


_SQL_DOCS_BM25 = _bm25_oracle_sql()


def _q_bigram_pmi(spark: SparkSession, sf: str) -> DataFrame:
    """PMI collocation mining over adjacent-token bigrams — phrase discovery
    before tokenizer training (mopper_spark/textops/ranking.py::bigram_pmi).
    Word-count-shaped shuffles only; pmi is ONE ln over an exact integer
    ratio, so the double agrees across engines."""
    from mopper_spark.textops.ranking import bigram_pmi

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return bigram_pmi(docs, min_count=5)


# parallel unnest of two equal-length lists zips positionally in DuckDB;
# range(1, len) is end-exclusive = Spark's sequence(1, size-1) inclusive.
# Association mirrors bigram_pmi: num = (n_pair * n_tok) * n_tok,
# den = (n_big * c1) * c2, pmi = ln(num / den).
_SQL_BIGRAM_PMI = """
WITH t AS (
  SELECT tl AS t
  FROM (SELECT list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                           x -> x <> '') AS tl
        FROM documents)
  WHERE len(tl) > 0
),
uni AS (SELECT w, COUNT(*) AS c_w
        FROM (SELECT unnest(t) AS w FROM t) GROUP BY w),
pairs AS (
  SELECT unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
         unnest(list_transform(range(1, len(t)), i -> t[i + 1])) AS w2
  FROM t WHERE len(t) > 1
),
big AS (SELECT w1, w2, COUNT(*) AS n_pair FROM pairs GROUP BY w1, w2),
tot AS (SELECT SUM(len(t)) AS n_tok, SUM(len(t) - 1) AS n_big FROM t)
SELECT b.w1, b.w2, CAST(b.n_pair AS BIGINT) AS n_pair,
       ln(((CAST(b.n_pair AS DOUBLE) * CAST(n_tok AS DOUBLE)) * CAST(n_tok AS DOUBLE))
          / ((CAST(n_big AS DOUBLE) * CAST(u1.c_w AS DOUBLE)) * CAST(u2.c_w AS DOUBLE))) AS pmi
FROM big b
JOIN uni u1 ON b.w1 = u1.w
JOIN uni u2 ON b.w2 = u2.w
CROSS JOIN tot
WHERE b.n_pair >= 5
"""


def _q_skew_salted_join(spark: SparkSession, sf: str) -> DataFrame:
    """Explicitly salted equi-join on a heavy-hitter key: events join a
    per-type dim on event_type (a handful of distinct values — every row
    of a type lands on one reducer in a plain shuffled join).  The salted
    plan spreads each type across 16 reducers and returns results
    identical to the plain join, which is exactly what the oracle checks
    (mopper_spark/textops/joins.py::salted_join).  shuffle_hash hint
    pins the shuffled-join path so the salt is actually load-bearing
    (a broadcast would hide the skew rather than fix it)."""
    from mopper_spark.textops.joins import salted_join

    ev = spark.read.schema("event_id long, event_type string").parquet(
        f"{sf}/events.parquet"
    )
    dim = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("type_cnt"),
        F.min("event_id").alias("type_code"),
    )
    return salted_join(
        ev, dim.hint("shuffle_hash"), "event_type", salts=16, salt_on=["event_id"]
    ).select("event_id", "event_type", "type_cnt", "type_code")


_SQL_SKEW_SALTED_JOIN = """
WITH dim AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS type_cnt,
                    MIN(event_id) AS type_code
             FROM events GROUP BY event_type)
SELECT e.event_id, e.event_type, d.type_cnt, d.type_code
FROM events e JOIN dim d USING (event_type)
"""


# ADVICE r2: several strict oracles below are exact all-pairs SQL over an
# approximate (LSH-banded / blocked) Spark path; they are EQUALITY oracles
# only because recall is measured-or-guaranteed total at the gate config,
# each pinned by a named test over a specific fixture.  This registry couples
# each such oracle to its pin; tests/test_driver_contract.py::
# test_recall_pins_coupled digests the fixtures and fails with a DISTINCT
# message naming the pin to re-validate whenever a fixture changes — so an
# approximation gap can never silently masquerade as an engine bug in the
# driver gate.  (dedup_ngram_jaccard needs no pin: its hot-shingle cap is
# exactness-preserving by construction; dedup_simhash's band recall is a
# pigeonhole guarantee, not a measurement.)
RECALL_PINS: dict[str, dict[str, object]] = {
    "dedup_minhash": {
        "test": "tests/test_textops.py::TestDedupScaleGuards::"
        "test_minhash_banding_recall_is_total",
        "fixtures": ["/root/testdata/sf0.01/documents.parquet"],
    },
    # same exact-Jaccard oracle, one-permutation-hashing signature path:
    # the densified OPH bands must also find every qualifying pair
    "dedup_minhash_oph": {
        "test": "tests/test_textops.py::TestDedupScaleGuards::"
        "test_oph_banding_recall_is_total",
        "fixtures": ["/root/testdata/sf0.01/documents.parquet"],
    },
    # cross-side variant of the dedup_minhash pin: the band PROBE of the
    # fresh shard against the corpus index must find every fresh×corpus
    # pair with exact Jaccard >= 0.5 (incl. the injected exact copies)
    "dedup_incremental_shard": {
        "test": "tests/test_textops.py::TestDedupScaleGuards::"
        "test_incremental_band_recall_is_total",
        "fixtures": ["/root/testdata/sf0.01/documents.parquet"],
    },
    "dedup_embedding": {
        "test": "tests/test_textops.py::TestDedupScaleGuards::"
        "test_embedding_banding_recall_is_total",
        "fixtures": ["/root/testdata/sf0.01/embeddings.parquet"],
    },
    # the PLANNED band geometry (lsh_band_plan at target_recall 0.999 —
    # the scale-safe default path) must also find every qualifying pair,
    # pinned at both the sf0.01 gate and sf0.1 bench operating points
    "dedup_embedding_planned": {
        "test": "tests/test_textops.py::TestDedupScaleGuards::"
        "test_embedding_planned_band_recall_total",
        "fixtures": [
            "/root/testdata/sf0.01/embeddings.parquet",
            "/root/testdata/sf0.1/embeddings.parquet",
        ],
    },
    "dedup_embedding_deep": {
        "test": "tests/test_textops.py::TestDedupScaleGuards::"
        "test_embedding_deep_band_recall_total",
        # _dedup_deep_corpus derives deterministically from this file
        "fixtures": ["/root/testdata/sf0.001/embeddings.parquet"],
    },
    "similarity_topk_lsh": {
        "test": "tests/test_textops.py::TestSimilarity::"
        "test_banded_lsh_topk_exact_at_gate_config",
        "fixtures": ["/root/testdata/sf0.01/embeddings.parquet"],
    },
    "entity_linking_transcripts": {
        "test": "tests/test_pipeline.py::TestOracleFixturePins::"
        "test_blocking_recall_total",
        "fixtures": ["fixtures/transcripts_2000.parquet"],
    },
    # same strictness precondition as the batch query (edge discovery uses
    # the same blocking keys); additionally requires no cumulative block
    # over max_block_size (see pipeline/incremental.py cap semantics),
    # which blocking-recall-1.0 on this fixture subsumes
    "entity_linking_incremental": {
        "test": "tests/test_pipeline.py::TestOracleFixturePins::"
        "test_blocking_recall_total",
        "fixtures": ["fixtures/transcripts_2000.parquet"],
    },
    # not a recall property: the unrolled 12-step SQL replay equals the
    # engine iff training at this fixture runs all 12 rounds with no
    # re-seed and no early convergence — the pinned test asserts exactly
    # that history shape
    "ivf_kmeans_train": {
        "test": "tests/test_ivf.py::TestKmeansTrain::"
        "test_gate_fixture_runs_full_rounds_no_reseed",
        "fixtures": ["/root/testdata/sf0.01/embeddings.parquet"],
    },
    # parity with the unrolled sub-keyed SQL replay requires NO re-seed
    # in any subspace at this fixture (early convergence is harmless:
    # only centroids are consumed and a Lloyd fixpoint is stable, so
    # extra SQL rounds are no-ops); the pinned test asserts it
    "pq_encode_codes": {
        "test": "tests/test_pq.py::TestPqOraclePins::"
        "test_gate_fixture_trains_without_reseed",
        "fixtures": ["/root/testdata/sf0.01/embeddings.parquet"],
    },
    "pq_adc_topk": {
        "test": "tests/test_pq.py::TestPqOraclePins::"
        "test_gate_fixture_trains_without_reseed",
        "fixtures": ["/root/testdata/sf0.01/embeddings.parquet"],
    },
}


def _q_graph_closure(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-naive transitive closure (pipeline/graph.py::transitive_closure
    — the delta iteration behind rdfs:subClassOf*/skos:broader+ property-
    path materialization) over a deterministic doc-id hierarchy
    (doc_id -> doc_id div 2, a binary-tree parent relation with depth
    ~log2 n, standing in for a class taxonomy), verified against DuckDB's
    WITH RECURSIVE ... UNION fixpoint."""
    from mopper_spark.pipeline.graph import transitive_closure

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    edges = docs.filter(F.col("doc_id") >= 2).select(
        F.col("doc_id").cast("long").alias("src"),
        F.expr("doc_id div 2").cast("long").alias("dst"),
    )
    return transitive_closure(edges)


_SQL_GRAPH_CLOSURE = """
WITH RECURSIVE e AS (
  SELECT CAST(doc_id AS BIGINT) AS src, CAST(doc_id // 2 AS BIGINT) AS dst
  FROM documents WHERE doc_id >= 2
), tc AS (
  SELECT src, dst FROM e
  UNION
  SELECT tc.src, e.dst FROM tc JOIN e ON tc.dst = e.src
)
SELECT src, dst FROM tc
"""


def _q_graph_closure_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental closure maintenance (pipeline/graph.py::
    transitive_closure_delta): the doc-id binary-tree parent edges are
    split 6:1 by ``src % 7`` — the base (a forest: every 7th edge
    missing disconnects subtrees) is closed with the full operator, then
    the held-out edges arrive as a delta batch and are folded in via the
    Δ-proportional bridge algebra (Cε∘(Δ∘Cε)⁺, path-doubled).  The
    oracle is the one-shot closure over ALL edges, so the gate hash
    proves incremental maintenance ≡ recompute on a topology where
    delta edges reconnect deep ancestor chains."""
    from mopper_spark.pipeline.graph import (
        transitive_closure,
        transitive_closure_delta,
    )

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    edges = docs.filter(F.col("doc_id") >= 2).select(
        F.col("doc_id").cast("long").alias("src"),
        F.expr("doc_id div 2").cast("long").alias("dst"),
    )
    is_delta = F.col("src") % 7 == 0
    base_closed = transitive_closure(edges.filter(~is_delta))
    return transitive_closure_delta(base_closed, edges.filter(is_delta))


# incremental result must EQUAL the one-shot closure — same oracle
_SQL_GRAPH_CLOSURE_INCREMENTAL = _SQL_GRAPH_CLOSURE


def _q_graph_kcore(spark: SparkSession, sf: str) -> DataFrame:
    """k-core decomposition by synchronous peeling (pipeline/graph.py::
    k_core, k=5) — the dense-subgraph extraction that separates a planted
    community from sparse scaffolding.  Fixture graph: the doc-id
    binary-tree + div-3 chords (sparse, every node degree ≤ 7) plus a
    planted 30-node partial clique (ids < 30, edge iff (a+b)%3 == 0);
    peeling cascades the scaffold away over several rounds and the unique
    fixpoint is exactly the planted core with within-core degrees.  The
    Spark side iterates to convergence (count probe per round); the
    oracle unrolls 24 peel rounds — past the fixpoint peeling is a no-op,
    the ``kmeans_train`` bounded-unroll contract."""
    from mopper_spark.pipeline.graph import k_core

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    e1 = docs.filter(F.col("doc_id") >= 2).select(
        F.col("doc_id").cast("long").alias("a"),
        F.expr("doc_id div 2").cast("long").alias("b"),
    )
    e2 = docs.filter(F.col("doc_id") >= 3).select(
        F.col("doc_id").cast("long").alias("a"),
        F.expr("doc_id div 3").cast("long").alias("b"),
    )
    ids = docs.filter(F.col("doc_id") < 30)
    e3 = (
        ids.select(F.col("doc_id").alias("a"))
        .crossJoin(ids.select(F.col("doc_id").alias("b")))
        .filter("a < b AND (a + b) % 3 = 0")
        .select(F.col("a").cast("long"), F.col("b").cast("long"))
    )
    return k_core(e1.union(e2).union(e3), k=5)


def _sql_kcore(k: int, rounds: int) -> str:
    """Unrolled-CTE DuckDB replay of k_core over the same fixture graph:
    each round keeps nodes of degree >= k and edges whose both endpoints
    survive.  All CTEs MATERIALIZED (the kmeans_train lesson — DuckDB's
    CTE inlining re-evaluates deep chains exponentially)."""
    parts = [
        """WITH e_raw AS MATERIALIZED (
  SELECT CAST(doc_id AS BIGINT) AS a, CAST(doc_id // 2 AS BIGINT) AS b
  FROM documents WHERE doc_id >= 2
  UNION ALL
  SELECT CAST(doc_id AS BIGINT), CAST(doc_id // 3 AS BIGINT)
  FROM documents WHERE doc_id >= 3
  UNION ALL
  SELECT CAST(d1.doc_id AS BIGINT), CAST(d2.doc_id AS BIGINT)
  FROM documents d1 JOIN documents d2
    ON d1.doc_id < d2.doc_id AND (d1.doc_id + d2.doc_id) % 3 = 0
  WHERE d1.doc_id < 30 AND d2.doc_id < 30
), s0 AS MATERIALIZED (
  SELECT DISTINCT a AS src, b AS dst FROM
    (SELECT a, b FROM e_raw UNION ALL SELECT b, a FROM e_raw)
)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""", n{r} AS MATERIALIZED (
  SELECT src FROM s{r - 1} GROUP BY src HAVING COUNT(*) >= {k}
), s{r} AS MATERIALIZED (
  SELECT s.src, s.dst FROM s{r - 1} s
  JOIN n{r} x ON s.src = x.src
  JOIN n{r} y ON s.dst = y.src
)"""
        )
    parts.append(
        f"""
SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree
FROM s{rounds} GROUP BY src"""
    )
    return "".join(parts)


_SQL_GRAPH_KCORE = _sql_kcore(5, 24)


def _q_graph_ppr(spark: SparkSession, sf: str) -> DataFrame:
    """Personalized PageRank from seed node 1 (pipeline/graph.py::
    personalized_pagerank, 3 iterations, scale 1e9) over the doc-id
    binary-tree + div-3 chord graph — "nodes related to the seed" with
    restart mass landing only on the seed.  All-integer arithmetic; the
    oracle unrolls the same 3 rounds."""
    from mopper_spark.pipeline.graph import personalized_pagerank

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    e1 = docs.filter(F.col("doc_id") >= 2).select(
        F.col("doc_id").cast("long").alias("a"),
        F.expr("doc_id div 2").cast("long").alias("b"),
    )
    e2 = docs.filter(F.col("doc_id") >= 3).select(
        F.col("doc_id").cast("long").alias("a"),
        F.expr("doc_id div 3").cast("long").alias("b"),
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    return personalized_pagerank(e1.union(e2), seeds, iters=3)


def _sql_graph_ppr(iters: int) -> str:
    scale, base = 10**9, (15 * 10**9) // 100
    rounds = []
    prev = "r0"
    for i in range(1, iters + 1):
        rounds.append(
            f"""s{i} AS MATERIALIZED (SELECT d.dst AS node, SUM(r.pr // r.out_deg) AS s
      FROM dirx d JOIN {prev} r ON d.src = r.node GROUP BY d.dst),
r{i} AS MATERIALIZED (SELECT r.node, r.out_deg, r.is_seed,
               CAST(r.is_seed * {base} + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS pr
        FROM {prev} r LEFT JOIN s{i} s ON s.node = r.node)"""
        )
        prev = f"r{i}"
    return f"""
WITH e_raw AS MATERIALIZED (
  SELECT CAST(doc_id AS BIGINT) AS a, CAST(doc_id // 2 AS BIGINT) AS b
  FROM documents WHERE doc_id >= 2
  UNION ALL
  SELECT CAST(doc_id AS BIGINT), CAST(doc_id // 3 AS BIGINT)
  FROM documents WHERE doc_id >= 3
), ed AS MATERIALIZED (
  SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM e_raw WHERE a <> b
), dirx AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM ed UNION ALL SELECT v AS src, u AS dst FROM ed
), r0 AS MATERIALIZED (
  SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS out_deg,
         CASE WHEN src = 1 THEN 1 ELSE 0 END AS is_seed,
         CAST(CASE WHEN src = 1 THEN {scale} ELSE 0 END AS BIGINT) AS pr
  FROM dirx GROUP BY src
),
{",".join(rounds)}
SELECT node, pr AS pr_scaled FROM {prev}
"""


_SQL_GRAPH_PPR = _sql_graph_ppr(3)


def _q_graph_clustering(spark: SparkSession, sf: str) -> DataFrame:
    """Local clustering coefficients (Watts & Strogatz 1998;
    pipeline/graph.py::clustering_coefficients) over the tree+chord
    graph: exact integer triangles (degree-ordered node-iterator) and
    degrees, one double division per node."""
    from mopper_spark.pipeline.graph import clustering_coefficients

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    e1 = docs.filter(F.col("doc_id") >= 2).select(
        F.col("doc_id").cast("long").alias("a"),
        F.expr("doc_id div 2").cast("long").alias("b"),
    )
    e2 = docs.filter(F.col("doc_id") >= 3).select(
        F.col("doc_id").cast("long").alias("a"),
        F.expr("doc_id div 3").cast("long").alias("b"),
    )
    return clustering_coefficients(e1.union(e2))


_SQL_GRAPH_CLUSTERING = """
WITH e_raw AS (
  SELECT CAST(doc_id AS BIGINT) AS a, CAST(doc_id // 2 AS BIGINT) AS b
  FROM documents WHERE doc_id >= 2
  UNION ALL
  SELECT CAST(doc_id AS BIGINT), CAST(doc_id // 3 AS BIGINT)
  FROM documents WHERE doc_id >= 3
), ed AS (
  SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
  FROM e_raw WHERE a <> b
), deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM
    (SELECT u AS node FROM ed UNION ALL SELECT v FROM ed)
  GROUP BY node
), tri AS (
  SELECT e1.u AS x, e1.v AS y, e2.v AS z
  FROM ed e1
  JOIN ed e2 ON e2.u = e1.u AND e1.v < e2.v
  JOIN ed e3 ON e3.u = e1.v AND e3.v = e2.v
), tcnt AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM (SELECT unnest([x, y, z]) AS node FROM tri)
  GROUP BY node
)
SELECT d.node, d.degree,
       CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles,
       CASE WHEN d.degree >= 2
            THEN 2.0 * COALESCE(t.n_triangles, 0)
                 / CAST(d.degree * (d.degree - 1) AS DOUBLE)
            ELSE 0.0 END AS cc
FROM deg d LEFT JOIN tcnt t ON d.node = t.node
"""


def _q_graph_assortativity(spark: SparkSession, sf: str) -> DataFrame:
    """Degree assortativity (Newman 2002; pipeline/graph.py::
    degree_assortativity) of the tree+chord graph: Pearson over endpoint
    degrees with every input an exact integer sum, r one double
    expression.  The tree shape should read disassortative (r < 0)."""
    from mopper_spark.pipeline.graph import degree_assortativity

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    e1 = docs.filter(F.col("doc_id") >= 2).select(
        F.col("doc_id").cast("long").alias("a"),
        F.expr("doc_id div 2").cast("long").alias("b"),
    )
    e2 = docs.filter(F.col("doc_id") >= 3).select(
        F.col("doc_id").cast("long").alias("a"),
        F.expr("doc_id div 3").cast("long").alias("b"),
    )
    return degree_assortativity(e1.union(e2))


_SQL_GRAPH_ASSORTATIVITY = """
WITH e_raw AS (
  SELECT CAST(doc_id AS BIGINT) AS a, CAST(doc_id // 2 AS BIGINT) AS b
  FROM documents WHERE doc_id >= 2
  UNION ALL
  SELECT CAST(doc_id AS BIGINT), CAST(doc_id // 3 AS BIGINT)
  FROM documents WHERE doc_id >= 3
), e AS (
  SELECT DISTINCT a AS u, b AS v FROM e_raw WHERE a <> b
), sym AS (
  SELECT u, v FROM e UNION ALL SELECT v, u FROM e
), deg AS (
  SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u
), pairs AS (
  SELECT dx.d AS dx, dy.d AS dy
  FROM sym JOIN deg dx ON sym.u = dx.u JOIN deg dy ON sym.v = dy.u
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(dx) AS BIGINT) AS sx, CAST(SUM(dy) AS BIGINT) AS sy,
         CAST(SUM(dx * dy) AS BIGINT) AS sxy,
         CAST(SUM(dx * dx) AS BIGINT) AS sxx,
         CAST(SUM(dy * dy) AS BIGINT) AS syy
  FROM pairs
)
SELECT k, sx, sy, sxy, sxx, syy,
       CASE WHEN k * sxx - sx * sx > 0 AND k * syy - sy * sy > 0
            THEN (k * sxy - sx * sy)
                 / (sqrt(CAST(k * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(k * syy - sy * sy AS DOUBLE)))
            ELSE 0.0 END AS r
FROM s
"""


def _q_graph_shortest_path(spark: SparkSession, sf: str) -> DataFrame:
    """Shortest-path WITNESS (pipeline/graph.py::shortest_path_witness):
    the lexicographically-least-parents shortest path from node 1 to the
    max doc_id over the tree+chord graph, as (step, node) rows.  Min-
    parent BFS levels are engine-deterministic; the oracle unrolls the
    same sweep and backward walk."""
    from mopper_spark.pipeline.graph import shortest_path_witness

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    e1 = docs.filter(F.col("doc_id") >= 2).select(
        F.col("doc_id").cast("long").alias("a"),
        F.expr("doc_id div 2").cast("long").alias("b"),
    )
    e2 = docs.filter(F.col("doc_id") >= 3).select(
        F.col("doc_id").cast("long").alias("a"),
        F.expr("doc_id div 3").cast("long").alias("b"),
    )
    target = docs.agg(F.max("doc_id")).collect()[0][0]
    return shortest_path_witness(e1.union(e2), 1, int(target))


def _sql_graph_shortest_path(levels: int) -> str:
    bfs = []
    for i in range(1, levels + 1):
        bfs.append(
            f"""n{i} AS MATERIALIZED (
  SELECT d.dst AS node, CAST({i} AS BIGINT) AS dist, MIN(d.src) AS parent
  FROM dirx d JOIN f{i - 1} f ON d.src = f.node
  WHERE d.dst NOT IN (SELECT node FROM acc{i - 1})
  GROUP BY d.dst
), acc{i} AS MATERIALIZED (SELECT * FROM acc{i - 1} UNION ALL SELECT * FROM n{i}),
f{i} AS MATERIALIZED (SELECT node FROM n{i})"""
        )
    back = []
    for j in range(1, levels + 1):
        back.append(
            f"""p{j} AS MATERIALIZED (
  SELECT a.dist, a.node, a.parent
  FROM acc{levels} a JOIN p{j - 1} q ON a.node = q.parent)"""
        )
    union_path = " UNION ALL ".join(
        f"SELECT dist, node FROM p{j}" for j in range(0, levels + 1)
    )
    return f"""
WITH e_raw AS MATERIALIZED (
  SELECT CAST(doc_id AS BIGINT) AS a, CAST(doc_id // 2 AS BIGINT) AS b
  FROM documents WHERE doc_id >= 2
  UNION ALL
  SELECT CAST(doc_id AS BIGINT), CAST(doc_id // 3 AS BIGINT)
  FROM documents WHERE doc_id >= 3
), dirx AS MATERIALIZED (
  SELECT DISTINCT a AS src, b AS dst FROM
    (SELECT a, b FROM e_raw WHERE a <> b
     UNION ALL SELECT b, a FROM e_raw WHERE a <> b)
), acc0 AS MATERIALIZED (
  SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist,
         CAST(NULL AS BIGINT) AS parent
), f0 AS MATERIALIZED (SELECT node FROM acc0),
{",".join(bfs)},
tgt AS (SELECT CAST(MAX(doc_id) AS BIGINT) AS t FROM documents),
p0 AS MATERIALIZED (
  SELECT a.dist, a.node, a.parent
  FROM acc{levels} a JOIN tgt ON a.node = tgt.t)
,{",".join(back)}
SELECT dist AS step, node FROM ({union_path})
"""


_SQL_GRAPH_SHORTEST_PATH = _sql_graph_shortest_path(14)


def _q_kg_predicate_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Per-predicate cardinality/functionality profile
    (pipeline/curate.py::predicate_profile) over the extracted KG."""
    from mopper_spark.pipeline.curate import predicate_profile
    from mopper_spark.pipeline.extract import (
        extract_mentions,
        extract_triples,
        mention_triples,
    )

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    kg = extract_triples(tr).unionByName(mention_triples(extract_mentions(tr)))
    return predicate_profile(kg.select("subj", "pred", "obj"))


_SQL_KG_PRED_PROFILE = None  # assigned below, needs _SQL_KG_GRAPH


def _q_kg_resolve_functional(spark: SparkSession, sf: str) -> DataFrame:
    """Functional-property conflict resolution
    (pipeline/curate.py::resolve_functional): one canonical object per
    (subj, pred) by (support desc, obj asc) — deterministic aggregate,
    no per-group window sort."""
    from mopper_spark.pipeline.curate import resolve_functional
    from mopper_spark.pipeline.extract import (
        extract_mentions,
        extract_triples,
        mention_triples,
    )

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    kg = extract_triples(tr).unionByName(mention_triples(extract_mentions(tr)))
    return resolve_functional(kg.select("subj", "pred", "obj"))


def _q_kg_negative_samples(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic filtered corrupt-object negative sampling for
    KG-embedding training (pipeline/curate.py::negative_samples): draws
    are md5-hash functions of (seed, triple, draw), the object vocabulary
    index is the bucketed two-phase prefix sum — both replicated exactly
    in the DuckDB oracle (ROW_NUMBER over (bucket, obj))."""
    from mopper_spark.pipeline.curate import negative_samples
    from mopper_spark.pipeline.extract import (
        extract_mentions,
        extract_triples,
        mention_triples,
    )

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    kg = extract_triples(tr).unionByName(mention_triples(extract_mentions(tr)))
    return negative_samples(kg.select("subj", "pred", "obj"), n_per=2, seed="neg-v1")


_SQL_KG_PRED_PROFILE = f"""
WITH kg AS ({_SQL_KG_GRAPH})
SELECT pred,
       CAST(COUNT(*) AS BIGINT) AS n_triples,
       CAST(COUNT(DISTINCT subj) AS BIGINT) AS n_subj,
       CAST(COUNT(DISTINCT obj) AS BIGINT) AS n_obj,
       COUNT(DISTINCT (subj, obj)) = COUNT(DISTINCT subj) AS is_functional,
       COUNT(DISTINCT (subj, obj)) = COUNT(DISTINCT obj) AS is_inverse_functional
FROM kg GROUP BY pred
"""

_SQL_KG_RESOLVE_FUNCTIONAL = f"""
WITH kg AS ({_SQL_KG_GRAPH}),
sup AS (SELECT subj, pred, obj, CAST(COUNT(*) AS BIGINT) AS support
        FROM kg GROUP BY subj, pred, obj),
ranked AS (
  SELECT subj, pred, obj, support,
         ROW_NUMBER() OVER (PARTITION BY subj, pred
                            ORDER BY support DESC, obj ASC) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY subj, pred) AS BIGINT) AS n_alternatives
  FROM sup)
SELECT subj, pred, obj, support, n_alternatives FROM ranked WHERE rn = 1
"""

# the negative-sampling oracle re-derives the WHOLE operator in SQL: the
# bucketed vocabulary index collapses to ROW_NUMBER() OVER (ORDER BY
# bucket, obj) - 1, and every md5 draw is recomputed hex-for-hex
_SQL_KG_NEGATIVE_SAMPLES = f"""
WITH kg AS ({_SQL_KG_GRAPH}),
t AS (SELECT DISTINCT subj, pred, obj FROM kg),
objs AS (SELECT DISTINCT obj FROM kg),
b AS (SELECT obj, ('0x' || substr(md5('idx' || obj), 1, 4))::BIGINT AS bucket
      FROM objs),
v AS (SELECT obj AS neg_obj,
             CAST(ROW_NUMBER() OVER (ORDER BY bucket, obj) - 1 AS BIGINT) AS idx
      FROM b),
n AS (SELECT COUNT(*) AS n_objs FROM objs),
ex AS (
  SELECT t.subj, t.pred, t.obj, d.draw,
         ('0x' || substr(md5('neg-v1' || t.subj || chr(31) || t.pred
                              || chr(31) || t.obj || chr(31) || d.draw),
                 1, 12))::BIGINT % n.n_objs AS pick
  FROM t, (SELECT unnest([0, 1]) AS draw) d, n
)
SELECT ex.subj, ex.pred, ex.obj, v.neg_obj, ex.draw
FROM ex JOIN v ON v.idx = ex.pick
WHERE v.neg_obj <> ex.obj
  AND NOT EXISTS (SELECT 1 FROM t
                  WHERE t.subj = ex.subj AND t.pred = ex.pred
                    AND t.obj = v.neg_obj)
"""


def _q_kg_nquads_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """N-Quads write/read round trip (mopper_spark/ntriples.py): the full
    extracted statement set is formatted to N-Quads lines (ECHAR-escaped)
    and parsed back with the native regexp reader; the oracle is the
    statement set itself — the gate passes iff parse∘format is the
    identity on real data."""
    from mopper_spark.ntriples import format_statements, parse_statements
    from mopper_spark.pipeline.extract import (
        extract_mentions,
        extract_triples,
        mention_triples,
    )

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    kg = extract_triples(tr).unionByName(mention_triples(extract_mentions(tr)))
    lines = format_statements(kg.select("subj", "pred", "obj", "okind", "graph"))
    return parse_statements(lines, col="statement")


_SQL_KG_NQUADS_ROUNDTRIP = f"""
WITH kg AS ({_SQL_KG_GRAPH})
SELECT subj, pred, obj, okind, graph FROM kg
"""


def _q_kg_turtle_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Turtle write/read round trip (ntriples.py::format_turtle + the
    annotation-preserving turtle.py parser): the extracted triple set
    (graph column dropped — Turtle has no named graphs; format_turtle
    REFUSES non-null graphs in-plan) is serialized as prefix-compacted
    subject blocks, assembled driver-side (8.7k statements at gate
    scale; part files at corpus scale), parsed back, and returned — the
    oracle is the DISTINCT statement set itself, so the gate passes iff
    parse∘format is the identity.  DISTINCT because Turtle is a graph
    serialization: duplicate statements collapse by construction."""
    from mopper_spark.ntriples import turtle_document
    from mopper_spark.pipeline.extract import (
        extract_mentions,
        extract_triples,
        mention_triples,
    )
    from mopper_spark.turtle import parse_turtle

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    kg = extract_triples(tr).unionByName(mention_triples(extract_mentions(tr)))
    doc = turtle_document(
        kg.select("subj", "pred", "obj", "okind"),
        {
            "ont": "http://example.com/ontology/",
            "turn": "http://example.com/turn/",
            "conv": "http://example.com/conv/",
            "ent": "http://example.com/entity/",
        },
    )
    rows = [
        (s[1], p, o[1], "blank" if o[0] == "bnode" else o[0])
        for (s, p, o) in parse_turtle(doc).triples
    ]
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string, okind string"
    )


_SQL_KG_TURTLE_ROUNDTRIP = f"""
WITH kg AS ({_SQL_KG_GRAPH})
SELECT DISTINCT subj, pred, obj, okind FROM kg
"""


def _q_kg_shacl_violations(spark: SparkSession, sf: str) -> DataFrame:
    """SHACL-lite validation (pipeline/validate.py): range-kind, domain-
    prefix, max-cardinality, and required-pair constraints over the
    extracted KG, returning the violation TABLE (here: every turn whose
    role triple lacks a tool triple — assistant/user text turns)."""
    from mopper_spark.pipeline.extract import (
        extract_mentions,
        extract_triples,
        mention_triples,
    )
    from mopper_spark.pipeline.validate import Shape, validate_shapes

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    # validation fans out into one branch per constraint; checkpoint the
    # statement set so the extraction pipeline runs once, as it would when
    # validating a materialized graph table
    kg = (
        extract_triples(tr)
        .unionByName(mention_triples(extract_mentions(tr)))
        .localCheckpoint(eager=False)
    )
    ont = "http://example.com/ontology/"
    shapes = [
        Shape(ont + "mentions", range_kind="iri",
              domain_prefix="http://example.com/turn/"),
        Shape(ont + "role", range_kind="lit", max_count=1,
              requires=ont + "tool"),
        Shape(ont + "inConversation", range_kind="iri", max_count=1),
    ]
    return validate_shapes(kg, shapes)


_SQL_KG_SHACL = f"""
WITH kg AS ({_SQL_KG_GRAPH})
SELECT subj, 'http://example.com/ontology/mentions' AS pred,
       'range_kind' AS code, okind AS detail
FROM kg WHERE pred = 'http://example.com/ontology/mentions' AND okind <> 'iri'
UNION ALL
SELECT subj, 'http://example.com/ontology/mentions', 'domain_prefix', subj
FROM kg WHERE pred = 'http://example.com/ontology/mentions'
  AND NOT starts_with(subj, 'http://example.com/turn/')
UNION ALL
SELECT subj, 'http://example.com/ontology/role', 'range_kind', okind
FROM kg WHERE pred = 'http://example.com/ontology/role' AND okind <> 'lit'
UNION ALL
SELECT subj, 'http://example.com/ontology/role', 'max_count',
       CAST(n AS VARCHAR)
FROM (SELECT subj, COUNT(DISTINCT obj) AS n FROM kg
      WHERE pred = 'http://example.com/ontology/role' GROUP BY subj)
WHERE n > 1
UNION ALL
SELECT DISTINCT subj, 'http://example.com/ontology/role', 'requires',
       'http://example.com/ontology/tool'
FROM kg WHERE pred = 'http://example.com/ontology/role'
  AND subj NOT IN (SELECT subj FROM kg
                   WHERE pred = 'http://example.com/ontology/tool')
UNION ALL
SELECT subj, 'http://example.com/ontology/inConversation', 'range_kind', okind
FROM kg WHERE pred = 'http://example.com/ontology/inConversation'
  AND okind <> 'iri'
UNION ALL
SELECT subj, 'http://example.com/ontology/inConversation', 'max_count',
       CAST(n AS VARCHAR)
FROM (SELECT subj, COUNT(DISTINCT obj) AS n FROM kg
      WHERE pred = 'http://example.com/ontology/inConversation'
      GROUP BY subj)
WHERE n > 1
"""


def _q_kg_bgp_path_descendants(spark: SparkSession, sf: str) -> DataFrame:
    """SPARQL property path + FILTER through the BGP layer:

        SELECT ?d WHERE { ?d <http://ex/parent>+ ?a .
                          FILTER(?a = <http://ex/doc/5>) }

    over the doc-id binary-tree hierarchy — every transitive descendant of
    node 5.  The ``+`` path compiles to pipeline/graph.py's semi-naive
    transitive closure; the FILTER is a declarative F.expr Catalyst pushes
    into the closure's output."""
    from mopper_spark.pipeline.bgp import bgp_match

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    tri = docs.filter(F.col("doc_id") >= 2).select(
        F.concat(F.lit("http://ex/doc/"), F.col("doc_id")).alias("subj"),
        F.lit("http://ex/parent").alias("pred"),
        F.concat(F.lit("http://ex/doc/"), F.expr("doc_id div 2")).alias("obj"),
        F.lit("iri").alias("okind"),
        F.lit(None).cast("string").alias("graph"),
    )
    return bgp_match(
        tri,
        [("?d", ("http://ex/parent", "+"), "?a")],
        select=["d"],
        filters=["a = 'http://ex/doc/5'"],
    )


_SQL_KG_BGP_PATH = """
WITH RECURSIVE e AS (
  SELECT doc_id AS src, doc_id // 2 AS dst FROM documents WHERE doc_id >= 2
), tc AS (
  SELECT src, dst FROM e
  UNION
  SELECT tc.src, e.dst FROM tc JOIN e ON tc.dst = e.src
)
SELECT 'http://ex/doc/' || src AS d FROM tc WHERE dst = 5
"""


def _q_kg_bgp_path_inverse_seq(spark: SparkSession, sf: str) -> DataFrame:
    """SPARQL property-path ALGEBRA through the BGP layer (VERDICT r3 #3
    — inverse ``^`` + sequence ``/``):

        SELECT ?d ?s WHERE { ?d <http://ex/parent>/^<http://ex/parent> ?s .
                             FILTER(?d < ?s) }

    — proper sibling pairs of the doc-id binary-tree hierarchy (walk UP
    one parent edge, then DOWN its inverse).  Each step is a pushed
    ``pred =`` scan filter; the sequence is one equi-join on the shared
    parent; the FILTER halves the symmetric pairs declaratively."""
    from mopper_spark.pipeline.bgp import bgp_match

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    tri = docs.filter(F.col("doc_id") >= 2).select(
        F.concat(F.lit("http://ex/doc/"), F.col("doc_id")).alias("subj"),
        F.lit("http://ex/parent").alias("pred"),
        F.concat(F.lit("http://ex/doc/"), F.expr("doc_id div 2")).alias("obj"),
    )
    return bgp_match(
        tri,
        [("?d", ("/", "http://ex/parent", ("^", "http://ex/parent")), "?s")],
        select=["d", "s"],
        filters=["d < s"],
    )


def _q_kg_bgp_path_nps(spark: SparkSession, sf: str) -> DataFrame:
    """SPARQL negated property set (pipeline/bgp.py::path_edges ``!``):

        SELECT ?t ?v WHERE { ?t !(ont:text|ont:tool) ?v }

    — every property edge of the extracted turn KG EXCEPT the free-text
    and tool annotations (the shape a KG consumer uses to strip bulky
    literals).  Compiles to ONE NOT-IN scan filter — no join, no
    closure; the filter pushes to the parquet scan like any pred
    constant."""
    from mopper_spark.pipeline.bgp import bgp_match
    from mopper_spark.pipeline.extract import extract_triples

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    kg = extract_triples(tr).select("subj", "pred", "obj")
    ont = "http://example.com/ontology/"
    return bgp_match(
        kg,
        [("?t", ("!", ont + "text", ont + "tool"), "?v")],
        select=["t", "v"],
    )


_SQL_KG_BGP_PATH_NPS = f"""
WITH kg AS ({_SQL_KG_STREAM})
SELECT subj AS t, obj AS v FROM kg
WHERE pred NOT IN ('http://example.com/ontology/text',
                   'http://example.com/ontology/tool')
"""


def _q_kg_bgp_path_bounded(spark: SparkSession, sf: str) -> DataFrame:
    """SPARQL bounded path repetition (pipeline/bgp.py::path_edges
    ``{m,n}``):

        SELECT ?d ?a WHERE { ?d <http://ex/parent>{2,3} ?a }

    — ancestors at depth exactly 2 or 3 in the doc-id binary-tree
    hierarchy.  Compiles to lo-1 midpoint equi-joins then a union of the
    further powers with per-power DISTINCT (reachability semantics, same
    set semantics as the ``+`` closure); every leaf is the same pushed
    ``pred =`` scan as any other path step."""
    from mopper_spark.pipeline.bgp import bgp_match

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    tri = docs.filter(F.col("doc_id") >= 2).select(
        F.concat(F.lit("http://ex/doc/"), F.col("doc_id")).alias("subj"),
        F.lit("http://ex/parent").alias("pred"),
        F.concat(F.lit("http://ex/doc/"), F.expr("doc_id div 2")).alias("obj"),
    )
    return bgp_match(
        tri,
        [("?d", ("{2,3}", "http://ex/parent"), "?a")],
        select=["d", "a"],
    )


# binary tree: depth-k ancestor of doc n is n // 2^k (unique per depth, so
# DISTINCT across the 2- and 3-hop unions matches the set semantics)
_SQL_KG_BGP_PATH_BOUNDED = """
WITH e AS (
  SELECT doc_id AS c, doc_id // 2 AS p FROM documents WHERE doc_id >= 2
)
SELECT DISTINCT 'http://ex/doc/' || d AS d, 'http://ex/doc/' || a AS a
FROM (
  SELECT e1.c AS d, e2.p AS a FROM e e1 JOIN e e2 ON e1.p = e2.c
  UNION
  SELECT e1.c AS d, e3.p AS a
  FROM e e1 JOIN e e2 ON e1.p = e2.c JOIN e e3 ON e2.p = e3.c
)
"""


_SQL_KG_BGP_PATH_INV_SEQ = """
WITH e AS (
  SELECT 'http://ex/doc/' || doc_id AS c,
         'http://ex/doc/' || (doc_id // 2) AS p
  FROM documents WHERE doc_id >= 2
)
SELECT e1.c AS d, e2.c AS s
FROM e e1 JOIN e e2 ON e1.p = e2.p
WHERE e1.c < e2.c
"""


def _q_kg_sparql_modifiers(spark: SparkSession, sf: str) -> DataFrame:
    """The SPARQL solution-sequence algebra end-to-end (pipeline/bgp.py):

        SELECT ?conv ?e ?r (SUBSTR(?e, 27) AS ?ename) WHERE {
          ?t ont:mentions ?e . ?t ont:role ?r . ?t ont:inConversation ?conv .
          VALUES ?r { "user" "tool" }
          MINUS { ?t2 ont:mentions ?e . ?t2 ont:role "assistant" .
                  ?t2 ont:inConversation ?conv }
        } ORDER BY ?conv ?e ?r LIMIT 100 OFFSET 5

    — entities mentioned by user/tool turns of a conversation that NO
    assistant turn of the same conversation mentions.  VALUES is a
    broadcast inline join, MINUS a left_anti join on the shared
    (conv, e), BIND a native expression, and ORDER+LIMIT plans
    TakeOrderedAndProject (per-partition heaps, no global sort exchange —
    pinned in tests/test_bgp.py)."""
    from mopper_spark.pipeline.bgp import (
        bgp_bind,
        bgp_match,
        bgp_minus,
        bgp_slice,
        bgp_values,
    )
    from mopper_spark.pipeline.extract import (
        extract_mentions,
        extract_triples,
        mention_triples,
    )

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    kg = (
        extract_triples(tr)
        .unionByName(mention_triples(extract_mentions(tr)))
        .select("subj", "pred", "obj")
    )
    ont = "http://example.com/ontology/"
    sol = bgp_match(
        kg,
        [
            ("?t", ont + "mentions", "?e"),
            ("?t", ont + "role", "?r"),
            ("?t", ont + "inConversation", "?conv"),
        ],
        select=["conv", "e", "r"],
        distinct=True,
    )
    sol = bgp_values(sol, [{"r": "user"}, {"r": "tool"}])
    neg = bgp_match(
        kg,
        [
            ("?t2", ont + "mentions", "?e"),
            ("?t2", ont + "role", "assistant"),
            ("?t2", ont + "inConversation", "?conv"),
        ],
        select=["conv", "e"],
    )
    sol = bgp_minus(sol, neg)
    sol = bgp_bind(sol, "ename", "substring(e, 27, 200)")
    return bgp_slice(sol, ["conv", "e", "r"], limit=100, offset=5)


_SQL_KG_SPARQL_MODIFIERS = f"""
WITH kg AS ({_SQL_KG_GRAPH}),
sol AS (
  SELECT DISTINCT c.obj AS conv, m.obj AS e, r.obj AS r
  FROM kg m
  JOIN kg r ON m.subj = r.subj
  JOIN kg c ON m.subj = c.subj
  WHERE m.pred = 'http://example.com/ontology/mentions'
    AND r.pred = 'http://example.com/ontology/role'
    AND c.pred = 'http://example.com/ontology/inConversation'
    AND r.obj IN ('user', 'tool')
),
neg AS (
  SELECT DISTINCT c.obj AS conv, m.obj AS e
  FROM kg m
  JOIN kg r ON m.subj = r.subj
  JOIN kg c ON m.subj = c.subj
  WHERE m.pred = 'http://example.com/ontology/mentions'
    AND r.pred = 'http://example.com/ontology/role'
    AND r.obj = 'assistant'
    AND c.pred = 'http://example.com/ontology/inConversation'
)
SELECT conv, e, r, substring(e, 27, 200) AS ename
FROM sol
WHERE NOT EXISTS (SELECT 1 FROM neg WHERE neg.conv = sol.conv AND neg.e = sol.e)
ORDER BY conv, e, r
LIMIT 100 OFFSET 5
"""


def _q_kg_sparql_construct(spark: SparkSession, sf: str) -> DataFrame:
    """SPARQL CONSTRUCT over the co-mention BGP (pipeline/bgp.py::
    bgp_construct):

        CONSTRUCT { ?conv ont:coMentions ?e1 . ?conv ont:coMentions ?e2 .
                    ?e1 a ont:Entity .      ?e2 a ont:Entity }
        WHERE { …4-pattern co-mention chain… FILTER(?e1 < ?e2) }

    — derives a conversation→entity co-mention GRAPH from the solution
    sequence: one narrow projection per template over the shared solution,
    NULL-instantiated templates dropped per-template, one distinct (the
    only exchange CONSTRUCT adds — the result is a set per SPARQL 1.1)."""
    from mopper_spark.pipeline.bgp import bgp_construct, bgp_match
    from mopper_spark.pipeline.extract import (
        extract_mentions,
        extract_triples,
        mention_triples,
    )

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    kg = (
        extract_triples(tr)
        .unionByName(mention_triples(extract_mentions(tr)))
        .select("subj", "pred", "obj")
    )
    ont = "http://example.com/ontology/"
    rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    sol = bgp_match(
        kg,
        [
            ("?t1", ont + "mentions", "?e1"),
            ("?t1", ont + "inConversation", "?conv"),
            ("?t2", ont + "mentions", "?e2"),
            ("?t2", ont + "inConversation", "?conv"),
        ],
        select=["conv", "e1", "e2"],
        filters=["e1 < e2"],
    )
    return bgp_construct(
        sol,
        [
            ("?conv", ont + "coMentions", "?e1"),
            ("?conv", ont + "coMentions", "?e2"),
            ("?e1", rdf_type, ont + "Entity"),
            ("?e2", rdf_type, ont + "Entity"),
        ],
    )


_SQL_KG_SPARQL_CONSTRUCT = f"""
WITH kg AS ({_SQL_KG_GRAPH}),
pairs AS (
  SELECT c1.obj AS conv, m1.obj AS e1, m2.obj AS e2
  FROM kg m1
  JOIN kg c1 ON m1.subj = c1.subj
  JOIN kg c2 ON c1.obj = c2.obj
  JOIN kg m2 ON c2.subj = m2.subj
  WHERE m1.pred = 'http://example.com/ontology/mentions'
    AND m2.pred = 'http://example.com/ontology/mentions'
    AND c1.pred = 'http://example.com/ontology/inConversation'
    AND c2.pred = 'http://example.com/ontology/inConversation'
    AND m1.obj < m2.obj
)
SELECT DISTINCT subj, pred, obj FROM (
  SELECT conv AS subj, 'http://example.com/ontology/coMentions' AS pred,
         e1 AS obj FROM pairs
  UNION ALL
  SELECT conv, 'http://example.com/ontology/coMentions', e2 FROM pairs
  UNION ALL
  SELECT e1, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
         'http://example.com/ontology/Entity' FROM pairs
  UNION ALL
  SELECT e2, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
         'http://example.com/ontology/Entity' FROM pairs
)
"""


def _q_entity_linking_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental entity linking (pipeline/incremental.py): the fixture's
    mentions arrive in THREE hash-sliced increments; each step joins only
    the fresh forms' blocking keys against the cumulative key table and
    merges affected components at canonical level.  The oracle is the
    BATCH pipeline's all-pairs recursive-CTE SQL — the gate passes iff the
    incremental end state equals the batch fixpoint (order-insensitivity
    is additionally pinned by tests/test_incremental.py)."""
    from mopper_spark.pipeline.extract import extract_mentions
    from mopper_spark.pipeline.incremental import (
        empty_dictionary,
        link_increment,
        with_canonical_iri,
    )

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    mentions = extract_mentions(tr).localCheckpoint(eager=False)
    d = empty_dictionary(spark)
    for i in range(3):
        batch = mentions.filter(F.abs(F.xxhash64("conv_id")) % 3 == i)
        d = link_increment(d, batch).localCheckpoint(eager=True)
    return with_canonical_iri(d)


def _q_kg_transe_eval(spark: SparkSession, sf: str) -> DataFrame:
    """TransE margin-ranking evaluation (pipeline/embedding.py) over the
    extracted KG with hash-initialized integer embeddings and the
    deterministic negative sampler — every md5 coordinate and every L1
    distance recomputed hex-for-hex by the DuckDB oracle."""
    from mopper_spark.pipeline.embedding import transe_margin_eval
    from mopper_spark.pipeline.extract import (
        extract_mentions,
        extract_triples,
        mention_triples,
    )

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    kg = extract_triples(tr).unionByName(mention_triples(extract_mentions(tr)))
    return transe_margin_eval(kg.select("subj", "pred", "obj"))


def _emb_sql(ns: str, label_expr: str, i: str = "i") -> str:
    """One hash-embedding coordinate, DuckDB syntax (mirrors
    pipeline/embedding.py::hash_embedding: md5_48 mod 2001 − 1000)."""
    return (
        f"((('0x' || substr(md5('{ns}' || {label_expr} || ':' || {i}), 1, 12))"
        f"::BIGINT % 2001) - 1000)"
    )


_SQL_KG_TRANSE = f"""
WITH neg AS ({_SQL_KG_NEGATIVE_SAMPLES}),
dists AS (
  SELECT pred,
    CAST(list_sum(list_transform(range(0, 16), i ->
      ABS({_emb_sql("emb-v1/e", "subj")} + {_emb_sql("emb-v1/r", "pred")}
          - {_emb_sql("emb-v1/e", "obj")}))) AS BIGINT) AS d_pos,
    CAST(list_sum(list_transform(range(0, 16), i ->
      ABS({_emb_sql("emb-v1/e", "subj")} + {_emb_sql("emb-v1/r", "pred")}
          - {_emb_sql("emb-v1/e", "neg_obj")}))) AS BIGINT) AS d_neg
  FROM neg
),
hinges AS (
  SELECT pred, GREATEST(0, 100 + d_pos - d_neg) AS hinge FROM dists
)
SELECT pred,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN hinge > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violations,
       CAST(SUM(hinge) AS BIGINT) AS total_hinge
FROM hinges GROUP BY pred
"""


def _q_dedup_semantic(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup-style semantic dedup (textops/ivf.py::semantic_dedup):
    IVF-cluster the embeddings (K=8 fixed-point seeds), compare pairs only
    within clusters, drop ids with a ≥0.4-cosine smaller-id anchor.
    Routing is integer and the anchor rule is a pure function of the data,
    so the whole operator is re-derived in SQL (the 0.4 threshold is
    fixture-tuned to produce a non-trivial drop set: 500 → 481)."""
    from mopper_spark.textops.ivf import seed_centroids, semantic_dedup

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    cents = seed_centroids(emb, k=8)
    return semantic_dedup(emb, cents, threshold=0.4).select("vec_id")


_SQL_DEDUP_SEMANTIC = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
), seeds AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, vec AS cvec
  FROM (SELECT * FROM v ORDER BY vec_id LIMIT 8)
), dists AS (
  SELECT vec_id, cid, vec,
         CAST(list_sum(list_transform(range(1, len(vec) + 1),
              i -> CAST(round((vec[i] - cvec[i]) * (vec[i] - cvec[i]) * 1e12) AS BIGINT)))
              AS BIGINT) AS dist_fp
  FROM v CROSS JOIN seeds
), assign AS (
  SELECT vec_id, cid, vec FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist_fp, cid) AS rn
    FROM dists) WHERE rn = 1
), drops AS (
  SELECT DISTINCT b.vec_id
  FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.vec, b.vec) >= 0.4
)
SELECT vec_id FROM v WHERE vec_id NOT IN (SELECT vec_id FROM drops)
"""


def _q_dedup_semantic_scaledk(spark: SparkSession, sf: str) -> DataFrame:
    """The SCALE-SAFE SemDeDup path (r4 VERDICT #3): K comes from
    ``ivf.scaled_k`` — K = max(8, n // 50) holds the expected cluster
    size at ~50 so the within-cluster pair stage is Θ(n·50), vs the
    fixed-K gate query whose Σ cluster² ≈ n²/8 measured 36.5× wall at
    10× rows in the sf1 probe.  Seeds are HASH-SPREAD
    (``hash_seed_centroids``: K smallest by (md5(id), id)) — prefix-id
    seeds only cover the oldest ingest slice at scale and the rest of
    the corpus piles into few giant clusters (57.9× measured at 10×
    with prefix seeds; ~linear with spread seeds).  This planned path
    is the DEFAULT for production corpora; ``dedup_semantic`` (K=8,
    prefix seeds) remains as the regression fixture.  Both the K rule
    and the seed order are pure functions of the data, so the SQL
    oracle replays the whole operator (seed choice, integer routing,
    exact within-cluster cosine)."""
    from mopper_spark.textops.ivf import (
        hash_seed_centroids,
        scaled_k,
        semantic_dedup,
    )

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    cents = hash_seed_centroids(emb, k=scaled_k(emb.count()))
    return semantic_dedup(emb, cents, threshold=0.4).select("vec_id")


_SQL_DEDUP_SEMANTIC_SCALEDK = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
), seeds AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
              AS INTEGER) AS cid,
         vec AS cvec
  FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
               AS srn
        FROM v
        QUALIFY srn <= greatest(8, (SELECT count(*) FROM v) // 50))
), dists AS (
  SELECT vec_id, cid, vec,
         CAST(list_sum(list_transform(range(1, len(vec) + 1),
              i -> CAST(round((vec[i] - cvec[i]) * (vec[i] - cvec[i]) * 1e12) AS BIGINT)))
              AS BIGINT) AS dist_fp
  FROM v CROSS JOIN seeds
), assign AS (
  SELECT vec_id, cid, vec FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist_fp, cid) AS rn
    FROM dists) WHERE rn = 1
), drops AS (
  SELECT DISTINCT b.vec_id
  FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.vec, b.vec) >= 0.4
)
SELECT vec_id FROM v WHERE vec_id NOT IN (SELECT vec_id FROM drops)
"""


def _q_kg_snapshot_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Graph CDC (pipeline/materialize.py::diff_graph_tables): the diff
    between the KG built from ALL fixture conversations and the KG built
    with one-third of conversations dropped — every removed conversation's
    statements surface as 'del' rows, plus 'del' rows for mention triples
    whose surface no longer occurs anywhere (and no 'add' rows)."""
    from mopper_spark.pipeline.extract import (
        extract_mentions,
        extract_triples,
        mention_triples,
    )
    from mopper_spark.pipeline.materialize import diff_graph_tables

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    # engine-portable slice predicate (md5 prefix, not xxhash64 — the
    # oracle must compute the identical partition)
    tr_new = tr.filter(
        F.expr(
            "pmod(cast(conv(substr(md5(conv_id), 1, 4), 16, 10) as bigint), 3) != 0"
        )
    )

    def kg(t):
        return extract_triples(t).unionByName(mention_triples(extract_mentions(t)))

    return diff_graph_tables(kg(tr), kg(tr_new))


# the oracle re-derives BOTH snapshots: kg_new is the statement-set SQL
# with the fixture scan swapped for the md5-sliced scan
_KG_NEW_SQL = _SQL_KG_GRAPH.replace(
    f"read_parquet('{_TRANSCRIPTS_FIXTURE}'))",
    f"read_parquet('{_TRANSCRIPTS_FIXTURE}') "
    "WHERE (('0x' || substr(md5(conv_id), 1, 4))::BIGINT % 3) <> 0)",
)
assert _KG_NEW_SQL != _SQL_KG_GRAPH, "snapshot-diff oracle: scan swap failed"

_SQL_KG_SNAPSHOT_DIFF = f"""
WITH o AS (SELECT DISTINCT subj, pred, obj, okind, graph FROM ({_SQL_KG_GRAPH})),
n AS (SELECT DISTINCT subj, pred, obj, okind, graph FROM ({_KG_NEW_SQL}))
SELECT 'add' AS op, * FROM (SELECT * FROM n EXCEPT SELECT * FROM o)
UNION ALL
SELECT 'del' AS op, * FROM (SELECT * FROM o EXCEPT SELECT * FROM n)
"""


def _q_kg_snapshot_asof(spark: SparkSession, sf: str) -> DataFrame:
    """Graph time travel (pipeline/materialize.py::apply_changelog) —
    the inverse of kg_snapshot_diff: a base snapshot (2/3 of the fixture
    conversations) plus a three-version changelog (v1 adds the missing
    third, v2 cuts down to one third, v3 restores everything), replayed
    AS OF v2.  Exercises every mechanism at once: base statements
    deleted at v2, statements added at v1 then deleted at v2 (last-op-
    wins), and v3 rows excluded by the asof filter.  The oracle is
    simply the v2 statement set rebuilt from scratch — one combine-able
    max-struct aggregation over the log must reproduce it exactly."""
    from mopper_spark.pipeline.extract import (
        extract_mentions,
        extract_triples,
        mention_triples,
    )
    from mopper_spark.pipeline.materialize import (
        apply_changelog,
        diff_graph_tables,
    )

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    slice_mod = "pmod(cast(conv(substr(md5(conv_id), 1, 4), 16, 10) as bigint), 3)"

    def kg(t):
        return extract_triples(t).unionByName(
            mention_triples(extract_mentions(t))
        )

    v0 = kg(tr.filter(F.expr(f"{slice_mod} != 0")))  # two thirds
    v1 = kg(tr)  # everything
    v2 = kg(tr.filter(F.expr(f"{slice_mod} == 1")))  # one third
    v3 = v1

    def stamp(diff, v):
        return diff.select(F.lit(v).cast("long").alias("version"), "*")

    log = (
        stamp(diff_graph_tables(v0, v1), 1)
        .unionByName(stamp(diff_graph_tables(v1, v2), 2))
        .unionByName(stamp(diff_graph_tables(v2, v3), 3))
    )
    return apply_changelog(v0, log, asof=2)


# the oracle rebuilds the as-of-v2 state from scratch: the statement-set
# SQL over the one-third conversation slice
_SQL_KG_SNAPSHOT_ASOF = "SELECT DISTINCT subj, pred, obj, okind, graph FROM ({})".format(
    _SQL_KG_GRAPH.replace(
        f"read_parquet('{_TRANSCRIPTS_FIXTURE}'))",
        f"read_parquet('{_TRANSCRIPTS_FIXTURE}') "
        "WHERE (('0x' || substr(md5(conv_id), 1, 4))::BIGINT % 3) = 1)",
    )
)
assert "% 3) = 1" in _SQL_KG_SNAPSHOT_ASOF, "asof oracle: scan swap failed"


# RDFS schema over the extraction ontology — shared verbatim by the Spark
# query and the DuckDB oracle (SQL VALUES generated from this list).
_ONT = "http://example.com/ontology/"
_RDF_TYPE_IRI = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
_RDFS = "http://www.w3.org/2000/01/rdf-schema#"
_RDFS_SCHEMA_TRIPLES = [
    (_ONT + "mentions", _RDFS + "subPropertyOf", _ONT + "references"),
    (_ONT + "references", _RDFS + "subPropertyOf", _ONT + "relatedTo"),
    (_ONT + "mentions", _RDFS + "domain", _ONT + "Turn"),
    (_ONT + "mentions", _RDFS + "range", _ONT + "Entity"),
    (_ONT + "inConversation", _RDFS + "domain", _ONT + "Turn"),
    (_ONT + "inConversation", _RDFS + "range", _ONT + "Conversation"),
    (_ONT + "Entity", _RDFS + "subClassOf", _ONT + "Resource"),
    (_ONT + "Conversation", _RDFS + "subClassOf", _ONT + "Container"),
    (_ONT + "Container", _RDFS + "subClassOf", _ONT + "Resource"),
    (_ONT + "Turn", _RDFS + "subClassOf", _ONT + "Resource"),
]


def _q_kg_rdfs_entailment(spark: SparkSession, sf: str) -> DataFrame:
    """RDFS entailment materialization (pipeline/reasoning.py): the full
    forward-chained closure — rdfs{5,7,2,3,11,9} of RDF 1.1 Semantics —
    over the extracted KG's resource-valued statements plus an inline
    RDFS schema (property chain mentions⊑references⊑relatedTo,
    domain/range typing, a three-class hierarchy).  Every rule is a
    broadcast join of schema-sized relations against the instance graph;
    the oracle replays the staged pass with recursive CTEs (the schema is
    stratified, so one pass IS the fixpoint — the Spark side's
    verification loop proves it by re-running to count-stability)."""
    from mopper_spark.pipeline.extract import (
        extract_mentions,
        extract_triples,
        mention_triples,
    )
    from mopper_spark.pipeline.reasoning import rdfs_entailment

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    kg = extract_triples(tr).unionByName(mention_triples(extract_mentions(tr)))
    inst = kg.filter(
        F.col("pred").isin(_ONT + "mentions", _ONT + "inConversation")
    ).select("subj", "pred", "obj")
    schema = spark.createDataFrame(
        _RDFS_SCHEMA_TRIPLES, "subj string, pred string, obj string"
    )
    return rdfs_entailment(inst.unionByName(schema))


_SQL_RDFS_SCHEMA_VALUES = ",\n  ".join(
    "('{}', '{}', '{}')".format(*t) for t in _RDFS_SCHEMA_TRIPLES
)

_SQL_KG_RDFS_ENTAILMENT = f"""
WITH kg AS ({_SQL_KG_GRAPH}),
schema_t(subj, pred, obj) AS (VALUES
  {_SQL_RDFS_SCHEMA_VALUES}
),
g0 AS (
  SELECT DISTINCT subj, pred, obj FROM kg
  WHERE pred IN ('{_ONT}mentions', '{_ONT}inConversation')
  UNION
  SELECT subj, pred, obj FROM schema_t
),
spc AS (
  -- DuckDB scoping quirk: a top-level WITH RECURSIVE breaks the nested
  -- WITH inside the kg CTE, so the recursion is nested here instead.
  WITH RECURSIVE c(src, dst) AS (
    SELECT subj, obj FROM g0 WHERE pred = '{_RDFS}subPropertyOf'
    UNION
    SELECT c.src, e.obj FROM c
    JOIN g0 e ON e.pred = '{_RDFS}subPropertyOf' AND c.dst = e.subj
  ) SELECT src, dst FROM c
),
g1 AS (
  SELECT subj, pred, obj FROM g0
  UNION SELECT src, '{_RDFS}subPropertyOf', dst FROM spc
  UNION SELECT t.subj, c.dst, t.obj FROM g0 t JOIN spc c ON t.pred = c.src
),
doms AS (SELECT subj AS p, obj AS cls FROM g1 WHERE pred = '{_RDFS}domain'),
rngs AS (SELECT subj AS p, obj AS cls FROM g1 WHERE pred = '{_RDFS}range'),
g2 AS (
  SELECT subj, pred, obj FROM g1
  UNION SELECT t.subj, '{_RDF_TYPE_IRI}', d.cls FROM g1 t JOIN doms d ON t.pred = d.p
  UNION SELECT t.obj, '{_RDF_TYPE_IRI}', r.cls FROM g1 t JOIN rngs r ON t.pred = r.p
),
scc AS (
  WITH RECURSIVE c(src, dst) AS (
    SELECT subj, obj FROM g2 WHERE pred = '{_RDFS}subClassOf'
    UNION
    SELECT c.src, e.obj FROM c
    JOIN g2 e ON e.pred = '{_RDFS}subClassOf' AND c.dst = e.subj
  ) SELECT src, dst FROM c
)
SELECT DISTINCT subj, pred, obj FROM (
  SELECT subj, pred, obj FROM g2
  UNION SELECT src, '{_RDFS}subClassOf', dst FROM scc
  UNION SELECT t.subj, '{_RDF_TYPE_IRI}', c.dst
        FROM g2 t JOIN scc c ON t.pred = '{_RDF_TYPE_IRI}' AND t.obj = c.src
)
"""


def _q_kg_rdfs_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental RDFS closure maintenance (pipeline/reasoning.py::
    rdfs_entailment_delta): the instance statements are split into a
    base (~3/4) and a late-arriving delta (~1/4) by an md5 prefix of the
    full statement — engine-portable and partitioning-proof — the base
    is closed with the full reasoner, and the delta is folded in
    frontier-only: every rule pass joins the broadcast pre-closed schema
    against the DELTA alone, never rescanning the closed base (the
    10^12-turn contract: a new conversation batch costs O(|delta|), not
    O(|graph|)).  The oracle is the one-shot closure of base ∪ delta —
    the very SQL of kg_rdfs_entailment — so the gate hash proves
    incremental maintenance ≡ full recompute."""
    from mopper_spark.pipeline.extract import (
        extract_mentions,
        extract_triples,
        mention_triples,
    )
    from mopper_spark.pipeline.reasoning import (
        rdfs_entailment,
        rdfs_entailment_delta,
    )

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    kg = extract_triples(tr).unionByName(mention_triples(extract_mentions(tr)))
    inst = kg.filter(
        F.col("pred").isin(_ONT + "mentions", _ONT + "inConversation")
    ).select("subj", "pred", "obj")
    is_delta = F.substring(
        F.md5(F.concat_ws("\x1f", "subj", "pred", "obj")), 1, 1
    ).isin("0", "1", "2", "3")
    schema = spark.createDataFrame(
        _RDFS_SCHEMA_TRIPLES, "subj string, pred string, obj string"
    )
    base_closed = rdfs_entailment(inst.filter(~is_delta).unionByName(schema))
    return rdfs_entailment_delta(base_closed, inst.filter(is_delta))


# The incremental result must EQUAL the one-shot closure — same oracle.
_SQL_KG_RDFS_INCREMENTAL = _SQL_KG_RDFS_ENTAILMENT


_SQL_KG_SPARQL_ASK = f"""
WITH kg AS ({_SQL_KG_GRAPH})
SELECT 'chain_match' AS probe,
       EXISTS(SELECT 1 FROM kg a JOIN kg b ON a.subj = b.subj
              WHERE a.pred = '{_ONT}mentions'
                AND b.pred = '{_ONT}inConversation') AS found
UNION ALL
SELECT 'const_match',
       EXISTS(SELECT 1 FROM kg WHERE pred = '{_ONT}role' AND obj = 'user')
UNION ALL
SELECT 'no_match',
       EXISTS(SELECT 1 FROM kg WHERE pred = '{_ONT}mentions'
              AND obj = 'http://example.com/entity/NoSuchEntity')
"""



# OWL schema over the turn-order graph — shared verbatim by the Spark query
# and the DuckDB oracle (SQL VALUES generated from this list).
_OWL = "http://www.w3.org/2002/07/owl#"
_OWL_SCHEMA_TRIPLES = [
    (_ONT + "next", _RDF_TYPE_IRI, _OWL + "TransitiveProperty"),
    (_ONT + "next", _OWL + "inverseOf", _ONT + "prev"),
    (_ONT + "adjacentTo", _RDF_TYPE_IRI, _OWL + "SymmetricProperty"),
    (_ONT + "inConversation", _OWL + "equivalentProperty", _ONT + "partOf"),
]


def _q_kg_owl_inference(spark: SparkSession, sf: str) -> DataFrame:
    """OWL 2 RL property-rule inference (pipeline/reasoning.py::
    owl_rl_lite) over the turn-order graph: successor edges ont:next /
    ont:adjacentTo between consecutive turns of each conversation
    (window lead by turn_idx) plus the extracted ont:inConversation
    statements, under a schema declaring next transitive (prp-trp: the
    happens-before closure, up to 239 hops deep on this fixture),
    next inverseOf prev (prp-inv over asserted AND closure-derived
    statements), adjacentTo symmetric (prp-symp), and inConversation
    equivalent to partOf (eq-prop compiled to mutual subPropertyOf,
    materialized via rdfs5/rdfs7).  The oracle replays the staged pass;
    the Spark side's verification loop proves one pass IS the fixpoint
    for this schema by re-running to count-stability."""
    from pyspark.sql import Window

    from mopper_spark.pipeline.extract import extract_triples
    from mopper_spark.pipeline.reasoning import owl_rl_lite

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    turn_iri = F.concat(
        F.lit(EX + "turn/"), F.col("conv_id"), F.lit("/"), F.col("turn_idx")
    )
    seq = (
        tr.select(
            turn_iri.alias("s"),
            F.lead(turn_iri).over(w).alias("o"),
        )
        .filter(F.col("o").isNotNull())
    )
    nxt = seq.select(
        F.col("s").alias("subj"),
        F.lit(_ONT + "next").alias("pred"),
        F.col("o").alias("obj"),
    )
    adj = seq.select(
        F.col("s").alias("subj"),
        F.lit(_ONT + "adjacentTo").alias("pred"),
        F.col("o").alias("obj"),
    )
    inconv = (
        extract_triples(tr)
        .filter(F.col("pred") == _ONT + "inConversation")
        .select("subj", "pred", "obj")
    )
    schema = spark.createDataFrame(
        _OWL_SCHEMA_TRIPLES, "subj string, pred string, obj string"
    )
    return owl_rl_lite(
        nxt.unionByName(adj).unionByName(inconv).unionByName(schema)
    )


_SQL_OWL_SCHEMA_VALUES = ",\n  ".join(
    "('{}', '{}', '{}')".format(*t) for t in _OWL_SCHEMA_TRIPLES
)

# The graph CTEs are MATERIALIZED: each is read by several later ones, and
# DuckDB otherwise inlines them, re-running the recursive closures once per
# reference (measured 69 s and 7.9 GB resident vs 1.4 s and 0.4 GB, same
# rows, on the 2,000-turn fixture).
_SQL_KG_OWL_INFERENCE = f"""
WITH tr AS (SELECT * FROM read_parquet('{_TRANSCRIPTS_FIXTURE}')),
seq AS (
  SELECT 'http://example.com/turn/' || conv_id || '/' || turn_idx AS s,
         'http://example.com/turn/' || conv_id || '/'
           || lead(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS o
  FROM tr
),
pairs AS (SELECT s, o FROM seq WHERE o IS NOT NULL),
schema_t(subj, pred, obj) AS (VALUES
  {_SQL_OWL_SCHEMA_VALUES}
),
g0 AS MATERIALIZED (
  SELECT s AS subj, '{_ONT}next' AS pred, o AS obj FROM pairs
  UNION
  SELECT s, '{_ONT}adjacentTo', o FROM pairs
  UNION
  SELECT 'http://example.com/turn/' || conv_id || '/' || turn_idx,
         '{_ONT}inConversation',
         'http://example.com/conv/' || conv_id
  FROM tr
  UNION
  SELECT subj, pred, obj FROM schema_t
),
-- eq-prop compiled to mutual subPropertyOf statements
g1 AS MATERIALIZED (
  SELECT subj, pred, obj FROM g0
  UNION SELECT subj, '{_RDFS}subPropertyOf', obj FROM g0
        WHERE pred = '{_OWL}equivalentProperty'
  UNION SELECT obj, '{_RDFS}subPropertyOf', subj FROM g0
        WHERE pred = '{_OWL}equivalentProperty'
),
-- rdfs5 closure of subPropertyOf + rdfs7 statement copying
spc AS MATERIALIZED (
  WITH RECURSIVE c(src, dst) AS (
    SELECT subj, obj FROM g1 WHERE pred = '{_RDFS}subPropertyOf'
    UNION
    SELECT c.src, e.obj FROM c
    JOIN g1 e ON e.pred = '{_RDFS}subPropertyOf' AND c.dst = e.subj
  ) SELECT src, dst FROM c
),
g2 AS MATERIALIZED (
  SELECT subj, pred, obj FROM g1
  UNION SELECT src, '{_RDFS}subPropertyOf', dst FROM spc
  UNION SELECT t.subj, c.dst, t.obj FROM g1 t JOIN spc c ON t.pred = c.src
),
-- prp-trp: per-predicate closure over transitive-typed predicates
trp AS MATERIALIZED (
  WITH RECURSIVE c(pred, src, dst) AS (
    SELECT t.pred, t.subj, t.obj FROM g2 t
    JOIN g2 ty ON ty.pred = '{_RDF_TYPE_IRI}'
              AND ty.obj = '{_OWL}TransitiveProperty'
              AND ty.subj = t.pred
    UNION
    SELECT c.pred, c.src, e.obj FROM c
    JOIN g2 e ON e.pred = c.pred AND e.subj = c.dst
  ) SELECT pred, src, dst FROM c
),
g3 AS MATERIALIZED (
  SELECT subj, pred, obj FROM g2
  UNION SELECT src, pred, dst FROM trp
),
-- prp-inv1/2 (both orientations)
ipairs AS MATERIALIZED (
  SELECT subj AS p, obj AS q FROM g3 WHERE pred = '{_OWL}inverseOf'
  UNION
  SELECT obj, subj FROM g3 WHERE pred = '{_OWL}inverseOf'
),
g4 AS MATERIALIZED (
  SELECT subj, pred, obj FROM g3
  UNION SELECT t.obj, i.q, t.subj FROM g3 t JOIN ipairs i ON t.pred = i.p
)
-- prp-symp
SELECT DISTINCT subj, pred, obj FROM (
  SELECT subj, pred, obj FROM g4
  UNION
  SELECT t.obj, t.pred, t.subj FROM g4 t
  JOIN g4 ty ON ty.pred = '{_RDF_TYPE_IRI}'
            AND ty.obj = '{_OWL}SymmetricProperty'
            AND ty.subj = t.pred
)
"""


def _q_kg_sameas_canonical(spark: SparkSession, sf: str) -> DataFrame:
    """owl:sameAs smushing (pipeline/reasoning.py::sameas_canonicalize):
    sameAs assertions are DERIVED from the extracted mention graph itself
    — entity IRIs equal up to ASCII case (the fixture mixes
    'Grace Hopper' / 'grace hopper' surfaces) — then the graph is
    rewritten so every subject/object names its component's
    lexicographically-smallest representative and the sameAs statements
    are dropped.  Components come from the large/small-star CC over
    the IRI strings; the oracle replays with an undirected recursive
    reachability CTE and min-over-reachable."""
    from mopper_spark.pipeline.extract import extract_mentions, mention_triples
    from mopper_spark.pipeline.reasoning import OWL_SAMEAS, sameas_canonicalize

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    men = mention_triples(extract_mentions(tr))
    ents = men.select("obj").distinct()
    same = (
        ents.alias("a")
        .join(
            ents.alias("b"),
            (F.lower(F.col("a.obj")) == F.lower(F.col("b.obj")))
            & (F.col("a.obj") < F.col("b.obj")),
        )
        .select(
            F.col("a.obj").alias("subj"),
            F.lit(OWL_SAMEAS).alias("pred"),
            F.col("b.obj").alias("obj"),
            F.lit("iri").alias("okind"),
            F.lit(EX + "graph/sameas").alias("graph"),
        )
    )
    return sameas_canonicalize(men.unionByName(same))


_SQL_KG_SAMEAS_CANONICAL = f"""
WITH kg AS ({_SQL_KG_GRAPH}),
men AS (SELECT subj, pred, obj, okind, graph FROM kg
        WHERE pred = '{_ONT}mentions'),
ents AS (SELECT DISTINCT obj FROM men),
e AS (SELECT a.obj AS u, b.obj AS v FROM ents a
      JOIN ents b ON lower(a.obj) = lower(b.obj) AND a.obj < b.obj),
sym AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
m AS (
  -- DuckDB scoping quirk: a top-level WITH RECURSIVE breaks the nested
  -- WITH inside the kg CTE, so the recursion is nested here instead.
  WITH RECURSIVE reach(node, r) AS (
    SELECT u, u FROM sym
    UNION
    SELECT rc.node, s.v FROM reach rc JOIN sym s ON s.u = rc.r
  ) SELECT node, MIN(r) AS rep FROM reach GROUP BY node
)
SELECT DISTINCT
  coalesce(ms.rep, t.subj) AS subj,
  t.pred,
  coalesce(mo.rep, t.obj) AS obj,
  t.okind,
  t.graph
FROM men t
LEFT JOIN m ms ON ms.node = t.subj
LEFT JOIN m mo ON mo.node = t.obj
"""


_PROV_ACTIVITY = EX + "activity/mention-extraction-v1"


def _q_kg_provenance(spark: SparkSession, sf: str) -> DataFrame:
    """Per-triple provenance (pipeline/provenance.py): the mention
    triples reified into RDF-reification skeletons plus PROV-O
    wasDerivedFrom (the source turn IRI), generatedAtTime (the turn's
    epoch-microsecond timestamp — TZ/fetch-path-proof literal), and
    wasGeneratedBy (the extraction-rule activity IRI).  Statement ids
    are deterministic md5 skolems of the (s,p,o) content, reproduced
    hex-for-hex by the DuckDB oracle, so replayed batches converge on
    the same statement nodes — the merge semantics idempotent
    checkpoint replay needs.  One narrow pass: md5 once per triple
    below an array explode; the only shuffle is the statement-id-keyed
    distinct (uniform md5, skew-proof)."""
    from mopper_spark.pipeline.extract import extract_mentions, mention_triples
    from mopper_spark.pipeline.provenance import reify_with_provenance

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    turn_iri = F.concat(
        F.lit(EX + "turn/"), F.col("conv_id"), F.lit("/"), F.col("turn_idx")
    )
    epoch_us = (
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    turn_ts = tr.select(
        turn_iri.alias("subj"), F.expr(epoch_us).alias("at_us")
    )
    trip = mention_triples(extract_mentions(tr)).join(turn_ts, "subj")
    return reify_with_provenance(
        trip,
        derived_from="subj",
        generated_at="at_us",
        activity_iri=_PROV_ACTIVITY,
        stmt_prefix=EX + "stmt/",
        graph_iri=EX + "graph/provenance",
    )


_RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
_PROV = "http://www.w3.org/ns/prov#"

_SQL_KG_PROVENANCE = f"""
WITH kg AS ({_SQL_KG_GRAPH}),
tr AS (SELECT * FROM read_parquet('{_TRANSCRIPTS_FIXTURE}')),
men AS (SELECT subj, pred, obj, okind FROM kg
        WHERE pred = '{_ONT}mentions'),
wts AS (
  SELECT m.subj AS s, m.pred AS p, m.obj AS o, m.okind AS k,
         CAST(epoch_us(t.ts) AS VARCHAR) AS at
  FROM men m
  JOIN (SELECT 'http://example.com/turn/' || conv_id || '/' || turn_idx
          AS turn, ts FROM tr) t ON t.turn = m.subj
),
sid AS (
  SELECT 'http://example.com/stmt/'
           || md5(s || chr(31) || p || chr(31) || o) AS stmt,
         s, p, o, k, at
  FROM wts
)
SELECT DISTINCT subj, pred, obj, okind,
       'http://example.com/graph/provenance' AS graph
FROM (
  SELECT stmt AS subj, '{_RDF_NS}type' AS pred,
         '{_RDF_NS}Statement' AS obj, 'iri' AS okind FROM sid
  UNION ALL SELECT stmt, '{_RDF_NS}subject', s, 'iri' FROM sid
  UNION ALL SELECT stmt, '{_RDF_NS}predicate', p, 'iri' FROM sid
  UNION ALL SELECT stmt, '{_RDF_NS}object', o, k FROM sid
  UNION ALL SELECT stmt, '{_PROV}wasDerivedFrom', s, 'iri' FROM sid
  UNION ALL SELECT stmt, '{_PROV}generatedAtTime', at, 'lit' FROM sid
  UNION ALL SELECT stmt, '{_PROV}wasGeneratedBy', '{_PROV_ACTIVITY}', 'iri'
            FROM sid
)
"""


def _q_docs_quality_model(spark: SparkSession, sf: str) -> DataFrame:
    """fastText-style hashed linear quality scoring
    (textops/quality_model.py): unigram+bigram features md5-hashed into
    2^20 buckets, fixed-point integer weights, score summed INSIDE the
    feature array (no explode, no shuffle) — every bucket and weight
    recomputed hex-for-hex by the DuckDB oracle."""
    from mopper_spark.textops.quality_model import quality_scores

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    # the test corpus is ONE small parquet file -> one scan partition; the
    # scorer is CPU-bound (2 md5 per feature), so spread it across cores.
    # At real scale the many-file scan is already parallel and this
    # repartition (a trivial shuffle of raw docs) would be dropped.
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return quality_scores(docs)


_SQL_DOCS_QUALITY_MODEL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     x -> x <> '') AS tk
  FROM documents
), feats AS (
  SELECT doc_id,
         list_concat(tk,
           CASE WHEN len(tk) >= 2
                THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
                ELSE [] END) AS fs
  FROM toks
)
SELECT doc_id,
       CAST(len(fs) AS BIGINT) AS n_features,
       CAST(COALESCE(list_sum(list_transform(fs, f ->
         ((('0x' || substr(md5('qm-v1w' ||
              ((('0x' || substr(md5('qm-v1' || f), 1, 12))::BIGINT) % 1048576)
            ), 1, 12))::BIGINT) % 2001) - 1000
       )), 0) AS BIGINT) AS score_fp
FROM feats
"""


def _q_docs_quality_model_trained(spark: SparkSession, sf: str) -> DataFrame:
    """Trained-weights quality model (VERDICT r3 #5): the weight of each
    hashed feature bucket comes from a (bucket, weight_fp) TABLE — here a
    deterministic 4096-bucket model, sparsified by dropping buckets whose
    weight is 0 mod 3 (absent bucket ⇒ weight 0, the pruned-model
    contract) — shipped as a one-row broadcast map so the docs side stays
    shuffle-free (plan-pinned in tests/test_textops.py).  The DuckDB
    oracle recomputes the same weights functionally, CASE-ing the dropped
    buckets to 0 (mopper_spark/textops/quality_model.py::
    quality_scores_trained)."""
    from mopper_spark.textops.quality_model import quality_scores_trained

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    weights = (
        spark.range(4096)
        .select(
            F.col("id").alias("bucket"),
            (
                F.pmod(
                    F.conv(
                        F.substring(
                            F.md5(F.concat(F.lit("tw:"), F.col("id").cast("string"))),
                            1,
                            12,
                        ),
                        16,
                        10,
                    ).cast("long"),
                    F.lit(2001),
                )
                - 1000
            ).alias("weight_fp"),
        )
        .filter(F.col("weight_fp") % 3 != 0)
    )
    return quality_scores_trained(docs, weights, n_buckets=4096)


_SQL_DOCS_QUALITY_MODEL_TRAINED = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     x -> x <> '') AS tk
  FROM documents
), feats AS (
  SELECT doc_id,
         list_concat(tk,
           CASE WHEN len(tk) >= 2
                THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
                ELSE [] END) AS fs
  FROM toks
)
SELECT doc_id,
       CAST(len(fs) AS BIGINT) AS n_features,
       CAST(COALESCE(list_sum(list_transform(
         list_transform(fs, f ->
           ((('0x' || substr(md5('tw:' ||
                ((('0x' || substr(md5('qm-v1' || f), 1, 12))::BIGINT) % 4096)
              ), 1, 12))::BIGINT) % 2001) - 1000),
         w -> CASE WHEN w % 3 <> 0 THEN w ELSE 0 END)), 0) AS BIGINT) AS score_fp
FROM feats
"""


def _q_transcripts_render(spark: SparkSession, sf: str) -> DataFrame:
    """Chat-template rendering (textops/prepare.py::render_conversations):
    one training document per conversation, turns in stable (turn_idx)
    order via array_sort-after-collect_list (partition-order-proof)."""
    from mopper_spark.textops.prepare import render_conversations

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    return render_conversations(tr)


_SQL_TRANSCRIPTS_RENDER = f"""
SELECT conv_id,
       CAST(COUNT(*) AS BIGINT) AS n_turns,
       string_agg('<|' || role || '|>' || text, chr(10)
                  ORDER BY turn_idx, '<|' || role || '|>' || text) AS text
FROM read_parquet('{_TRANSCRIPTS_FIXTURE}')
GROUP BY conv_id
"""


def _q_transcripts_sft_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """SFT pair extraction (textops/prepare.py::sft_pairs): every
    assistant turn paired with the nearest preceding user turn of its
    conversation (tool turns skipped, not blocking) — the
    (prompt, response) layout SFT corpora use.  One per-conversation
    window pass; oracle = the same running last_value(... IGNORE NULLS)
    window in DuckDB."""
    from mopper_spark.textops.prepare import sft_pairs

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    return sft_pairs(tr)


_SQL_TRANSCRIPTS_SFT_PAIRS = f"""
SELECT conv_id, turn_idx, prompt, text AS response
FROM (
  SELECT conv_id, turn_idx, role, text,
         last_value(CASE WHEN role = 'user' THEN text END IGNORE NULLS)
           OVER (PARTITION BY conv_id ORDER BY turn_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prompt
  FROM read_parquet('{_TRANSCRIPTS_FIXTURE}')
)
WHERE role = 'assistant' AND prompt IS NOT NULL
"""


def _q_transcripts_dedup_paragraphs(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style paragraph dedup COMPOSED with chat rendering: render
    conversations, then keep only the corpus-wide first occurrence of
    each rendered turn line (boilerplate turns repeat across
    conversations in the fixture), reassembling survivors in order."""
    from mopper_spark.textops.prepare import dedup_paragraphs, render_conversations

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    docs = render_conversations(tr).select(
        F.col("conv_id").alias("doc_id"), "text"
    )
    return dedup_paragraphs(docs).withColumnRenamed("doc_id", "conv_id")


_SQL_TRANSCRIPTS_DEDUP_PARAS = f"""
WITH paras AS (
  SELECT conv_id,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY conv_id
           ORDER BY turn_idx, '<|' || role || '|>' || text) - 1 AS BIGINT) AS pos,
         '<|' || role || '|>' || text AS para
  FROM read_parquet('{_TRANSCRIPTS_FIXTURE}')
), first AS (
  SELECT para, MIN(struct_pack(c := conv_id, p := pos)) AS f
  FROM paras GROUP BY para
), tagged AS (
  SELECT p.conv_id, p.pos, p.para,
         (p.conv_id = (f.f).c AND p.pos = (f.f).p) AS keep
  FROM paras p JOIN first f USING (para)
)
SELECT conv_id,
       string_agg(CASE WHEN keep THEN para END, chr(10) ORDER BY pos) AS text,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
FROM tagged GROUP BY conv_id
"""


def _q_docs_pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """PII scrubbing (textops/prepare.py::scrub_pii): the documents are
    deterministically salted with synthetic email/IP/phone strings, then
    the RE2-compatible regex chain removes them — the oracle builds the
    same salted text and scrubs with the same patterns, so the gate
    checks REGEX-DIALECT parity, not just plumbing."""
    from mopper_spark.textops.prepare import scrub_pii

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    salted = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com on 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 or +1 (555) 010-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" today"),
    )
    return docs.select("doc_id", scrub_pii(salted).alias("text"))


_SQL_DOCS_PII_SCRUB = """
WITH salted AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com on 10.0.'
              || (doc_id % 256) || '.7 or +1 (555) 010-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today' AS t
  FROM documents
)
SELECT doc_id,
  regexp_replace(
    regexp_replace(
      regexp_replace(t,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '|||EMAIL|||', 'g'),
      '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '|||IP|||', 'g'),
    '\\+?\\d[\\d\\s().-]{7,}\\d', '|||PHONE|||', 'g') AS text
FROM salted
"""


def _q_docs_budget_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget mixture assembly (textops/prepare.py::budget_sample):
    three sources with different budgets, admission in deterministic md5
    order until each budget fills — cumulative sums replicated by a
    window in the oracle."""
    from mopper_spark.textops.prepare import budget_sample

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return budget_sample(
        docs, {"src0": 300, "src1": 1500, "src2": 10**6}
    ).select("doc_id", "source", "n_tokens", "cum_tokens")


_SQL_DOCS_BUDGET_MIX = """
WITH base AS (
  SELECT doc_id, source,
         CASE source WHEN 'src0' THEN 300 WHEN 'src1' THEN 1500
                     WHEN 'src2' THEN 1000000 END AS budget,
         CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens,
         ('0x' || substr(md5('mix-v1' || doc_id), 1, 12))::BIGINT AS draw
  FROM documents
  WHERE source IN ('src0', 'src1', 'src2')
), cum AS (
  SELECT doc_id, source, budget, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY draw, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_tokens
  FROM base
)
SELECT doc_id, source, n_tokens, cum_tokens FROM cum WHERE cum_tokens < budget
"""


def _q_transcripts_segment(spark: SparkSession, sf: str) -> DataFrame:
    """Lexical-cohesion conversation segmentation
    (textops/prepare.py::segment_conversations): a new training-window
    segment opens when turn-to-turn token-Jaccard drops below 0.1 —
    evaluated as the exact INTEGER inequality 10·|∩| < 1·|∪|, so the
    oracle replicates it with no float anywhere."""
    from mopper_spark.textops.prepare import segment_conversations

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    return segment_conversations(tr)


_SQL_TRANSCRIPTS_SEGMENT = f"""
WITH toks AS (
  SELECT conv_id, turn_idx,
         list_distinct(list_filter(
           string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')) AS tk
  FROM read_parquet('{_TRANSCRIPTS_FIXTURE}')
), lagged AS (
  SELECT conv_id, turn_idx, tk,
         LAG(tk) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS pk
  FROM toks
), flags AS (
  SELECT conv_id, turn_idx,
         CASE WHEN pk IS NULL THEN 0
              WHEN 10 * len(list_intersect(tk, pk))
                   < 1 * (len(tk) + len(pk) - len(list_intersect(tk, pk)))
              THEN 1 ELSE 0 END AS b
  FROM lagged
)
SELECT conv_id, turn_idx,
       CAST(SUM(b) OVER (PARTITION BY conv_id ORDER BY turn_idx
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS seg_id
FROM flags
"""


# ------------------------------------------------- incremental-shard dedup --
def _q_dedup_incremental_shard(spark: SparkSession, sf: str) -> DataFrame:
    """Shard-vs-corpus dedup (textops/dedup.py::incremental_shard_dedup):
    the production ingest tick — verdict each NEW doc against the EXISTING
    corpus only (exact fingerprint index + cross-side minhash-LSH band
    probe, verified by exact word-shingle Jaccard), never re-pairing the
    corpus with itself.  Fresh shard = every 5th doc plus three exact
    copies of corpus docs (re-idded), so all three verdicts are exercised.
    Strict oracle: the banding recall over fresh×corpus pairs at the 0.5
    threshold is total on this fixture (subset of the all-pairs recall pin
    for dedup_minhash, re-pinned cross-side in tests/test_textops.py), so
    the exact all-pairs Jaccard SQL is an equality oracle."""
    from mopper_spark.textops.dedup import incremental_shard_dedup

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    corpus = docs.filter("doc_id % 5 <> 4")
    copies = docs.filter("doc_id IN (0, 5, 10)").select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    fresh = docs.filter("doc_id % 5 = 4").select("doc_id", "text").unionByName(copies)
    out = incremental_shard_dedup(corpus, fresh, threshold=0.5)
    # gate projection: -1 sentinel instead of NULL match_id (a nullable
    # BIGINT renders as float64 on the pandas fetch path — the fetch-path
    # parity contract pinned in tests/test_driver_contract.py)
    return out.withColumn(
        "match_id", F.coalesce("match_id", F.lit(-1)).cast("long")
    )


_SQL_DEDUP_INCREMENTAL_SHARD = r"""
WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 4),
fresh AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 4
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id IN (0, 5, 10)
),
cn AS (SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm FROM corpus),
fn AS (SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm FROM fresh),
exact AS (
  SELECT f.doc_id, MIN(c.doc_id) AS m FROM fn f JOIN cn c USING (norm) GROUP BY f.doc_id
),
ftoks AS (
  SELECT doc_id AS id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS tk
  FROM fresh
),
ctoks AS (
  SELECT doc_id AS id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS tk
  FROM corpus
),
fsh AS (
  SELECT id, list_distinct(CASE WHEN len(tk) >= 3
    THEN list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' '))
    ELSE [array_to_string(tk, ' ')] END) AS sh
  FROM ftoks
),
csh AS (
  SELECT id, list_distinct(CASE WHEN len(tk) >= 3
    THEN list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' '))
    ELSE [array_to_string(tk, ' ')] END) AS sh
  FROM ctoks
),
finv AS (SELECT id, unnest(sh) AS g FROM fsh),
cinv AS (SELECT id, unnest(sh) AS g FROM csh),
fsz AS (SELECT id, len(sh) AS n FROM fsh),
csz AS (SELECT id, len(sh) AS n FROM csh),
inter AS (
  SELECT f.id AS fid, c.id AS cid, COUNT(*) AS i
  FROM finv f JOIN cinv c ON f.g = c.g GROUP BY f.id, c.id
),
jac AS (
  SELECT fid, cid, i * 1.0 / (fs.n + cs.n - i) AS j
  FROM inter JOIN fsz fs ON fs.id = fid JOIN csz cs ON cs.id = cid
  WHERE i * 1.0 / (fs.n + cs.n - i) >= 0.5
),
best AS (
  SELECT fid, cid, j FROM (
    SELECT fid, cid, j, ROW_NUMBER() OVER (PARTITION BY fid ORDER BY j DESC, cid ASC) AS rn
    FROM jac
  ) WHERE rn = 1
)
SELECT f.doc_id,
       CASE WHEN e.m IS NOT NULL THEN 'exact_dup'
            WHEN b.cid IS NOT NULL THEN 'near_dup'
            ELSE 'new' END AS verdict,
       COALESCE(e.m, b.cid, -1) AS match_id,
       CASE WHEN e.m IS NULL THEN ROUND(b.j, 5) END AS best_jaccard
FROM fresh f
LEFT JOIN exact e ON e.doc_id = f.doc_id
LEFT JOIN best b ON b.fid = f.doc_id
"""


def _q_docs_containment(spark: SparkSession, sf: str) -> DataFrame:
    """Asymmetric containment dedup (textops/dedup.py::ngram_overlap_pairs):
    overlap coefficient |A∩B| / min(|A|,|B|) ≥ 0.95 over word-3-gram sets —
    catches a short doc pasted into a much longer one, which Jaccard
    misses.  The corpus is the documents table plus derived 25-token
    excerpts of every ≥60-token doc (re-idded +100000), so true
    containment pairs exist; exactness of the measure is by construction
    (the hot-shingle cap corrects the intersection count exactly), so the
    all-pairs SQL is an equality oracle."""
    from mopper_spark.textops.dedup import _lower_tokens, ngram_overlap_pairs

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    toks = _lower_tokens("text")
    ex = (
        docs.withColumn("tk", toks)
        .filter(F.size("tk") >= 60)
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.array_join(F.slice("tk", 1, 25), " ").alias("text"),
        )
    )
    corpus = docs.select("doc_id", "text").unionByName(ex)
    out = ngram_overlap_pairs(corpus, threshold=0.95)
    return out.select(
        "id_a",
        "id_b",
        F.round("overlap", 5).alias("overlap"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
    )


_SQL_DOCS_CONTAINMENT = r"""
WITH toks0 AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS tk
  FROM documents
),
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, array_to_string(tk[1:25], ' ') AS text
  FROM toks0 WHERE len(tk) >= 60
),
toks AS (
  SELECT doc_id AS id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS tk
  FROM corpus
),
shingled AS (
  SELECT id, list_distinct(CASE WHEN len(tk) >= 3
    THEN list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' '))
    ELSE [array_to_string(tk, ' ')] END) AS sh
  FROM toks
),
inv AS (SELECT id, unnest(sh) AS g FROM shingled),
sizes AS (SELECT id, len(sh) AS n_sh FROM shingled),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
  FROM inv a JOIN inv b ON a.g = b.g AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b,
       ROUND(i * 1.0 / least(sa.n_sh, sb.n_sh), 5) AS overlap,
       CAST(sa.n_sh AS BIGINT) AS n_a, CAST(sb.n_sh AS BIGINT) AS n_b
FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
WHERE i * 1.0 / (least(sa.n_sh, sb.n_sh)) >= 0.95
"""


# --------------------------------------------------- time-series resample --
def _q_events_gap_fill(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-grid resample with LOCF (textops/timeseries.py::gap_fill):
    per user, one row per HOUR between first and last event — observed
    hours aggregated (count / integer-cents sum / max reading), missing
    hours materialized with zero-fills and the reading carried forward.
    Values go through floor(value*100) integer cents so every aggregate
    is exact under any partitioning; the grid/LOCF recipe is one keyed
    agg + sequence explode + per-key window (no global sort)."""
    from mopper_spark.textops.timeseries import gap_fill

    ev = spark.read.parquet(f"{sf}/events.parquet")
    cents = F.floor(F.col("value") * 100).cast("long")
    out = gap_fill(
        ev.withColumn("cents", cents),
        "user_id",
        "ts",
        unit_seconds=3600,
        aggs={
            "n_events": F.count("*"),
            "cents_sum": F.sum("cents"),
            "reading": F.max("cents"),
        },
        fill_zero=("n_events", "cents_sum"),
        locf=("reading",),
    )
    return out.select(
        "user_id", "bucket", "bucket_start",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("cents_sum").cast("long").alias("cents_sum"),
        "reading",
    )


_SQL_EVENTS_GAP_FILL = """
WITH e AS (
  SELECT user_id,
         datediff('hour', TIMESTAMP '1970-01-01 00:00:00', ts) AS bucket,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events
), obs AS (
  SELECT user_id, bucket,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(cents) AS BIGINT) AS cents_sum,
         MAX(cents) AS reading
  FROM e GROUP BY user_id, bucket
), grid AS (
  SELECT user_id, unnest(range(lo, hi + 1)) AS bucket
  FROM (SELECT user_id, MIN(bucket) AS lo, MAX(bucket) AS hi FROM obs GROUP BY user_id)
)
SELECT g.user_id, g.bucket,
       TIMESTAMP '1970-01-01 00:00:00' + INTERVAL 1 HOUR * g.bucket AS bucket_start,
       COALESCE(o.n_events, 0) AS n_events,
       COALESCE(o.cents_sum, 0) AS cents_sum,
       last_value(o.reading IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS reading
FROM grid g LEFT JOIN obs o ON o.user_id = g.user_id AND o.bucket = g.bucket
"""


def _q_events_window_features(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-free trailing-window features (textops/timeseries.py::
    rolling_window_features): per event, the same user's event count and
    integer-cents sum over the preceding hour (RANGE frame, microsecond-
    exact bounds) — the feature-store shape 'what was known when this
    event happened'.  One window over one hash partition by user; Spark
    evaluates the RANGE frame with a sliding two-pointer pass."""
    from mopper_spark.textops.timeseries import rolling_window_features

    ev = spark.read.parquet(f"{sf}/events.parquet")
    cents = F.floor(F.col("value") * 100).cast("long")
    out = rolling_window_features(
        ev.withColumn("cents", cents),
        "user_id",
        "ts",
        window_seconds=3600,
        aggs={"cnt_1h": F.count("*"), "cents_1h": F.sum("cents")},
    )
    return out.select("event_id", "user_id", "cnt_1h", "cents_1h")


_SQL_EVENTS_WINDOW_FEATURES = """
WITH e AS (
  SELECT event_id, user_id, ts, CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events
)
SELECT event_id, user_id,
       CAST(COUNT(*) OVER w AS BIGINT) AS cnt_1h,
       CAST(SUM(cents) OVER w AS BIGINT) AS cents_1h
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
"""


# ------------------------------------------------------ hybrid retrieval --
def _q_docs_rank_fusion(spark: SparkSession, sf: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (Cormack et al., SIGIR'09;
    textops/ranking.py::reciprocal_rank_fusion) of the BM25 top-20 for the
    fixed topic seed and the embedding-cosine top-20 for query vector 0 —
    the rank-based combiner that needs no score calibration between the
    lexical and dense lists.  Contributions are added in sorted ranker-name
    order with exact-0 absent branches, so the fused doubles are engine-
    identical; the final top-10 is a TakeOrdered over ≤40 rows."""
    from pyspark.sql import Window

    from mopper_spark.textops.ranking import bm25_scores, reciprocal_rank_fusion
    from mopper_spark.textops.similarity import brute_force_topk

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    bm = bm25_scores(docs, _BM25_TERMS, k1=_BM25_K1, b=_BM25_B)
    bm_top = bm.orderBy(F.desc("bm25"), "doc_id").limit(20)
    bm_rank = bm_top.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.desc("bm25"), "doc_id"))
    ).select("doc_id", "rank")
    cos_rank = (
        brute_force_topk(emb, emb.filter("vec_id = 0"), k=20)
        .select(F.col("vec_id").alias("doc_id"), "rank")
    )
    fused = reciprocal_rank_fusion({"bm25": bm_rank, "cosine": cos_rank}, top=10)
    return fused.select(
        "doc_id",
        F.round("rrf", 8).alias("rrf"),
        F.col("rank").cast("long").alias("rank"),
    )


_SQL_DOCS_RANK_FUSION = f"""
WITH bm AS (SELECT doc_id, bm25 FROM ({_SQL_DOCS_BM25}) _bm),
bmr AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r FROM bm),
bmtop AS (SELECT doc_id, r FROM bmr WHERE r <= 20),
q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
cs AS (
  SELECT e.vec_id AS doc_id,
         list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])) AS cos
  FROM q CROSS JOIN embeddings e WHERE e.vec_id <> 0
),
cr AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS r FROM cs),
ctop AS (SELECT doc_id, r FROM cr WHERE r <= 20),
fused AS (
  SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
         COALESCE(1e0 / (CAST(60 AS DOUBLE) + CAST(b.r AS DOUBLE)), 0e0)
         + COALESCE(1e0 / (CAST(60 AS DOUBLE) + CAST(c.r AS DOUBLE)), 0e0) AS rrf
  FROM bmtop b FULL OUTER JOIN ctop c ON b.doc_id = c.doc_id
)
SELECT doc_id, ROUND(rrf, 8) AS rrf,
       ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS rank
FROM fused
QUALIFY rank <= 10
"""


def _q_events_ewma(spark: SparkSession, sf: str) -> DataFrame:
    """Exponential smoothing in exact integers (textops/timeseries.py::
    ewma_binary): the α=1/2 EWMA truncated at depth 8, binary weights
    128..1 over the last 8 events per user — num/den are exact BIGINTs, so
    the smoothed level is bit-reproducible under any partitioning (a float
    (1−α)^j power chain is not).  One window, 7 LAGs, no arrays/UDFs."""
    from mopper_spark.textops.timeseries import ewma_binary

    ev = spark.read.parquet(f"{sf}/events.parquet")
    cents = F.floor(F.col("value") * 100).cast("long")
    out = ewma_binary(
        ev.withColumn("cents", cents),
        "user_id",
        "ts",
        "cents",
        depth=8,
        order_tiebreak="event_id",
    )
    return out.select(
        "event_id", "user_id", "ewma_num", "ewma_den",
        F.round("ewma", 6).alias("ewma"),
    )


_SQL_EVENTS_EWMA = """
WITH e AS (
  SELECT event_id, user_id, ts, CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events
), l AS (
  SELECT event_id, user_id, cents,
         LAG(cents, 1) OVER w AS c1, LAG(cents, 2) OVER w AS c2,
         LAG(cents, 3) OVER w AS c3, LAG(cents, 4) OVER w AS c4,
         LAG(cents, 5) OVER w AS c5, LAG(cents, 6) OVER w AS c6,
         LAG(cents, 7) OVER w AS c7
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT event_id, user_id,
         CAST(COALESCE(cents * 128, 0) + COALESCE(c1 * 64, 0)
            + COALESCE(c2 * 32, 0) + COALESCE(c3 * 16, 0)
            + COALESCE(c4 * 8, 0) + COALESCE(c5 * 4, 0)
            + COALESCE(c6 * 2, 0) + COALESCE(c7 * 1, 0) AS BIGINT) AS ewma_num,
         CAST((CASE WHEN cents IS NOT NULL THEN 128 ELSE 0 END)
            + (CASE WHEN c1 IS NOT NULL THEN 64 ELSE 0 END)
            + (CASE WHEN c2 IS NOT NULL THEN 32 ELSE 0 END)
            + (CASE WHEN c3 IS NOT NULL THEN 16 ELSE 0 END)
            + (CASE WHEN c4 IS NOT NULL THEN 8 ELSE 0 END)
            + (CASE WHEN c5 IS NOT NULL THEN 4 ELSE 0 END)
            + (CASE WHEN c6 IS NOT NULL THEN 2 ELSE 0 END)
            + (CASE WHEN c7 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS ewma_den
  FROM l
)
SELECT event_id, user_id, ewma_num, ewma_den,
       ROUND(CAST(ewma_num AS DOUBLE) / CAST(ewma_den AS DOUBLE), 6) AS ewma
FROM s
"""


def _q_events_changepoint(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user level-shift detection via the integer CUSUM statistic
    (textops/timeseries.py::cusum_changepoint — Page 1954 location
    estimator): S_k = n*cumsum_k - k*total over integer cents, change
    point = argmax |S_k| with smallest-k tie-break.  Every term is an
    exact BIGINT, so the argmax is engine- and partitioning-identical;
    one window pass + one combine-able min(struct) argmax."""
    from mopper_spark.textops.timeseries import cusum_changepoint

    ev = spark.read.parquet(f"{sf}/events.parquet")
    cents = F.floor(F.col("value") * 100).cast("long")
    return cusum_changepoint(
        ev.withColumn("cents", cents), "user_id", "ts", "cents",
        order_tiebreak="event_id",
    )


_SQL_EVENTS_CHANGEPOINT = """
WITH e AS (
  SELECT user_id, ts, event_id, CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events
), s AS (
  SELECT user_id, ts,
         CAST(ROW_NUMBER() OVER w AS BIGINT) AS k,
         CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
         CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT)
           * CAST(SUM(cents) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           - CAST(ROW_NUMBER() OVER w AS BIGINT)
           * CAST(SUM(cents) OVER (PARTITION BY user_id) AS BIGINT) AS sk
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), r AS (
  SELECT user_id, n, k, ts, abs(sk) AS s_abs,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY abs(sk) DESC, k ASC) AS rn
  FROM s
)
SELECT user_id, n, k AS cp_k, ts AS cp_ts, s_abs FROM r WHERE rn = 1
"""


def _q_kg_sparql_update(spark: SparkSession, sf: str) -> DataFrame:
    """SPARQL 1.1 Update DELETE/INSERT WHERE as a graph->graph transform
    (pipeline/bgp.py::sparql_update): assistant-turn mention edges are
    re-typed —

        DELETE { ?t ont:mentions ?e }
        INSERT { ?t ont:refersTo ?e . ?e ont:mentionedBy ?t }
        WHERE  { ?t ont:mentions ?e . ?t ont:role "assistant" }

    bindings matched against the ORIGINAL graph, deletes applied, then
    inserts deduplicated against the post-delete graph (set semantics).
    Two keyed anti-joins over the graph, solution-sized small sides."""
    from mopper_spark.pipeline.bgp import sparql_update
    from mopper_spark.pipeline.extract import (
        extract_mentions,
        extract_triples,
        mention_triples,
    )

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    kg = extract_triples(tr).unionByName(mention_triples(extract_mentions(tr)))
    ont = "http://example.com/ontology/"
    return sparql_update(
        kg.select("subj", "pred", "obj"),
        where=[("?t", ont + "mentions", "?e"), ("?t", ont + "role", "assistant")],
        delete=[("?t", ont + "mentions", "?e")],
        insert=[("?t", ont + "refersTo", "?e"), ("?e", ont + "mentionedBy", "?t")],
    )


_SQL_KG_SPARQL_UPDATE = f"""
WITH kg AS ({_SQL_KG_GRAPH}),
kg3 AS (SELECT subj, pred, obj FROM kg),
b AS (
  SELECT m.subj AS t, m.obj AS e
  FROM kg3 m JOIN kg3 r ON r.subj = m.subj
  WHERE m.pred = 'http://example.com/ontology/mentions'
    AND r.pred = 'http://example.com/ontology/role'
    AND r.obj = 'assistant'
),
del AS (SELECT DISTINCT t AS subj, 'http://example.com/ontology/mentions' AS pred, e AS obj FROM b),
keep AS (
  SELECT k.subj, k.pred, k.obj FROM kg3 k
  LEFT JOIN del d ON k.subj = d.subj AND k.pred = d.pred AND k.obj = d.obj
  WHERE d.subj IS NULL
),
ins AS (
  SELECT DISTINCT t AS subj, 'http://example.com/ontology/refersTo' AS pred, e AS obj FROM b
  UNION
  SELECT DISTINCT e, 'http://example.com/ontology/mentionedBy', t FROM b
),
ins_new AS (
  SELECT i.subj, i.pred, i.obj FROM ins i
  LEFT JOIN keep k ON i.subj = k.subj AND i.pred = k.pred AND i.obj = k.obj
  WHERE k.subj IS NULL
)
SELECT subj, pred, obj FROM keep
UNION ALL
SELECT subj, pred, obj FROM ins_new
"""


def _q_docs_quality_auc(spark: SparkSession, sf: str) -> DataFrame:
    """Model-evaluation AUC (textops/analysis.py::rank_auc): exact
    tie-corrected ROC-AUC of the hashed-linear quality score against the
    lang='en' label, Mann-Whitney integer formulation — numerator and
    denominator are exact BIGINTs, the single ordered window runs over
    the (distinct score -> counts) table, not the corpus."""
    from mopper_spark.textops.analysis import rank_auc
    from mopper_spark.textops.quality_model import quality_scores

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    scored = quality_scores(
        docs.repartition(spark.sparkContext.defaultParallelism)
    ).join(docs.select("doc_id", "lang"), "doc_id")
    return rank_auc(scored, "score_fp", F.col("lang") == "en")


_SQL_DOCS_QUALITY_AUC = f"""
WITH q AS ({_SQL_DOCS_QUALITY_MODEL}),
lab AS (
  SELECT q.score_fp AS score, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM q JOIN documents d ON d.doc_id = q.doc_id
), g AS (
  SELECT score, CAST(SUM(pos) AS BIGINT) AS pos_g, CAST(COUNT(*) AS BIGINT) AS n_g
  FROM lab GROUP BY score
), p AS (
  SELECT score, pos_g, n_g - pos_g AS neg_g,
         CAST(COALESCE(SUM(n_g - pos_g) OVER (
           ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS neg_below
  FROM g
)
SELECT CAST(SUM(pos_g) AS BIGINT) AS n_pos,
       CAST(SUM(neg_g) AS BIGINT) AS n_neg,
       CAST(SUM(2 * pos_g * neg_below + pos_g * neg_g) AS BIGINT) AS auc_num2x,
       ROUND(CAST(SUM(2 * pos_g * neg_below + pos_g * neg_g) AS DOUBLE)
             / (2e0 * CAST(SUM(pos_g) AS DOUBLE) * CAST(SUM(neg_g) AS DOUBLE)),
             6) AS auc
FROM p
"""


def _q_events_assoc_rules(spark: SparkSession, sf: str) -> DataFrame:
    """Market-basket association rules (textops/olap.py::
    association_rules): directional support/confidence/lift over
    (user, event_type) baskets — exact integer cross-multiplication, one
    basket-keyed self-join whose cost is basket width squared, supports
    broadcast back."""
    from mopper_spark.textops.olap import association_rules

    ev = spark.read.parquet(f"{sf}/events.parquet")
    return association_rules(ev, "user_id", "event_type")


_SQL_EVENTS_ASSOC_RULES = """
WITH u AS (SELECT DISTINCT user_id AS basket, event_type AS item FROM events),
nb AS (SELECT CAST(COUNT(DISTINCT basket) AS BIGINT) AS n_baskets FROM u),
s AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS support FROM u GROUP BY item),
p AS (
  SELECT a.item AS ant, b.item AS cons, CAST(COUNT(*) AS BIGINT) AS support_ab
  FROM u a JOIN u b ON a.basket = b.basket AND a.item <> b.item
  GROUP BY a.item, b.item
)
SELECT ant, cons, support_ab,
       sa.support AS support_ant, sc.support AS support_cons, nb.n_baskets,
       ROUND(CAST(support_ab AS DOUBLE) / CAST(sa.support AS DOUBLE), 6) AS confidence,
       ROUND(CAST(support_ab * nb.n_baskets AS DOUBLE)
             / CAST(sa.support * sc.support AS DOUBLE), 6) AS lift
FROM p JOIN s sa ON sa.item = p.ant JOIN s sc ON sc.item = p.cons CROSS JOIN nb
"""


def _q_events_ab_test(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic experiment readout (textops/sampling.py::
    ab_test_two_proportions): users hash-assigned 50/50 (md5-prefix
    bucket — engine-portable, growth-stable), exposed = has a 'view',
    converted = high-value 'purchase' (value ≥ 150; the plain predicate
    converts every fixture user, leaving the z path degenerate) strictly
    after the first view; pooled two-proportion z emitted as floor(z·10⁶)
    so the one-row answer is an exact-integer contract.  One keyed
    aggregation + a 2-arm rollup — the events table is touched once, no
    joins or windows."""
    from mopper_spark.textops.sampling import ab_test_two_proportions

    ev = spark.read.parquet(f"{sf}/events.parquet")
    return ab_test_two_proportions(
        ev,
        "user_id",
        "ts",
        exposure=F.col("event_type") == "view",
        conversion=(F.col("event_type") == "purchase") & (F.col("value") >= 150),
    )


_SQL_EVENTS_AB_TEST = """
WITH per AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS fe,
         MAX(CASE WHEN event_type = 'purchase' AND value >= 150 THEN ts END) AS lc
  FROM events GROUP BY user_id
), u AS (
  SELECT CASE WHEN lc > fe THEN 1 ELSE 0 END AS converted,
         CASE WHEN ('0x' || substr(md5('ab-v1' || CAST(user_id AS VARCHAR)), 1, 4))::BIGINT < 32768
              THEN 'control' ELSE 'treatment' END AS variant
  FROM per WHERE fe IS NOT NULL
), w AS (
  SELECT CAST(SUM(CASE WHEN variant = 'control' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN variant = 'control' THEN converted ELSE 0 END) AS BIGINT) AS conv_a,
         CAST(SUM(CASE WHEN variant = 'treatment' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(SUM(CASE WHEN variant = 'treatment' THEN converted ELSE 0 END) AS BIGINT) AS conv_b
  FROM u
), stats AS (
  SELECT n_a, conv_a, n_b, conv_b,
         CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_a,
         CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p_b,
         CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS p_pool
  FROM w
), se_t AS (
  SELECT *, sqrt(p_pool * (1e0 - p_pool)
                 * (1e0 / CAST(n_a AS DOUBLE) + 1e0 / CAST(n_b AS DOUBLE))) AS se
  FROM stats
)
SELECT n_a, conv_a, n_b, conv_b,
       ROUND(p_a, 6) AS rate_a, ROUND(p_b, 6) AS rate_b,
       CASE WHEN n_a > 0 AND n_b > 0 AND se > 0
            THEN CAST(floor(((p_a - p_b) / se) * 1000000e0) AS BIGINT) END AS z_fp
FROM se_t
"""


_WL_PREFIX_TURNS = 4


def _q_kg_wl_structural_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Graph-level structural dedup (pipeline/graphsig.py): each
    conversation becomes a labeled multigraph — turn-chain ``next``
    edges, ``role|<role>`` / ``tool|<tool>`` edges into the conversation
    node, anonymous ``mentions`` edges into per-surface entity nodes —
    and 3 rounds of Weisfeiler-Leman color refinement hash its SHAPE.
    Node names never enter the hash (color_0 is a constant), so two
    transcripts with identical turn/role/tool/mention structure collide
    even when every entity name differs — the structural analogue of
    minhash dedup, with the oracle unrolling the same md5 rounds in SQL.
    Work is conversation-local (no corpus-wide hub key).

    The driver query scopes the graph to the OPENING (first 4 turns):
    templated agent runs share their scripted opening even when the
    conversations diverge later, so the opening prefix is where
    structural duplicate classes actually form (full-conversation WL on
    45-turn transcripts separates everything — unit tests cover that on
    synthetic graphs with real isomorphs)."""
    from pyspark.sql import Window

    from mopper_spark.pipeline.extract import extract_mentions
    from mopper_spark.pipeline.graphsig import wl_dedup, wl_fingerprints

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE).filter(
        F.col("turn_idx") < _WL_PREFIX_TURNS
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    tnode = F.concat(F.lit("t:"), F.col("turn_idx"))
    nxt = (
        tr.select(
            "conv_id", "turn_idx", F.lead("turn_idx").over(w).alias("next_idx")
        )
        .filter(F.col("next_idx").isNotNull())
        .select(
            F.col("conv_id").alias("gid"),
            tnode.alias("src"),
            F.lit("next").alias("lbl"),
            F.concat(F.lit("t:"), F.col("next_idx")).alias("dst"),
        )
    )
    role = tr.select(
        F.col("conv_id").alias("gid"),
        tnode.alias("src"),
        F.concat(F.lit("role|"), F.col("role")).alias("lbl"),
        F.lit("c:").alias("dst"),
    )
    tool = tr.filter(F.col("tool").isNotNull()).select(
        F.col("conv_id").alias("gid"),
        tnode.alias("src"),
        F.concat(F.lit("tool|"), F.col("tool")).alias("lbl"),
        F.lit("c:").alias("dst"),
    )
    men = extract_mentions(tr).select(
        F.col("conv_id").alias("gid"),
        tnode.alias("src"),
        F.lit("mentions").alias("lbl"),
        F.concat(F.lit("e:"), F.col("surface")).alias("dst"),
    )
    edges = nxt.unionByName(role).unionByName(tool).unionByName(men)
    return wl_dedup(wl_fingerprints(edges, rounds=3))


def _wl_round_sql(prev: str, rnd: int) -> str:
    """One unrolled WL round in DuckDB (mirrors graphsig.wl_colors)."""
    return f"""
m{rnd} AS (
  SELECT e.gid, e.src AS node, 'o|' || e.lbl || '|' || c.color AS msg
  FROM e JOIN {prev} c ON e.gid = c.gid AND e.dst = c.node
  UNION ALL
  SELECT e.gid, e.dst, 'i|' || e.lbl || '|' || c.color
  FROM e JOIN {prev} c ON e.gid = c.gid AND e.src = c.node
),
a{rnd} AS (SELECT gid, node, string_agg(msg, ',' ORDER BY msg) AS ms
           FROM m{rnd} GROUP BY gid, node),
c{rnd} AS (SELECT c.gid, c.node, md5(c.color || '#' || coalesce(a.ms, '')) AS color
           FROM {prev} c LEFT JOIN a{rnd} a
             ON c.gid = a.gid AND c.node = a.node)"""


_SQL_KG_WL_STRUCTURAL_DEDUP = f"""
WITH {_MENTION_EDGES_CTE},
e AS (
  SELECT conv_id AS gid, 't:' || turn_idx AS src, 'next' AS lbl,
         't:' || next_idx AS dst
  FROM (SELECT conv_id, turn_idx,
               lead(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx)
                 AS next_idx
        FROM tr WHERE turn_idx < {_WL_PREFIX_TURNS})
  WHERE next_idx IS NOT NULL
  UNION ALL
  SELECT conv_id, 't:' || turn_idx, 'role|' || role, 'c:' FROM tr
  WHERE turn_idx < {_WL_PREFIX_TURNS}
  UNION ALL
  SELECT conv_id, 't:' || turn_idx, 'tool|' || tool, 'c:' FROM tr
  WHERE turn_idx < {_WL_PREFIX_TURNS} AND tool IS NOT NULL
  UNION ALL
  SELECT conv_id, 't:' || turn_idx, 'mentions', 'e:' || surface FROM men
  WHERE turn_idx < {_WL_PREFIX_TURNS}
),
n AS (SELECT DISTINCT gid, src AS node FROM e
      UNION SELECT DISTINCT gid, dst FROM e),
c0 AS (SELECT gid, node, md5('wl0') AS color FROM n),
{_wl_round_sql('c0', 1)},
{_wl_round_sql('c1', 2)},
{_wl_round_sql('c2', 3)},
fp AS (SELECT gid, md5(string_agg(color, ',' ORDER BY color)) AS wl_sig,
              count(*) AS n_nodes
       FROM c3 GROUP BY gid),
sz AS (SELECT gid, count(*) AS n_edges FROM e GROUP BY gid),
f AS (SELECT fp.gid, wl_sig, n_nodes, n_edges FROM fp JOIN sz ON fp.gid = sz.gid),
g AS (SELECT wl_sig, n_nodes, n_edges, min(gid) AS canonical_gid,
             count(*) AS group_size
      FROM f GROUP BY 1, 2, 3)
SELECT f.gid, f.wl_sig, f.n_nodes, f.n_edges, g.canonical_gid, g.group_size,
       f.gid = g.canonical_gid AS is_canonical
FROM f JOIN g USING (wl_sig, n_nodes, n_edges)
"""


def _q_kg_blank_canonical(spark: SparkSession, sf: str) -> DataFrame:
    """Blank-node canonicalization (pipeline/graphsig.py::
    canonical_blank_labels): per-conversation entity blank nodes —
    (turn, ont:mentions, _:e) plus (_:e, ont:inConversation, conv) —
    relabeled to signature-ranked ``_:cN`` so two emissions of the same
    logical graph are byte-comparable.  The global rank is computed
    bucket-locally (first-sig-byte buckets + a 256-row prefix sum), not
    by a single-partition sort; the oracle's plain
    ``row_number() OVER (ORDER BY sig, b)`` proves the bucketed
    numbering IS the global order."""
    from mopper_spark.pipeline.graphsig import canonical_blank_labels

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    return canonical_blank_labels(_blank_entity_graph(tr))


def _blank_entity_graph(tr: DataFrame, drop_mod7: int | None = None) -> DataFrame:
    """(turn, ont:mentions, _:conv|surface) ∪ (_:conv|surface,
    ont:inConversation, conv) — the blank-entity statement set the
    canonicalization queries operate on.  ``drop_mod7`` excludes
    mentions from turns with ``turn_idx % 7 == drop_mod7`` (the
    deterministic perturbation the graph-diff query uses as its "new
    pipeline release")."""
    from mopper_spark.pipeline.extract import extract_mentions

    ont = "http://example.com/ontology/"
    men = extract_mentions(tr)
    if drop_mod7 is not None:
        men = men.filter(F.col("turn_idx") % 7 != drop_mod7)
    men = men.select(
        "conv_id",
        "turn_idx",
        F.concat(F.lit("_:"), F.col("conv_id"), F.lit("|"), F.col("surface")).alias(
            "b"
        ),
    )
    t1 = men.select(
        F.concat(
            F.lit(EX + "turn/"), F.col("conv_id"), F.lit("/"), F.col("turn_idx")
        ).alias("subj"),
        F.lit(ont + "mentions").alias("pred"),
        F.col("b").alias("obj"),
    )
    t2 = (
        men.select("conv_id", "b")
        .distinct()
        .select(
            F.col("b").alias("subj"),
            F.lit(ont + "inConversation").alias("pred"),
            F.concat(F.lit(EX + "conv/"), F.col("conv_id")).alias("obj"),
        )
    )
    return t1.unionByName(t2)


def _q_kg_graph_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Version-to-version KG diff modulo blank naming (pipeline/
    graphsig.py::graph_diff): "old" is the full blank-entity graph,
    "new" drops mentions from turns with turn_idx % 7 == 3 (a
    deterministic stand-in for a pipeline release that extracts
    differently).  Both sides get signature-STABLE blank labels, so
    untouched entities' statements cancel in the anti-joins and only
    genuinely changed statements appear — including the added/removed
    pair a surviving entity emits when its own neighborhood changed
    (its signature, hence its label, moved)."""
    from mopper_spark.pipeline.graphsig import graph_diff

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    return graph_diff(
        _blank_entity_graph(tr), _blank_entity_graph(tr, drop_mod7=3)
    )


_SQL_KG_BLANK_CANONICAL = f"""
WITH {_MENTION_EDGES_CTE},
bl AS (SELECT conv_id, surface,
              '_:' || conv_id || '|' || surface AS b,
              'http://example.com/turn/' || conv_id || '/' || turn_idx AS turn
       FROM men),
t AS (
  SELECT turn AS subj, 'http://example.com/ontology/mentions' AS pred,
         b AS obj
  FROM bl
  UNION ALL
  SELECT DISTINCT b, 'http://example.com/ontology/inConversation',
         'http://example.com/conv/' || conv_id
  FROM bl
),
m AS (
  SELECT obj AS b, 'o|' || pred || '|' || subj AS msg FROM t
  WHERE starts_with(obj, '_:')
  UNION ALL
  SELECT subj, 's|' || pred || '|' || obj FROM t
  WHERE starts_with(subj, '_:')
),
sg AS (SELECT b, md5(string_agg(msg, ',' ORDER BY msg)) AS sig
       FROM m GROUP BY b),
lb AS (SELECT b, '_:c' || row_number() OVER (ORDER BY sig, b) AS lab FROM sg)
SELECT coalesce(ls.lab, t.subj) AS subj, t.pred,
       coalesce(lo.lab, t.obj) AS obj
FROM t
LEFT JOIN lb ls ON t.subj = ls.b
LEFT JOIN lb lo ON t.obj = lo.b
"""


def _blank_canon_sig_sql(sfx: str, men_filter: str) -> str:
    """Canonical blank-entity graph ``g{sfx}`` with signature-STABLE
    labels (graphsig label_style='sig'), as a CTE chain for the diff
    oracle."""
    return f"""
bl{sfx} AS (SELECT conv_id, surface,
                   '_:' || conv_id || '|' || surface AS b,
                   'http://example.com/turn/' || conv_id || '/' || turn_idx AS turn
            FROM men WHERE {men_filter}),
tt{sfx} AS (
  SELECT turn AS subj, 'http://example.com/ontology/mentions' AS pred,
         b AS obj
  FROM bl{sfx}
  UNION ALL
  SELECT DISTINCT b, 'http://example.com/ontology/inConversation',
         'http://example.com/conv/' || conv_id
  FROM bl{sfx}
),
mm{sfx} AS (
  SELECT obj AS b, 'o|' || pred || '|' || subj AS msg FROM tt{sfx}
  WHERE starts_with(obj, '_:')
  UNION ALL
  SELECT subj, 's|' || pred || '|' || obj FROM tt{sfx}
  WHERE starts_with(subj, '_:')
),
sg{sfx} AS (SELECT b, md5(string_agg(msg, ',' ORDER BY msg)) AS sig
            FROM mm{sfx} GROUP BY b),
lb{sfx} AS (SELECT b, '_:c' || sig ||
                   CASE WHEN count(*) OVER (PARTITION BY sig) > 1
                        THEN '-' || row_number() OVER (PARTITION BY sig ORDER BY b)
                        ELSE '' END AS lab
            FROM sg{sfx}),
g{sfx} AS (SELECT DISTINCT coalesce(ls.lab, t.subj) AS subj, t.pred,
                  coalesce(lo.lab, t.obj) AS obj
           FROM tt{sfx} t
           LEFT JOIN lb{sfx} ls ON t.subj = ls.b
           LEFT JOIN lb{sfx} lo ON t.obj = lo.b)"""


_SQL_KG_GRAPH_DIFF = f"""
WITH {_MENTION_EDGES_CTE},
{_blank_canon_sig_sql('o', 'TRUE')},
{_blank_canon_sig_sql('n', 'turn_idx % 7 <> 3')}
SELECT subj, pred, obj, 'added' AS status
FROM (SELECT subj, pred, obj FROM gn EXCEPT SELECT subj, pred, obj FROM go)
UNION ALL
SELECT subj, pred, obj, 'removed'
FROM (SELECT subj, pred, obj FROM go EXCEPT SELECT subj, pred, obj FROM gn)
"""


def _kg_triples(spark: SparkSession) -> DataFrame:
    """The extracted transcript KG as (subj, pred, obj) — shared input of
    the SPARQL-text driver queries."""
    from mopper_spark.pipeline.extract import (
        extract_mentions,
        extract_triples,
        mention_triples,
    )

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    kg = extract_triples(tr).unionByName(mention_triples(extract_mentions(tr)))
    return kg.select("subj", "pred", "obj")


def _q_kg_sparql_text(spark: SparkSession, sf: str) -> DataFrame:
    """SPARQL *text* front-end (pipeline/sparql.py): the full query
    string — prologue, ``;`` predicate list, FILTER with a translated
    builtin, aggregates with aliases, GROUP BY/HAVING/ORDER/LIMIT — is
    parsed and compiled onto the bgp.py algebra; nothing here touches
    the programmatic API.  The reference toolchain's users query its RDF
    output with standard SPARQL engines (ghsnd/mopper produces RDF only,
    src/lib.rs); this closes that loop in-engine.  Plan shape is
    bgp_match + one Catalyst groupBy + TakeOrderedAndProject."""
    from mopper_spark.pipeline.sparql import sparql_query

    return sparql_query(
        _kg_triples(spark),
        """
        PREFIX ont: <http://example.com/ontology/>
        SELECT ?conv (COUNT(DISTINCT ?e) AS ?n_entities)
                     (COUNT(?e) AS ?n_mentions)
        WHERE {
          ?t ont:mentions ?e ; ont:inConversation ?conv .
          FILTER(STRSTARTS(?e, "http://example.com/entity/"))
        }
        GROUP BY ?conv
        HAVING(COUNT(DISTINCT ?e) >= 2)
        ORDER BY DESC(?n_mentions) ?conv
        LIMIT 20
        """,
    ).select(
        "conv",
        F.col("n_entities").cast("long").alias("n_entities"),
        F.col("n_mentions").cast("long").alias("n_mentions"),
    )


_SQL_KG_SPARQL_TEXT = f"""
WITH kg AS ({_SQL_KG_GRAPH}),
sol AS (
  SELECT c.obj AS conv, m.obj AS e
  FROM kg m JOIN kg c ON m.subj = c.subj
  WHERE m.pred = 'http://example.com/ontology/mentions'
    AND c.pred = 'http://example.com/ontology/inConversation'
    AND starts_with(m.obj, 'http://example.com/entity/')
)
SELECT conv,
       CAST(COUNT(DISTINCT e) AS BIGINT) AS n_entities,
       CAST(COUNT(e) AS BIGINT) AS n_mentions
FROM sol GROUP BY conv
HAVING COUNT(DISTINCT e) >= 2
ORDER BY n_mentions DESC, conv
LIMIT 20
"""


def _q_kg_sparql_text_path_agg(spark: SparkSession, sf: str) -> DataFrame:
    """SPARQL text with a property PATH: entity conversation-spread via
    the inverse-sequence path ``?e ^ont:mentions/ont:inConversation
    ?conv`` — the parser builds the ("/", ("^", mentions), inConv) tuple
    and bgp's path_edges composes the two hops (each a pushed-filter
    scan) — then a text-level aggregate ranks entities by how many
    distinct conversations mention them."""
    from mopper_spark.pipeline.sparql import sparql_query

    return sparql_query(
        _kg_triples(spark),
        """
        PREFIX ont: <http://example.com/ontology/>
        SELECT ?e (COUNT(DISTINCT ?conv) AS ?n_convs) WHERE {
          ?e ^ont:mentions/ont:inConversation ?conv .
        }
        GROUP BY ?e
        ORDER BY DESC(?n_convs) ?e
        LIMIT 15
        """,
    ).select("e", F.col("n_convs").cast("long").alias("n_convs"))


_SQL_KG_SPARQL_TEXT_PATH_AGG = f"""
WITH kg AS ({_SQL_KG_GRAPH}),
hop AS (
  SELECT m.obj AS e, c.obj AS conv
  FROM kg m JOIN kg c ON m.subj = c.subj
  WHERE m.pred = 'http://example.com/ontology/mentions'
    AND c.pred = 'http://example.com/ontology/inConversation'
)
SELECT e, CAST(COUNT(DISTINCT conv) AS BIGINT) AS n_convs
FROM hop GROUP BY e
ORDER BY n_convs DESC, e
LIMIT 15
"""


def _q_events_autocorr(spark: SparkSession, sf: str) -> DataFrame:
    """Lag-1..7 autocorrelation of the per-day event-count series
    (textops/timeseries.py::autocorrelation) in exact n²-scaled BIGINTs —
    the seasonality probe an events pipeline runs before picking rollup
    grain.  Corpus-scale work is the one day-bucket aggregation; the ACF
    itself runs over the tiny per-day series."""
    from mopper_spark.textops.timeseries import autocorrelation, time_bucket

    ev = spark.read.parquet(f"{sf}/events.parquet")
    daily = ev.groupBy(time_bucket("ts", 86400).alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    return autocorrelation(daily, "day", "x", max_lag=7)


_SQL_EVENTS_AUTOCORR = """
WITH daily AS MATERIALIZED (
  SELECT epoch_us(ts) // 86400000000 AS day, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1
), idx AS MATERIALIZED (
  SELECT ROW_NUMBER() OVER (ORDER BY day) AS idx, x FROM daily
), g AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s FROM idx
), c AS MATERIALIZED (
  SELECT idx.idx, g.n * idx.x - g.s AS c FROM idx, g
), den AS MATERIALIZED (
  SELECT CAST(SUM(c * c) AS BIGINT) AS den_scaled FROM c
)
SELECT CAST(b.idx - a.idx AS BIGINT) AS lag,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(a.c * b.c) AS BIGINT) AS num_scaled,
       den.den_scaled AS den_scaled
FROM c a JOIN c b ON b.idx - a.idx BETWEEN 1 AND 7, den
GROUP BY 1, den.den_scaled
"""


def _q_docs_quality_calibration(spark: SparkSession, sf: str) -> DataFrame:
    """Reliability bins for the hashed-linear quality model
    (textops/evaluation.py::calibration_bins): 10 equal-width bins over
    the fixed-point mean feature weight, each with exact BIGINT doc /
    positive-label / score-mass counts — AUC's companion audit (does a
    high score MEAN a higher en-rate, bin by bin?)."""
    from mopper_spark.textops.evaluation import calibration_bins
    from mopper_spark.textops.quality_model import quality_scores

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    scored = quality_scores(
        docs.repartition(spark.sparkContext.defaultParallelism)
    ).join(docs.select("doc_id", "lang"), "doc_id")
    return calibration_bins(
        scored.withColumn("label", (F.col("lang") == "en").cast("int")),
        n_bins=10,
    )


_SQL_DOCS_QUALITY_CALIBRATION = f"""
WITH q AS MATERIALIZED ({_SQL_DOCS_QUALITY_MODEL}),
j AS MATERIALIZED (
  SELECT q.score_fp, q.n_features,
         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM q JOIN documents d USING (doc_id)
  WHERE q.n_features > 0
), m AS MATERIALIZED (
  SELECT ((score_fp + 1000 * n_features) * 1000000) // n_features AS mean_fp,
         pos
  FROM j
)
SELECT CAST((mean_fp * 10) // 2000000001 AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(pos) AS BIGINT) AS n_pos,
       CAST(SUM(mean_fp) AS BIGINT) AS sum_mean_fp
FROM m GROUP BY 1
"""


def _q_docs_rater_kappa(spark: SparkSession, sf: str) -> DataFrame:
    """Cohen's kappa (textops/evaluation.py::cohens_kappa) between two
    independent binary quality raters — the hashed-linear model
    (score_fp ≥ 0) and a length heuristic (n_chars ≥ 150) — as one
    exact-integer row: full confusion counts plus the n²-scaled kappa
    numerator/denominator.  The agreement audit a curation pipeline runs
    before swapping a heuristic filter for a model."""
    from mopper_spark.textops.evaluation import cohens_kappa
    from mopper_spark.textops.quality_model import quality_scores

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    scored = quality_scores(
        docs.repartition(spark.sparkContext.defaultParallelism)
    ).join(docs.select("doc_id", "n_chars"), "doc_id")
    rated = scored.filter(F.col("n_features") > 0).select(
        (F.col("score_fp") >= 0).cast("int").alias("model_pos"),
        (F.col("n_chars") >= 150).cast("int").alias("length_pos"),
    )
    return cohens_kappa(rated, "model_pos", "length_pos")


_SQL_DOCS_RATER_KAPPA = f"""
WITH q AS MATERIALIZED ({_SQL_DOCS_QUALITY_MODEL}),
r AS MATERIALIZED (
  SELECT CASE WHEN q.score_fp >= 0 THEN 1 ELSE 0 END AS a,
         CASE WHEN d.n_chars >= 150 THEN 1 ELSE 0 END AS b
  FROM q JOIN documents d USING (doc_id)
  WHERE q.n_features > 0
), m AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(a * b) AS BIGINT) AS n11,
         CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
         CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
         CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
  FROM r
)
SELECT n, n11, n10, n01, n00,
       CAST(n11 + n00 AS BIGINT) AS agree,
       CAST((n11 + n10) * (n11 + n01)
            + (n00 + n01) * (n00 + n10) AS BIGINT) AS pe_num,
       CAST(n * (n11 + n00) - ((n11 + n10) * (n11 + n01)
            + (n00 + n01) * (n00 + n10)) AS BIGINT) AS kappa_num,
       CAST(n * n - ((n11 + n10) * (n11 + n01)
            + (n00 + n01) * (n00 + n10)) AS BIGINT) AS kappa_den
FROM m
"""


def _q_graph_ktruss(spark: SparkSession, sf: str) -> DataFrame:
    """4-truss decomposition (pipeline/graph.py::k_truss) of the doc-id
    tree + div-3 chord + mod-3 clique fixture graph (the k_core fixture):
    synchronous support peeling to the unique maximal subgraph where
    every edge closes ≥ 2 triangles — the edge-density sharpening of
    k-core.  Oracle replays the same peeling as a bounded CTE unroll
    (extra rounds at the fixpoint are no-ops)."""
    from mopper_spark.pipeline.graph import k_truss

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    e1 = docs.filter(F.col("doc_id") >= 2).select(
        F.col("doc_id").cast("long").alias("a"),
        F.expr("doc_id div 2").cast("long").alias("b"),
    )
    e2 = docs.filter(F.col("doc_id") >= 3).select(
        F.col("doc_id").cast("long").alias("a"),
        F.expr("doc_id div 3").cast("long").alias("b"),
    )
    ids = docs.filter(F.col("doc_id") < 30)
    e3 = (
        ids.select(F.col("doc_id").alias("a"))
        .crossJoin(ids.select(F.col("doc_id").alias("b")))
        .filter("a < b AND (a + b) % 3 = 0")
        .select(F.col("a").cast("long"), F.col("b").cast("long"))
    )
    return k_truss(e1.union(e2).union(e3), k=4)


def _sql_ktruss(k: int, rounds: int) -> str:
    """Unrolled-CTE DuckDB replay of k_truss over the k_core fixture
    graph: each round enumerates triangles over the surviving canonical
    edge set (id-ordered x<y<z three-way join — support counts are
    orientation-independent, so the oracle needn't replicate the
    degree-ordered physical strategy), counts per-edge support, and keeps
    edges with support >= k-2.  All CTEs MATERIALIZED (the kmeans_train
    lesson)."""
    parts = [
        """WITH e_raw AS MATERIALIZED (
  SELECT CAST(doc_id AS BIGINT) AS a, CAST(doc_id // 2 AS BIGINT) AS b
  FROM documents WHERE doc_id >= 2
  UNION ALL
  SELECT CAST(doc_id AS BIGINT), CAST(doc_id // 3 AS BIGINT)
  FROM documents WHERE doc_id >= 3
  UNION ALL
  SELECT CAST(d1.doc_id AS BIGINT), CAST(d2.doc_id AS BIGINT)
  FROM documents d1 JOIN documents d2
    ON d1.doc_id < d2.doc_id AND (d1.doc_id + d2.doc_id) % 3 = 0
  WHERE d1.doc_id < 30 AND d2.doc_id < 30
), s0 AS MATERIALIZED (
  SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v
  FROM e_raw WHERE a <> b
)"""
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f""", t{r} AS MATERIALIZED (
  SELECT ab.u AS x, ab.v AS y, bc.v AS z
  FROM s{p} ab JOIN s{p} bc ON bc.u = ab.v
  JOIN s{p} ac ON ac.u = ab.u AND ac.v = bc.v
), p{r} AS MATERIALIZED (
  SELECT u, v, CAST(COUNT(*) AS BIGINT) AS supp FROM (
    SELECT x AS u, y AS v FROM t{r}
    UNION ALL SELECT y, z FROM t{r}
    UNION ALL SELECT x, z FROM t{r}
  ) GROUP BY u, v
), s{r} AS MATERIALIZED (
  SELECT s.u, s.v FROM s{p} s
  JOIN p{r} p ON p.u = s.u AND p.v = s.v
  WHERE p.supp >= {k - 2}
)"""
        )
    parts.append(
        f"""
SELECT s.u, s.v, p.supp
FROM s{rounds} s JOIN p{rounds} p ON p.u = s.u AND p.v = s.v"""
    )
    return "".join(parts)


_SQL_GRAPH_KTRUSS = _sql_ktruss(4, 8)


def _q_stream_heavy_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming ε-heavy-hitter tokens (streaming.py::heavy_hitters_stream,
    k=300): the corpus token stream arrives as a 4-micro-batch file
    stream; each batch's exact counts fold into the ≤ k-entry Misra-Gries
    counter state (versioned parquet, replay-idempotent), then the
    drained candidate set is finalized with exact counts and the exact
    n/301 threshold.  MG candidate recall is total under ANY merge order
    (the Agarwal et al. mergeability bound — a guarantee, not a fixture
    measurement), so the result equals the batch docs_heavy_tokens and
    the full-GROUP-BY SQL is an equality oracle."""
    from mopper_spark.streaming import (
        heavy_hitters_from_state,
        heavy_hitters_stream,
    )

    root = _scratch_root("stream_mg")
    src, state, ck = (os.path.join(root, d) for d in ("src", "state", "ck"))
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    docs.select(
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "").repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema("tok string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = heavy_hitters_stream(stream, state, ck, k=300)
    q.awaitTermination(300)
    return heavy_hitters_from_state(
        spark, state, spark.read.parquet(src), "tok", k=300
    )


def _q_transcripts_k_anonymity(spark: SparkSession, sf: str) -> DataFrame:
    """Privacy release-gate audit (textops/prepare.py::k_anonymity_audit):
    k-anonymity (k=5) + l-diversity (l=2) equivalence classes over the
    transcript corpus with QI = (role, tool, turn-decade) and conv_id as
    the sensitive attribute — which QI combinations alone re-identify
    their rows, and which leak their conversation even at k rows.  NULL
    tool is a QI value like any other."""
    from mopper_spark.textops.prepare import k_anonymity_audit

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    banded = tr.withColumn(
        "turn_band", F.expr("turn_idx div 10").cast("long")
    )
    return k_anonymity_audit(
        banded, ["role", "tool", "turn_band"], "conv_id", k=5
    )


_SQL_TRANSCRIPTS_K_ANONYMITY = f"""
SELECT role, tool, CAST(turn_idx // 10 AS BIGINT) AS turn_band,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_sensitive,
       CAST(CASE WHEN COUNT(*) >= 5 THEN 1 ELSE 0 END AS BIGINT)
         AS k_anonymous,
       CAST(CASE WHEN COUNT(DISTINCT conv_id) >= 2 THEN 1 ELSE 0 END
         AS BIGINT) AS l_diverse
FROM read_parquet('{_TRANSCRIPTS_FIXTURE}')
GROUP BY 1, 2, 3
"""


def _q_kg_distmult_eval(spark: SparkSession, sf: str) -> DataFrame:
    """DistMult margin-ranking evaluation (pipeline/embedding.py::
    distmult_margin_eval — Yang et al. ICLR'15 bilinear-diagonal scorer)
    over the same extracted KG, hash embeddings, and deterministic
    negatives as kg_transe_eval: hinge = max(0, margin + s_neg − s_pos),
    positives should score HIGHER (the sign-flipped twin of TransE's
    distance).  Every md5 coordinate and every int64 triple product
    recomputed hex-for-hex by the oracle."""
    from mopper_spark.pipeline.embedding import distmult_margin_eval
    from mopper_spark.pipeline.extract import (
        extract_mentions,
        extract_triples,
        mention_triples,
    )

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    kg = extract_triples(tr).unionByName(mention_triples(extract_mentions(tr)))
    return distmult_margin_eval(kg.select("subj", "pred", "obj"))


_SQL_KG_DISTMULT = f"""
WITH neg AS ({_SQL_KG_NEGATIVE_SAMPLES}),
scores AS (
  SELECT pred,
    CAST(list_sum(list_transform(range(0, 16), i ->
      {_emb_sql("emb-v1/e", "subj")} * {_emb_sql("emb-v1/r", "pred")}
        * {_emb_sql("emb-v1/e", "obj")})) AS BIGINT) AS s_pos,
    CAST(list_sum(list_transform(range(0, 16), i ->
      {_emb_sql("emb-v1/e", "subj")} * {_emb_sql("emb-v1/r", "pred")}
        * {_emb_sql("emb-v1/e", "neg_obj")})) AS BIGINT) AS s_neg
  FROM neg
),
hinges AS (
  SELECT pred, GREATEST(0, 1000000 + s_neg - s_pos) AS hinge FROM scores
)
SELECT pred,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN hinge > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violations,
       CAST(SUM(hinge) AS BIGINT) AS total_hinge
FROM hinges GROUP BY pred
"""


def _q_docs_token_chi2(spark: SparkSession, sf: str) -> DataFrame:
    """Chi-square token selection (textops/analysis.py::token_chi2,
    Yang & Pedersen ICML'97): top-30 tokens whose document-level presence
    most discriminates the lang='en' label — exact BIGINT contingency
    cells, χ² as ONE fixed-parenthesization double expression over them
    (the rate_anomaly determinism discipline)."""
    from mopper_spark.textops.analysis import token_chi2

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return token_chi2(docs, "text", F.col("lang") == "en", top_k=30, min_df=5)


_SQL_DOCS_TOKEN_CHI2 = r"""
WITH toks AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         unnest(list_distinct(list_filter(
           string_split_regex(lower(text), '\s+'), x -> x <> ''))) AS token
  FROM documents
), per_tok AS (
  SELECT token, CAST(SUM(y) AS BIGINT) AS a,
         CAST(COUNT(*) - SUM(y) AS BIGINT) AS b
  FROM toks GROUP BY token
), tot AS (
  SELECT CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS n0
  FROM documents
), j AS (
  SELECT token, a + b AS df_t, a, b, n1 - a AS c, n0 - b AS d,
         n1 + n0 AS n
  FROM per_tok, tot
)
SELECT token, CAST(df_t AS BIGINT) AS df_t, a, b,
  (CAST(n AS DOUBLE)
   * ((CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
       - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
      * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
         - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))))
  / ((CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE))
     * (CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE))) AS chi2
FROM j
WHERE df_t >= 5 AND c + d > 0 AND a + c > 0 AND b + d > 0
ORDER BY chi2 DESC, token ASC LIMIT 30
"""


def _q_events_trend_ols(spark: SparkSession, sf: str) -> DataFrame:
    """Per-event-type OLS trend (textops/timeseries.py::group_trend_ols)
    over the per-day count series: slope and intercept as exact BIGINT
    rationals — "is this event type growing?" with no float summation
    order-sensitivity.  Corpus-scale work is the one day-bucket
    aggregation; the regression runs over the tiny per-type series."""
    from mopper_spark.textops.timeseries import group_trend_ols, time_bucket

    ev = spark.read.parquet(f"{sf}/events.parquet")
    daily = ev.groupBy(
        "event_type", time_bucket("ts", 86400).alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    return group_trend_ols(daily, "event_type", "day", "y")


_SQL_EVENTS_TREND_OLS = """
WITH daily AS MATERIALIZED (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
), pos AS MATERIALIZED (
  SELECT event_type,
         CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
              AS BIGINT) AS x,
         y
  FROM daily
), agg AS MATERIALIZED (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM pos GROUP BY event_type
)
SELECT event_type, n,
  CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
  CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
  CAST(sy * (n * sxx - sx * sx) - (n * sxy - sx * sy) * sx AS BIGINT)
    AS icept_num,
  CAST(n * (n * sxx - sx * sx) AS BIGINT) AS icept_den
FROM agg
"""


def _q_graph_modularity(spark: SparkSession, sf: str) -> DataFrame:
    """Newman modularity (pipeline/graph.py::modularity) of the 3-round
    LPA assignment over the doc-id tree + div-3 chord + mod-3 clique
    fixture graph (the k_core/k_truss graph — it HAS community structure,
    unlike the near-complete mention graph where LPA correctly collapses
    to one label and Q = 0).  Per community: exact BIGINT intra-edge
    count, degree sum, and the (2m)²-scaled contribution q_num over the
    shared q_den.  Edges are canonicalized BEFORE LPA — the tree and
    chord relations overlap (e.g. 3→1 is both doc div 2 and doc div 3),
    and label_propagation counts multi-edges multiply by contract.
    Oracle unrolls the same 3 synchronous argmax rounds in SQL."""
    from mopper_spark.pipeline.graph import label_propagation, modularity

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    e1 = docs.filter(F.col("doc_id") >= 2).select(
        F.col("doc_id").cast("long").alias("a"),
        F.expr("doc_id div 2").cast("long").alias("b"),
    )
    e2 = docs.filter(F.col("doc_id") >= 3).select(
        F.col("doc_id").cast("long").alias("a"),
        F.expr("doc_id div 3").cast("long").alias("b"),
    )
    ids = docs.filter(F.col("doc_id") < 30)
    e3 = (
        ids.select(F.col("doc_id").alias("a"))
        .crossJoin(ids.select(F.col("doc_id").alias("b")))
        .filter("a < b AND (a + b) % 3 = 0")
        .select(F.col("a").cast("long"), F.col("b").cast("long"))
    )
    edges = (
        e1.union(e2)
        .union(e3)
        .select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    comm = label_propagation(edges, a="u", b="v", rounds=3)
    return modularity(edges, comm, a="u", b="v")


def _sql_graph_modularity(rounds: int) -> str:
    """Unrolled-CTE replay: the k_core fixture graph, ``rounds`` rounds of
    synchronous LPA (argmax neighbor label, count desc / label asc —
    QUALIFY row_number replays the engine's min(struct) argmax), then the
    Newman closed form Q·(2m)² = Σ_c [4·m·m_c − d_c²]."""
    parts = [
        """WITH e_raw AS MATERIALIZED (
  SELECT CAST(doc_id AS BIGINT) AS a, CAST(doc_id // 2 AS BIGINT) AS b
  FROM documents WHERE doc_id >= 2
  UNION ALL
  SELECT CAST(doc_id AS BIGINT), CAST(doc_id // 3 AS BIGINT)
  FROM documents WHERE doc_id >= 3
  UNION ALL
  SELECT CAST(d1.doc_id AS BIGINT), CAST(d2.doc_id AS BIGINT)
  FROM documents d1 JOIN documents d2
    ON d1.doc_id < d2.doc_id AND (d1.doc_id + d2.doc_id) % 3 = 0
  WHERE d1.doc_id < 30 AND d2.doc_id < 30
), s0 AS MATERIALIZED (
  SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v
  FROM e_raw WHERE a <> b
), sym AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM s0 UNION ALL SELECT v, u FROM s0
), l0 AS MATERIALIZED (
  SELECT DISTINCT src AS node, src AS label FROM sym
)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""", l{r} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT sym.dst AS node, l.label, COUNT(*) AS cnt
    FROM sym JOIN l{r - 1} l ON l.node = sym.src
    GROUP BY sym.dst, l.label
  ) QUALIFY ROW_NUMBER() OVER (
      PARTITION BY node ORDER BY cnt DESC, label ASC) = 1
)"""
        )
    parts.append(
        f""", deg AS MATERIALIZED (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT u AS node FROM s0 UNION ALL SELECT v FROM s0
  ) GROUP BY node
), mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM s0),
lab AS MATERIALIZED (
  SELECT cu.label AS lu, cv.label AS lv
  FROM s0 e JOIN l{rounds} cu ON cu.node = e.u
  JOIN l{rounds} cv ON cv.node = e.v
), intra AS (
  SELECT lu AS community, CAST(COUNT(*) AS BIGINT) AS m_intra
  FROM lab WHERE lu = lv GROUP BY lu
), dsum AS (
  SELECT c.label AS community, CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(SUM(d.d) AS BIGINT) AS d_c
  FROM l{rounds} c JOIN deg d ON d.node = c.node GROUP BY c.label
)
SELECT ds.community, ds.n_nodes,
       CAST(COALESCE(i.m_intra, 0) AS BIGINT) AS m_intra, ds.d_c,
       CAST(4 * mm.m * COALESCE(i.m_intra, 0) - ds.d_c * ds.d_c AS BIGINT)
         AS q_num,
       CAST(4 * mm.m * mm.m AS BIGINT) AS q_den
FROM dsum ds LEFT JOIN intra i ON i.community = ds.community, mm"""
    )
    return "".join(parts)


_SQL_GRAPH_MODULARITY = _sql_graph_modularity(3)


def _q_docs_pareto_front(spark: SparkSession, sf: str) -> DataFrame:
    """2-D Pareto front (textops/olap.py::pareto_front_2d) over documents
    maximizing (n_chars, quality mean_fp) jointly — the multi-criteria
    selection primitive: no other document is at least as long AND at
    least as well-scored with one strict.  The engine computes M>(x) via
    bucketed prefix maxima (no single-partition data sort); the oracle
    uses the plain global window, which is what makes the bucketing
    independently checkable."""
    from mopper_spark.textops.olap import pareto_front_2d
    from mopper_spark.textops.quality_model import quality_scores

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    scored = (
        quality_scores(docs.repartition(spark.sparkContext.defaultParallelism))
        .filter(F.col("n_features") > 0)
        .join(docs.select("doc_id", "n_chars"), "doc_id")
        .select(
            "doc_id",
            "n_chars",
            F.expr(
                "((score_fp + 1000 * n_features) * 1000000) div n_features"
            )
            .cast("long")
            .alias("mean_fp"),
        )
    )
    return pareto_front_2d(scored, "n_chars", "mean_fp")


_SQL_DOCS_PARETO_FRONT = f"""
WITH q AS MATERIALIZED ({_SQL_DOCS_QUALITY_MODEL}),
pts AS MATERIALIZED (
  SELECT q.doc_id, d.n_chars,
         ((q.score_fp + 1000 * q.n_features) * 1000000) // q.n_features
           AS mean_fp
  FROM q JOIN documents d USING (doc_id)
  WHERE q.n_features > 0
), g AS MATERIALIZED (
  SELECT n_chars AS x, CAST(MAX(mean_fp) AS BIGINT) AS gy
  FROM pts GROUP BY n_chars
), m AS MATERIALIZED (
  SELECT x, gy,
         MAX(gy) OVER (ORDER BY x DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS mgt
  FROM g
)
SELECT p.doc_id, p.n_chars, CAST(p.mean_fp AS BIGINT) AS mean_fp
FROM pts p JOIN m ON m.x = p.n_chars
WHERE p.mean_fp = m.gy AND (m.mgt IS NULL OR p.mean_fp > m.mgt)
"""


def _q_kg_sparql_subquery(spark: SparkSession, sf: str) -> DataFrame:
    """Braced SPARQL subquery (pipeline/sparql.py — SPARQL 1.1 §12,
    closing the r3-era named refusal): per-entity conversation counts
    computed in an inner ``{ SELECT … GROUP BY }`` join the outer mention
    pattern on the projected ?e only — the canonical "annotate each
    mention with its entity's corpus-wide stats" shape.  Plan is the
    same bgp algebra: the subquery compiles to a relation joined on
    shared columns."""
    from mopper_spark.pipeline.sparql import sparql_query

    return sparql_query(
        _kg_triples(spark),
        """
        PREFIX ont: <http://example.com/ontology/>
        SELECT ?e ?conv ?n_convs WHERE {
          ?t ont:mentions ?e ; ont:inConversation ?conv .
          { SELECT ?e (COUNT(DISTINCT ?c) AS ?n_convs) WHERE {
              ?u ont:mentions ?e ; ont:inConversation ?c .
              FILTER(STRSTARTS(?e, "http://example.com/entity/"))
            } GROUP BY ?e }
        }
        ORDER BY DESC(?n_convs) ?e ?conv
        LIMIT 30
        """,
    ).select("e", "conv", F.col("n_convs").cast("long").alias("n_convs"))


_SQL_KG_SPARQL_SUBQUERY = f"""
WITH kg AS MATERIALIZED ({_SQL_KG_GRAPH}),
men AS MATERIALIZED (
  SELECT m.subj AS t, m.obj AS e, c.obj AS conv
  FROM kg m JOIN kg c ON m.subj = c.subj
  WHERE m.pred = 'http://example.com/ontology/mentions'
    AND c.pred = 'http://example.com/ontology/inConversation'
), sub AS (
  SELECT e, CAST(COUNT(DISTINCT conv) AS BIGINT) AS n_convs
  FROM men
  WHERE e LIKE 'http://example.com/entity/%'
  GROUP BY e
)
SELECT men.e, men.conv, sub.n_convs
FROM men JOIN sub ON sub.e = men.e
ORDER BY sub.n_convs DESC, men.e, men.conv
LIMIT 30
"""


def _q_kg_sparql_graph(spark: SparkSession, sf: str) -> DataFrame:
    """Text-level ``GRAPH`` blocks (pipeline/sparql.py — quad-pattern
    sugar over a graph-columned DataFrame, closing the r3-era named
    refusal): mention statements placed in their conversation's named
    graph, then queried with ``GRAPH ?g {…}`` + aggregate — per-graph
    distinct-entity counts, the provenance-scoped query a multi-tenant
    KG runs constantly."""
    from mopper_spark.pipeline.sparql import sparql_query

    kg = _kg_triples(spark)
    ment = kg.filter(
        F.col("pred") == "http://example.com/ontology/mentions"
    )
    conv = kg.filter(
        F.col("pred") == "http://example.com/ontology/inConversation"
    ).select(F.col("subj"), F.col("obj").alias("graph"))
    quads = ment.join(conv, "subj").select("subj", "pred", "obj", "graph")
    return sparql_query(
        quads,
        """
        PREFIX ont: <http://example.com/ontology/>
        SELECT ?g (COUNT(DISTINCT ?e) AS ?n_entities) WHERE {
          GRAPH ?g { ?t ont:mentions ?e . }
        }
        GROUP BY ?g
        ORDER BY DESC(?n_entities) ?g
        LIMIT 25
        """,
    ).select("g", F.col("n_entities").cast("long").alias("n_entities"))


_SQL_KG_SPARQL_GRAPH = f"""
WITH kg AS MATERIALIZED ({_SQL_KG_GRAPH}),
quads AS MATERIALIZED (
  SELECT m.subj, m.pred, m.obj, c.obj AS graph
  FROM kg m JOIN kg c ON m.subj = c.subj
  WHERE m.pred = 'http://example.com/ontology/mentions'
    AND c.pred = 'http://example.com/ontology/inConversation'
)
SELECT graph AS g, CAST(COUNT(DISTINCT obj) AS BIGINT) AS n_entities
FROM quads GROUP BY graph
ORDER BY n_entities DESC, g
LIMIT 25
"""


def _q_kg_sparql_group_concat(spark: SparkSession, sf: str) -> DataFrame:
    """SPARQL GROUP_CONCAT + SAMPLE aggregates (pipeline/sparql.py):
    per-conversation sorted distinct entity roster as one string.  SPARQL
    leaves GROUP_CONCAT element order undefined; the engine DEFINES it as
    sorted (array_sort-after-collect), which is exactly what lets DuckDB's
    ``string_agg(… ORDER BY …)`` serve as a strict oracle."""
    from mopper_spark.pipeline.sparql import sparql_query

    return sparql_query(
        _kg_triples(spark),
        """
        PREFIX ont: <http://example.com/ontology/>
        SELECT ?conv (COUNT(DISTINCT ?e) AS ?n)
               (GROUP_CONCAT(DISTINCT ?e; SEPARATOR="|") AS ?entities)
        WHERE {
          ?t ont:mentions ?e ; ont:inConversation ?conv .
          FILTER(STRSTARTS(?e, "http://example.com/entity/"))
        }
        GROUP BY ?conv
        ORDER BY DESC(?n) ?conv
        LIMIT 20
        """,
    ).select("conv", F.col("n").cast("long").alias("n"), "entities")


_SQL_KG_SPARQL_GROUP_CONCAT = f"""
WITH kg AS MATERIALIZED ({_SQL_KG_GRAPH}),
men AS (
  SELECT c.obj AS conv, m.obj AS e
  FROM kg m JOIN kg c ON m.subj = c.subj
  WHERE m.pred = 'http://example.com/ontology/mentions'
    AND c.pred = 'http://example.com/ontology/inConversation'
    AND m.obj LIKE 'http://example.com/entity/%'
)
SELECT conv, CAST(COUNT(DISTINCT e) AS BIGINT) AS n,
       string_agg(DISTINCT e, '|' ORDER BY e) AS entities
FROM men GROUP BY conv
ORDER BY n DESC, conv
LIMIT 20
"""


def _q_graph_mis(spark: SparkSession, sf: str) -> DataFrame:
    """Luby maximal independent set (pipeline/graph.py::luby_mis) over the
    doc-id binary-tree + div-3-chord graph.  md5 round-priorities make the
    randomized algorithm bit-reproducible, so the oracle unrolls the SAME
    rounds (6 unrolled ≥ the 3 the fixture needs; an exhausted round has
    no active nodes and emits nothing — over-unrolling is a no-op)."""
    from mopper_spark.pipeline.graph import luby_mis

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    e1 = docs.filter(F.col("doc_id") >= 2).select(
        F.col("doc_id").cast("long").alias("a"),
        F.expr("doc_id div 2").cast("long").alias("b"),
    )
    e2 = docs.filter(F.col("doc_id") >= 3).select(
        F.col("doc_id").cast("long").alias("a"),
        F.expr("doc_id div 3").cast("long").alias("b"),
    )
    return luby_mis(e1.union(e2))


def _sql_graph_mis(rounds: int) -> str:
    parts = [
        """WITH ed AS MATERIALIZED (
  SELECT CAST(doc_id AS BIGINT) AS a, CAST(doc_id // 2 AS BIGINT) AS b
  FROM documents WHERE doc_id >= 2
  UNION ALL
  SELECT CAST(doc_id AS BIGINT), CAST(doc_id // 3 AS BIGINT)
  FROM documents WHERE doc_id >= 3
), nodes AS MATERIALIZED (
  SELECT DISTINCT a AS node FROM (SELECT a FROM ed UNION ALL SELECT b FROM ed)
), e0 AS MATERIALIZED (
  SELECT DISTINCT u, v FROM
    (SELECT a AS u, b AS v FROM ed UNION ALL SELECT b, a FROM ed)
  WHERE u <> v
), act0 AS MATERIALIZED (SELECT node FROM nodes)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""", p{r} AS MATERIALIZED (
  SELECT node, md5('mis-v1:{r}:' || CAST(node AS VARCHAR)) AS p FROM act{r - 1}
), w{r} AS MATERIALIZED (
  SELECT pr.node FROM p{r} pr
  LEFT JOIN (SELECT e.u AS node, MIN(pv.p) AS nb_p
             FROM e{r - 1} e JOIN p{r} pv ON pv.node = e.v GROUP BY e.u) nb
    ON nb.node = pr.node
  WHERE nb.nb_p IS NULL OR pr.p < nb.nb_p
), act{r} AS MATERIALIZED (
  SELECT a.node FROM act{r - 1} a
  WHERE a.node NOT IN (SELECT node FROM w{r})
    AND a.node NOT IN (SELECT e.v FROM e{r - 1} e JOIN w{r} w ON w.node = e.u)
), e{r} AS MATERIALIZED (
  SELECT e.u, e.v FROM e{r - 1} e
  JOIN act{r} x ON x.node = e.u JOIN act{r} y ON y.node = e.v
)"""
        )
    wins = " UNION ALL ".join(f"SELECT node FROM w{r}" for r in range(1, rounds + 1))
    parts.append(
        f"""
SELECT n.node, n.node IN ({wins}) AS in_mis FROM nodes n"""
    )
    return "".join(parts)


_SQL_GRAPH_MIS = _sql_graph_mis(6)


def _q_graph_butterflies(spark: SparkSession, sf: str) -> DataFrame:
    """Bipartite butterfly counts (pipeline/graph.py::butterfly_counts)
    over the user×(event_id mod 199) co-engagement graph — 2×2 biclique
    motifs, exact integers; the wedge join's quadratic lives on the
    bounded item-side degree."""
    from mopper_spark.pipeline.graph import butterfly_counts

    ev = spark.read.parquet(f"{sf}/events.parquet")
    bip = ev.select(
        F.col("user_id").alias("u"), (F.col("event_id") % 199).alias("item")
    )
    return butterfly_counts(bip)


_SQL_GRAPH_BUTTERFLIES = """
WITH e AS (
  SELECT DISTINCT user_id AS u, event_id % 199 AS it FROM events
),
wedges AS (
  SELECT w1.u AS ua, w2.u AS ub, COUNT(*) AS c
  FROM e w1 JOIN e w2 ON w1.it = w2.it AND w1.u < w2.u
  GROUP BY w1.u, w2.u
  HAVING COUNT(*) >= 2
),
pair_bf AS (
  SELECT ua, ub, CAST(c * (c - 1) / 2 AS BIGINT) AS bf FROM wedges
)
SELECT u, CAST(SUM(bf) AS BIGINT) AS butterflies FROM (
  SELECT ua AS u, bf FROM pair_bf UNION ALL SELECT ub, bf FROM pair_bf
) GROUP BY u
"""


def _q_graph_densest(spark: SparkSession, sf: str) -> DataFrame:
    """Densest-subgraph peel trajectory (pipeline/graph.py::
    densest_peel_stats, Bahmani et al. VLDB'12, ε=1/4): the binary-tree +
    div-3-chord scaffold peels away in a few rounds while the planted
    30-node partial clique holds — the densest prefix is the core.  The
    integer threshold test makes the trajectory engine-exact; the oracle
    unrolls 8 rounds (≥ the 4 the fixture needs; empty rounds emit no
    rows)."""
    from mopper_spark.pipeline.graph import densest_peel_stats

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    e1 = docs.filter(F.col("doc_id") >= 2).select(
        F.col("doc_id").cast("long").alias("a"),
        F.expr("doc_id div 2").cast("long").alias("b"),
    )
    e2 = docs.filter(F.col("doc_id") >= 3).select(
        F.col("doc_id").cast("long").alias("a"),
        F.expr("doc_id div 3").cast("long").alias("b"),
    )
    ids = docs.filter(F.col("doc_id") < 30)
    e3 = (
        ids.select(F.col("doc_id").alias("a"))
        .crossJoin(ids.select(F.col("doc_id").alias("b")))
        .filter("a < b AND (a + b) % 3 = 0")
        .select(F.col("a").cast("long"), F.col("b").cast("long"))
    )
    return densest_peel_stats(e1.union(e2).union(e3))


def _sql_graph_densest(rounds: int) -> str:
    parts = [
        """WITH ed AS MATERIALIZED (
  SELECT CAST(doc_id AS BIGINT) AS a, CAST(doc_id // 2 AS BIGINT) AS b
  FROM documents WHERE doc_id >= 2
  UNION ALL
  SELECT CAST(doc_id AS BIGINT), CAST(doc_id // 3 AS BIGINT)
  FROM documents WHERE doc_id >= 3
  UNION ALL
  SELECT CAST(d1.doc_id AS BIGINT), CAST(d2.doc_id AS BIGINT)
  FROM documents d1 JOIN documents d2
    ON d1.doc_id < d2.doc_id AND (d1.doc_id + d2.doc_id) % 3 = 0
  WHERE d1.doc_id < 30 AND d2.doc_id < 30
), s0 AS MATERIALIZED (
  SELECT DISTINCT u, v FROM
    (SELECT a AS u, b AS v FROM ed UNION ALL SELECT b, a FROM ed)
  WHERE u <> v
)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""", d{r} AS MATERIALIZED (
  SELECT u, COUNT(*) AS deg FROM s{r - 1} GROUP BY u
), st{r} AS MATERIALIZED (
  SELECT COUNT(*) AS n, CAST(COALESCE(SUM(deg), 0) // 2 AS BIGINT) AS m FROM d{r}
), k{r} AS MATERIALIZED (
  SELECT d.u FROM d{r} d, st{r} s WHERE d.deg * s.n * 4 >= 10 * s.m
), s{r} AS MATERIALIZED (
  SELECT e.u, e.v FROM s{r - 1} e
  JOIN k{r} x ON x.u = e.u JOIN k{r} y ON y.u = e.v
)"""
        )
    rows = " UNION ALL ".join(
        f"SELECT CAST({r - 1} AS BIGINT) AS round, CAST(n AS BIGINT) AS n_nodes,"
        f" m AS n_edges FROM st{r} WHERE n > 0"
        for r in range(1, rounds + 1)
    )
    parts.append(f"\nSELECT * FROM ({rows})")
    return "".join(parts)


_SQL_GRAPH_DENSEST = _sql_graph_densest(8)


def _q_graph_betweenness(spark: SparkSession, sf: str) -> DataFrame:
    """Exact betweenness centrality (pipeline/centrality.py::
    betweenness_centrality, level-synchronous Brandes with fixed-point
    dependency accumulation) over the doc-id binary tree cohort-bounded
    to ids < 400 (depth 8, eccentricity ≤ 16).  σ is exact int64; δ is
    fixed-point, so the notoriously float-order-sensitive Brandes sweep
    is hash-exact against a DuckDB replay of the same 17 forward + 17
    backward unrolled levels (levels past the real depth are empty —
    over-unrolling is a no-op)."""
    from mopper_spark.pipeline.centrality import betweenness_centrality

    docs = spark.read.parquet(f"{sf}/documents.parquet").filter(
        F.col("doc_id") < 400
    )
    edges = docs.filter(F.col("doc_id") >= 2).select(
        F.col("doc_id").cast("long").alias("src"),
        F.expr("doc_id div 2").cast("long").alias("dst"),
    )
    return betweenness_centrality(edges)


def _sql_graph_betweenness(depth: int, scale: int = 10**9) -> str:
    parts = [
        """WITH ed AS MATERIALIZED (
  SELECT CAST(doc_id AS BIGINT) AS s, CAST(doc_id // 2 AS BIGINT) AS d
  FROM documents WHERE doc_id >= 2 AND doc_id < 400
), sym AS MATERIALIZED (
  SELECT DISTINCT s, d FROM (SELECT s, d FROM ed UNION ALL SELECT d, s FROM ed)
), nodes AS MATERIALIZED (
  SELECT DISTINCT s AS node FROM (SELECT s FROM sym UNION ALL SELECT d FROM sym)
), l0 AS MATERIALIZED (
  SELECT node AS o, node, CAST(1 AS BIGINT) AS sigma FROM nodes
), vis0 AS MATERIALIZED (SELECT o, node FROM l0)"""
    ]
    for t in range(1, depth + 1):
        parts.append(
            f""", l{t} AS MATERIALIZED (
  SELECT c.o, c.node, c.sigma FROM (
    SELECT f.o, e.d AS node, CAST(SUM(f.sigma) AS BIGINT) AS sigma
    FROM l{t - 1} f JOIN sym e ON e.s = f.node
    GROUP BY f.o, e.d
  ) c LEFT JOIN vis{t - 1} v ON v.o = c.o AND v.node = c.node
  WHERE v.node IS NULL
), vis{t} AS MATERIALIZED (
  SELECT o, node FROM vis{t - 1} UNION ALL SELECT o, node FROM l{t}
)"""
        )
    parts.append(
        f""", del{depth} AS MATERIALIZED (
  SELECT o, node, CAST(0 AS BIGINT) AS delta FROM l{depth} WHERE 1 = 0
)"""
    )
    for t in range(depth - 1, -1, -1):
        parts.append(
            f""", del{t} AS MATERIALIZED (
  SELECT u.o, u.node,
         CAST(SUM((u.sigma * ({scale} + COALESCE(dl.delta, 0))) // v.sigma)
              AS BIGINT) AS delta
  FROM l{t} u
  JOIN sym e ON e.s = u.node
  JOIN l{t + 1} v ON v.o = u.o AND v.node = e.d
  LEFT JOIN del{t + 1} dl ON dl.o = v.o AND dl.node = v.node
  GROUP BY u.o, u.node
)"""
        )
    alldel = " UNION ALL ".join(
        f"SELECT o, node, delta FROM del{t}" for t in range(depth)
    )
    parts.append(
        f"""
SELECT n.node, CAST(COALESCE(b.s, 0) AS BIGINT) AS bc_fp
FROM nodes n LEFT JOIN (
  SELECT node, SUM(delta) AS s FROM ({alldel}) WHERE o <> node GROUP BY node
) b ON b.node = n.node"""
    )
    return "".join(parts)


_SQL_GRAPH_BETWEENNESS = _sql_graph_betweenness(17)


def _q_events_ndcg(spark: SparkSession, sf: str) -> DataFrame:
    """nDCG@10 per query (textops/ranking.py::ndcg_at_k) — graded
    retrieval evaluation, the metric a training-data relevance filter is
    tuned against.  Fixture: user buckets are queries, event values are
    run scores, ``event_id % 4`` the graded labels; per-query lists are
    bounded so the two ranking windows are skew-free."""
    from mopper_spark.textops.ranking import ndcg_at_k

    ev = spark.read.parquet(f"{sf}/events.parquet")
    runs = ev.select(
        (F.col("user_id") % 25).alias("qid"),
        F.col("event_id").alias("item"),
        F.col("value").alias("score"),
        (F.col("event_id") % 4).alias("rel"),
    )
    return ndcg_at_k(runs, k=10)


_SQL_EVENTS_NDCG = """
WITH runs AS (
  SELECT user_id % 25 AS qid, event_id AS item, value AS score,
         event_id % 4 AS rel
  FROM events
),
ranked AS (
  SELECT qid,
         CAST((CAST(1 AS BIGINT) << CAST(rel AS INT)) - 1 AS DOUBLE) AS g,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, item ASC) AS pos,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel DESC, item ASC) AS ipos
  FROM runs
),
agg AS (
  SELECT qid,
         SUM(CASE WHEN pos <= 10 THEN g / log2(CAST(pos AS DOUBLE) + 1.0)
                  ELSE 0.0 END) AS dcg,
         SUM(CASE WHEN ipos <= 10 THEN g / log2(CAST(ipos AS DOUBLE) + 1.0)
                  ELSE 0.0 END) AS idcg
  FROM ranked GROUP BY qid
)
SELECT qid, dcg, idcg,
       CASE WHEN idcg > 0 THEN dcg / idcg ELSE 0.0 END AS ndcg
FROM agg
"""


_SQL_BIGRAM_CTES = """
t AS (
  SELECT tl AS t
  FROM (SELECT list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                           x -> x <> '') AS tl
        FROM documents)
  WHERE len(tl) > 1
),
pairs AS (
  SELECT unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
         unnest(list_transform(range(1, len(t)), i -> t[i + 1])) AS w2
  FROM t
),
big AS (SELECT w1, w2, COUNT(*) AS n_pair FROM pairs GROUP BY w1, w2)
"""


def _q_docs_collocations_llr(spark: SparkSession, sf: str) -> DataFrame:
    """Dunning log-likelihood-ratio collocations (textops/ranking.py::
    collocations_llr, G² over the bigram contingency table) — the phrase
    miner that, unlike PMI, stays calibrated on rare pairs."""
    from mopper_spark.textops.ranking import collocations_llr

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return collocations_llr(docs, min_count=5)


_SQL_DOCS_COLLOCATIONS_LLR = f"""
WITH {_SQL_BIGRAM_CTES},
marg AS (
  SELECT b.w1, b.w2, b.n_pair, l.r1, r.c1, t.nn
  FROM big b
  JOIN (SELECT w1, SUM(n_pair) AS r1 FROM big GROUP BY w1) l ON b.w1 = l.w1
  JOIN (SELECT w2, SUM(n_pair) AS c1 FROM big GROUP BY w2) r ON b.w2 = r.w2
  CROSS JOIN (SELECT SUM(n_pair) AS nn FROM big) t
  WHERE b.n_pair >= 5
)
SELECT w1, w2, CAST(n_pair AS BIGINT) AS n_pair,
  (CASE WHEN n_pair > 0 THEN CAST(n_pair AS DOUBLE)
          * ln((CAST(n_pair AS DOUBLE) * CAST(nn AS DOUBLE))
               / (CAST(r1 AS DOUBLE) * CAST(c1 AS DOUBLE))) ELSE 0.0 END
   + CASE WHEN r1 - n_pair > 0 THEN CAST(r1 - n_pair AS DOUBLE)
          * ln((CAST(r1 - n_pair AS DOUBLE) * CAST(nn AS DOUBLE))
               / (CAST(r1 AS DOUBLE) * CAST(nn - c1 AS DOUBLE))) ELSE 0.0 END
   + CASE WHEN c1 - n_pair > 0 THEN CAST(c1 - n_pair AS DOUBLE)
          * ln((CAST(c1 - n_pair AS DOUBLE) * CAST(nn AS DOUBLE))
               / (CAST(nn - r1 AS DOUBLE) * CAST(c1 AS DOUBLE))) ELSE 0.0 END
   + CASE WHEN nn - r1 - c1 + n_pair > 0 THEN CAST(nn - r1 - c1 + n_pair AS DOUBLE)
          * ln((CAST(nn - r1 - c1 + n_pair AS DOUBLE) * CAST(nn AS DOUBLE))
               / (CAST(nn - r1 AS DOUBLE) * CAST(nn - c1 AS DOUBLE))) ELSE 0.0 END
  ) * 2.0 AS llr
FROM marg
"""


def _q_docs_kneser_ney(spark: SparkSession, sf: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (textops/ranking.py::
    kneser_ney_bigrams, D=0.75) — continuation-probability smoothing, the
    real LM-quality estimator.  All statistics exact integers; p_kn is
    one fixed-order double expression."""
    from mopper_spark.textops.ranking import kneser_ney_bigrams

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return kneser_ney_bigrams(docs, min_count=3)


_SQL_DOCS_KNESER_NEY = f"""
WITH {_SQL_BIGRAM_CTES}
SELECT b.w1, b.w2, CAST(b.n_pair AS BIGINT) AS n_pair,
       CAST(l.n1f AS BIGINT) AS n1f, CAST(r.n1b AS BIGINT) AS n1b,
       (GREATEST(CAST(b.n_pair AS DOUBLE) - 0.75, 0.0)
        + 0.75 * CAST(l.n1f AS DOUBLE)
          * (CAST(r.n1b AS DOUBLE) / CAST(t.n1all AS DOUBLE)))
       / CAST(l.cv AS DOUBLE) AS p_kn
FROM big b
JOIN (SELECT w1, SUM(n_pair) AS cv, COUNT(*) AS n1f FROM big GROUP BY w1) l
  ON b.w1 = l.w1
JOIN (SELECT w2, COUNT(*) AS n1b FROM big GROUP BY w2) r ON b.w2 = r.w2
CROSS JOIN (SELECT COUNT(*) AS n1all FROM big) t
WHERE b.n_pair >= 3
"""


def _q_linking_fs_scores(spark: SparkSession, sf: str) -> DataFrame:
    """Fellegi-Sunter probabilistic linkage scores (pipeline/linking.py::
    fs_weights + fs_scores): m/u parameters estimated from a labeled
    candidate-pair table, per-pair log2-likelihood-ratio scores under the
    naive-Bayes model.  Pair generation is an EQUI-join (a +δ key, δ ∈
    {1,2,3} exploded) — never a theta join — and the one-row weights
    aggregate broadcasts back, so scoring is a narrow map."""
    from mopper_spark.pipeline.linking import fs_scores, fs_weights

    cust = spark.read.parquet(f"{sf}/customer.parquet")
    a = cust.select(
        F.col("c_custkey").alias("a_key"),
        F.col("c_mktsegment").alias("a_seg"),
        F.col("c_nationkey").alias("a_nat"),
        F.col("c_acctbal").alias("a_bal"),
    ).withColumn("dd", F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))))
    b = cust.select(
        F.col("c_custkey").alias("b_key"),
        F.col("c_mktsegment").alias("b_seg"),
        F.col("c_nationkey").alias("b_nat"),
        F.col("c_acctbal").alias("b_bal"),
    )
    pairs = (
        a.join(b, a["a_key"] + a["dd"] == b["b_key"])
        .select(
            "a_key",
            "b_key",
            (F.col("a_seg") == F.col("b_seg")).alias("agree_seg"),
            (F.col("a_nat") == F.col("b_nat")).alias("agree_nat"),
            (F.abs(F.col("a_bal") - F.col("b_bal")) < 500.0).alias("agree_bal"),
            (((F.col("a_key") * 7 + F.col("dd")) % 11) < 3).alias("is_match"),
        )
    )
    cols = ["agree_seg", "agree_nat", "agree_bal"]
    w = fs_weights(pairs, cols)
    return fs_scores(pairs, w, cols).select(
        "a_key", "b_key", "agree_seg", "agree_nat", "agree_bal", "fs_score"
    )


_SQL_LINKING_FS = """
WITH pairs AS (
  SELECT c1.c_custkey AS a_key, c2.c_custkey AS b_key,
         c1.c_mktsegment = c2.c_mktsegment AS agree_seg,
         c1.c_nationkey = c2.c_nationkey AS agree_nat,
         abs(c1.c_acctbal - c2.c_acctbal) < 500.0 AS agree_bal,
         ((c1.c_custkey * 7 + d.dd) % 11) < 3 AS is_match
  FROM customer c1
  CROSS JOIN (VALUES (1), (2), (3)) d(dd)
  JOIN customer c2 ON c2.c_custkey = c1.c_custkey + d.dd
),
w AS (
  SELECT SUM(CASE WHEN is_match THEN 1 ELSE 0 END) AS n_m,
         SUM(CASE WHEN is_match THEN 0 ELSE 1 END) AS n_u,
         SUM(CASE WHEN is_match AND agree_seg THEN 1 ELSE 0 END) AS am_seg,
         SUM(CASE WHEN NOT is_match AND agree_seg THEN 1 ELSE 0 END) AS au_seg,
         SUM(CASE WHEN is_match AND agree_nat THEN 1 ELSE 0 END) AS am_nat,
         SUM(CASE WHEN NOT is_match AND agree_nat THEN 1 ELSE 0 END) AS au_nat,
         SUM(CASE WHEN is_match AND agree_bal THEN 1 ELSE 0 END) AS am_bal,
         SUM(CASE WHEN NOT is_match AND agree_bal THEN 1 ELSE 0 END) AS au_bal
  FROM pairs
)
SELECT a_key, b_key, agree_seg, agree_nat, agree_bal,
  0.0
  + CASE WHEN agree_seg
      THEN log2(((CAST(am_seg AS DOUBLE) + 1.0) / (CAST(n_m AS DOUBLE) + 2.0))
                / ((CAST(au_seg AS DOUBLE) + 1.0) / (CAST(n_u AS DOUBLE) + 2.0)))
      ELSE log2((1.0 - (CAST(am_seg AS DOUBLE) + 1.0) / (CAST(n_m AS DOUBLE) + 2.0))
                / (1.0 - (CAST(au_seg AS DOUBLE) + 1.0) / (CAST(n_u AS DOUBLE) + 2.0)))
    END
  + CASE WHEN agree_nat
      THEN log2(((CAST(am_nat AS DOUBLE) + 1.0) / (CAST(n_m AS DOUBLE) + 2.0))
                / ((CAST(au_nat AS DOUBLE) + 1.0) / (CAST(n_u AS DOUBLE) + 2.0)))
      ELSE log2((1.0 - (CAST(am_nat AS DOUBLE) + 1.0) / (CAST(n_m AS DOUBLE) + 2.0))
                / (1.0 - (CAST(au_nat AS DOUBLE) + 1.0) / (CAST(n_u AS DOUBLE) + 2.0)))
    END
  + CASE WHEN agree_bal
      THEN log2(((CAST(am_bal AS DOUBLE) + 1.0) / (CAST(n_m AS DOUBLE) + 2.0))
                / ((CAST(au_bal AS DOUBLE) + 1.0) / (CAST(n_u AS DOUBLE) + 2.0)))
      ELSE log2((1.0 - (CAST(am_bal AS DOUBLE) + 1.0) / (CAST(n_m AS DOUBLE) + 2.0))
                / (1.0 - (CAST(au_bal AS DOUBLE) + 1.0) / (CAST(n_u AS DOUBLE) + 2.0)))
    END AS fs_score
FROM pairs CROSS JOIN w
"""


def _q_kg_reify_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """RDF reification round-trip (pipeline/reify.py): every distinct KG
    statement → its 4-triple rdf:Statement form with deterministic md5
    statement IRIs → recovered via a 3-pattern BGP star + okind join.
    The oracle is the ORIGINAL distinct statement set, so the gate hash
    proves unreify∘reify = identity on the full extracted KG (literals
    and IRIs both)."""
    from mopper_spark.pipeline.extract import (
        extract_mentions,
        extract_triples,
        mention_triples,
    )
    from mopper_spark.pipeline.reify import reify, unreify

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    kg = (
        extract_triples(tr)
        .unionByName(mention_triples(extract_mentions(tr)))
        .select("subj", "pred", "obj", "okind")
    )
    return unreify(reify(kg))


def _q_graph_scc(spark: SparkSession, sf: str) -> DataFrame:
    """Strongly connected components (pipeline/graph.py::scc_components,
    forward-backward coloring with trim).  Fixture: a 4-level layered
    digraph over the doc ids — each level is a jump ring (pos → pos+2^k
    mod P for every 2^k < P, so within-level diameter ≤ log2 P and the
    level is one SCC), cross edges only go level ℓ → ℓ+1 (acyclic between
    levels).  Exactly 4 SCCs whose canonical min-ids are 0,1,2,3; the
    coloring retires one level per outer round, exercising the multi-round
    path.  ``prop_rounds`` is the constructive diameter bound (4 ring
    diameters + 3 cross hops, padded); ``verify_fixpoint`` keeps it
    honest.  Oracle: recursive-CTE mutual reachability — scc_id =
    min{u : u↔v} — over the identical edge set."""
    from mopper_spark.pipeline.graph import scc_components

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    n = docs.count()
    p = n // 4
    ks = [k for k in range(11) if (1 << k) < p]
    nodes = docs.filter(F.col("doc_id") < 4 * p).select(
        F.col("doc_id").cast("long").alias("v")
    )
    jump = nodes.select(
        "v", F.explode(F.array(*[F.lit(k) for k in ks])).alias("k")
    ).select(
        F.col("v").alias("src"),
        (
            ((F.expr("v div 4") + F.expr("shiftleft(CAST(1 AS BIGINT), k)")) % p)
            * 4
            + F.col("v") % 4
        ).alias("dst"),
    )
    cross = nodes.filter(F.col("v") % 4 < 3).select(
        F.col("v").alias("src"), (F.col("v") + 1).alias("dst")
    )
    # longest min-label path: ≤ len(ks) within-level jump hops to reach the
    # right ring position + ≤3 cross hops; +6 slack (verify_fixpoint guards)
    bound = len(ks) + 6
    return scc_components(jump.unionAll(cross), prop_rounds=bound)


_SQL_GRAPH_SCC = """
WITH RECURSIVE par AS (SELECT CAST(count(*) AS BIGINT) // 4 AS p FROM documents),
ks AS (
  SELECT k FROM (VALUES (0),(1),(2),(3),(4),(5),(6),(7),(8),(9),(10)) t(k)
  WHERE (CAST(1 AS BIGINT) << k) < (SELECT p FROM par)
),
nodes AS (
  SELECT CAST(doc_id AS BIGINT) AS v FROM documents
  WHERE doc_id < 4 * (SELECT p FROM par)
),
e AS (
  SELECT v AS s, ((v // 4 + (CAST(1 AS BIGINT) << k)) % p) * 4 + (v % 4) AS d
  FROM nodes, ks, par
  UNION ALL
  SELECT v, v + 1 FROM nodes WHERE v % 4 < 3
),
reach(s, d) AS (
  SELECT s, d FROM e
  UNION
  SELECT r.s, e2.d FROM reach r JOIN e e2 ON e2.s = r.d
),
mutual AS (
  SELECT r1.s AS v, r1.d AS u
  FROM reach r1 JOIN reach r2 ON r1.s = r2.d AND r1.d = r2.s
)
SELECT n.v AS node,
       CAST(LEAST(n.v, COALESCE(MIN(m.u), n.v)) AS BIGINT) AS scc_id
FROM nodes n LEFT JOIN mutual m ON m.v = n.v
GROUP BY n.v
"""


def _q_graph_harmonic(spark: SparkSession, sf: str) -> DataFrame:
    """Exact harmonic centrality + distance profile (pipeline/
    centrality.py::harmonic_centrality) over the doc-id binary tree,
    cohort-bounded to ids < 1500 (all-pairs BFS is the deliberate
    ORACLE-GRADE variant; graph_hyperball is the corpus-scale sketch of
    the same quantity).  harmonic_fp keeps Σ1/d in fixed-point int64 —
    associative-safe, hash-exact."""
    from mopper_spark.pipeline.centrality import harmonic_centrality

    docs = spark.read.parquet(f"{sf}/documents.parquet").filter(
        F.col("doc_id") < 1500
    )
    edges = docs.filter(F.col("doc_id") >= 2).select(
        F.col("doc_id").cast("long").alias("src"),
        F.expr("doc_id div 2").cast("long").alias("dst"),
    )
    return harmonic_centrality(edges, max_hops=24)


_SQL_GRAPH_HARMONIC = """
WITH RECURSIVE ed AS (
  SELECT CAST(doc_id AS BIGINT) AS s, CAST(doc_id // 2 AS BIGINT) AS d
  FROM documents WHERE doc_id >= 2 AND doc_id < 1500
),
sym AS (SELECT s, d FROM ed UNION ALL SELECT d AS s, s AS d FROM ed),
walk(o, node, dist) AS (
  SELECT s, d, 1 FROM sym
  UNION
  SELECT w.o, s2.d, w.dist + 1 FROM walk w JOIN sym s2 ON s2.s = w.node
  WHERE w.dist < 24
),
md AS (
  SELECT o, node, MIN(dist) AS dist FROM walk WHERE node <> o GROUP BY o, node
)
SELECT o AS node, CAST(COUNT(*) AS BIGINT) AS reach,
       CAST(SUM(dist) AS BIGINT) AS dist_sum,
       CAST(SUM(1000000000 // dist) AS BIGINT) AS harmonic_fp
FROM md GROUP BY o
"""


def _q_graph_hyperball(spark: SparkSession, sf: str) -> DataFrame:
    """HyperBall 3-ball sizes (pipeline/centrality.py::hyperball) over
    the full doc-id binary tree: 64 md5-derived HLL registers max-merged
    along edges — O(64·n) state per round where the exact ball is O(n²),
    the neighborhood-function sketch of Boldi & Vigna.  Registers and the
    harmonic denominator are exact integers, so even the SKETCH is
    strict-oracled: DuckDB replays the same 3 unrolled max-merge rounds
    bit-for-bit."""
    from mopper_spark.pipeline.centrality import hyperball

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    edges = docs.filter(F.col("doc_id") >= 2).select(
        F.col("doc_id").cast("long").alias("src"),
        F.expr("doc_id div 2").cast("long").alias("dst"),
    )
    return hyperball(edges, rounds=3)


def _sql_graph_hyperball(rounds: int) -> str:
    reg = "('0x' || substr(md5(CAST(v AS VARCHAR)), {a}, {b}))::BIGINT"
    parts = [
        f"""WITH ed AS MATERIALIZED (
  SELECT CAST(doc_id AS BIGINT) AS s, CAST(doc_id // 2 AS BIGINT) AS d
  FROM documents WHERE doc_id >= 2
), sym AS MATERIALIZED (
  SELECT DISTINCT s, d FROM (SELECT s, d FROM ed UNION ALL SELECT d, s FROM ed)
), nodes AS MATERIALIZED (
  SELECT DISTINCT v FROM (SELECT s AS v FROM sym UNION ALL SELECT d FROM sym)
), s0 AS MATERIALIZED (
  SELECT v AS node,
         {reg.format(a=1, b=2)} % 64 AS bucket,
         CASE WHEN {reg.format(a=3, b=12)} = 0 THEN 49
              ELSE 49 - length(bin({reg.format(a=3, b=12)})) END AS r
  FROM nodes
)"""
    ]
    for t in range(1, rounds + 1):
        parts.append(
            f""", s{t} AS MATERIALIZED (
  SELECT node, bucket, MAX(r) AS r FROM (
    SELECT node, bucket, r FROM s{t - 1}
    UNION ALL
    SELECT e.s AS node, st.bucket, st.r FROM sym e JOIN s{t - 1} st ON st.node = e.d
  ) GROUP BY node, bucket
)"""
        )
    alpha = "(0.7213 / (1.0 + 1.079 / 64.0))"
    sfp = "(s_present + (64 - n_present) * 1125899906842624)"
    raw = f"{alpha} * 64.0 * 64.0 * 1125899906842624.0 / {sfp}"
    parts.append(
        f""", summ AS (
  SELECT node, COUNT(*) AS n_present,
         CAST(SUM((CAST(1 AS BIGINT)) << (50 - r)) AS BIGINT) AS s_present
  FROM s{rounds} GROUP BY node
)
SELECT node,
  CAST(64 - n_present AS BIGINT) AS v_zero,
  CAST({sfp} AS BIGINT) AS s_fp,
  CASE WHEN {raw} <= 2.5 * 64.0 AND (64 - n_present) > 0
       THEN 64.0 * ln(64.0 / CAST(64 - n_present AS DOUBLE))
       ELSE {raw} END AS est
FROM summ"""
    )
    return "".join(parts)


_SQL_GRAPH_HYPERBALL = _sql_graph_hyperball(3)


def _q_graph_hits(spark: SparkSession, sf: str) -> DataFrame:
    """HITS hubs/authorities in exact fixed point (pipeline/graph.py::
    hits_fixed, 2 iterations, scale 10**6) over a doc-id digraph: tree
    edges v -> v div 2 plus modular citation jumps v -> (7v+3) mod n.
    Every op is integer (sum, max-rescale with GREATEST(max,1) guard,
    div), so DuckDB unrolls the same two authority/hub rounds
    bit-for-bit."""
    from mopper_spark.pipeline.graph import hits_fixed

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    n = docs.count()
    tree = docs.filter(F.col("doc_id") >= 2).select(
        F.col("doc_id").cast("long").alias("src"),
        F.expr("doc_id div 2").cast("long").alias("dst"),
    )
    jump = docs.select(
        F.col("doc_id").cast("long").alias("src"),
        ((F.col("doc_id") * 7 + 3) % F.lit(n)).cast("long").alias("dst"),
    )
    return hits_fixed(tree.unionAll(jump), iters=2, scale=10**6)


def _sql_graph_hits(iters: int = 2, scale: int = 10**6) -> str:
    parts = [
        """WITH par AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
e AS MATERIALIZED (
  SELECT DISTINCT s, d FROM (
    SELECT CAST(doc_id AS BIGINT) AS s, CAST(doc_id // 2 AS BIGINT) AS d
    FROM documents WHERE doc_id >= 2
    UNION ALL
    SELECT CAST(doc_id AS BIGINT), CAST((7 * doc_id + 3) % n AS BIGINT)
    FROM documents, par
  ) WHERE s <> d
), n0 AS MATERIALIZED (
  SELECT DISTINCT node FROM (SELECT s AS node FROM e UNION ALL SELECT d FROM e)
), h0 AS MATERIALIZED (SELECT node, CAST("""
        + str(scale)
        + """ AS BIGINT) AS val FROM n0)"""
    ]
    prev_h = "h0"
    for i in range(1, iters + 1):
        parts.append(
            f""", a{i}r AS MATERIALIZED (
  SELECT e.d AS node, SUM(h.val) AS raw FROM e JOIN {prev_h} h ON e.s = h.node
  GROUP BY e.d
), a{i} AS MATERIALIZED (
  SELECT node, raw * {scale} // GREATEST((SELECT MAX(raw) FROM a{i}r), 1) AS val
  FROM a{i}r
), h{i}r AS MATERIALIZED (
  SELECT e.s AS node, SUM(a.val) AS raw FROM e JOIN a{i} a ON e.d = a.node
  GROUP BY e.s
), h{i} AS MATERIALIZED (
  SELECT node, raw * {scale} // GREATEST((SELECT MAX(raw) FROM h{i}r), 1) AS val
  FROM h{i}r
)"""
        )
        prev_h = f"h{i}"
    parts.append(
        f"""
SELECT n0.node, CAST(COALESCE(h{iters}.val, 0) AS BIGINT) AS hub_fp,
       CAST(COALESCE(a{iters}.val, 0) AS BIGINT) AS auth_fp
FROM n0 LEFT JOIN h{iters} ON n0.node = h{iters}.node
LEFT JOIN a{iters} ON n0.node = a{iters}.node"""
    )
    return "".join(parts)


_SQL_GRAPH_HITS = _sql_graph_hits()


def _q_graph_topo_layers(spark: SparkSession, sf: str) -> DataFrame:
    """Longest-path DAG layering (pipeline/graph.py::topo_layers) over the
    doc-id DAG with tree edges (v div 2 -> v) AND skip edges
    (v div 4 -> v), cohort-bounded to ids < 2048 so the longest path is
    <= 11 regardless of sf.  The skips make shortest != longest paths, so
    the query distinguishes longest-path layering from BFS depth.
    Oracle: recursive walk enumerating (node, depth) pairs (dedup'd by
    UNION — state is bounded by n * depth) and taking the max."""
    from mopper_spark.pipeline.graph import topo_layers

    docs = spark.read.parquet(f"{sf}/documents.parquet").filter(
        F.col("doc_id") < 2048
    )
    tree = docs.filter(F.col("doc_id") >= 2).select(
        F.expr("doc_id div 2").cast("long").alias("src"),
        F.col("doc_id").cast("long").alias("dst"),
    )
    skip = docs.filter(F.col("doc_id") >= 4).select(
        F.expr("doc_id div 4").cast("long").alias("src"),
        F.col("doc_id").cast("long").alias("dst"),
    )
    return topo_layers(tree.unionAll(skip), max_depth=12)


_SQL_GRAPH_TOPO = """
WITH RECURSIVE e AS MATERIALIZED (
  SELECT DISTINCT s, d FROM (
    SELECT CAST(doc_id // 2 AS BIGINT) AS s, CAST(doc_id AS BIGINT) AS d
    FROM documents WHERE doc_id >= 2 AND doc_id < 2048
    UNION ALL
    SELECT CAST(doc_id // 4 AS BIGINT), CAST(doc_id AS BIGINT)
    FROM documents WHERE doc_id >= 4 AND doc_id < 2048
  ) WHERE s <> d
), nodes AS MATERIALIZED (
  SELECT DISTINCT node FROM (SELECT s AS node FROM e UNION ALL SELECT d FROM e)
), walk(node, dep) AS (
  SELECT node, 0 FROM nodes
  UNION
  SELECT e.d, w.dep + 1 FROM walk w JOIN e ON e.s = w.node WHERE w.dep < 12
)
SELECT node, CAST(MAX(dep) AS BIGINT) AS layer FROM walk GROUP BY node
"""


def _q_graph_node_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Neighborhood Jaccard pairs (pipeline/graph.py::node_jaccard) over
    the undirected doc-id tree + successor ring, cohort-bounded to ids
    < 1024.  Max degree there is 5 (two tree children, one parent, two
    ring neighbors), far under the 256 wedge cap, so the hub-filtered
    score IS the exact classical Jaccard; all-integer counts and div make
    it hash-exact."""
    from mopper_spark.pipeline.graph import node_jaccard

    docs = spark.read.parquet(f"{sf}/documents.parquet").filter(
        F.col("doc_id") < 1024
    )
    n_expr = F.lit(1024)
    tree = docs.filter(F.col("doc_id") >= 2).select(
        F.col("doc_id").cast("long").alias("a"),
        F.expr("doc_id div 2").cast("long").alias("b"),
    )
    ring = docs.select(
        F.col("doc_id").cast("long").alias("a"),
        ((F.col("doc_id") + 1) % n_expr).cast("long").alias("b"),
    )
    return node_jaccard(tree.unionAll(ring))


_SQL_GRAPH_NODE_JACCARD = """
WITH ed AS MATERIALIZED (
  SELECT CAST(doc_id AS BIGINT) AS a, CAST(doc_id // 2 AS BIGINT) AS b
  FROM documents WHERE doc_id >= 2 AND doc_id < 1024
  UNION ALL
  SELECT CAST(doc_id AS BIGINT), CAST((doc_id + 1) % 1024 AS BIGINT)
  FROM documents WHERE doc_id < 1024
), sym AS MATERIALIZED (
  SELECT DISTINCT u, v FROM
    (SELECT a AS u, b AS v FROM ed UNION ALL SELECT b, a FROM ed)
  WHERE u <> v
), cdeg AS MATERIALIZED (
  SELECT u AS c, count(*) AS cdeg FROM sym GROUP BY u
), adj AS MATERIALIZED (
  SELECT sym.u AS c, sym.v AS m FROM sym JOIN cdeg ON sym.u = cdeg.c
  WHERE cdeg.cdeg <= 256
), deg AS MATERIALIZED (
  SELECT m AS node, count(*) AS deg FROM adj GROUP BY m
), com AS MATERIALIZED (
  SELECT l.m AS x, r.m AS y, count(*) AS common
  FROM adj l JOIN adj r ON l.c = r.c AND l.m < r.m
  GROUP BY l.m, r.m
  HAVING count(*) >= 1
)
SELECT com.x, com.y, com.common,
       com.common * 1000000000 // (dx.deg + dy.deg - com.common) AS j_fp
FROM com JOIN deg dx ON com.x = dx.node JOIN deg dy ON com.y = dy.node
"""


def _q_docs_mannwhitney_length(spark: SparkSession, sf: str) -> DataFrame:
    """Mann-Whitney U (textops/rankstats.py::mann_whitney_u) comparing
    the 50-char-bucketed length distribution of English documents against
    the rest of the corpus — the nonparametric "did this source's length
    distribution shift" audit.  2xU plus the tie-correction term, all
    BIGINT; per-distinct-value counts then a bucketed exclusive prefix,
    so no row-shaped data crosses a single-partition window."""
    from mopper_spark.textops.rankstats import mann_whitney_u

    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        F.expr("n_chars div 50").alias("len_bkt"),
        (F.col("lang") == "en").cast("int").alias("is_en"),
    )
    return mann_whitney_u(docs, "len_bkt", "is_en")


_SQL_DOCS_MANNWHITNEY_LENGTH = """
WITH pv AS MATERIALIZED (
  SELECT n_chars // 50 AS v,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS nb
  FROM documents GROUP BY 1
), pre AS MATERIALIZED (
  SELECT v, na, nb,
         COALESCE(SUM(nb) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre_nb
  FROM pv
), agg AS MATERIALIZED (
  SELECT CAST(SUM(na) AS BIGINT) AS n_a,
         CAST(SUM(nb) AS BIGINT) AS n_b,
         CAST(SUM(na * (2 * pre_nb + nb)) AS BIGINT) AS u2x_a,
         CAST(SUM((na + nb) * (na + nb) * (na + nb) - (na + nb))
              AS BIGINT) AS tie_cubes
  FROM pre
)
SELECT n_a, n_b, u2x_a,
       CAST(2 * n_a * n_b - u2x_a AS BIGINT) AS u2x_b, tie_cubes
FROM agg
"""


def _q_docs_ks_length(spark: SparkSession, sf: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov (rankstats.py::ks_statistic)
    between English and non-English 10-char length buckets: the max
    ECDF gap scaled to the exact integer |n_b*cumA - n_a*cumB| plus the
    smallest bucket attaining it — the distribution-drift audit
    companion to the Mann-Whitney query."""
    from mopper_spark.textops.rankstats import ks_statistic

    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        F.expr("n_chars div 10").alias("len_bkt"),
        (F.col("lang") == "en").cast("int").alias("is_en"),
    )
    return ks_statistic(docs, "len_bkt", "is_en")


_SQL_DOCS_KS_LENGTH = """
WITH pv AS MATERIALIZED (
  SELECT n_chars // 10 AS v,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS nb
  FROM documents GROUP BY 1
), cum AS MATERIALIZED (
  SELECT v,
         SUM(na) OVER (ORDER BY v) AS ca,
         SUM(nb) OVER (ORDER BY v) AS cb,
         (SELECT SUM(na) FROM pv) AS n_a,
         (SELECT SUM(nb) FROM pv) AS n_b
  FROM pv
), gaps AS MATERIALIZED (
  SELECT v, n_a, n_b, ABS(n_b * ca - n_a * cb) AS gap FROM cum
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST(MAX(gap) AS BIGINT) AS d_num,
       CAST(MIN(v) FILTER (WHERE gap = (SELECT MAX(gap) FROM gaps))
            AS BIGINT) AS at_v
FROM gaps GROUP BY n_a, n_b
"""


def _q_docs_spearman_len_ws(spark: SparkSession, sf: str) -> DataFrame:
    """Spearman rank-correlation terms (rankstats.py::spearman_terms)
    between document length and whitespace count — exact centered
    2x-midrank product sums (rho = num / sqrt(den_x * den_y) at display
    time).  Ties handled by integer 2x-midranks; ranks come from
    per-distinct-value prefix counts broadcast-joined back, one
    combine-able aggregation after that."""
    from mopper_spark.textops.rankstats import spearman_terms

    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        F.col("n_chars").alias("x"),
        (
            F.length("text") - F.length(F.regexp_replace("text", " ", ""))
        ).cast("long").alias("y"),
    )
    return spearman_terms(docs, "x", "y")


_SQL_DOCS_SPEARMAN_LEN_WS = """
WITH base AS MATERIALIZED (
  SELECT CAST(n_chars AS BIGINT) AS x,
         CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS y
  FROM documents
), rk AS MATERIALIZED (
  SELECT
    2 * RANK() OVER (ORDER BY x) + COUNT(*) OVER (PARTITION BY x) - 1 AS rx,
    2 * RANK() OVER (ORDER BY y) + COUNT(*) OVER (PARTITION BY y) - 1 AS ry
  FROM base
), agg AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(rx * ry) AS BIGINT) AS sxy,
         CAST(SUM(rx * rx) AS BIGINT) AS sxx,
         CAST(SUM(ry * ry) AS BIGINT) AS syy
  FROM rk
)
SELECT n,
       CAST(sxy - n * (n + 1) * (n + 1) AS BIGINT) AS num,
       CAST(sxx - n * (n + 1) * (n + 1) AS BIGINT) AS den_x,
       CAST(syy - n * (n + 1) * (n + 1) AS BIGINT) AS den_y
FROM agg
"""


def _q_docs_kendall_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """Kendall tau pair-class counts (rankstats.py::kendall_tau_counts)
    between bucketed length (div 100) and bucketed whitespace count
    (div 20) — the corpus collapses to ~30 (x, y) cells, the quadratic
    concordance join runs over cells only (max_cells-guarded), and the
    five pair classes come back as one exact-BIGINT row."""
    from mopper_spark.textops.rankstats import kendall_tau_counts

    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        F.expr("n_chars div 100").alias("x"),
        F.expr(
            "CAST((length(text) - length(replace(text, ' ', ''))) div 20"
            " AS BIGINT)"
        ).alias("y"),
    )
    return kendall_tau_counts(docs, "x", "y")


_SQL_DOCS_KENDALL_BUCKETS = """
WITH cells AS MATERIALIZED (
  SELECT n_chars // 100 AS x,
         (length(text) - length(replace(text, ' ', ''))) // 20 AS y,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2
), marg AS MATERIALIZED (
  SELECT CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(c * (c - 1)) AS BIGINT) AS both2
  FROM cells
), tx AS MATERIALIZED (
  SELECT CAST(SUM(cx * (cx - 1)) AS BIGINT) AS tx2
  FROM (SELECT SUM(c) AS cx FROM cells GROUP BY x)
), ty AS MATERIALIZED (
  SELECT CAST(SUM(cy * (cy - 1)) AS BIGINT) AS ty2
  FROM (SELECT SUM(c) AS cy FROM cells GROUP BY y)
), disc AS MATERIALIZED (
  SELECT CAST(COALESCE(SUM(l.c * r.c), 0) AS BIGINT) AS discordant
  FROM cells l JOIN cells r ON l.x < r.x AND l.y > r.y
)
SELECT n,
       CAST((n * (n - 1) - tx2 - ty2 + both2) // 2 - discordant
            AS BIGINT) AS concordant,
       discordant,
       CAST((tx2 - both2) // 2 AS BIGINT) AS ties_x_only,
       CAST((ty2 - both2) // 2 AS BIGINT) AS ties_y_only,
       CAST(both2 // 2 AS BIGINT) AS ties_both
FROM marg, tx, ty, disc
"""


def _q_events_pivot(spark: SparkSession, sf: str) -> DataFrame:
    """Contingency pivot (textops/olap.py::pivot_metrics): day ×
    event_type crosstab with per-cell count and integer cents sum,
    zero-filled.  Explicit value list → no distinct-values discovery
    job; the plan is the two-aggregate PivotFirst shape whose second
    exchange moves only (day, type) pairs (pinned in tests/test_olap.py).
    Day rides as an ISO string — fetch-path-proof (DATE becomes a
    pandas Timestamp on the oracle's Arrow path)."""
    from mopper_spark.textops.olap import pivot_metrics

    ev = spark.read.parquet(f"{sf}/events.parquet").select(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
        "event_type",
        "value",
    )
    types = ["click", "view", "signup", "purchase", "error"]
    return pivot_metrics(ev, ["day"], "event_type", types, "value")


_SQL_EVENTS_PIVOT = """
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
       CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click_n,
       CAST(COALESCE(SUM(FLOOR(value * 100)) FILTER (WHERE event_type = 'click'), 0) AS BIGINT) AS click_value_fp,
       CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view_n,
       CAST(COALESCE(SUM(FLOOR(value * 100)) FILTER (WHERE event_type = 'view'), 0) AS BIGINT) AS view_value_fp,
       CAST(COUNT(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup_n,
       CAST(COALESCE(SUM(FLOOR(value * 100)) FILTER (WHERE event_type = 'signup'), 0) AS BIGINT) AS signup_value_fp,
       CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase_n,
       CAST(COALESCE(SUM(FLOOR(value * 100)) FILTER (WHERE event_type = 'purchase'), 0) AS BIGINT) AS purchase_value_fp,
       CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error_n,
       CAST(COALESCE(SUM(FLOOR(value * 100)) FILTER (WHERE event_type = 'error'), 0) AS BIGINT) AS error_value_fp
FROM events GROUP BY 1
"""


def _q_events_active_users(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing-7-day distinct active users per active day
    (timeseries.py::rolling_active_users) — the WAU curve, exact, via
    the contribution-explode shape: events reduce to distinct
    (day, user) pairs first, each pair fans out to its 7 window-end
    days, so no shuffle after the first is event-scale."""
    from mopper_spark.textops.timeseries import rolling_active_users

    ev = spark.read.parquet(f"{sf}/events.parquet")
    out = rolling_active_users(ev, "user_id", "ts", window_days=7)
    return out.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"), "au"
    )


_SQL_EVENTS_ACTIVE_USERS = """
WITH du AS MATERIALIZED (
  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id AS u FROM events
), days AS MATERIALIZED (
  SELECT DISTINCT d FROM du
)
SELECT CAST(days.d AS VARCHAR) AS day,
       CAST(COUNT(DISTINCT du.u) AS BIGINT) AS au
FROM days JOIN du ON du.d BETWEEN days.d - 6 AND days.d
GROUP BY 1
"""


def _q_docs_gini_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """Gini concentration of the token-frequency distribution
    (rankstats.py::gini_terms): one exact-integer row (n, total, g_num),
    G = g_num/(n·total) — "is the vocabulary Zipf-steep or flat?".
    Run-based rank formula over per-distinct-frequency counts, so no
    global sort and no tie-break sensitivity (runs of equal frequency
    contribute a closed form)."""
    from mopper_spark.textops.analysis import tokens
    from mopper_spark.textops.rankstats import gini_terms

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    tf = (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return gini_terms(tf, "cnt")


_SQL_DOCS_GINI_TOKENS = r"""
WITH tf AS MATERIALIZED (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                  x -> x <> '')) AS token
        FROM documents)
  GROUP BY token
), r AS MATERIALIZED (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c) AS i FROM tf
)
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(c) AS BIGINT) AS total,
       CAST(2 * SUM(i * c) - (COUNT(*) + 1) * SUM(c) AS BIGINT) AS g_num
FROM r
"""


def _q_transcripts_loss_mask(spark: SparkSession, sf: str) -> DataFrame:
    """Assistant-only SFT loss-mask spans (prepare.py::render_loss_spans):
    per assistant turn, the 0-based end-exclusive character offsets of
    its CONTENT inside the render_conversations document — pure integer
    prefix arithmetic over per-turn lengths (text never moves), pinned
    char-exact against the rendered text in tests/test_prepare.py."""
    from mopper_spark.textops.prepare import render_loss_spans

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    return render_loss_spans(tr)


_SQL_TRANSCRIPTS_LOSS_MASK = f"""
WITH t AS MATERIALIZED (
  SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx, role,
         CAST(4 + LENGTH(role) AS BIGINT) AS hl,
         CAST(4 + LENGTH(role) + LENGTH(text) AS BIGINT) AS rl,
         '<|' || role || '|>' || text AS r
  FROM read_parquet('{_TRANSCRIPTS_FIXTURE}')
), o AS MATERIALIZED (
  SELECT conv_id, turn_idx, role, hl, rl,
         COALESCE(SUM(rl + 1) OVER (
           PARTITION BY conv_id ORDER BY turn_idx, r
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
  FROM t
)
SELECT conv_id, turn_idx,
       CAST(pre + hl AS BIGINT) AS start_off,
       CAST(pre + rl AS BIGINT) AS end_off
FROM o WHERE role = 'assistant'
"""


def _q_kg_sparql_strfns(spark: SparkSession, sf: str) -> DataFrame:
    """SPARQL 1.1 string/hash builtins through the text front-end
    (pipeline/sparql.py): STRAFTER/STRBEFORE (CASE/instr translation
    with the spec's empty-needle and no-match '' semantics), MD5 and
    SHA256 over entity IRIs, composed inside SELECT expressions
    ((expr AS ?v) Extend items) with DISTINCT + ORDER + LIMIT — the
    IRI-namespace-stripping idiom every downstream SPARQL consumer
    writes."""
    from mopper_spark.pipeline.sparql import sparql_query

    return sparql_query(
        _kg_triples(spark),
        """
        PREFIX ont: <http://example.com/ontology/>
        SELECT DISTINCT ?e (STRAFTER(?e, "/entity/") AS ?name)
               (MD5(?e) AS ?fp)
               (SHA256(STRBEFORE(STRAFTER(?e, "/entity/"), "%20")) AS ?head_fp)
        WHERE { ?t ont:mentions ?e . }
        ORDER BY ?e
        LIMIT 40
        """,
    )


_SQL_KG_SPARQL_STRFNS = f"""
WITH kg AS ({_SQL_KG_GRAPH}),
ent AS (
  SELECT DISTINCT obj AS e FROM kg
  WHERE pred = 'http://example.com/ontology/mentions'
), x AS (
  SELECT e,
         CASE WHEN instr(e, '/entity/') > 0
              THEN substring(e, instr(e, '/entity/') + 8) ELSE '' END AS name
  FROM ent
)
SELECT e, name, md5(e) AS fp,
       sha256(CASE WHEN instr(name, '%20') > 0
                   THEN substring(name, 1, instr(name, '%20') - 1)
                   ELSE '' END) AS head_fp
FROM x ORDER BY e LIMIT 40
"""


def _q_docs_shuffle_order(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic global training shuffle (sampling.py::shuffle_rank):
    every document's 0-based position in the md5-keyed corpus
    permutation — reproducible across runs, partitionings, and engines
    (the oracle is one ROW_NUMBER over the same hash).  Computed with
    ``scan.exclusive_scan`` bucketed on the top 16 hash bits, so no
    global sort; md5 uniformity makes the buckets balanced by
    construction."""
    from mopper_spark.textops.sampling import shuffle_rank

    docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id")
    return shuffle_rank(docs, "doc_id", "shuffle-v1").select("doc_id", "ord")


_SQL_DOCS_SHUFFLE_ORDER = """
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (
         ORDER BY md5('shuffle-v1' || CAST(doc_id AS VARCHAR)),
                  CAST(doc_id AS VARCHAR)) - 1 AS BIGINT) AS ord
FROM documents
"""


def _q_events_props_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Schema-on-read JSON column flattening: the events ``props`` JSON
    payload is parsed IN the scan projection with native
    ``get_json_object`` (JVM Jackson path evaluation — no Python, no
    UDF) and aggregated per event_type: presence count, exact integer
    sum/min/max of ``$.k``.  The ELT staple for semi-structured event
    payloads; at 100 TB the parse rides the existing scan, no extra
    pass."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count("k").cast("long").alias("n_with_k"),
        F.coalesce(F.sum("k"), F.lit(0)).cast("long").alias("sum_k"),
        F.coalesce(F.min("k"), F.lit(-1)).cast("long").alias("min_k"),
        F.coalesce(F.max("k"), F.lit(-1)).cast("long").alias("max_k"),
    )


_SQL_EVENTS_PROPS_STATS = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS n_with_k,
       CAST(COALESCE(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)), 0) AS BIGINT) AS sum_k,
       CAST(COALESCE(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)), -1) AS BIGINT) AS min_k,
       CAST(COALESCE(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)), -1) AS BIGINT) AS max_k
FROM events GROUP BY event_type
"""


def _q_events_subseq_patterns(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-allowed sequential-pattern support
    (joins.py::subsequence_support): PrefixSpan-statistic counts of every
    ordered length-2/3 event-type pattern as a SUBSEQUENCE of a
    (user, day) session — complements events_session_paths, which counts
    only consecutive runs.  All pattern probes run in per-session array
    lambdas over (min, max, positions) per type; the oracle reproduces
    them with relational joins, making the closed-form subsequence
    criteria (min<max for pairs, exists-middle for triples)
    independently checkable."""
    from mopper_spark.textops.joins import subsequence_support

    ev = spark.read.parquet(f"{sf}/events.parquet")
    types = ["click", "view", "signup", "purchase", "error"]
    return subsequence_support(ev, types)


_SQL_EVENTS_SUBSEQ_PATTERNS = """
WITH pos AS MATERIALIZED (
  SELECT user_id, epoch_us(ts) // 86400000000 AS day, event_type AS t,
         ROW_NUMBER() OVER (
           PARTITION BY user_id, epoch_us(ts) // 86400000000
           ORDER BY ts, event_id) AS p
  FROM events
  WHERE event_type IN ('click', 'view', 'signup', 'purchase', 'error')
), st AS MATERIALIZED (
  SELECT user_id, day, t, MIN(p) AS mn, MAX(p) AS mx
  FROM pos GROUP BY 1, 2, 3
)
SELECT a.t AS t1, b.t AS t2, '' AS t3, CAST(COUNT(*) AS BIGINT) AS support
FROM st a JOIN st b ON a.user_id = b.user_id AND a.day = b.day AND a.mn < b.mx
GROUP BY 1, 2
UNION ALL
SELECT t1, t2, t3, CAST(COUNT(*) AS BIGINT) AS support FROM (
  SELECT DISTINCT a.user_id, a.day, a.t AS t1, p.t AS t2, c.t AS t3
  FROM st a
  JOIN st c ON a.user_id = c.user_id AND a.day = c.day
  JOIN pos p ON p.user_id = a.user_id AND p.day = a.day
            AND p.p > a.mn AND p.p < c.mx
) GROUP BY 1, 2, 3
"""


def _q_events_itemsets(spark: SparkSession, sf: str) -> DataFrame:
    """Frequent unordered itemsets of size 2/3 over (user, day) baskets
    (joins.py::frequent_itemsets) — the FP-growth support statistic,
    canonical-ascending so each set counts once per basket with no dedup
    pass; per-basket index-lambda generation, output bounded by the
    explicit alphabet, oracled by canonical self-joins."""
    from mopper_spark.textops.joins import frequent_itemsets

    ev = spark.read.parquet(f"{sf}/events.parquet")
    return frequent_itemsets(
        ev, ["click", "view", "signup", "purchase", "error"]
    )


_SQL_EVENTS_ITEMSETS = """
WITH bi AS MATERIALIZED (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day,
         event_type AS it
  FROM events
  WHERE event_type IN ('click', 'view', 'signup', 'purchase', 'error')
)
SELECT a.it AS i1, b.it AS i2, '' AS i3, CAST(COUNT(*) AS BIGINT) AS support
FROM bi a JOIN bi b ON a.user_id = b.user_id AND a.day = b.day AND a.it < b.it
GROUP BY 1, 2
UNION ALL
SELECT a.it, b.it, c.it, CAST(COUNT(*) AS BIGINT)
FROM bi a
JOIN bi b ON a.user_id = b.user_id AND a.day = b.day AND a.it < b.it
JOIN bi c ON a.user_id = c.user_id AND a.day = c.day AND b.it < c.it
GROUP BY 1, 2, 3
"""


def _q_docs_bootstrap_mean(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic Poisson bootstrap of the corpus mean document
    length (sampling.py::poisson_bootstrap, Chamandy et al. 2012): 16
    replicates, every Poisson(1) multiplicity a pure function of
    (seed, rep, doc_id) via md5 against precomputed integer thresholds —
    the oracle re-derives each draw hex-for-hex, so the whole sampling
    distribution is strict-checked, not just its moments."""
    from mopper_spark.textops.sampling import poisson_bootstrap

    docs = spark.read.schema("doc_id long, n_chars long").parquet(
        f"{sf}/documents.parquet"
    )
    return poisson_bootstrap(
        docs, "doc_id", "n_chars", replicates=16, scale=1
    )


def _boot_sql() -> str:
    hexpos = " + ".join(
        f"(strpos('0123456789abcdef', substr(hx, {p}, 1)) - 1) * {16 ** (12 - p)}"
        for p in range(1, 13)
    )
    ts = [103548857136060, 207097714272121, 258872142840152, 276130285696162,
          280444821410164, 281307728552965, 281451546410098, 281472091818260,
          281474659994280]
    ladder = " ".join(f"WHEN u < {t} THEN {k}" for k, t in enumerate(ts))
    return f"""
WITH reps AS (SELECT unnest(generate_series(0, 15)) AS rep),
h AS (
  SELECT r.rep, d.n_chars,
         substr(md5('boot-v1:' || CAST(r.rep AS VARCHAR) || ':'
                    || CAST(d.doc_id AS VARCHAR)), 1, 12) AS hx
  FROM reps r CROSS JOIN documents d
),
u AS (SELECT rep, n_chars, {hexpos} AS u FROM h),
w AS (SELECT rep, n_chars, CASE {ladder} ELSE 10 END AS w FROM u)
SELECT CAST(rep AS BIGINT) AS rep,
       CAST(SUM(w) AS BIGINT) AS n_eff,
       CAST(SUM(w * n_chars) AS BIGINT) AS sum_fp
FROM w GROUP BY rep
"""


_SQL_DOCS_BOOTSTRAP_MEAN = _boot_sql()


def _q_events_attribution_linear(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-touch linear attribution (joins.py::linear_attribution):
    every purchase's integer cents split equally over the same user's
    view/click touches in the preceding hour, remainder cents to the
    earliest touches — deterministic and exactly value-conserving
    (credits sum back to the conversion value; pinned in
    tests/test_joins.py).  The equi-join on user bounds pair growth;
    last-touch lives in events_asof_attribution."""
    from mopper_spark.textops.joins import linear_attribution

    ev = spark.read.parquet(f"{sf}/events.parquet")
    return linear_attribution(
        ev, "purchase", ["view", "click"], window_seconds=3600
    )


_SQL_EVENTS_ATTRIBUTION_LINEAR = """
WITH base AS MATERIALIZED (
  SELECT user_id AS u, epoch_us(ts) AS ts_us, event_id AS eid,
         event_type AS et, CAST(FLOOR(value * 100) AS BIGINT) AS vfp
  FROM events
), conv AS (SELECT u, ts_us AS cts, eid AS cid, vfp FROM base WHERE et = 'purchase'),
tch AS (SELECT u, ts_us AS tts, eid AS tid FROM base WHERE et IN ('view', 'click')),
cand AS (
  SELECT c.cid, c.vfp, t.tid, t.tts
  FROM conv c JOIN tch t
    ON c.u = t.u AND t.tts < c.cts AND t.tts >= c.cts - 3600000000
), kr AS (
  SELECT cid, vfp, tid,
         COUNT(*) OVER (PARTITION BY cid) AS k,
         ROW_NUMBER() OVER (PARTITION BY cid ORDER BY tts, tid) AS r
  FROM cand
)
SELECT tid AS touch_id,
       CAST(COUNT(*) AS BIGINT) AS n_conversions,
       CAST(SUM(vfp // k + CASE WHEN r <= vfp % k THEN 1 ELSE 0 END)
            AS BIGINT) AS credit_fp
FROM kr GROUP BY tid
"""


def _q_docs_percentile_by_source(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source ECDF positions (rankstats.py::grouped_midrank): for
    every distinct (source, n_chars), the exact 2x-midrank and group
    size — the cross-source score-calibration table ("this length is
    top-12% in src0 but median in src3"), computed with the per-group
    bucketed prefix so no group-global sort sees row-shaped data."""
    from mopper_spark.textops.rankstats import grouped_midrank

    docs = spark.read.schema("source string, n_chars long").parquet(
        f"{sf}/documents.parquet"
    )
    return grouped_midrank(docs, "source", "n_chars")


_SQL_DOCS_PERCENTILE_BY_SOURCE = """
WITH pv AS MATERIALIZED (
  SELECT source, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS m
  FROM documents GROUP BY 1, 2
)
SELECT source, v AS n_chars, m,
       CAST(2 * COALESCE(SUM(m) OVER (
              PARTITION BY source ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            + m + 1 AS BIGINT) AS rank2,
       CAST(SUM(m) OVER (PARTITION BY source) AS BIGINT) AS n
FROM pv
"""


def _q_similarity_topk_ivfpq(spark: SparkSession, sf: str) -> DataFrame:
    """FAISS IndexIVFPQ composition (pq.py::ivfpq_topk): coarse IVF
    routing (K=8 seeds, nprobe=3) then compressed-domain ADC over the
    probed clusters' PQ codes only — the full 100 TB ANN shape in one
    operator, all-integer routing and distances, so the ENTIRE
    composition (coarse assign + PQ train/encode + per-query candidate
    restriction + ADC ranking) replays strictly in SQL.  Composition ==
    manually-restricted pq_adc_topk pinned in tests/test_pq.py."""
    from mopper_spark.textops.ivf import seed_centroids
    from mopper_spark.textops.pq import ivfpq_topk, pq_train

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    cents = seed_centroids(emb, k=8)
    books = pq_train(emb, m=8, k=8, dim=64, max_iters=2)
    qs = emb.filter(F.col("vec_id") < 5)
    return ivfpq_topk(emb, qs, cents, books, k_top=5, nprobe=3, m=8, dim=64)


_SQL_SIMILARITY_TOPK_IVFPQ = (
    "WITH "
    + _sql_pq_prefix(8, 8, 8, 2)
    + """,
cseeds AS MATERIALIZED (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS ccid,
         vec AS ccvec
  FROM (SELECT * FROM v ORDER BY vec_id LIMIT 8)
), cdists AS MATERIALIZED (
  SELECT vec_id, ccid,
         CAST(list_sum(list_transform(range(1, len(vec) + 1),
              i -> CAST(round((vec[i] - ccvec[i]) * (vec[i] - ccvec[i]) * 1e12) AS BIGINT)))
              AS BIGINT) AS dist_fp
  FROM v CROSS JOIN cseeds
), corpus_assign AS MATERIALIZED (
  SELECT vec_id, ccid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist_fp, ccid) AS rn
    FROM cdists) WHERE rn = 1
), probes AS MATERIALIZED (
  SELECT vec_id AS query_id, ccid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist_fp, ccid) AS rn
    FROM cdists WHERE vec_id < 5) WHERE rn <= 3
), pairs AS MATERIALIZED (
  SELECT p.query_id, c.vec_id
  FROM probes p JOIN corpus_assign c USING (ccid)
  WHERE c.vec_id <> p.query_id
), q AS MATERIALIZED (
  SELECT vec_id AS query_id, sub, svec FROM sv WHERE vec_id < 5
), dtab AS MATERIALIZED (
  SELECT s.query_id, s.sub, c.cid AS code,
         CAST(list_sum(list_transform(range(1, 8 + 1),
              i -> CAST(round((s.svec[i] - c.cvec[i]) * (s.svec[i] - c.cvec[i]) * 1e12) AS BIGINT)))
              AS BIGINT) AS d_fp
  FROM q s JOIN c2 c ON s.sub = c.sub
), cand AS MATERIALIZED (
  SELECT p.query_id, e.vec_id, CAST(SUM(d.d_fp) AS BIGINT) AS adc_fp
  FROM pairs p
  JOIN be e ON e.vec_id = p.vec_id
  JOIN dtab d ON d.query_id = p.query_id AND d.sub = e.sub AND d.code = e.cid
  GROUP BY 1, 2
)
SELECT query_id, vec_id, adc_fp, CAST(rn AS BIGINT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_fp, vec_id) AS rn
      FROM cand)
WHERE rn <= 5
"""
)


def _q_kg_rdf_lists(spark: SparkSession, sf: str) -> DataFrame:
    """RDF collection unfolding (reasoning.py::rdf_list_members): per
    source a deterministic rdf:first/rdf:rest cons-chain over its
    doc_id<40 documents is constructed in-plan, then the operator walks
    the spine level-synchronously into flat (head, pos, member) rows.
    The oracle derives the same answer WITHOUT recursion (positions from
    the construction's own ranks) — an independent check of the walk."""
    from mopper_spark.pipeline.reasoning import (
        RDF_FIRST,
        RDF_NIL,
        RDF_REST,
        rdf_list_members,
    )
    from pyspark.sql import Window

    docs = (
        spark.read.schema("doc_id long, source string")
        .parquet(f"{sf}/documents.parquet")
        .filter(F.col("doc_id") < 40)
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    cells = docs.select(
        "source",
        "doc_id",
        F.row_number().over(w).alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n"),
    )
    cell = F.concat(F.lit("cell:"), F.col("source"), F.lit("/"), F.col("r"))
    firsts = cells.select(
        cell.alias("subj"),
        F.lit(RDF_FIRST).alias("pred"),
        F.concat(F.lit("doc:"), F.col("doc_id")).alias("obj"),
    )
    rests = cells.select(
        cell.alias("subj"),
        F.lit(RDF_REST).alias("pred"),
        F.when(
            F.col("r") < F.col("n"),
            F.concat(F.lit("cell:"), F.col("source"), F.lit("/"), F.col("r") + 1),
        ).otherwise(F.lit(RDF_NIL)).alias("obj"),
    )
    return rdf_list_members(firsts.unionByName(rests), max_len=64)


_SQL_KG_RDF_LISTS = """
WITH d AS (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS r
  FROM documents WHERE doc_id < 40
)
SELECT 'cell:' || source || '/1' AS head,
       CAST(r - 1 AS BIGINT) AS pos,
       'doc:' || CAST(doc_id AS VARCHAR) AS member
FROM d
"""


def _q_events_active_users_hll(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch-path WAU (sketches.py::hll_rolling_distinct): trailing-7-day
    distinct users as per-day HLL register merges — raw events touched
    once, every window a per-bucket MAX of seven 4096-int day-sketches
    (the union closure an incremental daily job folds).  The exact
    sibling is events_active_users; emitted summaries are all-integer,
    so the oracle replays every register hex-for-hex."""
    from mopper_spark.textops.sketches import hll_rolling_distinct

    ev = spark.read.parquet(f"{sf}/events.parquet")
    out = hll_rolling_distinct(ev, "user_id", "ts", window_days=7)
    return out.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"), "v_zero", "s_fp"
    )


_SQL_EVENTS_ACTIVE_USERS_HLL = """
WITH r AS MATERIALIZED (
  SELECT CAST(ts AS DATE) AS d,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 3))::BIGINT AS bucket,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 4, 12))::BIGINT AS w
  FROM events WHERE user_id IS NOT NULL
), regs AS MATERIALIZED (
  SELECT d, bucket,
         MAX(CASE WHEN w = 0 THEN 49 ELSE 49 - length(bin(w)) END) AS mj
  FROM r GROUP BY 1, 2
), days AS MATERIALIZED (SELECT DISTINCT d FROM regs),
merged AS MATERIALIZED (
  SELECT days.d AS day, regs.bucket, MAX(regs.mj) AS mj
  FROM days JOIN regs ON regs.d BETWEEN days.d - 6 AND days.d
  GROUP BY 1, 2
)
SELECT CAST(day AS VARCHAR) AS day,
       CAST(4096 - COUNT(*) AS BIGINT) AS v_zero,
       CAST(SUM((1::BIGINT) << (50 - mj))
            + (4096 - COUNT(*)) * 1125899906842624 AS BIGINT) AS s_fp
FROM merged GROUP BY day
"""


def _q_events_pit_join(spark: SparkSession, sf: str) -> DataFrame:
    """Point-in-time join (joins.py::pit_join): each event picks up the
    SCD2 event-type version its user held ONE HOUR BEFORE the event —
    the leakage-free feature-store lookup ("state as of then, not now").
    Dimension = scd2_intervals over the same stream; events whose ts−1h
    precedes the user's first version keep NULL → '' sentinel.  Plain
    keyed hash join with the interval test as residual."""
    from mopper_spark.textops.joins import pit_join, scd2_intervals

    ev = spark.read.parquet(f"{sf}/events.parquet")
    dim = scd2_intervals(ev, ["user_id"], "ts", ["event_type"]).select(
        "user_id",
        F.col("event_type").alias("prev_type"),
        "valid_from",
        "valid_to",
    )
    facts = ev.select(
        "event_id",
        "user_id",
        (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("ts"),
    )
    out = pit_join(facts, dim, ["user_id"])
    return out.select(
        "event_id",
        "user_id",
        F.coalesce(F.col("prev_type"), F.lit("")).alias("prev_type"),
    )


_SQL_EVENTS_PIT_JOIN = """
WITH ordered AS (
  SELECT user_id, ts, event_type,
         CASE WHEN (lag(event_type) OVER w IS NOT DISTINCT FROM event_type)
                   AND lag(ts) OVER w IS NOT NULL
              THEN 0 ELSE 1 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_type)
),
runs AS (
  SELECT user_id, ts, event_type,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_type
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM ordered
),
iv AS (
  SELECT user_id, run, event_type, MIN(ts) AS valid_from
  FROM runs GROUP BY user_id, run, event_type
),
dim AS (
  SELECT user_id, event_type AS prev_type, valid_from,
         lead(valid_from) OVER (PARTITION BY user_id ORDER BY run) AS valid_to
  FROM iv
),
facts AS (
  SELECT event_id, user_id, ts - INTERVAL 1 HOUR AS fts FROM events
)
SELECT f.event_id, f.user_id,
       COALESCE(d.prev_type, '') AS prev_type
FROM facts f
LEFT JOIN dim d
  ON f.user_id = d.user_id AND f.fts >= d.valid_from
 AND (d.valid_to IS NULL OR f.fts < d.valid_to)
"""


def _q_docs_compaction_plan(spark: SparkSession, sf: str) -> DataFrame:
    """Small-file compaction planning (layout.py::compaction_plan): a
    synthetic per-source manifest (file = 50-doc bucket, bytes = Σ
    n_chars) rolled into ~5000-byte groups by running total — the
    Iceberg binpack OPTIMIZE step, planned with the bucketed prefix sum
    so a billion-file manifest never global-sorts."""
    from mopper_spark.textops.layout import compaction_plan

    docs = spark.read.schema("doc_id long, source string, n_chars long").parquet(
        f"{sf}/documents.parquet"
    )
    manifest = docs.groupBy(
        F.col("source"), F.expr("doc_id div 50").alias("seq")
    ).agg(F.sum("n_chars").cast("long").alias("bytes"))
    return compaction_plan(manifest, "source", "seq", "bytes", 5000)


_SQL_DOCS_COMPACTION_PLAN = """
WITH manifest AS MATERIALIZED (
  SELECT source, doc_id // 50 AS seq, CAST(SUM(n_chars) AS BIGINT) AS bytes
  FROM documents GROUP BY 1, 2
)
SELECT source, seq, bytes,
       CAST(COALESCE(SUM(bytes) OVER (
         PARTITION BY source ORDER BY seq
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         AS start_bytes,
       CAST(COALESCE(SUM(bytes) OVER (
         PARTITION BY source ORDER BY seq
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 5000
         AS BIGINT) AS grp
FROM manifest
"""


def _q_events_seasonal_anomaly(spark: SparkSession, sf: str) -> DataFrame:
    """Seasonality-adjusted rate anomaly (joins.py::seasonal_rate_anomaly):
    each hour bucket z-scored against its own (type, day-of-week,
    hour-of-day) cell — weekly-periodic load stops looking anomalous.
    Calendar keys are integer epoch arithmetic (UTC, Sunday=0), exact
    K/S1/S2 per cell, one double z expression."""
    from mopper_spark.textops.joins import seasonal_rate_anomaly

    ev = spark.read.parquet(f"{sf}/events.parquet")
    return seasonal_rate_anomaly(ev)


_SQL_EVENTS_SEASONAL_ANOMALY = """
WITH counts AS MATERIALIZED (
  SELECT event_type,
         CAST(epoch_us(ts) - epoch_us(ts) % 3600000000 AS BIGINT) AS bucket_us,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), keyed AS MATERIALIZED (
  SELECT *,
         CAST((bucket_us // 86400000000 + 4) % 7 AS BIGINT) AS dow,
         CAST((bucket_us // 3600000000) % 24 AS BIGINT) AS hod
  FROM counts
), stats AS MATERIALIZED (
  SELECT event_type, dow, hod,
         CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n) AS BIGINT) AS s1,
         CAST(SUM(n * n) AS BIGINT) AS s2
  FROM keyed GROUP BY 1, 2, 3
)
SELECT c.event_type, c.bucket_us, c.dow, c.hod, c.n,
       CASE WHEN s.k * s.s2 - s.s1 * s.s1 > 0
            THEN (c.n * s.k - s.s1)
                 / sqrt(CAST(s.k * s.s2 - s.s1 * s.s1 AS DOUBLE))
            ELSE 0.0e0 END AS z
FROM keyed c JOIN stats s USING (event_type, dow, hod)
"""


def _q_docs_winsorized_len(spark: SparkSession, sf: str) -> DataFrame:
    """Winsorized length moments (analysis.py::winsorized_stats): exact
    nearest-rank p5/p95 bounds via distributed selection (no global
    sort), then clamped integer count/sum/sum-of-squares — the
    outlier-robust moments for the corpus report.  Quantile targets use
    ceil(q·n) on IEEE doubles; the oracle forces its literals to DOUBLE
    (e0 suffix) so both engines round the same product."""
    from mopper_spark.textops.analysis import winsorized_stats

    docs = spark.read.schema("n_chars long").parquet(f"{sf}/documents.parquet")
    return winsorized_stats(docs, "n_chars", lo_q=0.05, hi_q=0.95)


_SQL_DOCS_WINSORIZED_LEN = """
WITH s AS MATERIALIZED (SELECT n_chars AS v FROM documents),
c AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s),
r AS MATERIALIZED (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rr FROM s),
b AS MATERIALIZED (
  SELECT (SELECT v FROM r, c WHERE rr = CAST(ceil(0.05e0 * n) AS BIGINT)) AS lo,
         (SELECT v FROM r, c WHERE rr = CAST(ceil(0.95e0 * n) AS BIGINT)) AS hi
)
SELECT c.n,
       CAST(b.lo AS BIGINT) AS lo,
       CAST(b.hi AS BIGINT) AS hi,
       CAST((SELECT SUM(CASE WHEN v < lo THEN lo WHEN v > hi THEN hi ELSE v END)
             FROM s, b) AS BIGINT) AS wsum,
       CAST((SELECT SUM(CASE WHEN v < lo THEN lo * lo
                             WHEN v > hi THEN hi * hi
                             ELSE v * v END)
             FROM s, b) AS BIGINT) AS wsumsq
FROM c, b
"""


def _q_events_lateness_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Watermark lateness audit (streaming.py::lateness_audit): replay
    the event log in a deterministic md5-scrambled arrival order (the
    portable pseudo-arrival idiom — real logs carry an ingest offset)
    and mark which rows a 30-minute watermark would drop, exactly per
    Spark's rule (event time < running-max-of-earlier-arrivals − delay).
    The design audit run BEFORE committing a streaming job to a policy."""
    from mopper_spark.streaming import lateness_audit

    ev = spark.read.parquet(f"{sf}/events.parquet").withColumn(
        "arr",
        F.conv(
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 12), 16, 10
        ).cast("long"),
    )
    out = lateness_audit(ev, "ts", "arr", delay_seconds=1800)
    return out.select("event_id", "wm_us", "late")


_SQL_EVENTS_LATENESS_AUDIT = """
WITH t AS MATERIALIZED (
  SELECT event_id, epoch_us(ts) AS ts_us,
         ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 12))::BIGINT AS arr
  FROM events
)
SELECT event_id,
       CAST(COALESCE(MAX(ts_us) OVER (
              ORDER BY arr ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              - 1800000000, -1) AS BIGINT) AS wm_us,
       CAST(CASE WHEN ts_us < MAX(ts_us) OVER (
              ORDER BY arr ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              - 1800000000 THEN 1 ELSE 0 END AS BIGINT) AS late
FROM t
"""


def _q_docs_nfc_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Unicode-normalization-aware dedup (dedup.py::nfc_exact_dedup):
    the corpus unioned with a shadow copy whose text appends the
    DECOMPOSED 'e'+U+0301 while originals append composed U+00E9 — every
    (original, shadow) pair is byte-distinct yet NFC-equal, so the merge
    count directly measures the normalizer.  NFC runs as the sanctioned
    Arrow-batched pandas UDF; the oracle uses DuckDB's native
    nfc_normalize (independent UAX #15 implementation — a cross-library
    conformance check, not a replica)."""
    from mopper_spark.textops.dedup import nfc_exact_dedup

    docs = spark.read.schema("doc_id long, text string").parquet(
        f"{sf}/documents.parquet"
    )
    mixed = docs.select(
        "doc_id", F.concat(F.col("text"), F.lit("é")).alias("text")
    ).unionByName(
        docs.select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit("é")).alias("text"),
        )
    )
    return nfc_exact_dedup(mixed)


_SQL_DOCS_NFC_DEDUP = """
WITH mixed AS MATERIALIZED (
  SELECT doc_id, text || chr(233) AS text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text || chr(101) || chr(769) FROM documents
)
SELECT CAST(MIN(doc_id) AS BIGINT) AS keep_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies,
       CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_raw_distinct
FROM mixed
GROUP BY md5(nfc_normalize(text))
"""


def _q_docs_token_burstiness(spark: SparkSession, sf: str) -> DataFrame:
    """Token burstiness terms (analysis.py::token_burstiness): per token
    df / Σc / Σc² across documents — Fano-factor dispersion as one
    consumer division over exact integers; bursty ≫ 1 marks boilerplate
    and templated spans.  Word-count-shaped shuffles only."""
    from mopper_spark.textops.analysis import token_burstiness

    docs = spark.read.schema("doc_id long, text string").parquet(
        f"{sf}/documents.parquet"
    )
    return token_burstiness(docs, min_df=3)


_SQL_DOCS_TOKEN_BURSTINESS = r"""
WITH pd AS MATERIALIZED (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT doc_id,
               unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                  x -> x <> '')) AS token
        FROM documents)
  GROUP BY 1, 2
)
SELECT token,
       CAST(COUNT(*) AS BIGINT) AS df,
       CAST(SUM(c) AS BIGINT) AS s1,
       CAST(SUM(c * c) AS BIGINT) AS s2
FROM pd GROUP BY token HAVING COUNT(*) >= 3
"""


def _q_transcripts_tool_entropy(spark: SparkSession, sf: str) -> DataFrame:
    """Per-tool next-step entropy (prepare.py::tool_entropy): the
    Markov-profile rows collapsed to H(next|prev) with every log a
    fixed-point floor(ln·1e6) integer, so the reported numerator is an
    exact int64 — low entropy = scripted tool, high = branching
    decision point."""
    from mopper_spark.textops.prepare import tool_entropy

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    return tool_entropy(tr)


_SQL_TRANSCRIPTS_TOOL_ENTROPY = f"""
WITH seq AS (
  SELECT COALESCE(LAG(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx),
                  '_START_') AS prev_tool,
         tool AS next_tool
  FROM read_parquet('{_TRANSCRIPTS_FIXTURE}')
  WHERE tool IS NOT NULL
), c AS (
  SELECT prev_tool, next_tool, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq GROUP BY 1, 2
), g AS (
  SELECT prev_tool,
         CAST(SUM(n) AS BIGINT) AS n_from,
         CAST(COUNT(*) AS BIGINT) AS branching,
         CAST(SUM(n * CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000) AS BIGINT))
              AS BIGINT) AS s
  FROM c GROUP BY 1
)
SELECT prev_tool, n_from, branching,
       CAST(n_from * CAST(floor(ln(CAST(n_from AS DOUBLE)) * 1000000) AS BIGINT)
            - s AS BIGINT) AS h_num_fp
FROM g
"""


def _q_docs_hrw_shards(spark: SparkSession, sf: str) -> DataFrame:
    """Rendezvous-hash sharding (sampling.py::hrw_shards): every doc to
    its argmax-of-md5 shard of 8 — the minimal-reshuffle-on-resize
    scheme — reported as the shard histogram; the oracle replays all 8
    hashes per key and takes the same lexicographic argmax."""
    from mopper_spark.textops.sampling import hrw_shards

    docs = spark.read.schema("doc_id long").parquet(f"{sf}/documents.parquet")
    return hrw_shards(docs, "doc_id", 8).groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


_SQL_DOCS_HRW_SHARDS = """
WITH h AS MATERIALIZED (
  SELECT doc_id, s,
         md5('hrw-v1:' || CAST(s AS VARCHAR) || ':'
             || CAST(doc_id AS VARCHAR)) AS hx
  FROM documents CROSS JOIN (SELECT unnest(range(0, 8)) AS s)
), a AS MATERIALIZED (
  SELECT doc_id, s FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hx DESC, s DESC) AS rn
    FROM h) WHERE rn = 1
)
SELECT CAST(s AS BIGINT) AS shard, CAST(COUNT(*) AS BIGINT) AS n
FROM a GROUP BY 1
"""


def _q_embeddings_jl_project(spark: SparkSession, sf: str) -> DataFrame:
    """Johnson-Lindenstrauss ±1 projection (similarity.py::jl_project):
    64-dim embeddings to 16 exact-integer components in one unrolled
    whole-stage-codegen expression — the pre-LSH/IVF shrink that cuts
    every downstream vector shuffle 4×.  The oracle replays the
    identical literal sign matrix (shared constant, not a cross-engine
    hash contract)."""
    from mopper_spark.textops.similarity import jl_project

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    return jl_project(emb, 64, 16)


def _jl_sql() -> str:
    import hashlib

    arms = []
    for j in range(16):
        terms = []
        for i in range(64):
            s = int(hashlib.md5(f"jl-v1:{j}:{i}".encode()).hexdigest()[0], 16) % 2
            terms.append(("+ " if s == 0 else "- ") + f"v[{i + 1}]")
        expr = " ".join(terms)
        if expr.startswith("+ "):
            expr = expr[2:]
        arms.append(
            f"SELECT vec_id, CAST({j} AS BIGINT) AS j,"
            f" CAST({expr} AS BIGINT) AS y_fp FROM vfp"
        )
    return (
        "WITH vfp AS MATERIALIZED (SELECT vec_id,"
        " list_transform(CAST(embedding AS DOUBLE[]),"
        " x -> CAST(floor(x * 1000000) AS BIGINT)) AS v FROM embeddings)\n"
        + "\nUNION ALL\n".join(arms)
    )


_SQL_EMBEDDINGS_JL_PROJECT = _jl_sql()


def _q_docs_bootstrap_by_source(spark: SparkSession, sf: str) -> DataFrame:
    """Stratified Poisson bootstrap (sampling.py::poisson_bootstrap with
    group_cols): per-source resampled length sums, 8 replicates — draws
    keyed on (seed, rep, doc_id) only, so strata sums add exactly to the
    global bootstrap's (mutual-consistency pinned in
    tests/test_sampling.py)."""
    from mopper_spark.textops.sampling import poisson_bootstrap

    docs = spark.read.schema("doc_id long, source string, n_chars long").parquet(
        f"{sf}/documents.parquet"
    )
    return poisson_bootstrap(
        docs, "doc_id", "n_chars", replicates=8, scale=1,
        group_cols=["source"],
    )


def _boot_by_source_sql() -> str:
    hexpos = " + ".join(
        f"(strpos('0123456789abcdef', substr(hx, {p}, 1)) - 1) * {16 ** (12 - p)}"
        for p in range(1, 13)
    )
    ts = [103548857136060, 207097714272121, 258872142840152, 276130285696162,
          280444821410164, 281307728552965, 281451546410098, 281472091818260,
          281474659994280]
    ladder = " ".join(f"WHEN u < {t} THEN {k}" for k, t in enumerate(ts))
    return f"""
WITH reps AS (SELECT unnest(generate_series(0, 7)) AS rep),
h AS (
  SELECT r.rep, d.source, d.n_chars,
         substr(md5('boot-v1:' || CAST(r.rep AS VARCHAR) || ':'
                    || CAST(d.doc_id AS VARCHAR)), 1, 12) AS hx
  FROM reps r CROSS JOIN documents d
),
u AS (SELECT rep, source, n_chars, {hexpos} AS u FROM h),
w AS (SELECT rep, source, n_chars, CASE {ladder} ELSE 10 END AS w FROM u)
SELECT source, CAST(rep AS BIGINT) AS rep,
       CAST(SUM(w) AS BIGINT) AS n_eff,
       CAST(SUM(w * n_chars) AS BIGINT) AS sum_fp
FROM w GROUP BY source, rep
"""


_SQL_DOCS_BOOTSTRAP_BY_SOURCE = _boot_by_source_sql()


def _q_kg_sparql_update_text(spark: SparkSession, sf: str) -> DataFrame:
    """SPARQL 1.1 Update as TEXT (sparql.py::sparql_update_text): the
    string form with a FILTER in WHERE — beyond the programmatic API's
    plain-pattern where-list — re-typing multi-word entity mentions:

        DELETE { ?t ont:mentions ?e } INSERT { ?t ont:mentionsEntity ?e }
        WHERE  { ?t ont:mentions ?e . FILTER(CONTAINS(?e, "%20")) }

    Spec evaluation order and set semantics as kg_sparql_update."""
    from mopper_spark.pipeline.sparql import sparql_update_text

    return sparql_update_text(
        _kg_triples(spark),
        """
        PREFIX ont: <http://example.com/ontology/>
        DELETE { ?t ont:mentions ?e }
        INSERT { ?t ont:mentionsEntity ?e }
        WHERE  { ?t ont:mentions ?e . FILTER(CONTAINS(?e, "%20")) }
        """,
    )


_SQL_KG_SPARQL_UPDATE_TEXT = f"""
WITH kg AS ({_SQL_KG_GRAPH}),
sol AS (
  SELECT subj AS t, obj AS e FROM kg
  WHERE pred = 'http://example.com/ontology/mentions'
    AND contains(obj, '%20')
),
del AS (
  SELECT t AS subj, 'http://example.com/ontology/mentions' AS pred, e AS obj
  FROM sol
),
post AS (
  SELECT kg.* FROM kg ANTI JOIN del USING (subj, pred, obj)
),
ins AS (
  SELECT DISTINCT t AS subj,
         'http://example.com/ontology/mentionsEntity' AS pred, e AS obj
  FROM sol
),
new AS (
  SELECT ins.* FROM ins ANTI JOIN post USING (subj, pred, obj)
)
SELECT subj, pred, obj FROM post
UNION ALL
SELECT subj, pred, obj FROM new
"""


def _q_kg_temporal_reachability(spark: SparkSession, sf: str) -> DataFrame:
    """Time-respecting reachability (temporal.py::temporal_reachability,
    Holme & Saramäki 2012): consecutive mention events within a
    conversation become contact events stamped with the later turn's
    epoch µs, and the query asks which
    entities the seed ('ada lovelace' normalized forms) can reach along
    NON-DECREASING-time chains — the contagion/provenance question a
    static closure over-answers.  Earliest-arrival min-fixpoint,
    level-synchronous rounds; the oracle is a recursive (node, arrival)
    walk with UNION dedup collapsed by MIN."""
    from mopper_spark.pipeline.extract import extract_mentions
    from mopper_spark.pipeline.linking import normalize_surface
    from mopper_spark.pipeline.temporal import temporal_reachability

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    from pyspark.sql import Window

    men = (
        extract_mentions(tr)
        .join(tr.select("conv_id", "turn_idx", "ts"), ["conv_id", "turn_idx"])
        .select(
            "conv_id",
            "turn_idx",
            normalize_surface(F.col("surface")).alias("e"),
            F.expr(
                "timestampdiff(MICROSECOND,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            ).cast("long").alias("t_us"),
        )
        .distinct()
    )
    # contact = consecutive mention events within a conversation (each
    # mention forwards to the NEXT one, stamped with the later turn's
    # time) — linear in mentions, conversation-bounded window
    w = Window.partitionBy("conv_id").orderBy("turn_idx", "e")
    edges = (
        men.withColumn("dst", F.lead("e").over(w))
        .withColumn("t2", F.lead("t_us").over(w))
        .filter(F.col("dst").isNotNull() & (F.col("dst") != F.col("e")))
        .select(F.col("e").alias("src"), "dst", F.col("t2").alias("t_us"))
        .distinct()
    )
    seeds = men.filter(F.col("e") == "ada lovelace").select(
        F.col("e").alias("node")
    ).distinct()
    return temporal_reachability(edges, seeds, max_hops=16)


_SQL_KG_TEMPORAL_REACHABILITY = f"""
WITH {_MENTIONS_CTE},
mt AS (
  SELECT DISTINCT m.conv_id, m.turn_idx,
         {_NORM_TMPL.format(v='m.surface')} AS e,
         epoch_us(t.ts) AS t_us
  FROM men m JOIN tr t
    ON m.conv_id = t.conv_id AND m.turn_idx = t.turn_idx
),
seq AS (
  SELECT e AS src,
         LEAD(e) OVER w AS dst,
         LEAD(t_us) OVER w AS t2
  FROM mt WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx, e)
),
edges AS (
  SELECT DISTINCT src, dst, t2 AS t_us FROM seq
  WHERE dst IS NOT NULL AND dst <> src
),
seeds AS (SELECT DISTINCT e AS node FROM mt WHERE e = 'ada lovelace')
SELECT node, CAST(MIN(arr) AS BIGINT) AS arrival_us FROM (
  WITH RECURSIVE walk(node, arr) AS (
    SELECT node, CAST(-1 AS BIGINT) FROM seeds
    UNION
    SELECT e.dst, e.t_us FROM walk w
    JOIN edges e ON e.src = w.node AND e.t_us >= w.arr
  )
  SELECT node, arr FROM walk
) GROUP BY node
"""


def _q_transcripts_boilerplate_strip(spark: SparkSession, sf: str) -> DataFrame:
    """DF-threshold boilerplate stripping (prepare.py::
    drop_common_paragraphs): rendered turns present in > 10% of
    conversations are template noise and vanish from EVERY document —
    the C4 policy-line rule, vs dedup_paragraphs' keep-first.  The
    integer threshold floor(frac·n) is computed from the corpus count
    (driver metadata, e0-literal parity in the oracle)."""
    from mopper_spark.textops.prepare import (
        drop_common_paragraphs,
        render_conversations,
    )

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    docs = render_conversations(tr).select(
        F.col("conv_id").alias("doc_id"), "text"
    )
    n = docs.count()
    return drop_common_paragraphs(docs, n, max_df_frac=0.1).withColumnRenamed(
        "doc_id", "conv_id"
    )


_SQL_TRANSCRIPTS_BOILERPLATE_STRIP = f"""
WITH paras AS MATERIALIZED (
  SELECT conv_id,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY conv_id
           ORDER BY turn_idx, '<|' || role || '|>' || text) - 1 AS BIGINT) AS pos,
         '<|' || role || '|>' || text AS para
  FROM read_parquet('{_TRANSCRIPTS_FIXTURE}')
), n AS MATERIALIZED (
  SELECT CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_docs FROM paras
), hot AS MATERIALIZED (
  SELECT para FROM (
    SELECT para, CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS df
    FROM paras GROUP BY para
  ), n WHERE df > CAST(floor(0.1e0 * n_docs) AS BIGINT)
), tagged AS (
  SELECT p.conv_id, p.pos, p.para, h.para IS NOT NULL AS drop_it
  FROM paras p LEFT JOIN hot h ON p.para = h.para
)
SELECT conv_id,
       COALESCE(string_agg(CASE WHEN NOT drop_it THEN para END,
                           chr(10) ORDER BY pos), '') AS text,
       CAST(SUM(CASE WHEN drop_it THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN drop_it THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM tagged GROUP BY conv_id
"""


def _q_transcripts_dpo_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """DPO preference-pair mining (prepare.py::dpo_pairs): sft_pairs
    grouped by EXACT prompt text; each prompt with >= 2 distinct
    assistant responses yields one (chosen, rejected) row under the
    deterministic longest-response ranking (whitespace tokens, lex
    tie-break).  161 prompt groups on the fixture.  One window pass +
    one associative max/min(struct) aggregation — no per-prompt sort."""
    from mopper_spark.textops.prepare import dpo_pairs

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    return dpo_pairs(tr)


_SQL_TRANSCRIPTS_DPO_PAIRS = f"""
WITH p AS (
  SELECT conv_id, turn_idx, role, text,
         last_value(CASE WHEN role = 'user' THEN text END IGNORE NULLS)
           OVER (PARTITION BY conv_id ORDER BY turn_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prompt
  FROM read_parquet('{_TRANSCRIPTS_FIXTURE}')
), cand AS MATERIALIZED (
  SELECT DISTINCT prompt, text AS response FROM p
  WHERE role = 'assistant' AND prompt IS NOT NULL
), lenc AS MATERIALIZED (
  SELECT prompt, response,
         CAST(len(list_filter(string_split_regex(trim(response), '\\s+'),
                              x -> x <> '')) AS BIGINT) AS resp_len
  FROM cand
), r AS (
  SELECT prompt, response, resp_len,
         row_number() OVER (PARTITION BY prompt
                            ORDER BY resp_len DESC, response DESC) AS rmax,
         row_number() OVER (PARTITION BY prompt
                            ORDER BY resp_len ASC, response ASC) AS rmin,
         CAST(count(*) OVER (PARTITION BY prompt) AS BIGINT) AS nc
  FROM lenc
)
SELECT prompt,
       max(CASE WHEN rmax = 1 THEN response END) AS chosen,
       max(CASE WHEN rmin = 1 THEN response END) AS rejected,
       max(CASE WHEN rmax = 1 THEN resp_len END) AS chosen_len,
       max(CASE WHEN rmin = 1 THEN resp_len END) AS rejected_len,
       max(nc) AS n_candidates
FROM r WHERE nc >= 2 GROUP BY prompt
"""


def _retry_corpus(spark: SparkSession) -> DataFrame:
    """The prefix-dedup driver input: the transcript fixture UNIONed
    with deterministic 'retry' copies — for every conversation whose
    conv_id ends in 0 or 5, its first 3 turns re-issued under
    ``conv_id || '-retry'``.  This is the regenerated-session shape
    prefix dedup exists for; the oracle builds the identical corpus in
    SQL, so the duplicate set is fully determined."""
    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    retries = (
        tr.filter(F.substring(F.col("conv_id"), -1, 1).isin("0", "5"))
        .filter(F.col("turn_idx") < 3)
        .withColumn("conv_id", F.concat(F.col("conv_id"), F.lit("-retry")))
    )
    return tr.unionByName(retries)


def _q_transcripts_prefix_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Conversation-prefix dedup (prepare.py::prefix_duplicates) over
    the fixture plus synthesized retry sessions (_retry_corpus): each
    retry conversation is flagged with its longest host and the
    lexicographically-least host conv_id.  Fingerprint join only —
    no pairwise conversation comparison; cumulative-concat window
    bounded by the max_prefix_turns cap."""
    from mopper_spark.textops.prepare import prefix_duplicates

    return prefix_duplicates(_retry_corpus(spark), max_prefix_turns=32)


_SQL_TRANSCRIPTS_PREFIX_DEDUP = f"""
WITH base AS MATERIALIZED (
  SELECT conv_id, turn_idx, text FROM read_parquet('{_TRANSCRIPTS_FIXTURE}')
), corpus AS MATERIALIZED (
  SELECT conv_id, turn_idx, text FROM base
  UNION ALL
  SELECT conv_id || '-retry', turn_idx, text FROM base
  WHERE right(conv_id, 1) IN ('0', '5') AND turn_idx < 3
), pref AS MATERIALIZED (
  SELECT conv_id,
         row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn,
         md5(string_agg(coalesce(text, chr(0) || 'NULL'), chr(30))
               OVER (PARTITION BY conv_id ORDER BY turn_idx
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS ph
  FROM corpus QUALIFY rn <= 32
), n AS MATERIALIZED (
  SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns FROM corpus GROUP BY 1
), sig AS (
  SELECT p.conv_id, n.n_turns, p.ph AS s
  FROM pref p JOIN n USING (conv_id) WHERE p.rn = n.n_turns
), cand AS (
  SELECT s.conv_id, s.n_turns,
         h.conv_id AS host_conv, hn.n_turns AS host_turns
  FROM sig s
  JOIN pref h ON h.ph = s.s AND h.conv_id <> s.conv_id
  JOIN n hn ON hn.conv_id = h.conv_id
  WHERE hn.n_turns > s.n_turns
     OR (hn.n_turns = s.n_turns AND h.conv_id < s.conv_id)
), best AS (
  SELECT conv_id, n_turns, max(host_turns) AS host_turns
  FROM cand GROUP BY 1, 2
)
SELECT c.conv_id, c.n_turns, min(c.host_conv) AS host_conv, c.host_turns
FROM cand c JOIN best b
  ON c.conv_id = b.conv_id AND c.host_turns = b.host_turns
GROUP BY c.conv_id, c.n_turns, c.host_turns
"""


def _q_transcripts_truncate_context(spark: SparkSession, sf: str) -> DataFrame:
    """Context-window truncation audit (prepare.py::truncate_context):
    per conversation, the longest turn suffix under a 512-token budget
    (last turn always kept) — the drop-oldest-first policy every chat
    runtime applies.  One suffix-sum window pass + one combine-able
    aggregation."""
    from mopper_spark.textops.prepare import truncate_context

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    return truncate_context(tr, budget_tokens=512)


_SQL_TRANSCRIPTS_TRUNCATE_CONTEXT = f"""
WITH toks AS MATERIALIZED (
  SELECT conv_id, turn_idx,
         CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                              x -> x <> '')) AS BIGINT) AS nt
  FROM read_parquet('{_TRANSCRIPTS_FIXTURE}')
), marked AS (
  SELECT conv_id, turn_idx, nt,
         sum(nt) OVER (PARTITION BY conv_id ORDER BY turn_idx DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS suffix_tokens,
         row_number() OVER (PARTITION BY conv_id
                            ORDER BY turn_idx DESC) AS rn_from_end
  FROM toks
)
SELECT conv_id,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(sum(CASE WHEN suffix_tokens <= 512 OR rn_from_end = 1
                     THEN 1 ELSE 0 END) AS BIGINT) AS kept_turns,
       CAST(sum(CASE WHEN suffix_tokens <= 512 OR rn_from_end = 1
                     THEN nt ELSE 0 END) AS BIGINT) AS kept_tokens,
       CAST(min(CASE WHEN suffix_tokens <= 512 OR rn_from_end = 1
                     THEN turn_idx END) AS BIGINT) AS first_kept_idx
FROM marked GROUP BY conv_id
"""


def _q_events_cube(spark: SparkSession, sf: str) -> DataFrame:
    """Full CUBE lattice (textops/olap.py::cube_metrics) over
    event_type × day-of-week: all 4 grouping sets in ONE Expand+
    aggregate job, each row tagged with the grouping-ID bitmask —
    the rollup query's sibling exercising the 2^d path.  Day-of-week is
    integer calendar arithmetic (epoch-days mod 7 — engine-neutral,
    unlike dayofweek() whose origin differs per engine); NULL subtotal
    dims re-rendered as '_ALL_'/-1 sentinels (gid disambiguates; the
    fetch-path rule for nullable BIGINT)."""
    from mopper_spark.textops.olap import cube_metrics

    ev = spark.read.parquet(f"{sf}/events.parquet")
    ep = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    base = ev.select(
        "event_type",
        F.expr(f"{ep} div 86400000000 % 7").cast("long").alias("dow"),
        "value",
    )
    lat = cube_metrics(base, ["event_type", "dow"], "value")
    return lat.select(
        F.coalesce(F.col("event_type"), F.lit("_ALL_")).alias("event_type"),
        F.coalesce(F.col("dow"), F.lit(-1)).cast("long").alias("dow"),
        "gid",
        "n",
        "value_fp",
    )


_SQL_EVENTS_CUBE = """
WITH base AS (
  SELECT event_type,
         CAST(epoch_us(ts) // 86400000000 % 7 AS BIGINT) AS dow,
         value
  FROM events
)
SELECT COALESCE(event_type, '_ALL_') AS event_type,
       COALESCE(dow, -1) AS dow,
       CAST(GROUPING(event_type, dow) AS BIGINT) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(value * 100.0) AS BIGINT)) AS BIGINT) AS value_fp
FROM base GROUP BY CUBE(event_type, dow)
"""


def _q_events_mad(spark: SparkSession, sf: str) -> DataFrame:
    """Median absolute deviation per event type (rankstats.grouped_mad):
    lower nearest-rank median twice over exact integer cents — the
    robust dispersion readout outlier-heavy value distributions need.
    Two spillable per-group window passes + a broadcast median join."""
    from mopper_spark.textops.rankstats import grouped_mad

    ev = spark.read.parquet(f"{sf}/events.parquet").select("event_type", "value")
    return grouped_mad(ev, "event_type", "value", scale=100)


_SQL_EVENTS_MAD = """
WITH fp AS MATERIALIZED (
  SELECT event_type AS grp, CAST(FLOOR(value * 100.0) AS BIGINT) AS x
  FROM events
), med AS MATERIALIZED (
  SELECT grp, x AS med, n FROM (
    SELECT grp, x,
           row_number() OVER (PARTITION BY grp ORDER BY x) AS rn,
           CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS n
    FROM fp
  ) WHERE rn = (n + 1) // 2
), dev AS (
  SELECT fp.grp, abs(fp.x - med.med) AS d FROM fp JOIN med USING (grp)
), mad AS (
  SELECT grp, d AS mad_fp FROM (
    SELECT grp, d,
           row_number() OVER (PARTITION BY grp ORDER BY d) AS rn,
           count(*) OVER (PARTITION BY grp) AS n
    FROM dev
  ) WHERE rn = (n + 1) // 2
)
SELECT med.grp AS event_type, med.n, med.med AS median_fp, mad.mad_fp
FROM med JOIN mad USING (grp)
"""


def _q_docs_target_encoding(spark: SparkSession, sf: str) -> DataFrame:
    """Leave-one-out target encoding (features.py::target_encoding_loo)
    of document source against the is-English label: per-row smoothed
    category rates with the row's own label excluded (the Micci-Barreca
    leakage guard), every value an exact BIGINT via integer div.  One
    combine-able per-category aggregate + broadcasts — no window."""
    from mopper_spark.textops.features import target_encoding_loo

    docs = spark.read.schema("doc_id long, lang string, source string").parquet(
        f"{sf}/documents.parquet"
    )
    labeled = docs.select(
        "doc_id", "source", (F.col("lang") == "en").cast("int").alias("y")
    )
    return target_encoding_loo(labeled, "source", "y", "doc_id")


_SQL_DOCS_TARGET_ENCODING = """
WITH rows_l AS MATERIALIZED (
  SELECT doc_id AS id, source AS key,
         CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS label
  FROM documents
), k AS (
  SELECT key, CAST(SUM(label) AS BIGINT) AS k_pos,
         CAST(COUNT(*) AS BIGINT) AS k_n
  FROM rows_l GROUP BY key
), g AS (
  SELECT CAST(SUM(label) AS BIGINT) AS g_pos,
         CAST(COUNT(*) AS BIGINT) AS g_n
  FROM rows_l
)
SELECT id, key, label,
       (k_pos - label) AS loo_pos,
       (k_n - 1) AS loo_n,
       CAST((1000000 * ((k_pos - label) * g_n + 20 * g_pos))
            // (((k_n - 1) + 20) * g_n) AS BIGINT) AS enc_fp
FROM rows_l JOIN k USING (key) CROSS JOIN g
"""


def _q_kg_rdf_containers(spark: SparkSession, sf: str) -> DataFrame:
    """RDF container unfolding (reasoning.py::rdf_container_members):
    per source a deterministic rdf:Seq/rdf:Bag of its doc_id<40
    documents is constructed in-plan (rdf:_N membership arcs; kind by
    source-name length parity — even=Seq, odd=Bag — so both kinds are
    gate-exercised), then the operator decomposes the numbered
    membership predicates back into flat (container, kind, idx, member)
    rows.  Pure regexp pass + one broadcast kind join; the oracle
    re-derives the answer from the construction ranks directly."""
    from mopper_spark.pipeline.reasoning import (
        RDF_NS,
        RDF_TYPE,
        rdf_container_members,
    )
    from pyspark.sql import Window

    docs = (
        spark.read.schema("doc_id long, source string")
        .parquet(f"{sf}/documents.parquet")
        .filter(F.col("doc_id") < 40)
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    ranked = docs.select("source", "doc_id", F.row_number().over(w).alias("r"))
    cont = F.concat(F.lit("cont:"), F.col("source"))
    members = ranked.select(
        cont.alias("subj"),
        F.concat(F.lit(RDF_NS + "_"), F.col("r")).alias("pred"),
        F.concat(F.lit("doc:"), F.col("doc_id")).alias("obj"),
    )
    kinds = ranked.select("source").distinct().select(
        cont.alias("subj"),
        F.lit(RDF_TYPE).alias("pred"),
        F.when(F.length("source") % 2 == 0, F.lit(RDF_NS + "Seq"))
        .otherwise(F.lit(RDF_NS + "Bag"))
        .alias("obj"),
    )
    return rdf_container_members(members.unionByName(kinds))


_SQL_KG_RDF_CONTAINERS = """
WITH d AS (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS r
  FROM documents WHERE doc_id < 40
)
SELECT 'cont:' || source AS container,
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#'
         || CASE WHEN length(source) % 2 = 0 THEN 'Seq' ELSE 'Bag' END AS kind,
       CAST(r AS BIGINT) AS idx,
       'doc:' || CAST(doc_id AS VARCHAR) AS member
FROM d
"""


def _q_graph_simrank(spark: SparkSession, sf: str) -> DataFrame:
    """First-iteration SimRank (graph.py::simrank_first_iteration) over
    the DIRECTED doc-id tree + successor ring (ids < 1024): normalized
    in-neighbor overlap at C = 8/10 in exact fixed point.  Max out-
    degree is 2, far under the 256 wedge cap, so the hub-filtered score
    IS the exact textbook s1.  One wedge join over shared in-neighbors —
    never corpus-quadratic."""
    from mopper_spark.pipeline.graph import simrank_first_iteration

    docs = spark.read.schema("doc_id long").parquet(
        f"{sf}/documents.parquet"
    ).filter(F.col("doc_id") < 1024)
    tree = docs.filter(F.col("doc_id") >= 2).select(
        F.col("doc_id").cast("long").alias("a"),
        F.expr("doc_id div 2").cast("long").alias("b"),
    )
    ring = docs.select(
        F.col("doc_id").cast("long").alias("a"),
        ((F.col("doc_id") + 1) % 1024).cast("long").alias("b"),
    )
    return simrank_first_iteration(tree.unionAll(ring))


_SQL_GRAPH_SIMRANK = """
WITH ed AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT CAST(doc_id AS BIGINT) AS src, CAST(doc_id // 2 AS BIGINT) AS dst
    FROM documents WHERE doc_id >= 2 AND doc_id < 1024
    UNION ALL
    SELECT CAST(doc_id AS BIGINT), CAST((doc_id + 1) % 1024 AS BIGINT)
    FROM documents WHERE doc_id < 1024
  ) WHERE src <> dst
), odeg AS (
  SELECT src AS c, count(*) AS od FROM ed GROUP BY src
), adj AS MATERIALIZED (
  SELECT ed.src AS c, ed.dst AS m FROM ed JOIN odeg ON ed.src = odeg.c
  WHERE odeg.od <= 256
), indeg AS (
  SELECT m AS node, CAST(count(*) AS BIGINT) AS ind FROM adj GROUP BY m
), com AS (
  SELECT l.m AS x, r.m AS y, CAST(count(*) AS BIGINT) AS common
  FROM adj l JOIN adj r ON l.c = r.c AND l.m < r.m
  GROUP BY l.m, r.m
)
SELECT com.x, com.y, com.common, ix.ind AS in_x, iy.ind AS in_y,
       (8 * com.common * CAST(100000000 AS BIGINT))
         // (10 * ix.ind * iy.ind) AS s_fp
FROM com JOIN indeg ix ON com.x = ix.node JOIN indeg iy ON com.y = iy.node
"""


def _q_docs_feature_hashing(spark: SparkSession, sf: str) -> DataFrame:
    """Hashing-trick featurization (features.py::feature_hashing): every
    document's whitespace bag-of-words folded into 1024 md5-derived
    buckets, reported as the corpus-level bucket load histogram (bucket,
    n_docs, n_tokens) — the collision audit a quality-model owner reads
    before picking the width.  No vocabulary pass anywhere; word-count-
    shaped shuffles only."""
    from mopper_spark.textops.features import feature_hashing

    docs = spark.read.schema("doc_id long, text string").parquet(
        f"{sf}/documents.parquet"
    )
    sparse = feature_hashing(docs, "doc_id", "text", n_buckets=1024)
    return sparse.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n").cast("long").alias("n_tokens"),
    )


_SQL_DOCS_FEATURE_HASHING = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(trim(text), '\s+'),
                            x -> x <> '')) AS tok
  FROM documents
), sparse AS MATERIALIZED (
  SELECT doc_id,
         ('0x' || substr(md5('fh-v1:' || tok), 1, 8))::BIGINT % 1024 AS bucket,
         CAST(count(*) AS BIGINT) AS n
  FROM toks GROUP BY 1, 2
)
SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n) AS BIGINT) AS n_tokens
FROM sparse GROUP BY bucket
"""


def _q_events_sax(spark: SparkSession, sf: str) -> DataFrame:
    """SAX symbolization (timeseries.py::sax_symbols): each event type's
    daily value series PAA-reduced and cut at its own nearest-rank
    quartiles into a ~30-letter motif string — the whole-series
    anomaly/clustering representation.  All-integer comparisons; one
    event-scale aggregate, the rest windows over 30-row series."""
    from mopper_spark.textops.timeseries import sax_symbols

    ev = spark.read.parquet(f"{sf}/events.parquet")
    return sax_symbols(ev, "event_type", "ts", "value", window_seconds=86400)


_SQL_EVENTS_SAX = """
WITH paa AS MATERIALIZED (
  SELECT event_type AS key,
         CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS win,
         CAST(FLOOR(CAST(SUM(CAST(FLOOR(value * 100.0) AS BIGINT)) AS DOUBLE)
                    / COUNT(*)) AS BIGINT) AS mean_fp
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT key, win, mean_fp,
         row_number() OVER (PARTITION BY key ORDER BY mean_fp, win) AS rn,
         count(*) OVER (PARTITION BY key) AS n
  FROM paa
), cuts AS MATERIALIZED (
  SELECT DISTINCT key, mean_fp AS cut FROM ranked
  CROSS JOIN (SELECT unnest([1, 2, 3]) AS ci)
  WHERE rn = greatest(1, (ci * n) // 4)
), sym AS (
  SELECT paa.key, paa.win,
         substr('abcd',
                1 + CAST(SUM(CASE WHEN paa.mean_fp > cuts.cut
                                  THEN 1 ELSE 0 END) AS INT), 1) AS sym
  FROM paa JOIN cuts ON paa.key = cuts.key
  GROUP BY paa.key, paa.win, paa.mean_fp
)
SELECT key AS event_type,
       CAST(count(*) AS BIGINT) AS n_windows,
       string_agg(sym, '' ORDER BY win) AS sax
FROM sym GROUP BY key
"""


def _q_events_theilsen(spark: SparkSession, sf: str) -> DataFrame:
    """Theil-Sen robust trend (timeseries.py::theil_sen_slope) over each
    event type's DAILY MEAN series (the pre-aggregation the estimator's
    quadratic gate requires — 30 points, 435 pairs per type): the
    median pairwise slope as an exact integer rise/run plus the floored
    fixed-point slope.  Outlier days cannot move it, unlike
    events_trend_ols."""
    from mopper_spark.textops.timeseries import theil_sen_slope

    ev = spark.read.parquet(f"{sf}/events.parquet")
    ep = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    daily = (
        ev.select(
            "event_type",
            F.expr(f"{ep} div 86400000000").cast("long").alias("day"),
            F.floor(F.col("value").cast("double") * 100).cast("long").alias("v_fp"),
        )
        .groupBy("event_type", "day")
        .agg(
            F.floor(F.sum("v_fp").cast("double") / F.count(F.lit(1)))
            .cast("long")
            .alias("mean_fp")
        )
    )
    return theil_sen_slope(daily, "event_type", "day", "mean_fp")


_SQL_EVENTS_THEILSEN = """
WITH daily AS MATERIALIZED (
  SELECT event_type AS key,
         CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS x,
         CAST(FLOOR(CAST(SUM(CAST(FLOOR(value * 100.0) AS BIGINT)) AS DOUBLE)
                    / COUNT(*)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
), np AS (
  SELECT key, CAST(count(*) AS BIGINT) AS n_points FROM daily GROUP BY key
), pairs AS MATERIALIZED (
  SELECT l.key, np.n_points,
         (r.y - l.y) AS dy, (r.x - l.x) AS dx
  FROM daily l
  JOIN daily r ON l.key = r.key AND l.x < r.x
  JOIN np ON np.key = l.key
  WHERE np.n_points <= 512
), ranked AS (
  SELECT key, n_points, dy, dx,
         row_number() OVER (
           PARTITION BY key
           ORDER BY CAST(dy AS DOUBLE) / CAST(dx AS DOUBLE) ASC, dy ASC, dx ASC
         ) AS rn,
         CAST(count(*) OVER (PARTITION BY key) AS BIGINT) AS n_pairs
  FROM pairs
)
SELECT key AS event_type, n_points, n_pairs,
       dy AS med_dy, dx AS med_dx,
       CAST(FLOOR(1000000.0 * CAST(dy AS DOUBLE) / CAST(dx AS DOUBLE))
            AS BIGINT) AS slope_fp
FROM ranked WHERE rn = (n_pairs + 1) // 2
"""


def _q_graph_eccentricity(spark: SparkSession, sf: str) -> DataFrame:
    """Landmark eccentricity sweep (graph.py::eccentricity_from): per
    seed the greatest shortest-hop distance over the undirected doc-id
    tree (ids < 512), with the least farthest-node witness — max over
    the seed set is the standard diameter lower bound.  One multi-source
    BFS; oracle = bounded recursive-CTE walk with MIN(dist) per seed."""
    from mopper_spark.pipeline.graph import eccentricity_from

    docs = spark.read.schema("doc_id long").parquet(
        f"{sf}/documents.parquet"
    ).filter(F.col("doc_id") < 512)
    edges = docs.filter(F.col("doc_id") >= 2).select(
        F.col("doc_id").cast("long").alias("src"),
        F.expr("doc_id div 2").cast("long").alias("dst"),
    )
    seeds = spark.createDataFrame([(1,), (7,), (100,)], "origin long")
    return eccentricity_from(edges, seeds, directed=False)


_SQL_GRAPH_ECCENTRICITY = """
WITH RECURSIVE ed AS (
  SELECT CAST(doc_id AS BIGINT) AS s, CAST(doc_id // 2 AS BIGINT) AS d
  FROM documents WHERE doc_id >= 2 AND doc_id < 512
),
sym AS (SELECT s, d FROM ed UNION ALL SELECT d, s FROM ed),
walk(origin, node, dist) AS (
  SELECT o.origin, o.origin, 0 FROM (
    SELECT unnest([CAST(1 AS BIGINT), 7, 100]) AS origin) o
  UNION
  SELECT w.origin, sym.d, w.dist + 1
  FROM walk w JOIN sym ON sym.s = w.node
  WHERE w.dist < 30
),
dist AS MATERIALIZED (
  SELECT origin, node, CAST(MIN(dist) AS BIGINT) AS dist
  FROM walk WHERE node <> origin GROUP BY origin, node
),
ecc AS (
  SELECT origin, MAX(dist) AS ecc, CAST(COUNT(*) AS BIGINT) AS n_reached
  FROM dist GROUP BY origin
)
SELECT ecc.origin, ecc.ecc, ecc.n_reached, MIN(dist.node) AS farthest
FROM ecc JOIN dist ON dist.origin = ecc.origin AND dist.dist = ecc.ecc
GROUP BY ecc.origin, ecc.ecc, ecc.n_reached
"""


def _q_docs_lexical_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Lexical-richness dashboard (analysis.py::lexical_profile): per
    source the type/token ratio, hapax-legomena tail, and LIX
    readability terms as exact integers — the vocabulary-health row
    read next to docs_table_profile.  One explode + word-count-shaped
    aggregations."""
    from mopper_spark.textops.analysis import lexical_profile

    docs = spark.read.schema("source string, text string").parquet(
        f"{sf}/documents.parquet"
    )
    return lexical_profile(docs)


_SQL_DOCS_LEXICAL_PROFILE = r"""
WITH tok AS (
  SELECT source AS grp,
         unnest(list_filter(string_split_regex(trim(text), '\s+'),
                            x -> x <> '')) AS tok
  FROM documents
), freq AS MATERIALIZED (
  SELECT grp, tok, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2
), vocab AS (
  SELECT grp,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
         CAST(SUM(CASE WHEN length(tok) >= 7 THEN c ELSE 0 END) AS BIGINT)
           AS n_long
  FROM freq GROUP BY grp
), sent AS (
  SELECT source AS grp,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(greatest(1, len(regexp_extract_all(text, '[.!?]+'))))
              AS BIGINT) AS n_sentences
  FROM documents GROUP BY source
)
SELECT vocab.grp AS source, n_docs, n_tokens, n_types, n_hapax,
       n_sentences, n_long,
       (n_types * 1000000) // n_tokens AS ttr_fp,
       (n_hapax * 1000000) // n_types AS hapax_fp,
       (n_tokens * 1000) // n_sentences
         + (100000 * n_long) // n_tokens AS lix_fp
FROM vocab JOIN sent ON vocab.grp = sent.grp
"""


#: unigram-LM vocabulary shared verbatim by the Spark query and the DuckDB
#: oracle: full [a-z0-9] character fallback (total coverage of the fixture's
#: words) + cheaper multi-character pieces that create real lattice
#: ambiguity (ta+ble vs t+able vs chars, …).  Costs are fixed-point −log p.
_VITERBI_VOCAB = (
    [(c, 300000) for c in "abcdefghijklmnopqrstuvwxyz0123456789"]
    + [
        ("ta", 250000), ("ble", 280000), ("able", 560000),
        ("row", 410000), ("key", 420000), ("val", 430000),
        ("ue", 260000), ("an", 240000), ("sort", 520000),
        ("spark", 600000), ("win", 400000), ("dow", 410000),
        ("me", 250000), ("rge", 390000), ("fa", 240000), ("st", 230000),
    ]
)


def _q_tokenizer_unigram_viterbi(spark: SparkSession, sf: str) -> DataFrame:
    """Unigram-LM Viterbi segmentation scoring (tokenizer.py::
    unigram_viterbi — the SentencePiece decode, Kudo 2018) of the
    corpus's distinct words against _VITERBI_VOCAB: minimum-cost piece
    cover with fewest-pieces tie-break, exact integers end-to-end.  The
    DP runs level-synchronously over char positions (settled-frontier
    joins, no recursion per word); the oracle walks the SAME lattice as
    a recursive CTE and takes the same composite minimum — two
    independent shortest-path formulations of one DP."""
    from mopper_spark.textops.analysis import tokens
    from mopper_spark.textops.tokenizer import unigram_viterbi

    docs = spark.read.schema("text string").parquet(f"{sf}/documents.parquet")
    words = docs.select(F.explode(tokens(F.col("text"))).alias("word")).distinct()
    return unigram_viterbi(words, _VITERBI_VOCAB, max_word_len=12)


def _viterbi_vocab_values() -> str:
    rows = ", ".join(f"('{p}', {c})" for p, c in _VITERBI_VOCAB)
    return f"(VALUES {rows}) AS v(piece, pcost)"


_SQL_TOKENIZER_UNIGRAM_VITERBI = rf"""
WITH RECURSIVE words AS (
  SELECT DISTINCT tok AS word FROM (
    SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
                              x -> x <> '')) AS tok
    FROM documents)
  WHERE length(tok) BETWEEN 1 AND 12
), vocab AS (
  SELECT piece, length(piece) AS plen, CAST(pcost AS BIGINT) AS pcost
  FROM {_viterbi_vocab_values()}
), lattice(word, pos, cost, ntok) AS (
  SELECT word, 0, CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM words
  UNION
  SELECT l.word, l.pos + v.plen, l.cost + v.pcost, l.ntok + 1
  FROM lattice l JOIN vocab v
    ON substr(l.word, l.pos + 1, v.plen) = v.piece
  WHERE l.pos < length(l.word)
), best AS (
  SELECT word, CAST(length(word) AS BIGINT) AS n_chars,
         MIN(cost * 64 + ntok) AS ck
  FROM lattice WHERE pos = length(word) GROUP BY word
)
SELECT word, n_chars, CAST(ck // 64 AS BIGINT) AS cost_fp,
       CAST(ck % 64 AS BIGINT) AS n_tokens
FROM best
"""


def _q_embeddings_power_iteration(spark: SparkSession, sf: str) -> DataFrame:
    """One power-iteration matvec pair (similarity.py::
    power_iteration_step): w = Xt(X v0) from an md5-derived ±1 start
    vector over the 64-dim embedding corpus — the randomized-SVD range
    finder step, all BIGINT (components quantized once to 2^14 fixed
    point).  Two dim-bounded shuffles; no dense matrix anywhere."""
    from mopper_spark.textops.similarity import power_iteration_step

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    return power_iteration_step(emb)


_SQL_EMBEDDINGS_POWER_ITERATION = """
WITH dims AS (SELECT unnest(range(0, 64)) AS dim),
signs AS MATERIALIZED (
  SELECT CAST(dim AS BIGINT) AS dim,
         CAST(CASE WHEN substr(md5('pi-v1:' || CAST(dim AS VARCHAR)), 1, 1) < '8'
                   THEN 1 ELSE -1 END AS BIGINT) AS v0
  FROM dims
), x AS MATERIALIZED (
  SELECT e.vec_id, d.dim,
         CAST(FLOOR(CAST(e.embedding[d.dim + 1] AS DOUBLE) * 16384.0)
              AS BIGINT) AS x_fp
  FROM embeddings e CROSS JOIN dims d
), s AS MATERIALIZED (
  SELECT x.vec_id, CAST(SUM(x.x_fp * signs.v0) AS BIGINT) AS s
  FROM x JOIN signs ON x.dim = signs.dim GROUP BY x.vec_id
)
SELECT x.dim, signs.v0, CAST(SUM(x.x_fp * s.s) AS BIGINT) AS w_fp
FROM x JOIN s ON x.vec_id = s.vec_id
JOIN signs ON signs.dim = x.dim
GROUP BY x.dim, signs.v0
"""


def _q_docs_curriculum_interleave(spark: SparkSession, sf: str) -> DataFrame:
    """Curriculum interleaving (sampling.py::curriculum_interleave):
    documents ranked within source by n_chars (longest first) and laid
    out round-robin across sources — the anti-clumping training order,
    with the global position CLOSED-FORM from broadcast group counts
    instead of a single-partition sort.  The oracle derives the same
    permutation BY the global sort (row_number over (rank, source)) —
    an independent formulation."""
    from mopper_spark.textops.sampling import curriculum_interleave

    docs = spark.read.schema("doc_id long, source string, n_chars long").parquet(
        f"{sf}/documents.parquet"
    )
    return curriculum_interleave(docs, "source", "n_chars", "doc_id")


_SQL_DOCS_CURRICULUM_INTERLEAVE = """
WITH ranked AS MATERIALIZED (
  SELECT doc_id, source,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY n_chars DESC, doc_id ASC)
              AS BIGINT) AS src_rank
  FROM documents
)
SELECT doc_id, source, src_rank,
       CAST(row_number() OVER (ORDER BY src_rank, source) - 1 AS BIGINT)
         AS global_pos
FROM ranked
"""


def _q_transcripts_tool_loops(spark: SparkSession, sf: str) -> DataFrame:
    """Stuck-agent loop detection (prepare.py::tool_loops): per
    conversation and cycle period 1–3, the longest run of consecutive
    lag-L tool repeats as a complete-cycle count with its starting
    turn — the retry/oscillation signature agent-ops dashboards page
    on.  Lag windows + gaps-and-islands run grouping, one pass."""
    from mopper_spark.textops.prepare import tool_loops

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    return tool_loops(tr)


_SQL_TRANSCRIPTS_TOOL_LOOPS = f"""
WITH seq AS MATERIALIZED (
  SELECT conv_id, turn_idx, tool,
         row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn
  FROM read_parquet('{_TRANSCRIPTS_FIXTURE}')
  WHERE tool IS NOT NULL
), lagd AS (
  SELECT L.L, s.conv_id, s.turn_idx, s.rn,
         lag(s.tool, L.L) OVER (PARTITION BY L.L, s.conv_id
                                ORDER BY s.rn) AS prev_tool,
         s.tool
  FROM seq s CROSS JOIN (SELECT unnest([1, 2, 3]) AS L) L
), flagged AS (
  SELECT L, conv_id, turn_idx, rn,
         rn - row_number() OVER (PARTITION BY L, conv_id ORDER BY rn) AS grp
  FROM lagd WHERE prev_tool = tool
), runs AS (
  SELECT L, conv_id, grp, count(*) AS k,
         min(rn) AS first_match_rn
  FROM flagged GROUP BY 1, 2, 3
), cyc AS (
  SELECT r.L, r.conv_id,
         CAST((r.k + r.L) // r.L AS BIGINT) AS n_cycles,
         s.turn_idx AS run_start_idx
  FROM runs r
  JOIN seq s ON s.conv_id = r.conv_id AND s.rn = r.first_match_rn - r.L
  WHERE (r.k + r.L) // r.L >= 3
)
SELECT conv_id, CAST(L AS BIGINT) AS cycle_len,
       max_by(n_cycles, n_cycles * 1000000 - run_start_idx) AS n_cycles,
       CAST(max_by(run_start_idx, n_cycles * 1000000 - run_start_idx)
            AS BIGINT) AS run_start_idx
FROM cyc GROUP BY conv_id, L
"""


def _q_events_psi_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Population Stability Index terms (timeseries.py::psi_drift):
    event values binned into unit-width bands, first-half vs
    second-half of the month, each common band's exact counts plus the
    integer-ratio log term — the train-vs-serve drift audit.  One
    groupBy + one broadcast totals row."""
    from mopper_spark.textops.timeseries import psi_drift

    ev = spark.read.parquet(f"{sf}/events.parquet")
    return psi_drift(ev, "ts", "value", "2024-01-16")


_SQL_EVENTS_PSI_DRIFT = """
WITH per AS MATERIALIZED (
  SELECT CAST(FLOOR(value / 1.0) AS BIGINT) AS band,
         CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0 ELSE 1 END)
              AS BIGINT) AS n_b
  FROM events GROUP BY 1
  HAVING n_a > 0 AND n_b > 0
), tot AS (
  SELECT CAST(SUM(n_a) AS BIGINT) AS tot_a, CAST(SUM(n_b) AS BIGINT) AS tot_b
  FROM per
)
SELECT band, n_a, n_b,
       CAST(FLOOR(1000000.0 * ln((CAST(n_a AS DOUBLE) * CAST(tot_b AS DOUBLE))
                                 / (CAST(n_b AS DOUBLE) * CAST(tot_a AS DOUBLE))))
            AS BIGINT) AS ln_ratio_fp
FROM per CROSS JOIN tot
"""


def _q_kg_sparql_in(spark: SparkSession, sf: str) -> DataFrame:
    """SPARQL 1.1 IN / NOT IN operator expressions (§17.4.1.9-10)
    through the text front-end: mention counts for a fixed entity list,
    excluding turns whose conversation sits in a named block list —
    both operators transliterate to the SQL tier of identical
    precedence, and the constant lists become pushed scan filters."""
    from mopper_spark.pipeline.sparql import sparql_query

    return sparql_query(
        _kg_triples(spark),
        """
        PREFIX ont: <http://example.com/ontology/>
        SELECT ?e (COUNT(?t) AS ?n_mentions)
        WHERE {
          ?t ont:mentions ?e ; ont:inConversation ?conv .
          FILTER(?e IN (<http://example.com/entity/Alan%20Turing>,
                        <http://example.com/entity/Grace%20Hopper>,
                        <http://example.com/entity/Ada%20Lovelace>))
          FILTER(?conv NOT IN (<http://example.com/conv/conv_00000>,
                               <http://example.com/conv/conv_00001>))
        }
        GROUP BY ?e
        """,
    ).select("e", F.col("n_mentions").cast("long").alias("n_mentions"))


_SQL_KG_SPARQL_IN = f"""
WITH kg AS ({_SQL_KG_GRAPH})
SELECT m.obj AS e, CAST(COUNT(*) AS BIGINT) AS n_mentions
FROM kg m JOIN kg c ON m.subj = c.subj
WHERE m.pred = 'http://example.com/ontology/mentions'
  AND c.pred = 'http://example.com/ontology/inConversation'
  AND m.obj IN ('http://example.com/entity/Alan%20Turing',
                'http://example.com/entity/Grace%20Hopper',
                'http://example.com/entity/Ada%20Lovelace')
  AND c.obj NOT IN ('http://example.com/conv/conv_00000',
                    'http://example.com/conv/conv_00001')
GROUP BY m.obj
"""


def _q_transcripts_turn_taking(spark: SparkSession, sf: str) -> DataFrame:
    """Turn-taking profile (conversation.py::turn_taking): alternation
    count, same-role runs, and the user token share per conversation —
    the dialog-shape dashboard row.  One lag window + aggregates."""
    from mopper_spark.textops.conversation import turn_taking

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    return turn_taking(tr)


_SQL_TRANSCRIPTS_TURN_TAKING = rf"""
WITH marked AS MATERIALIZED (
  SELECT conv_id, turn_idx, role,
         CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                              x -> x <> '')) AS BIGINT) AS nt,
         CASE WHEN lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx)
                   IS NOT NULL
               AND lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx)
                   <> role
              THEN 1 ELSE 0 END AS switch
  FROM read_parquet('{_TRANSCRIPTS_FIXTURE}')
), runs AS (
  SELECT conv_id,
         SUM(switch) OVER (PARTITION BY conv_id ORDER BY turn_idx
                           ROWS UNBOUNDED PRECEDING) AS run_id
  FROM marked
), run_lens AS (
  SELECT conv_id, run_id, count(*) AS run_len FROM runs GROUP BY 1, 2
), per_run AS (
  SELECT conv_id, CAST(count(*) AS BIGINT) AS n_same_role_runs,
         CAST(max(run_len) AS BIGINT) AS max_same_role_run
  FROM run_lens GROUP BY conv_id
), per_conv AS (
  SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
         CAST(SUM(switch) AS BIGINT) AS n_switches,
         CAST(SUM(CASE WHEN role = 'user' THEN nt ELSE 0 END) AS BIGINT) AS ut,
         CAST(SUM(nt) AS BIGINT) AS tt
  FROM marked GROUP BY conv_id
)
SELECT per_conv.conv_id, n_turns, n_switches, n_same_role_runs,
       max_same_role_run,
       CASE WHEN tt > 0 THEN (ut * 1000000) // tt ELSE 0 END
         AS user_token_share_fp
FROM per_conv JOIN per_run ON per_conv.conv_id = per_run.conv_id
"""


def _q_transcripts_time_allocation(spark: SparkSession, sf: str) -> DataFrame:
    """Wall-clock attribution (conversation.py::time_allocation): every
    inter-turn gap attributed to the later turn's role, exact epoch-µs
    sums reconciling to the conversation span — the stackable latency
    decomposition.  One lag window + one aggregate."""
    from mopper_spark.textops.conversation import time_allocation

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    return time_allocation(tr)


_SQL_TRANSCRIPTS_TIME_ALLOCATION = f"""
WITH gaps AS (
  SELECT conv_id, role,
         COALESCE(epoch_us(ts)
                  - lag(epoch_us(ts)) OVER (PARTITION BY conv_id
                                            ORDER BY turn_idx), 0) AS gap_us
  FROM read_parquet('{_TRANSCRIPTS_FIXTURE}')
)
SELECT conv_id, role, CAST(count(*) AS BIGINT) AS n_turns,
       CAST(SUM(gap_us) AS BIGINT) AS attributed_us
FROM gaps GROUP BY conv_id, role
"""


def _q_transcripts_episodes(spark: SparkSession, sf: str) -> DataFrame:
    """Inactivity-episode split (conversation.py::inactivity_episodes)
    over the fixture with a deterministic pause injected every 7th turn
    (ts + (turn_idx div 7) hours — the oracle builds the identical
    corpus), gap threshold 30 min: per conversation the episode count,
    largest episode, longest span, and singleton count.  Strict->
    boundary pinned by unit test."""
    from mopper_spark.textops.conversation import inactivity_episodes

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE).withColumn(
        "ts", F.expr("timestampadd(SECOND, (turn_idx div 7) * 3600, ts)")
    )
    return inactivity_episodes(tr, gap_seconds=1800)


_SQL_TRANSCRIPTS_EPISODES = f"""
WITH shifted AS (
  SELECT conv_id, turn_idx,
         epoch_us(ts) + CAST(turn_idx // 7 AS BIGINT) * 3600000000 AS at_us
  FROM read_parquet('{_TRANSCRIPTS_FIXTURE}')
), marked AS (
  SELECT conv_id, turn_idx, at_us,
         CASE WHEN at_us - lag(at_us) OVER (PARTITION BY conv_id
                                            ORDER BY turn_idx)
                   > 1800000000 THEN 1
              WHEN lag(at_us) OVER (PARTITION BY conv_id ORDER BY turn_idx)
                   IS NULL THEN 1
              ELSE 0 END AS new_ep
  FROM shifted
), eps AS (
  SELECT conv_id,
         SUM(new_ep) OVER (PARTITION BY conv_id ORDER BY turn_idx
                           ROWS UNBOUNDED PRECEDING) AS ep_id,
         at_us
  FROM marked
), agg AS (
  SELECT conv_id, ep_id, CAST(count(*) AS BIGINT) AS ep_turns,
         CAST(max(at_us) - min(at_us) AS BIGINT) AS ep_span_us
  FROM eps GROUP BY 1, 2
)
SELECT conv_id, CAST(count(*) AS BIGINT) AS n_episodes,
       CAST(max(ep_turns) AS BIGINT) AS max_episode_turns,
       CAST(max(ep_span_us) AS BIGINT) AS max_episode_span_us,
       CAST(SUM(CASE WHEN ep_turns = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS singleton_episodes
FROM agg GROUP BY conv_id
"""


def _q_docs_zone_maps(spark: SparkSession, sf: str) -> DataFrame:
    """Zone-map statistics + data-skipping audit (layout.py::
    zone_map_stats): 64-doc file zones over the doc_id-clustered column
    with a [100, 200] range predicate — exactly the min/max footer-stat
    skip rule Parquet/Iceberg readers apply; the clustered column shows
    real pruning (the unclustered n_chars case would show prunable=0,
    which is the argument for zorder_files).  One combine-able
    aggregate."""
    from mopper_spark.textops.layout import zone_map_stats

    docs = spark.read.schema("doc_id long").parquet(
        f"{sf}/documents.parquet"
    ).withColumn("file_id", F.expr("doc_id div 64").cast("long"))
    return zone_map_stats(
        docs, "file_id", "doc_id", predicate_lo=100, predicate_hi=200
    )


_SQL_DOCS_ZONE_MAPS = """
SELECT CAST(doc_id // 64 AS BIGINT) AS file_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(0 AS BIGINT) AS n_nulls,
       CAST(MIN(doc_id) AS BIGINT) AS min_v,
       CAST(MAX(doc_id) AS BIGINT) AS max_v,
       CAST(CASE WHEN MAX(doc_id) < 100 OR MIN(doc_id) > 200
                 THEN 1 ELSE 0 END AS BIGINT) AS prunable
FROM documents GROUP BY 1
"""


def _q_docs_langid_report(spark: SparkSession, sf: str) -> DataFrame:
    """Per-class precision/recall/F1 (evaluation.py::
    classification_report) of the n-gram language identifier against
    the corpus's lang labels — the thresholded companion to
    docs_langid_confusion (same confusion cells, rolled to the
    scikit-learn report with zero_division=0, every ratio an integer
    div)."""
    from mopper_spark.textops.analysis import lang_id
    from mopper_spark.textops.evaluation import classification_report

    docs = spark.read.schema("doc_id long, text string, lang string").parquet(
        f"{sf}/documents.parquet"
    )
    pairs = docs.select(
        F.col("lang").alias("y"), lang_id(F.col("text")).alias("p")
    )
    return classification_report(pairs, "y", "p")


_SQL_DOCS_LANGID_REPORT = f"""
WITH pred AS ({_SQL_LANG_ID}),
pairs AS MATERIALIZED (
  SELECT d.lang AS y, p.lang_pred AS p
  FROM documents d JOIN pred p USING (doc_id)
), cells AS MATERIALIZED (
  SELECT y, p, CAST(count(*) AS BIGINT) AS n FROM pairs GROUP BY 1, 2
), truth AS (
  SELECT y AS cls, CAST(SUM(n) AS BIGINT) AS n_true FROM cells GROUP BY y
), predc AS (
  SELECT p AS cls, CAST(SUM(n) AS BIGINT) AS n_pred FROM cells GROUP BY p
), tp AS (
  SELECT y AS cls, n AS tp FROM cells WHERE y = p
), base AS (
  SELECT COALESCE(truth.cls, predc.cls) AS cls,
         COALESCE(tp.tp, 0) AS tp,
         COALESCE(predc.n_pred, 0) - COALESCE(tp.tp, 0) AS fp,
         COALESCE(truth.n_true, 0) - COALESCE(tp.tp, 0) AS fn
  FROM truth FULL JOIN predc ON truth.cls = predc.cls
  LEFT JOIN tp ON COALESCE(truth.cls, predc.cls) = tp.cls
)
SELECT cls, tp, fp, fn,
       CASE WHEN tp + fp > 0 THEN (tp * 1000000) // (tp + fp)
            ELSE 0 END AS precision_fp,
       CASE WHEN tp + fn > 0 THEN (tp * 1000000) // (tp + fn)
            ELSE 0 END AS recall_fp,
       CASE WHEN 2 * tp + fp + fn > 0
            THEN (2 * tp * 1000000) // (2 * tp + fp + fn)
            ELSE 0 END AS f1_fp
FROM base
"""


def _q_embeddings_dominant_eigen(spark: SparkSession, sf: str) -> DataFrame:
    """Dominant eigenvector of XtX by 3 power iterations with exact
    integer max-renormalization (similarity.py::dominant_eigen) plus
    the Rayleigh-quotient terms — the converged spectral readout over
    the embedding corpus, bit-reproducible under any partitioning.
    Three static matvec rounds, dim-bounded shuffles only."""
    from mopper_spark.textops.similarity import dominant_eigen

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    return dominant_eigen(emb)


def _eigen_oracle_sql(n_steps: int = 3, dim: int = 64) -> str:
    vs = 1 << 10
    parts = [f"""
WITH dims AS (SELECT unnest(range(0, {dim})) AS dim),
x AS MATERIALIZED (
  SELECT e.vec_id, CAST(d.dim AS BIGINT) AS dim,
         CAST(FLOOR(CAST(e.embedding[d.dim + 1] AS DOUBLE) * 1024.0)
              AS BIGINT) AS x_fp
  FROM embeddings e CROSS JOIN dims d
), v0 AS (
  SELECT CAST(dim AS BIGINT) AS dim,
         CAST(CASE WHEN substr(md5('pi-v1:' || CAST(dim AS VARCHAR)), 1, 1)
                        < '8'
                   THEN 1 ELSE -1 END * {vs} AS BIGINT) AS v_fp
  FROM dims
)"""]
    prev = "v0"
    for i in range(1, n_steps + 1):
        parts.append(f""",
s{i} AS MATERIALIZED (
  SELECT x.vec_id, CAST(SUM(x.x_fp * {prev}.v_fp) AS BIGINT) AS s
  FROM x JOIN {prev} ON x.dim = {prev}.dim GROUP BY x.vec_id
), w{i} AS MATERIALIZED (
  SELECT x.dim, CAST(SUM(x.x_fp * s{i}.s) AS BIGINT) AS w
  FROM x JOIN s{i} ON x.vec_id = s{i}.vec_id GROUP BY x.dim
), m{i} AS (SELECT MAX(abs(w)) AS mx FROM w{i}),
v{i} AS MATERIALIZED (
  SELECT dim, CAST(CASE WHEN mx > 0 THEN (w * {vs}) // mx
                        ELSE 0 END AS BIGINT) AS v_fp
  FROM w{i} CROSS JOIN m{i}
)""")
        prev = f"v{i}"
    parts.append(f""",
sf AS MATERIALIZED (
  SELECT x.vec_id, CAST(SUM(x.x_fp * {prev}.v_fp) AS BIGINT) AS s
  FROM x JOIN {prev} ON x.dim = {prev}.dim GROUP BY x.vec_id
), rq AS (SELECT CAST(SUM(s * s) AS BIGINT) AS rq_num FROM sf),
vden AS (SELECT CAST(SUM(v_fp * v_fp) AS BIGINT) AS rq_den FROM {prev})
SELECT {prev}.dim, {prev}.v_fp, rq.rq_num, vden.rq_den
FROM {prev} CROSS JOIN rq CROSS JOIN vden""")
    return "".join(parts)


_SQL_EMBEDDINGS_DOMINANT_EIGEN = _eigen_oracle_sql()


def _q_multimodal_bmp_features(spark: SparkSession, sf: str) -> DataFrame:
    """REAL BMP decode path (third non-stub media kernel after WAV and
    PNG): deterministic 24-bpp BMPs generated executor-side across every
    row-padding remainder, decoded with the strict struct kernel
    (bottom-up rows, BGR, padding), features = EXACT integer channel
    sums.  Oracle: a parquet fixture re-derived from the pixel FORMULA
    alone (scripts/gen_bmp_oracle.py) — no BMP parsing in the oracle, so
    only a genuinely correct decoder round-trips it."""
    from mopper_spark.textops.multimodal import (
        extract_bmp_features,
        synth_bmp_media,
    )

    return extract_bmp_features(synth_bmp_media(spark, n=24))


_BMP_ORACLE_FIXTURE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "fixtures", "bmp_features.parquet"
)

_SQL_MULTIMODAL_BMP = f"""
SELECT media_id, width, height, bpp, n_px, sum_b, sum_g, sum_r
FROM read_parquet('{_BMP_ORACLE_FIXTURE}')
"""


def _q_graph_weighted_distances(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted shortest distances (graph.py::weighted_distances —
    level-synchronous Bellman-Ford with a semi-naive delta frontier)
    over the undirected doc-id tree (ids < 512) with deterministic
    integer weights 1 + (child+parent) mod 5, from seeds {1, 100}.
    Unit-weight equality with bfs_distances is pinned in tests; the
    oracle is 20 rounds of full relaxation as chained CTEs — an
    independent (non-frontier) formulation of the same fixpoint."""
    from mopper_spark.pipeline.graph import weighted_distances

    docs = spark.read.schema("doc_id long").parquet(
        f"{sf}/documents.parquet"
    ).filter(F.col("doc_id") < 512)
    edges = docs.filter(F.col("doc_id") >= 2).select(
        F.col("doc_id").cast("long").alias("src"),
        F.expr("doc_id div 2").cast("long").alias("dst"),
        (F.lit(1) + (F.col("doc_id") + F.expr("doc_id div 2")) % 5)
        .cast("long")
        .alias("w"),
    )
    seeds = spark.createDataFrame([(1,), (100,)], "origin long")
    return weighted_distances(edges, seeds, directed=False)


def _weighted_dist_oracle_sql(rounds: int = 20) -> str:
    head = """
WITH ed AS MATERIALIZED (
  SELECT s, d, w FROM (
    SELECT CAST(doc_id AS BIGINT) AS s, CAST(doc_id // 2 AS BIGINT) AS d,
           CAST(1 + (doc_id + doc_id // 2) % 5 AS BIGINT) AS w
    FROM documents WHERE doc_id >= 2 AND doc_id < 512
    UNION ALL
    SELECT CAST(doc_id // 2 AS BIGINT), CAST(doc_id AS BIGINT),
           CAST(1 + (doc_id + doc_id // 2) % 5 AS BIGINT)
    FROM documents WHERE doc_id >= 2 AND doc_id < 512
  )
), d0 AS MATERIALIZED (
  SELECT o.origin, ed.d AS node, MIN(ed.w) AS dist
  FROM (SELECT unnest([CAST(1 AS BIGINT), 100]) AS origin) o
  JOIN ed ON ed.s = o.origin
  WHERE ed.d <> o.origin
  GROUP BY o.origin, ed.d
)"""
    parts = [head]
    prev = "d0"
    for i in range(1, rounds + 1):
        parts.append(f""",
d{i} AS MATERIALIZED (
  SELECT origin, node, MIN(dist) AS dist FROM (
    SELECT origin, node, dist FROM {prev}
    UNION ALL
    SELECT p.origin, ed.d AS node, p.dist + ed.w AS dist
    FROM {prev} p JOIN ed ON ed.s = p.node
    WHERE ed.d <> p.origin
  ) GROUP BY origin, node
)""")
        prev = f"d{i}"
    parts.append(
        f"\nSELECT origin, node, CAST(dist AS BIGINT) AS dist FROM {prev}"
    )
    return "".join(parts)


_SQL_GRAPH_WEIGHTED_DISTANCES = _weighted_dist_oracle_sql()


def _q_events_benford(spark: SparkSession, sf: str) -> DataFrame:
    """Benford first-digit audit (timeseries.py::benford_audit): per
    event type the observed leading-digit counts of |value| against the
    Benford-expected mass in fixed point — the forensic data-quality
    screen.  Digit from string arithmetic, one double log10 constant
    floored once; digit-bounded output."""
    from mopper_spark.textops.timeseries import benford_audit

    ev = spark.read.parquet(f"{sf}/events.parquet")
    return benford_audit(ev, "event_type", "value")


_SQL_EVENTS_BENFORD = """
WITH d AS MATERIALIZED (
  SELECT event_type AS grp,
         CAST(substr(CAST(CAST(FLOOR(ABS(value)) AS BIGINT) AS VARCHAR), 1, 1)
              AS BIGINT) AS digit
  FROM events WHERE FLOOR(ABS(value)) >= 1
), counts AS MATERIALIZED (
  SELECT grp, digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1, 2
), tot AS (
  SELECT grp, CAST(SUM(n) AS BIGINT) AS tot FROM counts GROUP BY grp
)
SELECT counts.grp AS event_type, digit, n,
       CAST(FLOOR(1000000.0 * tot * log10(1.0 + 1.0 / digit)) AS BIGINT)
         AS expected_fp
FROM counts JOIN tot ON counts.grp = tot.grp
"""


def _q_events_gap_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Inter-arrival burstiness fingerprint (timeseries.py::
    gap_histogram): per event type, the log2-bucketed histogram of
    per-user consecutive gaps — bucket from the binary-representation
    length, no float log; event_id pins same-microsecond ties.  One lag
    window + one combine-able aggregate."""
    from mopper_spark.textops.timeseries import gap_histogram

    ev = spark.read.parquet(f"{sf}/events.parquet")
    return gap_histogram(
        ev, "event_type", "ts", per_entity_col="user_id",
        tiebreak_col="event_id",
    )


_SQL_EVENTS_GAP_HISTOGRAM = """
WITH gaps AS (
  SELECT event_type,
         epoch_us(ts) - lag(epoch_us(ts))
           OVER (PARTITION BY event_type, user_id
                 ORDER BY ts, event_id) AS gap_us
  FROM events
), b AS (
  SELECT event_type,
         CASE WHEN gap_us <= 0 THEN -1
              ELSE length(bin(gap_us)) - 1 END AS bucket
  FROM gaps WHERE gap_us IS NOT NULL
)
SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n
FROM b GROUP BY 1, 2
"""


def _q_docs_zipf(spark: SparkSession, sf: str) -> DataFrame:
    """Zipf-fit OLS terms (analysis.py::zipf_terms): per source the
    exact-integer regression inputs of ln(freq) on ln(rank) over the
    top-50 tokens — slope ≈ −1 is the natural-language signature, the
    quality readout beside docs_lexical_profile.  Word-count shuffles +
    a vocabulary-sized rank window."""
    from mopper_spark.textops.analysis import zipf_terms

    docs = spark.read.schema("source string, text string").parquet(
        f"{sf}/documents.parquet"
    )
    return zipf_terms(docs, top_k=50)


_SQL_DOCS_ZIPF = r"""
WITH freq AS MATERIALIZED (
  SELECT source AS grp, tok, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT source,
               unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                  x -> x <> '')) AS tok
        FROM documents)
  GROUP BY 1, 2
), ranked AS (
  SELECT grp, c,
         row_number() OVER (PARTITION BY grp ORDER BY c DESC, tok ASC) AS r
  FROM freq QUALIFY r <= 50
), xy AS (
  SELECT grp,
         CAST(FLOOR(ln(CAST(r AS DOUBLE)) * 1000000.0) AS BIGINT) AS x,
         CAST(FLOOR(ln(CAST(c AS DOUBLE)) * 1000000.0) AS BIGINT) AS y
  FROM ranked
)
SELECT grp AS source,
       CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(x) AS BIGINT) AS sx,
       CAST(SUM(y) AS BIGINT) AS sy,
       CAST(SUM(x * x) AS BIGINT) AS sxx,
       CAST(SUM(x * y) AS BIGINT) AS sxy
FROM xy GROUP BY grp
"""


def _q_stream_psi_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming PSI drift monitor (streaming.py::drift_counts_stream):
    the frozen first-half band counts are the baseline; the second-half
    events arrive as a 4-micro-batch file stream whose per-band counts
    fold into versioned parquet state by SUM (the simplest mergeable
    sketch — drained state equals the batch GROUP BY under any split),
    then timeseries.psi_terms_from_counts emits the same terms as the
    batch events_psi_drift — which is exactly the oracle used."""
    from mopper_spark.streaming import drift_counts_stream, read_band_counts
    from mopper_spark.textops.timeseries import psi_terms_from_counts

    root = _scratch_root("stream_psi")
    src, state, ck = (os.path.join(root, d) for d in ("src", "state", "ck"))
    ev = spark.read.parquet(f"{sf}/events.parquet")
    split = F.to_timestamp(F.lit("2024-01-16"))
    baseline = (
        ev.filter(F.col("ts") < split)
        .select(F.floor(F.col("value").cast("double")).cast("long").alias("band"))
        .groupBy("band")
        .agg(F.count(F.lit(1)).cast("long").alias("n_a"))
    )
    ev.filter(F.col("ts") >= split).select("value").repartition(4).write.parquet(
        src
    )
    stream = (
        spark.readStream.schema("value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = drift_counts_stream(stream, state, ck)
    q.awaitTermination(300)
    live = read_band_counts(spark, state).withColumnRenamed("n", "n_b")
    return psi_terms_from_counts(baseline, live)


def _q_transcripts_sft_packing(spark: SparkSession, sf: str) -> DataFrame:
    """The full SFT data-prep path as ONE composition: sft_pairs
    (nearest-preceding-prompt extraction) → deterministic numeric pair
    ids → pack_sequences (seq_len=64 bucketed distributed prefix sum) —
    per training pair, its offset and sequence span in the packed token
    stream.  Two library operators end-to-end, no glue logic beyond the
    id arithmetic; the oracle replays both stages in SQL."""
    from mopper_spark.textops.packing import pack_sequences
    from mopper_spark.textops.prepare import sft_pairs

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    pairs = sft_pairs(tr).select(
        (
            F.expr("CAST(substring(conv_id, 6) AS BIGINT)") * 1000
            + F.col("turn_idx")
        ).alias("pair_id"),
        F.concat_ws(" ", F.col("prompt"), F.col("response")).alias("text"),
    )
    return pack_sequences(pairs, seq_len=64, id_col="pair_id").withColumnRenamed(
        "doc_id", "pair_id"
    )


_SQL_TRANSCRIPTS_SFT_PACKING = f"""
WITH p AS (
  SELECT conv_id, turn_idx, role, text,
         last_value(CASE WHEN role = 'user' THEN text END IGNORE NULLS)
           OVER (PARTITION BY conv_id ORDER BY turn_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prompt
  FROM read_parquet('{_TRANSCRIPTS_FIXTURE}')
), pairs AS MATERIALIZED (
  SELECT CAST(substr(conv_id, 6) AS BIGINT) * 1000 + turn_idx AS pair_id,
         prompt || ' ' || text AS text
  FROM p WHERE role = 'assistant' AND prompt IS NOT NULL
), toks AS (
  SELECT pair_id,
         CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens
  FROM pairs
), o AS (
  SELECT pair_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY pair_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS start_tok
  FROM toks
)
SELECT pair_id, n_tokens, start_tok,
       CASE WHEN n_tokens > 0 THEN CAST(start_tok // 64 AS BIGINT) END
         AS seq_first,
       CASE WHEN n_tokens > 0
            THEN CAST((start_tok + n_tokens - 1) // 64 AS BIGINT) END
         AS seq_last
FROM o
"""


def _q_embeddings_covariance_diag(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-health moments (similarity.py::covariance_diag): exact
    per-dimension first/second moment integers — variance and the
    collapsed-dimension flag are consumer divisions.  One posexplode +
    one dim-bounded aggregate."""
    from mopper_spark.textops.similarity import covariance_diag

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    return covariance_diag(emb)


_SQL_EMBEDDINGS_COVARIANCE_DIAG = """
WITH dims AS (SELECT unnest(range(0, 64)) AS dim),
x AS (
  SELECT CAST(d.dim AS BIGINT) AS dim,
         CAST(FLOOR(CAST(e.embedding[d.dim + 1] AS DOUBLE) * 16384.0)
              AS BIGINT) AS x_fp
  FROM embeddings e CROSS JOIN dims d
)
SELECT dim, CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(x_fp) AS BIGINT) AS s1,
       CAST(SUM(x_fp * x_fp) AS BIGINT) AS s2
FROM x GROUP BY dim
"""


def _q_events_outliers_robust(spark: SparkSession, sf: str) -> DataFrame:
    """Robust k×MAD outlier counts per event type (rankstats.py::
    robust_outliers): median/MAD from the exact rank windows, outlier
    comparison entirely in fixed-point integers, MAD=0 degeneracy
    pinned to the x != median fallback.  grouped_mad + one broadcast
    join + one combine-able count."""
    from mopper_spark.textops.rankstats import robust_outliers

    ev = spark.read.parquet(f"{sf}/events.parquet").select("event_type", "value")
    return robust_outliers(ev, "event_type", "value")


_SQL_EVENTS_OUTLIERS_ROBUST = """
WITH fp AS MATERIALIZED (
  SELECT event_type AS grp, CAST(FLOOR(value * 100.0) AS BIGINT) AS x
  FROM events
), med AS MATERIALIZED (
  SELECT grp, x AS med, n FROM (
    SELECT grp, x,
           row_number() OVER (PARTITION BY grp ORDER BY x) AS rn,
           CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS n
    FROM fp
  ) WHERE rn = (n + 1) // 2
), dev AS (
  SELECT fp.grp, abs(fp.x - med.med) AS d FROM fp JOIN med USING (grp)
), mad AS MATERIALIZED (
  SELECT grp, d AS mad_fp FROM (
    SELECT grp, d,
           row_number() OVER (PARTITION BY grp ORDER BY d) AS rn,
           count(*) OVER (PARTITION BY grp) AS n
    FROM dev
  ) WHERE rn = (n + 1) // 2
), out_c AS (
  SELECT fp.grp,
         CAST(SUM(CASE WHEN abs(fp.x - med.med) > 3 * mad.mad_fp
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
  FROM fp JOIN med USING (grp) JOIN mad USING (grp)
  GROUP BY fp.grp
)
SELECT med.grp AS event_type, med.n, med.med AS median_fp, mad.mad_fp,
       out_c.n_outliers
FROM med JOIN mad USING (grp) JOIN out_c USING (grp)
"""


def _q_docs_frequency_spectrum(spark: SparkSession, sf: str) -> DataFrame:
    """Good-Turing frequency spectrum (analysis.py::frequency_spectrum):
    per source, how many token types occur exactly r times (r <= 10 + a
    reconciling tail row) — the N_r table LM smoothing consumes and the
    quickest templated-corpus detector.  Two word-count aggregations."""
    from mopper_spark.textops.analysis import frequency_spectrum

    docs = spark.read.schema("source string, text string").parquet(
        f"{sf}/documents.parquet"
    )
    return frequency_spectrum(docs)


_SQL_DOCS_FREQUENCY_SPECTRUM = r"""
WITH freq AS MATERIALIZED (
  SELECT source AS grp, tok, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT source,
               unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                  x -> x <> '')) AS tok
        FROM documents)
  GROUP BY 1, 2
)
SELECT grp AS source,
       CAST(CASE WHEN c <= 10 THEN c ELSE 11 END AS BIGINT) AS r,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(SUM(c) AS BIGINT) AS n_tokens
FROM freq GROUP BY 1, 2
"""


def _q_embeddings_quant_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Int8 quantization audit (similarity.py::quantization_audit):
    per-dimension absmax scaling residuals as exact integers — the
    pre-flight error report before shipping a compressed ANN index.
    Two dim-bounded shuffles."""
    from mopper_spark.textops.similarity import quantization_audit

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    return quantization_audit(emb)


_SQL_EMBEDDINGS_QUANT_AUDIT = """
WITH dims AS (SELECT unnest(range(0, 64)) AS dim),
x AS MATERIALIZED (
  SELECT CAST(d.dim AS BIGINT) AS dim,
         CAST(FLOOR(CAST(e.embedding[d.dim + 1] AS DOUBLE) * 16384.0)
              AS BIGINT) AS x_fp
  FROM embeddings e CROSS JOIN dims d
), mx AS (
  SELECT dim, CAST(MAX(abs(x_fp)) AS BIGINT) AS max_abs_fp
  FROM x GROUP BY dim
), e AS (
  SELECT x.dim, mx.max_abs_fp,
         abs(x.x_fp * 127
             - (CASE WHEN mx.max_abs_fp > 0
                     THEN (x.x_fp * 127) // mx.max_abs_fp ELSE 0 END)
               * mx.max_abs_fp) AS err
  FROM x JOIN mx ON x.dim = mx.dim
)
SELECT dim, max_abs_fp, CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(err) AS BIGINT) AS sum_abs_err,
       CAST(MAX(err) AS BIGINT) AS max_abs_err
FROM e GROUP BY dim, max_abs_fp
"""


def _q_transcripts_catalog(spark: SparkSession, sf: str) -> DataFrame:
    """Conversation catalog (conversation.py::conversation_catalog):
    one summary row per conversation with role counts, time span, and
    the md5 content digest (per-turn-text-equality fingerprint at
    whole-conversation grain) — the keying table for catalog diffs and
    incremental loads.  One order-proofed aggregate, no window."""
    from mopper_spark.textops.conversation import conversation_catalog

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    return conversation_catalog(tr)


_SQL_TRANSCRIPTS_CATALOG = f"""
SELECT conv_id,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_user,
       CAST(SUM(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_assistant,
       CAST(SUM(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_tool_turns,
       MIN(ts) AS first_ts,
       MAX(ts) AS last_ts,
       CAST(SUM(length(text)) AS BIGINT) AS n_chars,
       md5(string_agg(coalesce(text, chr(0) || 'NULL'), chr(30)
                      ORDER BY turn_idx)) AS digest
FROM read_parquet('{_TRANSCRIPTS_FIXTURE}')
GROUP BY conv_id
"""


def _q_kg_degree_distribution(spark: SparkSession, sf: str) -> DataFrame:
    """Per-predicate out-degree histogram on a log2 scale
    (curate.py::degree_histogram): the KG health chart — functional
    predicates at bucket 0, hub tails visible release-over-release;
    bucket from binary-representation length, no float log.  Two
    word-count-shaped aggregations over the extracted graph."""
    from mopper_spark.pipeline.curate import degree_histogram

    return degree_histogram(_kg_triples(spark))


_SQL_KG_DEGREE_DISTRIBUTION = f"""
WITH kg AS ({_SQL_KG_GRAPH}),
deg AS MATERIALIZED (
  SELECT pred, subj, CAST(count(*) AS BIGINT) AS deg
  FROM kg GROUP BY pred, subj
)
SELECT pred, CAST(length(bin(deg)) - 1 AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_subjects
FROM deg GROUP BY 1, 2
"""


def _q_events_dfg(spark: SparkSession, sf: str) -> DataFrame:
    """Directly-follows graph (process.py::directly_follows): per-user
    consecutive event-type pairs with frequency and exact duration mass,
    plus _START_/_END_ boundary edges that reconcile to the case count —
    the process-mining map.  One lag window + one pair aggregate."""
    from mopper_spark.textops.process import directly_follows

    ev = spark.read.parquet(f"{sf}/events.parquet")
    return directly_follows(ev, "user_id", "event_type", "ts", "event_id")


_SQL_EVENTS_DFG = """
WITH seq AS MATERIALIZED (
  SELECT user_id AS c, event_type AS act, epoch_us(ts) AS at_us,
         lag(event_type) OVER w AS prev_act,
         lag(epoch_us(ts)) OVER w AS prev_us,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn_end
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), edges AS (
  SELECT prev_act, act AS next_act, at_us - prev_us AS gap_us
  FROM seq WHERE prev_act IS NOT NULL
  UNION ALL
  SELECT '_START_', act, 0 FROM seq WHERE prev_act IS NULL
  UNION ALL
  SELECT act, '_END_', 0 FROM seq WHERE rn_end = 1
)
SELECT prev_act, next_act, CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(gap_us) AS BIGINT) AS total_gap_us,
       CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
FROM edges GROUP BY 1, 2
"""


#: allowed-transition model shared verbatim by the Spark query and the
#: DuckDB oracle — a plausible funnel DFA over the fixture's five event
#: types; the synthetic log roams freely, so violations are plentiful and
#: the conformance statistic is non-trivial.
_CONFORMANCE_MODEL = [
    ("_START_", "signup"), ("_START_", "view"),
    ("signup", "view"),
    ("view", "view"), ("view", "click"), ("view", "_END_"),
    ("click", "view"), ("click", "click"), ("click", "purchase"),
    ("click", "error"),
    ("purchase", "view"), ("purchase", "_END_"),
    ("error", "view"), ("error", "_END_"),
]


def _q_events_conformance(spark: SparkSession, sf: str) -> DataFrame:
    """Footprint conformance checking (process.py::
    conformance_violations): every user's event sequence replayed
    against the _CONFORMANCE_MODEL transition DFA — per case the step
    count, violation count, and earliest offending edge.  Model rides
    broadcast; one lag window + membership join + per-case aggregate."""
    from mopper_spark.textops.process import conformance_violations

    ev = spark.read.parquet(f"{sf}/events.parquet")
    return conformance_violations(
        ev, "user_id", "event_type", "ts", "event_id", _CONFORMANCE_MODEL
    ).withColumnRenamed("case", "user_id")


def _conformance_model_values() -> str:
    rows = ", ".join(f"('{p}', '{q}')" for p, q in _CONFORMANCE_MODEL)
    return f"(VALUES {rows}) AS m(p, q)"


_SQL_EVENTS_CONFORMANCE = f"""
WITH seq AS MATERIALIZED (
  SELECT user_id AS c, event_type AS act, epoch_us(ts) AS at_us,
         lag(event_type) OVER w AS prev_act,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn_end
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), model AS (SELECT p, q FROM {_conformance_model_values()}),
edges AS (
  SELECT c, COALESCE(prev_act, '_START_') AS p_act, act AS q_act, at_us
  FROM seq
  UNION ALL
  SELECT c, act, '_END_', at_us FROM seq WHERE rn_end = 1
), marked AS (
  SELECT e.c, e.at_us,
         m.p IS NULL AS bad,
         e.p_act || '>' || e.q_act AS edge
  FROM edges e LEFT JOIN model m ON e.p_act = m.p AND e.q_act = m.q
)
SELECT c AS user_id, CAST(count(*) AS BIGINT) AS n_steps,
       CAST(SUM(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
       COALESCE(substr(min(CASE WHEN bad THEN
           lpad(CAST(at_us AS VARCHAR), 20, '0') || '|' || edge END), 22), '')
         AS first_violation
FROM marked GROUP BY c
"""


def _q_docs_uncertainty_queue(spark: SparkSession, sf: str) -> DataFrame:
    """Active-learning labeling queue (quality_model.quality_scores +
    one per-source top-k window): the 5 docs per source whose hashed-
    linear quality score sits closest to the 0 decision boundary —
    margin sampling, the standard uncertainty heuristic.  Scoring is
    the shuffle-free narrow pass; the queue is a source-bounded
    window."""
    from pyspark.sql import Window

    from mopper_spark.textops.quality_model import quality_scores

    docs = spark.read.schema("doc_id long, text string, source string").parquet(
        f"{sf}/documents.parquet"
    )
    scored = quality_scores(docs).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    w = Window.partitionBy("source").orderBy(
        F.abs(F.col("score_fp")).asc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("source", "rank", "doc_id", "score_fp")
    )


_SQL_DOCS_UNCERTAINTY_QUEUE = f"""
WITH scores AS MATERIALIZED ({_SQL_DOCS_QUALITY_MODEL})
SELECT d.source, CAST(row_number() OVER (PARTITION BY d.source
           ORDER BY abs(s.score_fp) ASC, s.doc_id ASC) AS BIGINT) AS rank,
       s.doc_id, s.score_fp
FROM scores s JOIN documents d USING (doc_id)
QUALIFY rank <= 5
"""


def _q_events_srm(spark: SparkSession, sf: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail (sampling.py::srm_check): the
    1-df chi-square of the 50/50 hash split over distinct users — the
    validity check events_ab_test's readout presumes, as one
    exact-integer row.  One distinct + one combine-able aggregate."""
    from mopper_spark.textops.sampling import srm_check

    ev = spark.read.parquet(f"{sf}/events.parquet")
    return srm_check(ev, "user_id")


_SQL_EVENTS_SRM = """
WITH units AS (
  SELECT DISTINCT CAST(user_id AS VARCHAR) AS u FROM events
), arms AS (
  SELECT CASE WHEN ('0x' || substr(md5('ab-v1' || u), 1, 4))::BIGINT < 32768
              THEN 1 ELSE 0 END AS a
  FROM units
), counts AS (
  SELECT CAST(SUM(a) AS BIGINT) AS n_a,
         CAST(SUM(1 - a) AS BIGINT) AS n_b
  FROM arms
)
SELECT n_a, n_b,
       CAST(((n_a - n_b) * (n_a - n_b) * 1000000) // (n_a + n_b) AS BIGINT)
         AS chi2_fp
FROM counts
"""


def _q_docs_perplexity_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet perplexity bucketing (ranking.py::perplexity_buckets): the
    held-out 20% banded into equal-count head/middle/tail by
    Stupid-Backoff bigram cross entropy — THE classic LM quality filter;
    per-doc means as exact integer milli-fixed-point, deterministic
    (xm, doc_id) rank.  Same train/score split as docs_bigram_xent."""
    from mopper_spark.textops.ranking import perplexity_buckets

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return perplexity_buckets(
        docs.filter(F.col("doc_id") % 5 != 0),
        docs.filter(F.col("doc_id") % 5 == 0),
    )


_SQL_DOCS_PERPLEXITY_BUCKETS = f"""
WITH perdoc AS MATERIALIZED ({_SQL_BIGRAM_XENT.rstrip()}
), xm AS (
  SELECT doc_id, n_bigrams,
         CAST((-sum_lp_fp * 1000) // n_bigrams AS BIGINT) AS xm_fp
  FROM perdoc WHERE n_bigrams > 0
), ranked AS (
  SELECT doc_id, n_bigrams, xm_fp,
         row_number() OVER (ORDER BY xm_fp ASC, doc_id ASC) AS rn,
         count(*) OVER () AS n
  FROM xm
)
SELECT doc_id, n_bigrams, xm_fp,
       CAST((3 * (rn - 1)) // n AS BIGINT) AS bucket
FROM ranked
"""


def _q_transcripts_tool_latency(spark: SparkSession, sf: str) -> DataFrame:
    """Per-tool latency attribution (conversation.py::tool_latency):
    the inter-turn gap before every tool-carrying turn summed per tool
    — the "which tool is slow" breakdown, exact epoch-µs integers.
    One lag window + one tool-cardinality aggregate."""
    from mopper_spark.textops.conversation import tool_latency

    tr = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    return tool_latency(tr)


_SQL_TRANSCRIPTS_TOOL_LATENCY = f"""
WITH gaps AS (
  SELECT tool,
         COALESCE(epoch_us(ts)
                  - lag(epoch_us(ts)) OVER (PARTITION BY conv_id
                                            ORDER BY turn_idx), 0) AS gap_us
  FROM read_parquet('{_TRANSCRIPTS_FIXTURE}')
)
SELECT tool, CAST(count(*) AS BIGINT) AS n_calls,
       CAST(SUM(gap_us) AS BIGINT) AS total_us,
       CAST(MIN(gap_us) AS BIGINT) AS min_us,
       CAST(MAX(gap_us) AS BIGINT) AS max_us
FROM gaps WHERE tool IS NOT NULL GROUP BY tool
"""


def _q_graph_rich_club(spark: SparkSession, sf: str) -> DataFrame:
    """Rich-club connectivity (graph.py::rich_club) over the undirected
    doc-id tree + successor ring (ids < 1024) at degree cuts 2/3/4:
    density among the above-cut nodes as exact fixed point — the
    hub-interlinking signature.  One degree aggregate + one broadcast-
    filtered edge count per cut."""
    from mopper_spark.pipeline.graph import rich_club

    docs = spark.read.schema("doc_id long").parquet(
        f"{sf}/documents.parquet"
    ).filter(F.col("doc_id") < 1024)
    tree = docs.filter(F.col("doc_id") >= 2).select(
        F.col("doc_id").cast("long").alias("a"),
        F.expr("doc_id div 2").cast("long").alias("b"),
    )
    ring = docs.select(
        F.col("doc_id").cast("long").alias("a"),
        ((F.col("doc_id") + 1) % 1024).cast("long").alias("b"),
    )
    return rich_club(tree.unionAll(ring), degree_cuts=(2, 3, 4))


_SQL_GRAPH_RICH_CLUB = """
WITH ed AS MATERIALIZED (
  SELECT DISTINCT u, v FROM (
    SELECT CAST(doc_id AS BIGINT) AS u, CAST(doc_id // 2 AS BIGINT) AS v
    FROM documents WHERE doc_id >= 2 AND doc_id < 1024
    UNION ALL
    SELECT CAST(doc_id // 2 AS BIGINT), CAST(doc_id AS BIGINT)
    FROM documents WHERE doc_id >= 2 AND doc_id < 1024
    UNION ALL
    SELECT CAST(doc_id AS BIGINT), CAST((doc_id + 1) % 1024 AS BIGINT)
    FROM documents WHERE doc_id < 1024
    UNION ALL
    SELECT CAST((doc_id + 1) % 1024 AS BIGINT), CAST(doc_id AS BIGINT)
    FROM documents WHERE doc_id < 1024
  ) WHERE u <> v
), deg AS MATERIALIZED (
  SELECT u, count(*) AS deg FROM ed GROUP BY u
), und AS MATERIALIZED (
  SELECT u, v FROM ed WHERE u < v
), cuts AS (SELECT unnest([CAST(2 AS BIGINT), 3, 4]) AS k),
elite AS MATERIALIZED (
  SELECT cuts.k, deg.u AS n FROM cuts JOIN deg ON deg.deg > cuts.k
), nn AS (
  SELECT k, CAST(count(*) AS BIGINT) AS n_nodes FROM elite GROUP BY k
), ne AS (
  SELECT l.k, CAST(count(*) AS BIGINT) AS n_edges
  FROM und
  JOIN elite l ON und.u = l.n
  JOIN elite r ON und.v = r.n AND r.k = l.k
  GROUP BY l.k
)
SELECT cuts.k, COALESCE(nn.n_nodes, 0) AS n_nodes,
       COALESCE(ne.n_edges, 0) AS n_edges,
       CAST(CASE WHEN COALESCE(nn.n_nodes, 0) >= 2
                 THEN (2 * COALESCE(ne.n_edges, 0) * 1000000)
                      // (nn.n_nodes * (nn.n_nodes - 1))
                 ELSE 0 END AS BIGINT) AS phi_fp
FROM cuts LEFT JOIN nn ON cuts.k = nn.k LEFT JOIN ne ON cuts.k = ne.k
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # --- DRIVER ROTATION (r5): the correctness gate hash-checks the
        # FIRST 50 entries.  Slots 1-9 are the pinned rml_* reference-
        # parity rows (green r1-r4); slots 10-50 are catalog queries the
        # driver has never checked (VERDICT r4 #1), incl. the new scale-
        # safe gated configs dedup_embedding_planned / dedup_semantic_
        # scaledk (VERDICT #3) and graph_hyperball (VERDICT #6).
        "rml_extend_customer": _q_rml_extend_customer,
        "rml_join_customer_nation": _q_rml_join_customer_nation,
        "rml_quads_orders": _q_rml_quads_orders,
        "rml_fanout_nation": _q_rml_fanout_nation,
        "rml_union_one_target": _q_rml_union_one_target,
        "rml_blank_nodes": _q_rml_blank_nodes,
        "rml_invalid_iri": _q_rml_invalid_iri,
        "rml_turtle_supplier": _q_rml_turtle_supplier,
        "rml_selfjoin_part": _q_rml_selfjoin_part,
        # rotation slots 10-50: never driver-checked before r5
        "dedup_embedding_planned": _q_dedup_embedding_planned,
        "dedup_semantic_scaledk": _q_dedup_semantic_scaledk,
        "dedup_semantic": _q_dedup_semantic,
        "dedup_minhash_oph": _q_dedup_minhash_oph,
        "dedup_incremental_shard": _q_dedup_incremental_shard,
        "docs_containment": _q_docs_containment,
        "docs_tfidf_pairs": _q_docs_tfidf_pairs,
        "similarity_topk_ivfpq": _q_similarity_topk_ivfpq,
        "ivf_kmeans_train": _q_ivf_kmeans_train,
        "graph_hyperball": _q_graph_hyperball,
        "graph_butterflies": _q_graph_butterflies,
        "graph_kcore": _q_graph_kcore,
        "graph_ktruss": _q_graph_ktruss,
        "graph_modularity": _q_graph_modularity,
        "graph_ppr": _q_graph_ppr,
        "graph_shortest_path": _q_graph_shortest_path,
        "graph_weighted_distances": _q_graph_weighted_distances,
        "linking_quality": _q_linking_quality,
        "entity_linking_incremental": _q_entity_linking_incremental,
        "mention_communities": _q_mention_communities,
        "kg_resolve_weighted": _q_kg_resolve_weighted,
        "kg_sameas_canonical": _q_kg_sameas_canonical,
        "kg_entity_intervals": _q_kg_entity_intervals,
        "kg_temporal_quads": _q_kg_temporal_quads,
        "kg_pagerank_weighted": _q_kg_pagerank_weighted,
        "kg_sparql_modifiers": _q_kg_sparql_modifiers,
        "kg_sparql_construct": _q_kg_sparql_construct,
        "kg_sparql_subquery": _q_kg_sparql_subquery,
        "kg_sparql_group_concat": _q_kg_sparql_group_concat,
        "kg_blank_canonical": _q_kg_blank_canonical,
        "kg_wl_structural_dedup": _q_kg_wl_structural_dedup,
        "kg_rdfs_entailment": _q_kg_rdfs_entailment,
        "kg_shacl_violations": _q_kg_shacl_violations,
        "transcripts_sft_pairs": _q_transcripts_sft_pairs,
        "transcripts_dedup_paragraphs": _q_transcripts_dedup_paragraphs,
        "transcripts_prefix_dedup": _q_transcripts_prefix_dedup,
        "transcripts_catalog": _q_transcripts_catalog,
        "transcripts_tool_transitions": _q_transcripts_tool_transitions,
        "events_sax": _q_events_sax,
        "events_psi_drift": _q_events_psi_drift,
        "docs_target_encoding": _q_docs_target_encoding,
        # --- below the driver cut: remaining never-checked catalog ---
        "docs_unigram_xent": _q_docs_unigram_xent,
        "docs_hll_distinct": _q_docs_hll_distinct,
        "docs_importance_resample": _q_docs_importance_resample,
        "docs_winnowing": _q_docs_winnowing,
        "stream_hll_distinct": _q_stream_hll_distinct,
        "docs_cdc_chunks": _q_docs_cdc_chunks,
        "docs_textrank": _q_docs_textrank,
        "docs_bigram_xent": _q_docs_bigram_xent,
        "docs_filter_pipeline": _q_docs_filter_pipeline,
        "docs_mixture_weights": _q_docs_mixture_weights,
        "docs_top_tokens_per_source": _q_docs_top_tokens_per_source,
        "embeddings_label_cosines": _q_embeddings_label_cosines,
        "docs_source_divergence": _q_docs_source_divergence,
        "pq_encode_codes": _q_pq_encode_codes,
        "pq_adc_topk": _q_pq_adc_topk,
        "docs_duplicated_ranges": _q_docs_duplicated_ranges,
        "dedup_keep_list": _q_dedup_keep_list,
        "kg_verbalize_docs": _q_kg_verbalize_docs,
        "kg_interval_cooccurrence": _q_kg_interval_cooccurrence,
        "kg_intervals_incremental": _q_kg_intervals_incremental,
        "kg_entity_profiles": _q_kg_entity_profiles,
        "kg_active_between": _q_kg_active_between,
        "docs_sample_per_group": _q_docs_sample_per_group,
        "docs_weighted_sample": _q_docs_weighted_sample,
        "docs_heavy_tokens": _q_docs_heavy_tokens,
        "kg_intervals_canonical": _q_kg_intervals_canonical,
        "kg_mentions_by_segment": _q_kg_mentions_by_segment,
        "transcripts_dedup_convs": _q_transcripts_dedup_convs,
        "transcripts_latency": _q_transcripts_latency,
        "kg_temporal_communities": _q_kg_temporal_communities,
        "kg_bgp_aggregate": _q_kg_bgp_aggregate,
        "graph_link_prediction": _q_graph_link_prediction,
        "kg_entity_pmi": _q_kg_entity_pmi,
        "kg_schema_graph": _q_kg_schema_graph,
        "kg_entity_trending": _q_kg_entity_trending,
        "docs_source_overlap": _q_docs_source_overlap,
        "bigram_pmi": _q_bigram_pmi,
        "skew_salted_join": _q_skew_salted_join,
        "stream_interval_join": _q_stream_interval_join,
        "doc_hash_split": _q_doc_hash_split,
        "graph_closure": _q_graph_closure,
        "graph_closure_incremental": _q_graph_closure_incremental,
        "graph_assortativity": _q_graph_assortativity,
        "graph_clustering": _q_graph_clustering,
        "kg_predicate_profile": _q_kg_predicate_profile,
        "kg_resolve_functional": _q_kg_resolve_functional,
        "kg_negative_samples": _q_kg_negative_samples,
        "kg_nquads_roundtrip": _q_kg_nquads_roundtrip,
        "kg_turtle_roundtrip": _q_kg_turtle_roundtrip,
        "kg_bgp_path_descendants": _q_kg_bgp_path_descendants,
        "kg_bgp_path_inverse_seq": _q_kg_bgp_path_inverse_seq,
        "kg_bgp_path_bounded": _q_kg_bgp_path_bounded,
        "kg_bgp_path_nps": _q_kg_bgp_path_nps,
        "kg_sparql_ask": _q_kg_sparql_ask,
        "kg_describe": _q_kg_describe,
        "kg_transe_eval": _q_kg_transe_eval,
        "kg_snapshot_diff": _q_kg_snapshot_diff,
        "kg_snapshot_asof": _q_kg_snapshot_asof,
        "kg_rdfs_incremental": _q_kg_rdfs_incremental,
        "kg_owl_inference": _q_kg_owl_inference,
        "kg_provenance": _q_kg_provenance,
        "docs_quality_model": _q_docs_quality_model,
        "docs_quality_model_trained": _q_docs_quality_model_trained,
        "transcripts_render": _q_transcripts_render,
        "docs_pii_scrub": _q_docs_pii_scrub,
        "docs_budget_mix": _q_docs_budget_mix,
        "transcripts_segment": _q_transcripts_segment,
        "events_gap_fill": _q_events_gap_fill,
        "events_window_features": _q_events_window_features,
        "docs_rank_fusion": _q_docs_rank_fusion,
        "events_ewma": _q_events_ewma,
        "events_ab_test": _q_events_ab_test,
        "events_changepoint": _q_events_changepoint,
        "kg_sparql_update": _q_kg_sparql_update,
        "docs_quality_auc": _q_docs_quality_auc,
        "events_assoc_rules": _q_events_assoc_rules,
        "kg_graph_diff": _q_kg_graph_diff,
        "kg_sparql_text": _q_kg_sparql_text,
        "kg_sparql_text_path_agg": _q_kg_sparql_text_path_agg,
        "events_autocorr": _q_events_autocorr,
        "docs_quality_calibration": _q_docs_quality_calibration,
        "docs_rater_kappa": _q_docs_rater_kappa,
        "transcripts_k_anonymity": _q_transcripts_k_anonymity,
        "stream_heavy_tokens": _q_stream_heavy_tokens,
        "kg_distmult_eval": _q_kg_distmult_eval,
        "docs_token_chi2": _q_docs_token_chi2,
        "events_trend_ols": _q_events_trend_ols,
        "docs_pareto_front": _q_docs_pareto_front,
        "kg_sparql_graph": _q_kg_sparql_graph,
        "graph_scc": _q_graph_scc,
        "graph_harmonic": _q_graph_harmonic,
        "events_ndcg": _q_events_ndcg,
        "docs_collocations_llr": _q_docs_collocations_llr,
        "docs_kneser_ney": _q_docs_kneser_ney,
        "linking_fs_scores": _q_linking_fs_scores,
        "kg_reify_roundtrip": _q_kg_reify_roundtrip,
        "graph_mis": _q_graph_mis,
        "graph_densest": _q_graph_densest,
        "graph_betweenness": _q_graph_betweenness,
        "graph_hits": _q_graph_hits,
        "graph_topo_layers": _q_graph_topo_layers,
        "graph_node_jaccard": _q_graph_node_jaccard,
        "docs_mannwhitney_length": _q_docs_mannwhitney_length,
        "docs_ks_length": _q_docs_ks_length,
        "docs_spearman_len_ws": _q_docs_spearman_len_ws,
        "docs_kendall_buckets": _q_docs_kendall_buckets,
        "events_pivot": _q_events_pivot,
        "events_active_users": _q_events_active_users,
        "docs_gini_tokens": _q_docs_gini_tokens,
        "transcripts_loss_mask": _q_transcripts_loss_mask,
        "kg_sparql_strfns": _q_kg_sparql_strfns,
        "docs_shuffle_order": _q_docs_shuffle_order,
        "events_props_stats": _q_events_props_stats,
        "events_subseq_patterns": _q_events_subseq_patterns,
        "events_itemsets": _q_events_itemsets,
        "docs_bootstrap_mean": _q_docs_bootstrap_mean,
        "events_attribution_linear": _q_events_attribution_linear,
        "docs_percentile_by_source": _q_docs_percentile_by_source,
        "kg_rdf_lists": _q_kg_rdf_lists,
        "events_active_users_hll": _q_events_active_users_hll,
        "events_pit_join": _q_events_pit_join,
        "docs_compaction_plan": _q_docs_compaction_plan,
        "events_seasonal_anomaly": _q_events_seasonal_anomaly,
        "docs_winsorized_len": _q_docs_winsorized_len,
        "events_lateness_audit": _q_events_lateness_audit,
        "docs_nfc_dedup": _q_docs_nfc_dedup,
        "docs_token_burstiness": _q_docs_token_burstiness,
        "transcripts_tool_entropy": _q_transcripts_tool_entropy,
        "docs_hrw_shards": _q_docs_hrw_shards,
        "embeddings_jl_project": _q_embeddings_jl_project,
        "docs_bootstrap_by_source": _q_docs_bootstrap_by_source,
        "kg_sparql_update_text": _q_kg_sparql_update_text,
        "kg_temporal_reachability": _q_kg_temporal_reachability,
        "transcripts_boilerplate_strip": _q_transcripts_boilerplate_strip,
        "transcripts_dpo_pairs": _q_transcripts_dpo_pairs,
        "transcripts_truncate_context": _q_transcripts_truncate_context,
        "events_cube": _q_events_cube,
        "events_mad": _q_events_mad,
        "kg_rdf_containers": _q_kg_rdf_containers,
        "graph_simrank": _q_graph_simrank,
        "docs_feature_hashing": _q_docs_feature_hashing,
        "events_theilsen": _q_events_theilsen,
        "graph_eccentricity": _q_graph_eccentricity,
        "docs_lexical_profile": _q_docs_lexical_profile,
        "tokenizer_unigram_viterbi": _q_tokenizer_unigram_viterbi,
        "embeddings_power_iteration": _q_embeddings_power_iteration,
        "docs_curriculum_interleave": _q_docs_curriculum_interleave,
        "transcripts_tool_loops": _q_transcripts_tool_loops,
        "kg_sparql_in": _q_kg_sparql_in,
        "transcripts_turn_taking": _q_transcripts_turn_taking,
        "transcripts_time_allocation": _q_transcripts_time_allocation,
        "transcripts_episodes": _q_transcripts_episodes,
        "docs_zone_maps": _q_docs_zone_maps,
        "docs_langid_report": _q_docs_langid_report,
        "embeddings_dominant_eigen": _q_embeddings_dominant_eigen,
        "multimodal_bmp_features": _q_multimodal_bmp_features,
        "events_benford": _q_events_benford,
        "events_gap_histogram": _q_events_gap_histogram,
        "docs_zipf": _q_docs_zipf,
        "stream_psi_drift": _q_stream_psi_drift,
        "transcripts_sft_packing": _q_transcripts_sft_packing,
        "embeddings_covariance_diag": _q_embeddings_covariance_diag,
        "events_outliers_robust": _q_events_outliers_robust,
        "docs_frequency_spectrum": _q_docs_frequency_spectrum,
        "embeddings_quant_audit": _q_embeddings_quant_audit,
        "kg_degree_distribution": _q_kg_degree_distribution,
        "events_dfg": _q_events_dfg,
        "events_conformance": _q_events_conformance,
        "docs_uncertainty_queue": _q_docs_uncertainty_queue,
        "events_srm": _q_events_srm,
        "docs_perplexity_buckets": _q_docs_perplexity_buckets,
        "transcripts_tool_latency": _q_transcripts_tool_latency,
        "graph_rich_club": _q_graph_rich_club,
        # --- previously driver-checked (green in r1-r4) ---
        "dedup_exact": _q_dedup_exact,
        "dedup_minhash": _q_dedup_minhash,
        "dedup_simhash": _q_dedup_simhash,
        "dedup_embedding": _q_dedup_embedding,
        "dedup_embedding_deep": _q_dedup_embedding_deep,
        "dedup_keep_docs": _q_dedup_keep_docs,
        "dedup_ngram_jaccard": _q_dedup_ngram_jaccard,
        "cosine_pairs_exact": _q_cosine_pairs_exact,
        "similarity_topk": _q_similarity_topk,
        "similarity_topk_lsh": _q_similarity_topk_lsh,
        "similarity_topk_ivf": _q_similarity_topk_ivf,
        "multimodal_features": _q_multimodal_features,
        "multimodal_wav_features": _q_multimodal_wav_features,
        "multimodal_png_features": _q_multimodal_png_features,
        "text_quality": _q_text_quality,
        "lang_id": _q_lang_id,
        "docs_langid_confusion": _q_docs_langid_confusion,
        "token_frequencies": _q_token_frequencies,
        "docs_cms_tokens": _q_docs_cms_tokens,
        "docs_table_profile": _q_docs_table_profile,
        "bpe_train_merges": _q_bpe_train_merges,
        "bpe_encode_tokens": _q_bpe_encode_tokens,
        "docs_chunking": _q_docs_chunking,
        "events_scd2": _q_events_scd2,
        "events_rate_anomaly": _q_events_rate_anomaly,
        "events_cohort_retention": _q_events_cohort_retention,
        "events_funnel": _q_events_funnel,
        "events_survival": _q_events_survival,
        "events_rollup": _q_events_rollup,
        "events_bloom_semi": _q_events_bloom_semi,
        "events_session_paths": _q_events_session_paths,
        "events_rfm": _q_events_rfm,
        "events_ivm_delta": _q_events_ivm_delta,
        "events_global_quantiles": _q_events_global_quantiles,
        "events_skew_profile": _q_events_skew_profile,
        "docs_edit_distance_pairs": _q_docs_edit_distance_pairs,
        "graph_random_walks": _q_graph_random_walks,
        "docs_source_hll_overlap": _q_docs_source_hll_overlap,
        "docs_zorder_files": _q_docs_zorder_files,
        "docs_stratified_split": _q_docs_stratified_split,
        "graph_bfs_distances": _q_graph_bfs_distances,
        "fingerprint_md5": _q_fingerprint_md5,
        "contamination_ngram": _q_contamination_ngram,
        "docs_repetition": _q_docs_repetition,
        "vocab_oov_rate": _q_vocab_oov_rate,
        "pack_sequences": _q_pack_sequences,
        "stream_contamination": _q_stream_contamination,
        "transcript_turn_dedup": _q_transcript_turn_dedup,
        "ivf_kmeans_step": _q_ivf_kmeans_step,
        "repeated_spans": _q_repeated_spans,
        "docs_length_profile": _q_docs_length_profile,
        "events_sessionize": _q_events_sessionize,
        "cc_components": _q_cc_components,
        "entity_linking_transcripts": _q_entity_linking_transcripts,
        "kg_graph_transcripts": _q_kg_graph_transcripts,
        "kg_bgp_comention": _q_kg_bgp_comention,
        "kg_bgp_optional": _q_kg_bgp_optional,
        "kg_stream_parity": _q_kg_stream_parity,
        "events_asof_attribution": _q_events_asof_attribution,
        "events_value_bands": _q_events_value_bands,
        "events_sessions_stream": _q_events_sessions_stream,
        "stream_dedup_counts": _q_stream_dedup_counts,
        "mention_triangles": _q_mention_triangles,
        "mention_pagerank": _q_mention_pagerank,
        "docs_bm25": _q_docs_bm25,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "rml_extend_customer": _SQL_RML_EXTEND_CUSTOMER,
        "rml_join_customer_nation": _SQL_RML_JOIN,
        "rml_quads_orders": _SQL_RML_QUADS_ORDERS,
        "rml_fanout_nation": _SQL_RML_FANOUT,
        "rml_union_one_target": _SQL_RML_UNION,
        "rml_blank_nodes": _SQL_RML_BLANK,
        "rml_invalid_iri": _SQL_RML_INVALID,
        "rml_turtle_supplier": _SQL_RML_TURTLE_SUPPLIER,
        "rml_selfjoin_part": _SQL_RML_SELFJOIN,
        "dedup_exact": _SQL_DEDUP_EXACT,
        "dedup_minhash": _SQL_DEDUP_MINHASH,
        "dedup_simhash": _SQL_DEDUP_SIMHASH,
        "dedup_embedding": _SQL_DEDUP_EMBEDDING,
        "dedup_embedding_deep": _SQL_DEDUP_EMBEDDING_DEEP,
        "dedup_keep_docs": _SQL_DEDUP_KEEP_DOCS,
        "dedup_ngram_jaccard": _SQL_DEDUP_NGRAM,
        "cosine_pairs_exact": _SQL_COSINE_PAIRS,
        "similarity_topk": _SQL_SIMILARITY_TOPK,
        "text_quality": _SQL_TEXT_QUALITY,
        "lang_id": _SQL_LANG_ID,
        "docs_langid_confusion": _SQL_LANGID_CONFUSION,
        "token_frequencies": _SQL_TOKEN_FREQ,
        "docs_cms_tokens": _SQL_DOCS_CMS_TOKENS,
        "docs_table_profile": _SQL_DOCS_TABLE_PROFILE,
        "bpe_train_merges": _SQL_BPE_TRAIN,
        "bpe_encode_tokens": _SQL_BPE_ENCODE,
        "docs_chunking": _SQL_DOCS_CHUNKING,
        "events_scd2": _SQL_EVENTS_SCD2,
        "events_rate_anomaly": _SQL_EVENTS_RATE_ANOMALY,
        "events_cohort_retention": _SQL_COHORT_RETENTION,
        "events_funnel": _SQL_EVENTS_FUNNEL,
        "events_survival": _SQL_EVENTS_SURVIVAL,
        "events_rollup": _SQL_EVENTS_ROLLUP,
        "events_bloom_semi": _SQL_EVENTS_BLOOM_SEMI,
        "events_session_paths": _SQL_EVENTS_SESSION_PATHS,
        "events_rfm": _SQL_EVENTS_RFM,
        "events_ivm_delta": _SQL_EVENTS_IVM_DELTA,
        "events_global_quantiles": _SQL_EVENTS_GLOBAL_QUANTILES,
        "events_skew_profile": _SQL_EVENTS_SKEW_PROFILE,
        "docs_edit_distance_pairs": _SQL_DOCS_EDIT_PAIRS,
        "graph_random_walks": _SQL_GRAPH_RANDOM_WALKS,
        "docs_source_hll_overlap": _SQL_DOCS_SOURCE_HLL_OVERLAP,
        "docs_zorder_files": _SQL_DOCS_ZORDER_FILES,
        "docs_stratified_split": _SQL_STRATIFIED_SPLIT,
        "graph_bfs_distances": _SQL_GRAPH_BFS,
        "fingerprint_md5": _SQL_FINGERPRINT,
        "contamination_ngram": _SQL_CONTAMINATION,
        "docs_repetition": _SQL_DOCS_REPETITION,
        "vocab_oov_rate": _SQL_VOCAB_OOV,
        "docs_unigram_xent": _SQL_UNIGRAM_XENT,
        "docs_hll_distinct": _SQL_HLL_DISTINCT,
        "docs_importance_resample": _SQL_IMPORTANCE_RESAMPLE,
        "docs_winnowing": _SQL_DOCS_WINNOWING,
        "stream_hll_distinct": _SQL_STREAM_HLL,
        "docs_cdc_chunks": _SQL_CDC_CHUNKS,
        "docs_textrank": _SQL_DOCS_TEXTRANK,
        "docs_bigram_xent": _SQL_BIGRAM_XENT,
        "docs_tfidf_pairs": _SQL_TFIDF_PAIRS,
        "docs_filter_pipeline": _SQL_FILTER_PIPELINE,
        "docs_mixture_weights": _SQL_MIXTURE_WEIGHTS,
        "docs_top_tokens_per_source": _SQL_TOP_TOKENS_PER_SOURCE,
        "embeddings_label_cosines": _SQL_EMB_LABEL_COSINES,
        "docs_source_divergence": _SQL_SOURCE_DIVERGENCE,
        "pack_sequences": _SQL_PACK_SEQUENCES,
        "stream_contamination": _SQL_STREAM_CONTAMINATION,
        "transcript_turn_dedup": _SQL_TURN_DEDUP,
        "ivf_kmeans_step": _SQL_IVF_KMEANS,
        "ivf_kmeans_train": _SQL_IVF_KMEANS_TRAIN,
        "pq_encode_codes": _SQL_PQ_ENCODE,
        "pq_adc_topk": _SQL_PQ_ADC_TOPK,
        "repeated_spans": _SQL_REPEATED_SPANS,
        "docs_duplicated_ranges": _SQL_DOCS_DUPLICATED_RANGES,
        "docs_length_profile": _SQL_DOCS_LENGTH_PROFILE,
        "events_sessionize": _SQL_EVENTS_SESSIONIZE,
        "cc_components": _SQL_CC_COMPONENTS,
        "dedup_keep_list": _SQL_DEDUP_KEEP_LIST,
        "entity_linking_transcripts": _SQL_ENTITY_LINKING,
        "linking_quality": _SQL_LINKING_QUALITY,
        "kg_resolve_weighted": _resolve_weighted_oracle_sql(),
        "kg_verbalize_docs": _verbalize_oracle_sql(),
        "kg_graph_transcripts": _SQL_KG_GRAPH,
        "kg_entity_intervals": _SQL_ENTITY_INTERVALS,
        "kg_interval_cooccurrence": _SQL_INTERVAL_COOC,
        "kg_temporal_quads": _SQL_TEMPORAL_QUADS.format(
            ints=_SQL_ENTITY_INTERVALS
        ),
        "kg_intervals_incremental": _SQL_ENTITY_INTERVALS,
        "kg_entity_profiles": _entity_profiles_oracle_sql(),
        "kg_pagerank_weighted": _pagerank_weighted_oracle_sql(),
        "kg_active_between": _SQL_ACTIVE_BETWEEN.format(
            ints=_SQL_ENTITY_INTERVALS
        ),
        "docs_sample_per_group": _SQL_SAMPLE_PER_GROUP,
        "docs_weighted_sample": _SQL_WEIGHTED_SAMPLE,
        "docs_heavy_tokens": _SQL_HEAVY_TOKENS,
        "kg_intervals_canonical": _canonical_intervals_oracle_sql(),
        "kg_mentions_by_segment": _mentions_by_segment_oracle_sql(),
        "transcripts_dedup_convs": _SQL_DEDUP_CONVS,
        "transcripts_latency": _SQL_TRANSCRIPTS_LATENCY,
        "transcripts_tool_transitions": _SQL_TOOL_TRANSITIONS,
        "kg_temporal_communities": _SQL_TEMPORAL_COMMUNITIES.format(
            cooc=_SQL_INTERVAL_COOC
        ),
        "kg_bgp_comention": _SQL_BGP_COMENTION,
        "kg_bgp_aggregate": _SQL_BGP_AGGREGATE,
        "kg_bgp_optional": _SQL_BGP_OPTIONAL,
        "kg_stream_parity": _SQL_KG_STREAM,
        "multimodal_wav_features": _SQL_MULTIMODAL_WAV,
        "multimodal_png_features": _SQL_MULTIMODAL_PNG,
        "multimodal_features": _SQL_MULTIMODAL_FEATURES,
        "similarity_topk_lsh": _SQL_SIMILARITY_TOPK,
        "similarity_topk_ivf": _SQL_SIMILARITY_TOPK_IVF,
        "events_asof_attribution": _SQL_EVENTS_ASOF,
        "events_value_bands": _SQL_EVENTS_RANGE,
        "events_sessions_stream": _SQL_EVENTS_SESSIONS_STREAM,
        "stream_dedup_counts": _SQL_STREAM_DEDUP_COUNTS,
        "graph_link_prediction": _SQL_GRAPH_LINK_PREDICTION,
        "mention_triangles": _SQL_MENTION_TRIANGLES,
        "mention_pagerank": _SQL_MENTION_PAGERANK,
        "mention_communities": _SQL_MENTION_COMMUNITIES,
        "kg_entity_pmi": _SQL_KG_ENTITY_PMI,
        "kg_schema_graph": _SQL_KG_SCHEMA_GRAPH,
        "kg_entity_trending": _SQL_KG_ENTITY_TRENDING,
        "docs_source_overlap": _SQL_SOURCE_OVERLAP,
        "stream_interval_join": _SQL_STREAM_INTERVAL_JOIN,
        "doc_hash_split": _SQL_DOC_HASH_SPLIT,
        "docs_bm25": _SQL_DOCS_BM25,
        "bigram_pmi": _SQL_BIGRAM_PMI,
        "skew_salted_join": _SQL_SKEW_SALTED_JOIN,
        "graph_closure": _SQL_GRAPH_CLOSURE,
        "graph_closure_incremental": _SQL_GRAPH_CLOSURE_INCREMENTAL,
        "graph_kcore": _SQL_GRAPH_KCORE,
        "graph_ppr": _SQL_GRAPH_PPR,
        "graph_shortest_path": _SQL_GRAPH_SHORTEST_PATH,
        "graph_assortativity": _SQL_GRAPH_ASSORTATIVITY,
        "graph_clustering": _SQL_GRAPH_CLUSTERING,
        "kg_predicate_profile": _SQL_KG_PRED_PROFILE,
        "kg_resolve_functional": _SQL_KG_RESOLVE_FUNCTIONAL,
        "kg_negative_samples": _SQL_KG_NEGATIVE_SAMPLES,
        "kg_nquads_roundtrip": _SQL_KG_NQUADS_ROUNDTRIP,
        "kg_turtle_roundtrip": _SQL_KG_TURTLE_ROUNDTRIP,
        "kg_shacl_violations": _SQL_KG_SHACL,
        "kg_bgp_path_descendants": _SQL_KG_BGP_PATH,
        "kg_bgp_path_inverse_seq": _SQL_KG_BGP_PATH_INV_SEQ,
        "kg_bgp_path_bounded": _SQL_KG_BGP_PATH_BOUNDED,
        "kg_bgp_path_nps": _SQL_KG_BGP_PATH_NPS,
        "kg_sparql_modifiers": _SQL_KG_SPARQL_MODIFIERS,
        "kg_sparql_ask": _SQL_KG_SPARQL_ASK,
        "kg_describe": _SQL_KG_DESCRIBE,
        "kg_sparql_construct": _SQL_KG_SPARQL_CONSTRUCT,
        "entity_linking_incremental": _SQL_ENTITY_LINKING,
        "kg_transe_eval": _SQL_KG_TRANSE,
        "dedup_semantic": _SQL_DEDUP_SEMANTIC,
        "dedup_semantic_scaledk": _SQL_DEDUP_SEMANTIC_SCALEDK,
        # the planned-band path answers the same exact question, so it
        # shares the exact all-pairs oracle (recall-1.0 pinned)
        "dedup_embedding_planned": _SQL_DEDUP_EMBEDDING,
        "kg_snapshot_diff": _SQL_KG_SNAPSHOT_DIFF,
        "kg_snapshot_asof": _SQL_KG_SNAPSHOT_ASOF,
        "kg_rdfs_entailment": _SQL_KG_RDFS_ENTAILMENT,
        "kg_rdfs_incremental": _SQL_KG_RDFS_INCREMENTAL,
        "kg_owl_inference": _SQL_KG_OWL_INFERENCE,
        "kg_sameas_canonical": _SQL_KG_SAMEAS_CANONICAL,
        "kg_provenance": _SQL_KG_PROVENANCE,
        "docs_quality_model": _SQL_DOCS_QUALITY_MODEL,
        "docs_quality_model_trained": _SQL_DOCS_QUALITY_MODEL_TRAINED,
        "transcripts_render": _SQL_TRANSCRIPTS_RENDER,
        "transcripts_sft_pairs": _SQL_TRANSCRIPTS_SFT_PAIRS,
        "transcripts_dedup_paragraphs": _SQL_TRANSCRIPTS_DEDUP_PARAS,
        "docs_pii_scrub": _SQL_DOCS_PII_SCRUB,
        "docs_budget_mix": _SQL_DOCS_BUDGET_MIX,
        "transcripts_segment": _SQL_TRANSCRIPTS_SEGMENT,
        "dedup_incremental_shard": _SQL_DEDUP_INCREMENTAL_SHARD,
        "docs_containment": _SQL_DOCS_CONTAINMENT,
        "events_gap_fill": _SQL_EVENTS_GAP_FILL,
        "events_window_features": _SQL_EVENTS_WINDOW_FEATURES,
        "docs_rank_fusion": _SQL_DOCS_RANK_FUSION,
        "events_ewma": _SQL_EVENTS_EWMA,
        "events_ab_test": _SQL_EVENTS_AB_TEST,
        "events_changepoint": _SQL_EVENTS_CHANGEPOINT,
        "kg_sparql_update": _SQL_KG_SPARQL_UPDATE,
        "docs_quality_auc": _SQL_DOCS_QUALITY_AUC,
        "events_assoc_rules": _SQL_EVENTS_ASSOC_RULES,
        "kg_wl_structural_dedup": _SQL_KG_WL_STRUCTURAL_DEDUP,
        "kg_blank_canonical": _SQL_KG_BLANK_CANONICAL,
        "kg_graph_diff": _SQL_KG_GRAPH_DIFF,
        "kg_sparql_text": _SQL_KG_SPARQL_TEXT,
        "kg_sparql_text_path_agg": _SQL_KG_SPARQL_TEXT_PATH_AGG,
        "events_autocorr": _SQL_EVENTS_AUTOCORR,
        "docs_quality_calibration": _SQL_DOCS_QUALITY_CALIBRATION,
        "docs_rater_kappa": _SQL_DOCS_RATER_KAPPA,
        "graph_ktruss": _SQL_GRAPH_KTRUSS,
        "transcripts_k_anonymity": _SQL_TRANSCRIPTS_K_ANONYMITY,
        "dedup_minhash_oph": _SQL_DEDUP_MINHASH,
        "stream_heavy_tokens": _SQL_HEAVY_TOKENS,
        "kg_distmult_eval": _SQL_KG_DISTMULT,
        "docs_token_chi2": _SQL_DOCS_TOKEN_CHI2,
        "events_trend_ols": _SQL_EVENTS_TREND_OLS,
        "graph_modularity": _SQL_GRAPH_MODULARITY,
        "docs_pareto_front": _SQL_DOCS_PARETO_FRONT,
        "kg_sparql_subquery": _SQL_KG_SPARQL_SUBQUERY,
        "kg_sparql_graph": _SQL_KG_SPARQL_GRAPH,
        "kg_sparql_group_concat": _SQL_KG_SPARQL_GROUP_CONCAT,
        "graph_scc": _SQL_GRAPH_SCC,
        "graph_harmonic": _SQL_GRAPH_HARMONIC,
        "graph_hyperball": _SQL_GRAPH_HYPERBALL,
        "events_ndcg": _SQL_EVENTS_NDCG,
        "docs_collocations_llr": _SQL_DOCS_COLLOCATIONS_LLR,
        "docs_kneser_ney": _SQL_DOCS_KNESER_NEY,
        "linking_fs_scores": _SQL_LINKING_FS,
        "kg_reify_roundtrip": (
            f"WITH kg AS ({_SQL_KG_GRAPH})\n"
            "SELECT DISTINCT subj, pred, obj, okind FROM kg"
        ),
        "graph_mis": _SQL_GRAPH_MIS,
        "graph_butterflies": _SQL_GRAPH_BUTTERFLIES,
        "graph_densest": _SQL_GRAPH_DENSEST,
        "graph_betweenness": _SQL_GRAPH_BETWEENNESS,
        "graph_hits": _SQL_GRAPH_HITS,
        "graph_topo_layers": _SQL_GRAPH_TOPO,
        "graph_node_jaccard": _SQL_GRAPH_NODE_JACCARD,
        "docs_mannwhitney_length": _SQL_DOCS_MANNWHITNEY_LENGTH,
        "docs_ks_length": _SQL_DOCS_KS_LENGTH,
        "docs_spearman_len_ws": _SQL_DOCS_SPEARMAN_LEN_WS,
        "docs_kendall_buckets": _SQL_DOCS_KENDALL_BUCKETS,
        "events_pivot": _SQL_EVENTS_PIVOT,
        "events_active_users": _SQL_EVENTS_ACTIVE_USERS,
        "docs_gini_tokens": _SQL_DOCS_GINI_TOKENS,
        "transcripts_loss_mask": _SQL_TRANSCRIPTS_LOSS_MASK,
        "kg_sparql_strfns": _SQL_KG_SPARQL_STRFNS,
        "docs_shuffle_order": _SQL_DOCS_SHUFFLE_ORDER,
        "events_props_stats": _SQL_EVENTS_PROPS_STATS,
        "events_subseq_patterns": _SQL_EVENTS_SUBSEQ_PATTERNS,
        "events_itemsets": _SQL_EVENTS_ITEMSETS,
        "docs_bootstrap_mean": _SQL_DOCS_BOOTSTRAP_MEAN,
        "events_attribution_linear": _SQL_EVENTS_ATTRIBUTION_LINEAR,
        "docs_percentile_by_source": _SQL_DOCS_PERCENTILE_BY_SOURCE,
        "similarity_topk_ivfpq": _SQL_SIMILARITY_TOPK_IVFPQ,
        "kg_rdf_lists": _SQL_KG_RDF_LISTS,
        "events_active_users_hll": _SQL_EVENTS_ACTIVE_USERS_HLL,
        "events_pit_join": _SQL_EVENTS_PIT_JOIN,
        "docs_compaction_plan": _SQL_DOCS_COMPACTION_PLAN,
        "events_seasonal_anomaly": _SQL_EVENTS_SEASONAL_ANOMALY,
        "docs_winsorized_len": _SQL_DOCS_WINSORIZED_LEN,
        "events_lateness_audit": _SQL_EVENTS_LATENESS_AUDIT,
        "docs_nfc_dedup": _SQL_DOCS_NFC_DEDUP,
        "docs_token_burstiness": _SQL_DOCS_TOKEN_BURSTINESS,
        "transcripts_tool_entropy": _SQL_TRANSCRIPTS_TOOL_ENTROPY,
        "docs_hrw_shards": _SQL_DOCS_HRW_SHARDS,
        "embeddings_jl_project": _SQL_EMBEDDINGS_JL_PROJECT,
        "docs_bootstrap_by_source": _SQL_DOCS_BOOTSTRAP_BY_SOURCE,
        "kg_sparql_update_text": _SQL_KG_SPARQL_UPDATE_TEXT,
        "kg_temporal_reachability": _SQL_KG_TEMPORAL_REACHABILITY,
        "transcripts_boilerplate_strip": _SQL_TRANSCRIPTS_BOILERPLATE_STRIP,
        "transcripts_dpo_pairs": _SQL_TRANSCRIPTS_DPO_PAIRS,
        "transcripts_prefix_dedup": _SQL_TRANSCRIPTS_PREFIX_DEDUP,
        "transcripts_truncate_context": _SQL_TRANSCRIPTS_TRUNCATE_CONTEXT,
        "events_cube": _SQL_EVENTS_CUBE,
        "events_mad": _SQL_EVENTS_MAD,
        "docs_target_encoding": _SQL_DOCS_TARGET_ENCODING,
        "kg_rdf_containers": _SQL_KG_RDF_CONTAINERS,
        "graph_simrank": _SQL_GRAPH_SIMRANK,
        "docs_feature_hashing": _SQL_DOCS_FEATURE_HASHING,
        "events_sax": _SQL_EVENTS_SAX,
        "events_theilsen": _SQL_EVENTS_THEILSEN,
        "graph_eccentricity": _SQL_GRAPH_ECCENTRICITY,
        "docs_lexical_profile": _SQL_DOCS_LEXICAL_PROFILE,
        "tokenizer_unigram_viterbi": _SQL_TOKENIZER_UNIGRAM_VITERBI,
        "embeddings_power_iteration": _SQL_EMBEDDINGS_POWER_ITERATION,
        "docs_curriculum_interleave": _SQL_DOCS_CURRICULUM_INTERLEAVE,
        "transcripts_tool_loops": _SQL_TRANSCRIPTS_TOOL_LOOPS,
        "events_psi_drift": _SQL_EVENTS_PSI_DRIFT,
        "kg_sparql_in": _SQL_KG_SPARQL_IN,
        "transcripts_turn_taking": _SQL_TRANSCRIPTS_TURN_TAKING,
        "transcripts_time_allocation": _SQL_TRANSCRIPTS_TIME_ALLOCATION,
        "transcripts_episodes": _SQL_TRANSCRIPTS_EPISODES,
        "docs_zone_maps": _SQL_DOCS_ZONE_MAPS,
        "docs_langid_report": _SQL_DOCS_LANGID_REPORT,
        "embeddings_dominant_eigen": _SQL_EMBEDDINGS_DOMINANT_EIGEN,
        "multimodal_bmp_features": _SQL_MULTIMODAL_BMP,
        "graph_weighted_distances": _SQL_GRAPH_WEIGHTED_DISTANCES,
        "events_benford": _SQL_EVENTS_BENFORD,
        "events_gap_histogram": _SQL_EVENTS_GAP_HISTOGRAM,
        "docs_zipf": _SQL_DOCS_ZIPF,
        "stream_psi_drift": _SQL_EVENTS_PSI_DRIFT,
        "transcripts_sft_packing": _SQL_TRANSCRIPTS_SFT_PACKING,
        "embeddings_covariance_diag": _SQL_EMBEDDINGS_COVARIANCE_DIAG,
        "events_outliers_robust": _SQL_EVENTS_OUTLIERS_ROBUST,
        "docs_frequency_spectrum": _SQL_DOCS_FREQUENCY_SPECTRUM,
        "embeddings_quant_audit": _SQL_EMBEDDINGS_QUANT_AUDIT,
        "transcripts_catalog": _SQL_TRANSCRIPTS_CATALOG,
        "kg_degree_distribution": _SQL_KG_DEGREE_DISTRIBUTION,
        "events_dfg": _SQL_EVENTS_DFG,
        "events_conformance": _SQL_EVENTS_CONFORMANCE,
        "docs_uncertainty_queue": _SQL_DOCS_UNCERTAINTY_QUEUE,
        "events_srm": _SQL_EVENTS_SRM,
        "docs_perplexity_buckets": _SQL_DOCS_PERPLEXITY_BUCKETS,
        "transcripts_tool_latency": _SQL_TRANSCRIPTS_TOOL_LATENCY,
        "graph_rich_club": _SQL_GRAPH_RICH_CLUB,
    }

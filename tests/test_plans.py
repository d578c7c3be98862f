"""Physical-plan quality audits — the 100 TB checklist as assertions.

- column pruning reaches the scan (ReadSchema carries only needed cols)
- no row-at-a-time Python anywhere (BatchEvalPython forbidden; Arrow only)
- UDFs evaluated below the explode in extraction (once per input row)
- the canonical-dictionary rewrite join is a broadcast join
"""

import pytest
from pyspark.sql import functions as F

from mopper_spark.engine import run_plan
from mopper_spark.options import MopperOptions
from mopper_spark.pipeline.extract import extract_triples
from mopper_spark.pipeline.transcripts import synth_transcripts


def _plan_str(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def transcripts(spark):
    return synth_transcripts(spark, n_turns=500, n_convs=10)


def test_engine_scan_is_column_pruned(spark):
    """Projection folded into the source must reach the parquet scan."""
    plan = {
        "nodes": [
            {"id": "S", "operator": {"type": "SourceOp", "config": {
                "path": "/root/testdata/sf0.001/customer.parquet",
                "source_type": "File",
                "root_iterator": {"reference_formulation": "CSVRows"}}}},
            {"id": "P", "operator": {"type": "ProjectOp", "config": {
                "projection_attributes": ["c_name"]}}},
            {"id": "E", "operator": {"type": "ExtendOp", "config": {
                "?o": {"type": "Literal", "inner_function": {
                    "type": "Reference", "value": "c_name"},
                    "dtype_function": None, "langtype_function": None},
                "?p": {"type": "Iri", "base_iri": None, "inner_function": {
                    "type": "Constant", "value": "http://example.com/name"}}}}},
            {"id": "Z", "operator": {"type": "SerializerOp", "config": {
                "template": "?p ?o .", "format": "NQuads"}}},
            {"id": "T", "operator": {"type": "TargetOp", "config": {
                "target_type": "StdOut"}}},
        ],
        "edges": [[0, 1, {"fragment": "default"}], [1, 2, {"fragment": "default"}],
                  [2, 3, {"fragment": "default"}], [3, 4, {"fragment": "default"}]],
    }
    df = run_plan(plan, spark, MopperOptions())[0].statements
    s = _plan_str(df)
    assert "ReadSchema: struct<c_name:string>" in s, s[:2000]
    assert "BatchEvalPython" not in s


def test_extraction_fully_native(transcripts):
    """The extraction hot path compiles to zero Python stages: UriEncode is
    native (``url_encode`` plus literal replacements), so the
    whole plan is JVM-side and scales with cores instead of contending for
    the UDF worker pool (if a UDF ever reappears here, it must at least
    sit BELOW the explode — see git history for that weaker audit)."""
    s = _plan_str(extract_triples(transcripts))
    assert "BatchEvalPython" not in s
    assert "ArrowEvalPython" not in s, "extraction should be fully native"
    assert "Generate explode" in s


def test_no_batch_eval_python_in_queries(catalog_builds):
    """Every driver-contract query plan must stay Arrow-only."""
    for name, (_, s) in catalog_builds.items():
        if name in ("entity_linking_transcripts",):  # orderBy collect-side
            continue
        assert "BatchEvalPython" not in s, f"{name} uses row-at-a-time Python"
        if name.startswith("rml_"):
            # the whole mapping-engine surface (UriEncode + Iri incl. the
            # INVALID slow path) compiles to native expressions
            assert "ArrowEvalPython" not in s, f"{name} should be UDF-free"


def test_canonical_rewrite_broadcasts(spark, transcripts, tmp_path):
    """``mention_triples`` gives no broadcast hint: the pipeline passes the
    canonical stage's parquet read-back, whose file size lets the planner
    broadcast the map while it is small."""
    from mopper_spark.pipeline.extract import extract_mentions, mention_triples

    mentions = extract_mentions(transcripts)
    spark.createDataFrame(
        [("venus williams", "venus williams", "http://example.com/entity/venus")],
        "norm string, canonical_norm string, canonical_iri string",
    ).write.parquet(str(tmp_path / "canonical"))
    canonical = spark.read.parquet(str(tmp_path / "canonical"))
    s = _plan_str(mention_triples(mentions, canonical))
    assert "BroadcastHashJoin" in s


def test_skew_profile_is_take_ordered(spark):
    """skew_profile's top-k must plan as TakeOrderedAndProject (per-
    partition top-k heaps), NOT a single-partition rank window over every
    distinct key (VERDICT r4 #5)."""
    from mopper_spark.textops.analysis import skew_profile

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    s = _plan_str(skew_profile(ev, ["event_type"], top_k=5))
    assert "TakeOrderedAndProject" in s

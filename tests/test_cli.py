"""The command line over CSV files: the header is read on the driver, and
``main()`` writes each target with one Spark text write and concatenates the
part files into the destination."""

import gzip
import json
import tempfile
import types
import uuid

import pytest
from pyspark.sql import SparkSession
from pyspark.sql.readwriter import DataFrameWriter

from mopper_spark import __main__ as cli
from mopper_spark import session
from mopper_spark.engine import run_plan, run_plan_to_lines
from mopper_spark.options import MopperOptions
from mopper_spark.rml import mapping_to_plan
from mopper_spark.session import get_spark
from mopper_spark.sources import resolve_source

# -- CSV header schema ------------------------------------------------------

HEADERS = {
    "plain.csv": b"a,b,c\n1,2,3\n",
    "quoted_comma.csv": b'"a,b",c\n1,2\n',
    "padded.csv": b" a , b ,c \n1,2,3\n",
    "non_ascii.csv": "ä,名前,ç\n1,2,3\n".encode(),
    "crlf.csv": b"a,b\r\n1,2\r\n",
    "cr.csv": b"a,b\r1,2\r",
    "empty_file.csv": b"",
    "duplicates.csv": b"id,ID,name,id\n1,2,3,4\n",
    "empty_name.csv": b"a,,c\n1,2,3\n",
    "trailing_comma.csv": b"a,b,\n1,2,3\n",
    "bom.csv": "\ufeffa,b\n1,2\n".encode(),
    "blank_lines_first.csv": b"\n  \na,b\n1,2\n",
    "tab_line_first.csv": b"\t\na,b\n1,2\n",
    "backslash.csv": b"a\\b,c\n1,2\n",
    "doubled_quote.csv": b'"a""b",c\n1,2\n',
    "backslash_quote.csv": b'"a\\"b",c\n1,2\n',
    "latin1.csv": "é,b\n1,2\n".encode("latin-1"),
    "gzip.csv.gz": gzip.compress(b"a,b\n1,2\n"),
}


def _csv_config(path: str) -> dict:
    return {
        "source_type": "File",
        "path": path,
        "root_iterator": {"reference_formulation": "CSVRows"},
    }


@pytest.mark.parametrize("case", sorted(HEADERS))
def test_header_schema_matches_spark_inference(spark, tmp_path, case):
    path = tmp_path / case
    path.write_bytes(HEADERS[case])
    got = resolve_source(spark, _csv_config(str(path)), MopperOptions())
    want = spark.read.option("header", "true").csv(str(path))
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_header_case_sensitive_duplicates(spark, tmp_path):
    path = tmp_path / "dupes.csv"
    path.write_bytes(b"id,ID,id\n1,2,3\n")
    spark.conf.set("spark.sql.caseSensitive", "true")
    try:
        got = resolve_source(spark, _csv_config(str(path)), MopperOptions())
        want = spark.read.option("header", "true").csv(str(path))
        assert got.columns == want.columns == ["id0", "ID", "id2"]
    finally:
        spark.conf.unset("spark.sql.caseSensitive")


# -- a mapping with a join and a multi-statement template ------------------

MAPPING = """\
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
@prefix ex: <http://example.com/> .

<#Turns> a rr:TriplesMap ;
  rml:logicalSource [ rml:source "turns.csv" ; rml:referenceFormulation ql:CSV ] ;
  rr:subjectMap [ rr:template "http://example.com/turn/{turn_id}" ; rr:class ex:Turn ] ;
  rr:predicateObjectMap [ rr:predicate ex:role ; rr:objectMap [ rml:reference "role" ] ] ;
  rr:predicateObjectMap [
    rr:predicate ex:inConversation ;
    rr:objectMap [ rr:parentTriplesMap <#Convs> ;
                   rr:joinCondition [ rr:child "conv_id" ; rr:parent "conv_id" ] ]
  ] .

<#Convs> a rr:TriplesMap ;
  rml:logicalSource [ rml:source "convs.csv" ; rml:referenceFormulation ql:CSV ] ;
  rr:subjectMap [ rr:template "http://example.com/conv/{conv_id}" ] ;
  rr:predicateObjectMap [ rr:predicate ex:title ; rr:objectMap [ rml:reference "title" ] ] .
"""

TURNS = (
    "turn_id,conv_id,role\n"
    "t1,c1,user\nt2,c1,assistant\nt3,c2,user\nt3,c2,user\nt4,c9,tool\n"
)
CONVS = "conv_id,title\nc1,Première\nc2,Second\n"


def _write_inputs(directory, turns=TURNS) -> str:
    (directory / "turns.csv").write_text(turns, encoding="utf-8")
    (directory / "convs.csv").write_text(CONVS, encoding="utf-8")
    path = directory / "mapping.ttl"
    path.write_text(MAPPING)
    return str(path)


def test_run_plan_over_csv_starts_no_job(spark, tmp_path):
    _write_inputs(tmp_path)
    plan = mapping_to_plan(MAPPING, "rml")
    sc = spark.sparkContext
    group = f"csv-build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        targets = run_plan(plan, spark, MopperOptions(working_dir_hint=str(tmp_path)))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    # the three StdOut sinks are identical, so the rewriter merges them
    assert [t.config["target_type"] for t in targets] == ["StdOut"]


# three triples maps shaped like the benchmark's command-line mapping: a
# graph map, classes, references, a template object and a join
BUDGET_MAPPING = """\
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
@prefix ex: <http://example.com/ontology/> .

<#Turns> a rr:TriplesMap ;
  rml:logicalSource [ rml:source "turns.csv" ; rml:referenceFormulation ql:CSV ] ;
  rr:subjectMap [ rr:template "http://example.com/turn/{turn_id}" ;
                  rr:class ex:Turn ;
                  rr:graphMap [ rr:template "http://example.com/graph/{role}" ] ] ;
  rr:predicateObjectMap [ rr:predicate ex:role ; rr:objectMap [ rml:reference "role" ] ] ;
  rr:predicateObjectMap [ rr:predicate ex:turnIdx ; rr:objectMap [ rml:reference "turn_idx" ] ] ;
  rr:predicateObjectMap [ rr:predicate ex:tool ; rr:objectMap [ rml:reference "tool" ] ] ;
  rr:predicateObjectMap [ rr:predicate ex:surface ; rr:objectMap [ rml:reference "mention" ] ] ;
  rr:predicateObjectMap [
    rr:predicate ex:mentions ;
    rr:objectMap [ rr:template "http://example.com/entity/{mention}" ]
  ] ;
  rr:predicateObjectMap [
    rr:predicate ex:inConversation ;
    rr:objectMap [ rr:parentTriplesMap <#Convs> ;
                   rr:joinCondition [ rr:child "conv_id" ; rr:parent "conv_id" ] ]
  ] .

<#Convs> a rr:TriplesMap ;
  rml:logicalSource [ rml:source "convs.csv" ; rml:referenceFormulation ql:CSV ] ;
  rr:subjectMap [ rr:template "http://example.com/conv/{conv_id}" ;
                  rr:class ex:Conversation ] ;
  rr:predicateObjectMap [ rr:predicate ex:title ; rr:objectMap [ rml:reference "title" ] ] .

<#Entities> a rr:TriplesMap ;
  rml:logicalSource [ rml:source "turns.csv" ; rml:referenceFormulation ql:CSV ] ;
  rr:subjectMap [ rr:template "http://example.com/entity/{mention}" ;
                  rr:class ex:Entity ] ;
  rr:predicateObjectMap [ rr:predicate ex:label ; rr:objectMap [ rml:reference "mention" ] ] .
"""


def test_run_plan_py4j_budget(spark, tmp_path, monkeypatch):
    """Building the plan's DataFrames stays within a py4j call budget: each
    ExtendOp is one ``selectExpr``, not a round trip per Column call."""
    from py4j.java_gateway import GatewayClient

    (tmp_path / "turns.csv").write_text(
        "turn_id,conv_id,turn_idx,role,tool,mention\n"
        "c0-0,c0,0,user,,Ada Lovelace\nc0-1,c0,1,assistant,search,A. Lovelace\n")
    (tmp_path / "convs.csv").write_text("conv_id,title\nc0,Conversation 0\n")
    plan = mapping_to_plan(BUDGET_MAPPING, "rml")
    calls = []
    send = GatewayClient.send_command

    def counting(self, *args, **kwargs):
        calls.append(1)
        return send(self, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counting)
    run_plan(plan, spark, MopperOptions(working_dir_hint=str(tmp_path)))
    monkeypatch.undo()
    assert 0 < len(calls) <= 400


# -- main() -----------------------------------------------------------------


@pytest.fixture
def staging_root(spark, tmp_path, monkeypatch):
    """``main()`` on the test session (its ``stop`` a no-op), with the
    temporary directory redirected; no staging directory may remain."""
    monkeypatch.setattr(session, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    root = tmp_path / "tmp"
    root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(root))
    yield root
    assert list(root.iterdir()) == []


def _expected(spark, plan, tmp_path, **options) -> bytes:
    opts = MopperOptions(working_dir_hint=str(tmp_path), **options)
    lines = run_plan_to_lines(plan, spark, opts)
    return ("\n".join(lines) + "\n").encode() if lines else b""


def test_force_to_file_bytes_and_truncation(spark, tmp_path, staging_root):
    mapping = _write_inputs(tmp_path)
    out = tmp_path / "out.nq"
    out.write_text("left by an earlier run\n" * 100)
    assert cli.main(["-m", mapping, "-l", "rml", "-q", "--force-to-file", str(out)]) == 0
    got = out.read_bytes()
    plan = mapping_to_plan(MAPPING, "rml")
    assert got == _expected(spark, plan, tmp_path, force_to_file=str(out))
    # a multi-statement row ends in a single newline, like every other row
    assert b"<http://example.com/Turn> .\n<http://example.com/turn/" in got
    assert "Première".encode() in got
    assert b"left by" not in got


def test_zero_statements_create_empty_file(tmp_path, staging_root):
    mapping = _write_inputs(tmp_path, turns="turn_id,conv_id,role\n")
    (tmp_path / "convs.csv").write_text("conv_id,title\n")
    out = tmp_path / "out.nq"
    out.write_text("stale\n")
    assert cli.main(["-m", mapping, "-l", "rml", "-q", "--force-to-file", str(out)]) == 0
    assert out.read_bytes() == b""


def test_file_targets_on_one_path_truncate_then_append(spark, tmp_path, staging_root):
    _write_inputs(tmp_path)
    out = tmp_path / "out.nq"
    out.write_text("stale\n")
    plan = mapping_to_plan(MAPPING, "rml")
    sinks = [n for n in plan["nodes"] if n["operator"]["type"] == "TargetOp"]
    # configs differ, so the rewriter keeps both targets
    sinks[0]["operator"]["config"] = {"target_type": "File", "path": str(out)}
    sinks[1]["operator"]["config"] = {
        "target_type": "File", "path": str(out), "data_format": "NQuads"}
    sinks[2]["operator"]["config"] = {"target_type": "StdOut"}
    plan_path = tmp_path / "plan.json"
    plan_path.write_text(json.dumps(plan))
    assert cli.main(["-m", str(plan_path), "-q"]) == 0
    targets = run_plan(plan, spark, MopperOptions(working_dir_hint=str(tmp_path)))
    want = b"".join(
        "".join(r[0] + "\n" for r in t.statements.collect() if r[0]).encode()
        for t in targets if t.config.get("path") == str(out)
    )
    assert out.read_bytes() == want
    assert not want.startswith(b"stale")


def test_stdout_target(spark, tmp_path, staging_root, capsys):
    mapping = _write_inputs(tmp_path)
    assert cli.main(["-m", mapping, "-l", "rml", "-q"]) == 0
    plan = mapping_to_plan(MAPPING, "rml")
    assert capsys.readouterr().out.encode() == _expected(spark, plan, tmp_path)


def test_deduplicate(spark, tmp_path, staging_root):
    mapping = _write_inputs(tmp_path)
    out = tmp_path / "out.nq"
    assert cli.main(
        ["-m", mapping, "-l", "rml", "-q", "-d", "--force-to-file", str(out)]
    ) == 0
    plan = mapping_to_plan(MAPPING, "rml")
    got = out.read_bytes()
    assert got == _expected(
        spark, plan, tmp_path, force_to_file=str(out), deduplicate=True)
    assert got.count(b"<http://example.com/turn/t3> <http://example.com/role>") == 1


def test_staging_removed_when_the_write_raises(tmp_path, staging_root, monkeypatch):
    mapping = _write_inputs(tmp_path)
    text = DataFrameWriter.text

    def write_then_fail(self, path, *args, **kwargs):
        text(self, path, *args, **kwargs)
        raise RuntimeError("disk gone")

    monkeypatch.setattr(DataFrameWriter, "text", write_then_fail)
    with pytest.raises(RuntimeError, match="disk gone"):
        cli.main(["-m", mapping, "-l", "rml", "-q", "--force-to-file",
                  str(tmp_path / "out.nq")])


def test_non_local_master_is_refused(tmp_path, monkeypatch):
    stopped = []
    cluster = types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(master="spark://head:7077"),
        stop=lambda: stopped.append(True),
    )
    monkeypatch.setattr(SparkSession, "getActiveSession", lambda: cluster)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    plan = tmp_path / "plan.json"
    plan.write_text(json.dumps({"nodes": []}))
    with pytest.raises(cli.NonLocalMasterError, match="spark://head:7077"):
        cli.main(["-m", str(plan), "-q"])
    assert stopped == [True]
    assert [p.name for p in tmp_path.iterdir()] == ["plan.json"]


def test_callers_session_settings_survive(spark, tmp_path, staging_root, monkeypatch):
    """``main()`` adopts the active session without re-applying
    ``get_spark``'s settings over the caller's."""
    monkeypatch.setattr(session, "get_spark", get_spark)
    mapping = _write_inputs(tmp_path)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        out = tmp_path / "out.nq"
        assert cli.main(["-m", mapping, "-l", "rml", "-q", "--force-to-file", str(out)]) == 0
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert out.read_bytes() == _expected(
        spark, mapping_to_plan(MAPPING, "rml"), tmp_path, force_to_file=str(out))


# -- column names that are not plain identifiers ---------------------------

ODD_NAMES_MAPPING = """\
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
@prefix ex: <http://example.com/> .

<#People> a rr:TriplesMap ;
  rml:logicalSource [ rml:source "people.csv" ; rml:referenceFormulation ql:CSV ] ;
  rr:subjectMap [ rr:template "http://example.com/person/{first.name}" ] ;
  rr:predicateObjectMap [ rr:predicate ex:last ; rr:objectMap [ rml:reference "last name" ] ] ;
  rr:predicateObjectMap [ rr:predicate ex:nick ; rr:objectMap [ rml:reference "nick`name" ] ] .

<#Pets> a rr:TriplesMap ;
  rml:logicalSource [ rml:source "pets.csv" ; rml:referenceFormulation ql:CSV ] ;
  rr:subjectMap [ rr:template "http://example.com/pet/{pet.id}" ] ;
  rr:predicateObjectMap [
    rr:predicate ex:owner ;
    rr:objectMap [ rr:parentTriplesMap <#People> ;
                   rr:joinCondition [ rr:child "owner.name" ; rr:parent "first.name" ] ]
  ] .
"""


def test_header_names_with_dot_space_and_backtick(tmp_path, staging_root):
    """A ``.`` in a header is part of the name, not a struct path; the
    names are quoted in the source pruning, the join and the terms."""
    (tmp_path / "people.csv").write_text(
        "first.name,last name,nick`name\nAda,Love lace,ad`a\nAlan,Turing,al\n")
    (tmp_path / "pets.csv").write_text(
        "pet.id,owner.name\np1,Ada\np2,Alan\np3,Nobody\n")
    mapping = tmp_path / "mapping.ttl"
    mapping.write_text(ODD_NAMES_MAPPING)
    out = tmp_path / "out.nq"
    assert cli.main(
        ["-m", str(mapping), "-l", "rml", "-q", "--force-to-file", str(out)]) == 0
    got = out.read_text()
    assert got.endswith("\n")
    assert sorted(got.splitlines()) == [
        '<http://example.com/person/Ada> <http://example.com/last> "Love lace" .',
        '<http://example.com/person/Ada> <http://example.com/nick> "ad`a" .',
        '<http://example.com/person/Alan> <http://example.com/last> "Turing" .',
        '<http://example.com/person/Alan> <http://example.com/nick> "al" .',
        "<http://example.com/pet/p1> <http://example.com/owner> "
        "<http://example.com/person/Ada> .",
        "<http://example.com/pet/p2> <http://example.com/owner> "
        "<http://example.com/person/Alan> .",
    ]

"""Stage 1: mapping-rule triple extraction + mention detection over turns.

Applies RML-fixture-style rules (FIXTURES.md §3) to the transcripts table:

    subject   http://example.com/turn/{conv_id}/{turn_idx}   (URI-encoded)
    ex:role / ex:text / ex:tool    literal objects
    ex:inConversation              IRI object http://example.com/conv/{conv_id}
    graph     http://example.com/graph/{role}                (graph map per role)

The rules are compiled with the SAME FunctionCompiler as the plan engine
(reference semantics: ``/root/reference/src/operator/extension.rs`` +
``iri.rs``), so UriEncode / Iri-INVALID behaviour is identical to the
golden-tested path.  All POMs are evaluated in a **single scan**: one
``select`` builds an array of (pred, obj, okind, graph) structs which is
exploded — no per-POM re-scan, no shuffle at all in this stage.

Mention detection is vectorized: a capitalized-phrase regex
(``regexp_extract_all``) plus a small gazetteer probe (chained
``contains`` — fine for a handful of forms; a production gazetteer would be
an Aho-Corasick pandas UDF over ``mapInPandas``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mopper_spark import rules as R
from mopper_spark.compiler import FunctionCompiler
from mopper_spark.pipeline.transcripts import ENTITY_FORMS

EX = "http://example.com/"

#: capitalized token (incl. initials and common accented letters), ≥2 tokens
MENTION_REGEX = r"(?:[A-Z][\p{L}]+|[A-Z]\.)(?:\s+(?:[A-Z][\p{L}]+|[A-Z]\.))+"


def _uri_template(template: str, vars_: list[str]) -> R.Iri:
    return R.Iri(
        R.TemplateFunctionValue(
            template,
            tuple((v, R.UriEncode(R.Reference(v))) for v in vars_),
        ),
        base_iri=EX + "base/",
    )


def extract_triples(transcripts: DataFrame) -> DataFrame:
    """Transcripts → (subj, pred, obj, okind, graph) triples, one narrow pass.

    Plan-shape note (scripts/profile_extraction.py): every term expression —
    the ``url_encode`` percent-encode slots and the IRI assembly — is
    materialized in one ``selectExpr`` *below* the explode, so it runs once
    per INPUT row, not once per output triple, and the shared ``conv_id``
    encoding is computed once.
    """
    fc = FunctionCompiler(transcripts.columns)

    subj = fc.compile(_uri_template(EX + "turn/{conv_id}/{turn_idx}", ["conv_id", "turn_idx"]))
    graph = fc.compile(_uri_template(EX + "graph/{role}", ["role"]))
    conv_iri = fc.compile(_uri_template(EX + "conv/{conv_id}", ["conv_id"]))

    def lit(colname: str):
        return fc.compile(R.Literal(R.Reference(colname)))

    pre = transcripts.selectExpr(
        f"{subj.sql} AS subj",
        f"{graph.sql} AS graph",
        f"{conv_iri.sql} AS conv_iri",
        f"{lit('role').sql} AS o_role",
        f"{lit('text').sql} AS o_text",
        f"{lit('tool').sql} AS o_tool",
        "tool IS NOT NULL AS has_tool",
    )

    # (predicate, object, object-kind, emit-condition). RML semantics: a
    # predicate-object map over a NULL field emits nothing for that row
    # (tool is nullable).
    pom = [
        (F.lit(EX + "ontology/role"), F.col("o_role"), F.lit("lit"), F.lit(True)),
        (F.lit(EX + "ontology/text"), F.col("o_text"), F.lit("lit"), F.lit(True)),
        (F.lit(EX + "ontology/tool"), F.col("o_tool"), F.lit("lit"), F.col("has_tool")),
        (F.lit(EX + "ontology/inConversation"), F.col("conv_iri"), F.lit("iri"), F.lit(True)),
    ]
    structs = [
        F.when(cond, F.struct(p.alias("pred"), o.alias("obj"), k.alias("okind")))
        for p, o, k, cond in pom
    ]

    exploded = pre.select(
        "subj",
        "graph",
        F.explode(F.array_compact(F.array(*structs))).alias("t"),
    )
    return exploded.select(
        "subj",
        F.col("t.pred").alias("pred"),
        F.col("t.obj").alias("obj"),
        F.col("t.okind").alias("okind"),
        "graph",
    )


def extract_mentions(
    transcripts: DataFrame, gazetteer: list[str] | None = None
) -> DataFrame:
    """Transcripts → (conv_id, turn_idx, surface) detected entity mentions."""
    if gazetteer is None:
        gazetteer = [e for e, _ in ENTITY_FORMS]

    caps = F.regexp_extract_all(F.col("text"), F.lit(MENTION_REGEX), 0)
    gaz = F.array_compact(
        F.array(
            *[
                F.when(F.col("text").contains(form), F.lit(form))
                for form in gazetteer
            ]
        )
    )
    return (
        transcripts.select(
            "conv_id",
            "turn_idx",
            F.explode(F.array_distinct(F.concat(caps, gaz))).alias("surface"),
        )
        .filter(F.length("surface") >= 3)
    )


def mention_triples(mentions: DataFrame, canonical: DataFrame | None = None) -> DataFrame:
    """Mentions → (turn IRI, ex:mentions, entity IRI) triples.

    When a ``canonical`` map (surface_norm → canonical_iri) is supplied the
    object is the canonical entity; otherwise a surface-form IRI.
    """
    fc = FunctionCompiler(["conv_id", "turn_idx", "surface"])
    subj = fc.compile(_uri_template(EX + "turn/{conv_id}/{turn_idx}", ["conv_id", "turn_idx"]))
    obj = fc.compile(_uri_template(EX + "entity/{surface}", ["surface"]))

    df = mentions
    obj_col = F.expr(obj.sql)
    if canonical is not None:
        from mopper_spark.pipeline.linking import normalize_surface

        df = mentions.withColumn("norm", normalize_surface(F.col("surface"))).join(
            F.broadcast(canonical), "norm", "left"
        )
        obj_col = F.coalesce(F.col("canonical_iri"), obj_col)

    return df.select(
        F.expr(subj.sql).alias("subj"),
        F.lit(EX + "ontology/mentions").alias("pred"),
        obj_col.alias("obj"),
        F.lit("iri").alias("okind"),
        F.lit(EX + "graph/mentions").alias("graph"),
    )

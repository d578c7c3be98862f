"""N-Triples / N-Quads statement templating.

Reference semantics (``/root/reference/src/operator/serializer.rs``):

- a statement template is a string of ``?variable`` slots and constant text;
  ``?`` opens a variable name, which is terminated by a space or ``^`` (the
  terminator stays in the following constant part) — ``serializer.rs:144-166``;
- a template may contain several ``\\n``-separated statements: each input row
  fans out to one output line per statement (``mapping.json`` of RMLTC0008b,
  node ``Serialize_11``);
- terms are formatted by their kind, which the Extend stage communicates
  (its type-prelude message, ``extension.rs:82-90``; for us a compile-time
  ``kinds`` map): ``iri`` → ``<v>``, ``lit`` → ``"v"``, ``blank`` → ``_:v``
  (``serializer.rs:81-109``).

Documented divergences from the reference (both unreachable in its shipped
plans, see SURVEY.md §2.4):
- kind ``str`` at the top level serializes the *value*; the reference emits
  the literal text ``str`` (``serializer.rs:82-84`` — a bug);
- a variable terminated by end-of-line is closed properly; the reference
  would leak it into the constant text (templates always end with `` .``).

Only ``NQuads``/``NTriples`` formats are supported, like the reference
(``serializer.rs:32-35``).
"""

from __future__ import annotations

import base64

from pyspark.sql import DataFrame

SUPPORTED_FORMATS = {"NQuads", "NTriples"}


def parse_statement_template(template: str) -> list[list[tuple[bool, str]]]:
    """Parse a (possibly multi-line) statement template.

    Returns one list of ``(is_variable, text)`` parts per statement line.
    """
    lines: list[list[tuple[bool, str]]] = []
    for line in template.split("\n"):
        parts: list[tuple[bool, str]] = []
        current: list[str] = []
        in_var = False
        for c in line:
            if c == "?":
                if not in_var:
                    if current:
                        parts.append((False, "".join(current)))
                        current.clear()
                    in_var = True
                else:
                    current.append(c)
            elif c in (" ", "^"):
                if in_var:
                    if current:
                        parts.append((True, "".join(current)))
                        current.clear()
                    in_var = False
                current.append(c)
            else:
                current.append(c)
        if current:
            parts.append((in_var, "".join(current)))
        lines.append(parts)
    return lines


def _sql_text(text: str) -> str:
    """SQL for the constant ``text``, read the same way whatever
    ``spark.sql.parser.escapedStringLiterals`` says: a quote or backslash
    goes through base64, which holds neither (the optimizer folds the
    decode back to a literal).  So does ``${``, which Spark's variable
    substitution would replace before parsing."""
    if "'" not in text and "\\" not in text and "${" not in text:
        return f"'{text}'"
    b64 = base64.b64encode(text.encode("utf-8")).decode("ascii")
    return f"cast(unbase64('{b64}') as string)"


def _sql_ident(name: str) -> str:
    """A backtick-quoted identifier: a ``.``, space or backtick in ``name``
    stays part of the name.  Refuses ``${``, which variable substitution
    would replace and an identifier has no escape for."""
    if "${" in name:
        raise ValueError(f"column name {name!r} holds '${{', which Spark SQL substitutes")
    return "`" + name.replace("`", "``") + "`"


def _sql_concat(parts: list[str]) -> str:
    return f"concat({', '.join(parts)})" if parts else "''"


def format_term(value: str, kind: str) -> str:
    """SQL formatting the SQL expression ``value`` as a term of ``kind``."""
    if kind == "iri":
        return _sql_concat(["'<'", value, "'>'"])
    if kind == "lit":
        return _sql_concat(["'\"'", value, "'\"'"])
    if kind.startswith("lit@"):
        # language-tagged literal: "v"@lang (kind carries the constant tag;
        # only produced under MopperOptions.literal_annotations)
        return _sql_concat(["'\"'", value, _sql_text('"@' + kind[4:])])
    if kind.startswith("lit^^"):
        # typed literal: "v"^^<dtype>
        return _sql_concat(["'\"'", value, _sql_text('"^^<' + kind[5:] + ">")])
    if kind == "blank":
        return _sql_concat(["'_:'", value])
    # kind "str": emit the value (reference bug emits the text "str";
    # unreachable in its test plans — divergence documented above)
    return value


def compile_serializer(
    template: str,
    kinds: dict[str, str],
    data_format: str = "NQuads",
) -> str:
    """Compile a statement template into the SQL of an array<string> over a
    DataFrame whose columns are the extend-variable names.

    Each array element is one serialized statement for the row; callers
    explode it (statement fan-out — one row, k statements).  SQL text, not
    Columns: one expression parsed by the JVM instead of a py4j round trip
    per ``concat``, ``lit`` and argument list.
    """
    if data_format not in SUPPORTED_FORMATS:
        raise NotImplementedError(
            f"Serializer: only NQuads/NTriples supported, got {data_format!r}"
        )
    statements: list[str] = []
    for line_parts in parse_statement_template(template):
        parts: list[str] = []
        for is_var, text in line_parts:
            if is_var:
                if text not in kinds:
                    raise KeyError(f"Serializer template variable {text!r} unbound")
                parts.append(format_term(_sql_ident(text), kinds[text]))
            else:
                parts.append(_sql_text(text))
        statements.append(_sql_concat(parts))
    return f"array({', '.join(statements)})"


def serialize(
    extended_df: DataFrame,
    template: str,
    kinds: dict[str, str],
    data_format: str = "NQuads",
) -> DataFrame:
    """Apply statement templating: one output row per statement."""
    arr = compile_serializer(template, kinds, data_format)
    return extended_df.selectExpr(f"explode({arr}) AS statement")

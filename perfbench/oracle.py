"""DuckDB SQL oracle for the command-line mapping (``gen.MAPPING_TTL``).

It derives the expected N-Quads from the same CSV files the engine reads,
with R2RML semantics as the engine implements them: every CSV cell is a
string (an empty cell is the empty string, as in the reference engine),
subject graph maps apply to every statement of the triples map, template
slots are percent-encoded outside the engine's keep set, and literals are
written unescaped.
"""

from __future__ import annotations

import hashlib
import os

EX = "http://example.com/"
RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"

# characters a template slot keeps unencoded (mopper_spark KEEP_CHARS)
_KEEP_RE = r'^[0-9A-Za-z"<>\\^_`{|}~.-]$'


def _pct(col: str) -> str:
    return (
        "array_to_string(list_transform(string_split({c}, ''), ch -> "
        "CASE WHEN regexp_matches(ch, '{keep}') THEN ch ELSE "
        "regexp_replace(upper(hex(encode(ch))), '(..)', '%\\1', 'g') END), '')"
    ).format(c=col, keep=_KEEP_RE.replace("'", "''"))


def _iri(expr: str) -> str:
    return f"'<' || {expr} || '>'"


def _lit(expr: str) -> str:
    return f"'\"' || {expr} || '\"'"


def expected_lines(directory: str) -> list[str]:
    """Sorted N-Quads lines the mapping must produce over ``directory``."""
    import duckdb

    turns = os.path.join(directory, "turns.csv").replace("'", "''")
    convs = os.path.join(directory, "convs.csv").replace("'", "''")
    subj = _iri(f"'{EX}turn/' || {_pct('t.turn_id')}")
    graph = _iri(f"'{EX}graph/' || {_pct('t.role')}")
    conv = _iri(f"'{EX}conv/' || {_pct('c.conv_id')}")

    def pred(name: str) -> str:
        return f"'<{EX}ontology/{name}>'"

    def quad(s: str, p: str, o: str, g: str | None) -> str:
        parts = [s, p, o] + ([g] if g else [])
        return " || ' ' || ".join(parts) + " || ' .'"

    turn_quads = [
        quad(subj, f"'{RDF_TYPE}'", f"'<{EX}ontology/Turn>'", graph),
        quad(subj, pred("role"), _lit("t.role"), graph),
        quad(subj, pred("turnIdx"), _lit("t.turn_idx"), graph),
        quad(subj, pred("tool"), _lit("t.tool"), graph),
        quad(subj, pred("surface"), _lit("t.mention"), graph),
        quad(subj, pred("mentions"),
             _iri(f"'{EX}entity/' || {_pct('t.mention')}"), graph),
    ]
    selects = [f"SELECT {q} AS line FROM t" for q in turn_quads]
    selects.append(
        f"SELECT {quad(subj, pred('inConversation'), conv, graph)} AS line "
        "FROM t JOIN c ON t.conv_id = c.conv_id"
    )
    conv_quads = [
        quad(conv, f"'{RDF_TYPE}'", f"'<{EX}ontology/Conversation>'", None),
        quad(conv, pred("title"), _lit("c.title"), None),
    ]
    selects += [f"SELECT {q} AS line FROM c" for q in conv_quads]

    read = "read_csv('{p}', header = true, all_varchar = true)"
    sql = (
        "WITH t AS (SELECT turn_id, conv_id, turn_idx, role, "
        "coalesce(tool, '') AS tool, coalesce(mention, '') AS mention "
        f"FROM {read.format(p=turns)}), "
        f"c AS (SELECT conv_id, coalesce(title, '') AS title FROM {read.format(p=convs)}) "
        + " UNION ALL ".join(selects)
        + " ORDER BY line"
    )
    con = duckdb.connect()
    try:
        return [r[0] for r in con.execute(sql).fetchall()]
    finally:
        con.close()


def lines_digest(lines) -> str:
    """Digest of a sorted line sequence (what the output check compares)."""
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def nquads_digest(path: str) -> tuple[int, str]:
    """(line count, digest of the sorted lines) of an N-Quads file."""
    with open(path, encoding="utf-8") as f:
        lines = sorted(line.rstrip("\n") for line in f)
    return len(lines), lines_digest(lines)

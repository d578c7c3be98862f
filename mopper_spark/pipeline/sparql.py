"""SPARQL 1.1 text front-end over the BGP DataFrame algebra.

``pipeline/bgp.py`` gives this repo the full relational algebra a SPARQL
engine needs (pattern match, OPTIONAL, FILTER, UNION, MINUS, BIND,
VALUES, aggregation, solution modifiers, CONSTRUCT/ASK, property paths)
— but as a *programmatic* API.  A user of the reference toolchain
(ghsnd/mopper produces RDF; its users query the output with standard
SPARQL engines) writes SPARQL *text*.  This module closes that last gap:

    sparql_query(graph_df, '''
        PREFIX ont: <http://example.com/ontology/>
        SELECT ?conv (COUNT(DISTINCT ?e) AS ?n) WHERE {
          ?t ont:mentions ?e ; ont:inConversation ?conv .
          FILTER(STRSTARTS(?e, "http://example.com/entity/"))
        } GROUP BY ?conv HAVING (COUNT(DISTINCT ?e) >= 2)
        ORDER BY DESC(?n) ?conv LIMIT 10
    ''')

returns a DataFrame; nothing is evaluated outside Catalyst.  The parser
is a hand-written recursive-descent over a regex tokenizer — the same
implementation strategy as the repo's Turtle/ShExML front-ends, and like
them it REFUSES constructs outside its documented subset by raising
``SparqlParseError`` naming the construct (never a silent wrong answer).

Supported subset
----------------
- Prologue: ``PREFIX`` (``BASE`` is refused — all test IRIs are absolute).
- Query forms: ``SELECT [DISTINCT] (?var | (expr AS ?var) | *) …``,
  ``ASK``, ``CONSTRUCT { templates } WHERE { … }``.
- Group graph pattern: triple blocks with ``;`` / ``,`` lists and ``a``;
  ``OPTIONAL { triples }``; ``FILTER(expr)``; ``FILTER [NOT] EXISTS
  { group }``; ``{ A } UNION { B }``; ``MINUS { group }``;
  ``BIND(expr AS ?v)``; ``VALUES (?a ?b) { (…) … }`` (no UNDEF);
  braced subqueries ``{ SELECT … }`` (SPARQL 1.1 §12 — full modifier
  grammar inside, result joined to the group on its PROJECTED variables
  only, the spec's scoping rule; a bare in-group ``SELECT`` without
  braces stays refused, as in the grammar); ``GRAPH (iri|?g) { triples }``
  as quad-pattern sugar over a ``graph``-columned DataFrame (full §13
  dataset semantics — FROM NAMED, graph-scoped FILTER/OPTIONAL, nested
  GRAPH — refused by name).
- Predicates: IRIs, prefixed names, ``a``, or SPARQL property paths
  (``^``, ``/``, ``|``, ``+``, ``{m,n}``, ``!(…)``; ``*`` refused per
  ``bgp._pattern_df`` — call ``materialize_star`` deliberately).
- Solution modifiers: ``GROUP BY`` + aggregates (COUNT/SUM/MIN/MAX/AVG,
  ``COUNT(DISTINCT ?v)``, ``COUNT(*)``, ``SAMPLE`` — deterministic as
  MIN, ``GROUP_CONCAT(?v; SEPARATOR="…")`` — element order DEFINED as
  sorted so the string is engine-reproducible), ``HAVING``, ``ORDER BY``
  (``ASC()``/``DESC()``), ``LIMIT``/``OFFSET`` (LIMIT requires ORDER BY,
  per ``bgp_slice``'s determinism contract).
- Expressions (FILTER/BIND/HAVING): comparisons, arithmetic, ``&&`` /
  ``||`` / ``!``, ``IN``, parentheses, and the function subset
  STRLEN/LCASE/UCASE/CONTAINS/STRSTARTS/STRENDS/SUBSTR/REPLACE/REGEX/
  CONCAT/STR/BOUND/COALESCE/IF/ABS, and the IN / NOT IN operator
  expressions (§17.4.1.9-10, same precedence tier in SQL) — translated
  to Spark SQL and
  evaluated with ``F.expr`` (whole-stage codegen, no Python).  Unknown
  functions are refused by name.

Deliberate refusals (tested): ``SELECT *`` mixed with aggregates,
``UNDEF`` in VALUES, non-triple elements or nested GRAPH inside a
``GRAPH`` block, ``SERVICE``, blank-node syntax in patterns
(``[]``/``_:`` — the engine queries the *emitted* graph where blanks are
already skolemized or canonicalized strings; match them as plain terms).

Semantics notes (where SPARQL is subtle):
- Group-level FILTERs apply to the whole group after OPTIONAL left-joins
  (spec §8.3.3 filter scope) — plain FILTERs are collected and applied
  last, so a filter over an OPTIONAL variable sees its NULLs.
- UNION branches are compiled independently and concatenated by column
  name (unbound → NULL), then inner-joined with the rest of the group on
  shared variables if the group has other bindings.
- BINDs apply in textual order (a BIND may reference earlier BINDs).
- Aggregate queries project exactly GROUP BY keys + aggregate aliases;
  a non-grouped, non-aggregated SELECT variable is refused (same rule
  as SQL; SPARQL's sample-semantics would hide a bug).

Scale shape: identical to the underlying algebra — this module only
*parses*; every operator keeps the plan shape documented at its
definition in ``bgp.py`` (constant predicates → pushed scan filters,
greedy join order via ``stats``, broadcastable semi/anti joins,
TakeOrderedAndProject for ORDER+LIMIT).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bgp import (
    bgp_aggregate,
    bgp_ask,
    bgp_bind,
    bgp_construct,
    bgp_exists,
    bgp_match,
    bgp_minus,
    bgp_slice,
    bgp_union,
    bgp_values,
)
from ..serializer import _sql_text

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


class SparqlParseError(ValueError):
    """A construct outside the documented SPARQL subset (named)."""


_TOKEN_RE = re.compile(
    r"""
    (?P<WS>\s+|\#[^\n]*)
  | (?P<IRI><[^<>\s]*>)
  | (?P<VAR>[?$][A-Za-z_][A-Za-z_0-9]*)
  | (?P<STRING>"(?:[^"\\]|\\.)*"|'(?:[^'\\]|\\.)*')
  | (?P<NUM>[+-]?(?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?)
  | (?P<PNAME>[A-Za-z_][A-Za-z_0-9.-]*?:[A-Za-z_0-9.%-]*)
  | (?P<KW>[A-Za-z_][A-Za-z_0-9]*)
  | (?P<REP>\{\d+(?:,\d+)?\})
  | (?P<OP><=|>=|!=|&&|\|\||[{}().;,=<>!^/|+*\-])
    """,
    re.VERBOSE,
)


def _tokenize(text: str) -> list[tuple[str, str]]:
    out, pos = [], 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m:
            raise SparqlParseError(
                f"unrecognized SPARQL syntax at offset {pos}: {text[pos:pos+30]!r}"
            )
        pos = m.end()
        kind = m.lastgroup
        if kind != "WS":
            out.append((kind, m.group()))
    return out


class _Parser:
    def __init__(self, text: str):
        self.toks = _tokenize(text)
        self.i = 0
        self.prefixes: dict[str, str] = {}
        # set while parsing a non-aggregate (expr AS ?v) SELECT item so
        # _expr_keyword can refuse aggregates embedded in expressions
        self._no_aggs = False

    # ---- token helpers -------------------------------------------------
    def peek(self, offset: int = 0) -> tuple[str, str]:
        j = self.i + offset
        return self.toks[j] if j < len(self.toks) else ("EOF", "")

    def next(self) -> tuple[str, str]:
        t = self.peek()
        self.i += 1
        return t

    def at_kw(self, *words: str) -> bool:
        k, v = self.peek()
        return k == "KW" and v.upper() in words

    def expect_kw(self, word: str) -> None:
        if not self.at_kw(word):
            raise SparqlParseError(f"expected {word}, got {self.peek()[1]!r}")
        self.i += 1

    def expect_op(self, op: str) -> None:
        k, v = self.next()
        if k not in ("OP", "REP") or v != op:
            raise SparqlParseError(f"expected {op!r}, got {v!r}")

    # ---- terms ---------------------------------------------------------
    def _expand_pname(self, pname: str) -> str:
        pfx, _, local = pname.partition(":")
        if pfx not in self.prefixes:
            raise SparqlParseError(f"undeclared prefix {pfx!r} in {pname!r}")
        return self.prefixes[pfx] + local

    def parse_term(self, *, as_pattern: bool) -> str:
        """One subject/object/VALUES term.  Pattern terms keep the ``?``
        marker for the bgp API; literals are unescaped to the plain
        string stored in the graph; numbers keep their lexical form."""
        kind, val = self.next()
        if kind == "VAR":
            return "?" + val[1:]
        if kind == "IRI":
            return val[1:-1]
        if kind == "PNAME":
            return self._expand_pname(val)
        if kind == "STRING":
            s = _unescape(val)
            nk, nv = self.peek()
            if nk == "OP" and nv == "^":  # "lit"^^xsd:type — refuse: the
                raise SparqlParseError(  # graph stores plain strings
                    "typed literals (^^) are not in the subset; "
                    "match the plain lexical form"
                )
            if nk == "KW" and nv.startswith("@"):  # never tokenizes; kept
                raise SparqlParseError("language-tagged literals not supported")
            return s
        if kind == "NUM":
            return val
        if kind == "KW" and val == "a" and as_pattern:
            return RDF_TYPE
        raise SparqlParseError(f"unexpected term {val!r}")

    # ---- property paths (token-level mirror of bgp.parse_path) ---------
    def parse_path(self):
        node = self._path_seq()
        while self.peek() == ("OP", "|"):
            self.i += 1
            node = node if isinstance(node, tuple) and node[0] == "|" else ("|", node)
            node = (*node, self._path_seq())
        return node

    def _path_seq(self):
        steps = [self._path_unary()]
        while self.peek() == ("OP", "/"):
            self.i += 1
            steps.append(self._path_unary())
        return steps[0] if len(steps) == 1 else ("/", *steps)

    def _path_unary(self):
        if self.peek() == ("OP", "^"):
            self.i += 1
            return ("^", self._path_unary())
        node = self._path_primary()
        k, v = self.peek()
        if (k, v) in (("OP", "+"), ("OP", "*")):
            self.i += 1
            return (v, node)
        if k == "REP":
            self.i += 1
            return (v, node)
        return node

    def _path_primary(self):
        k, v = self.peek()
        if (k, v) == ("OP", "!"):
            self.i += 1
            members = []
            if self.peek() == ("OP", "("):
                self.i += 1
                members.append(self._path_member())
                while self.peek() == ("OP", "|"):
                    self.i += 1
                    members.append(self._path_member())
                self.expect_op(")")
            else:
                members.append(self._path_member())
            return ("!", *members)
        if (k, v) == ("OP", "("):
            self.i += 1
            inner = self.parse_path()
            self.expect_op(")")
            return inner
        return self._path_iri()

    def _path_member(self):
        if self.peek() == ("OP", "^"):
            self.i += 1
            return ("^", self._path_iri())
        return self._path_iri()

    def _path_iri(self) -> str:
        kind, val = self.next()
        if kind == "IRI":
            return val[1:-1]
        if kind == "PNAME":
            return self._expand_pname(val)
        if kind == "KW" and val == "a":
            return RDF_TYPE
        raise SparqlParseError(f"expected IRI in property path, got {val!r}")

    def parse_predicate(self):
        """IRI / ``a`` / variable / property path.  A path stays a tuple
        (the ``bgp_match`` pattern encoding); a plain IRI stays a str."""
        k, v = self.peek()
        if k == "VAR":
            self.i += 1
            return "?" + v[1:]
        path = self.parse_path()
        return path

    # ---- group graph pattern -------------------------------------------
    def parse_group(self) -> list[tuple]:
        """``{ … }`` → ordered element list:
        ``("t", pattern)``, ``("optional", [patterns])``,
        ``("filter", sql)``, ``("exists"/"notexists", group)``,
        ``("minus", group)``, ``("union", [group, …])``,
        ``("bind", var, sql)``, ``("values", rows)``."""
        self.expect_op("{")
        elements: list[tuple] = []
        while True:
            k, v = self.peek()
            if (k, v) == ("OP", "}"):
                self.i += 1
                return elements
            if k == "EOF":
                raise SparqlParseError("unterminated group pattern")
            if self.at_kw("OPTIONAL"):
                self.i += 1
                inner = self.parse_group()
                pats = [e[1] for e in inner if e[0] == "t"]
                if len(pats) != len(inner):
                    raise SparqlParseError(
                        "OPTIONAL blocks may contain only triple patterns "
                        "in this subset"
                    )
                elements.append(("optional", pats))
            elif self.at_kw("FILTER"):
                self.i += 1
                if self.at_kw("EXISTS"):
                    self.i += 1
                    elements.append(("exists", self.parse_group()))
                elif self.at_kw("NOT"):
                    self.i += 1
                    self.expect_kw("EXISTS")
                    elements.append(("notexists", self.parse_group()))
                else:
                    elements.append(("filter", self.parse_expr_parens()))
            elif self.at_kw("MINUS"):
                self.i += 1
                elements.append(("minus", self.parse_group()))
            elif self.at_kw("BIND"):
                self.i += 1
                self.expect_op("(")
                expr = self.parse_expr(stop={("KW", "AS")})
                self.expect_kw("AS")
                k2, v2 = self.next()
                if k2 != "VAR":
                    raise SparqlParseError(f"BIND … AS expects a variable, got {v2!r}")
                self.expect_op(")")
                elements.append(("bind", v2[1:], expr))
            elif self.at_kw("VALUES"):
                self.i += 1
                elements.append(("values", self.parse_values()))
            elif self.at_kw("GRAPH"):
                # quad-pattern sugar: every triple pattern inside gets the
                # graph term as its 4th position (bgp_match's quad form —
                # the triples DataFrame must carry a `graph` column).
                # Full §13 dataset semantics (FROM NAMED, graph-scoped
                # FILTER/OPTIONAL) stay out of subset: non-triple elements
                # inside GRAPH are refused by name below.
                self.i += 1
                gterm = self.parse_term(as_pattern=True)
                inner = self.parse_group()
                pats = [e[1] for e in inner if e[0] == "t"]
                if len(pats) != len(inner):
                    raise SparqlParseError(
                        "GRAPH blocks may contain only triple patterns "
                        "in this subset"
                    )
                if any(len(pt) != 3 for pt in pats):
                    raise SparqlParseError("nested GRAPH blocks")
                elements.extend(("t", (*pt, gterm)) for pt in pats)
            elif self.at_kw("SERVICE", "SELECT"):
                raise SparqlParseError(
                    f"{self.peek()[1].upper()} blocks are not in the subset"
                )
            elif (k, v) == ("OP", "{"):
                # braced group: either a subquery (SPARQL 1.1 §12), a
                # UNION chain, or both — a UNION branch may itself be a
                # subquery, per the GroupOrUnionGraphPattern grammar
                branches = [self._parse_group_or_subselect()]
                while self.at_kw("UNION"):
                    self.i += 1
                    branches.append(self._parse_group_or_subselect())
                if len(branches) == 1:
                    only = branches[0]
                    if len(only) == 1 and only[0][0] == "subselect":
                        elements.append(only[0])
                    else:
                        raise SparqlParseError(
                            "bare nested group (no UNION): flatten it"
                        )
                else:
                    elements.append(("union", branches))
            else:
                elements.extend(self.parse_triples_block())
            if self.peek() == ("OP", "."):
                self.i += 1
        return elements

    def _parse_group_or_subselect(self) -> list[tuple]:
        """One brace-led construct: a subquery ``{ SELECT … }`` (parsed
        with the same tail grammar as the top-level form; the result
        relation joins the enclosing group on its PROJECTED variables
        only) or a plain group graph pattern."""
        if (
            self.peek() == ("OP", "{")
            and self.peek(1)[0] == "KW"
            and self.peek(1)[1].upper() == "SELECT"
        ):
            self.i += 2  # consume "{" and "SELECT"
            spec = _parse_select_tail(self)
            self.expect_op("}")
            return [("subselect", spec)]
        return self.parse_group()

    def parse_triples_block(self) -> list[tuple]:
        """One subject with ``;``/``,`` lists → ``("t", pattern)`` items."""
        subj = self.parse_term(as_pattern=True)
        out = []
        while True:
            pred = self.parse_predicate()
            while True:
                obj = self.parse_term(as_pattern=True)
                out.append(("t", (subj, pred, obj)))
                if self.peek() == ("OP", ","):
                    self.i += 1
                    continue
                break
            if self.peek() == ("OP", ";"):
                self.i += 1
                if self.peek()[1] in ("}", "."):  # trailing ';'
                    break
                continue
            break
        return out

    def parse_values(self) -> list[dict]:
        vars_: list[str] = []
        if self.peek() == ("OP", "("):
            self.i += 1
            while self.peek()[0] == "VAR":
                vars_.append(self.next()[1][1:])
            self.expect_op(")")
        elif self.peek()[0] == "VAR":
            vars_.append(self.next()[1][1:])
        if not vars_:
            raise SparqlParseError("VALUES needs at least one variable")
        self.expect_op("{")
        rows = []
        while self.peek() != ("OP", "}"):
            if len(vars_) == 1 and self.peek() != ("OP", "("):
                if self.at_kw("UNDEF"):
                    raise SparqlParseError("UNDEF in VALUES is not supported")
                rows.append({vars_[0]: self.parse_term(as_pattern=False)})
                continue
            self.expect_op("(")
            row = {}
            for var in vars_:
                if self.at_kw("UNDEF"):
                    raise SparqlParseError("UNDEF in VALUES is not supported")
                row[var] = self.parse_term(as_pattern=False)
            self.expect_op(")")
            rows.append(row)
        self.i += 1
        return rows

    # ---- expressions → Spark SQL ----------------------------------------
    _FUNCS = {
        "STRLEN": ("length", 1),
        "LCASE": ("lower", 1),
        "UCASE": ("upper", 1),
        "ABS": ("abs", 1),
        "CONTAINS": ("contains", 2),
        "STRSTARTS": ("startswith", 2),
        "STRENDS": ("endswith", 2),
        "SUBSTR": ("substring", (2, 3)),
        "COALESCE": ("coalesce", None),
        "CONCAT": ("concat", None),
        "ROUND": ("round", 1),
        "CEIL": ("ceil", 1),
        "FLOOR": ("floor", 1),
        "MD5": ("md5", 1),
        "SHA1": ("sha1", 1),
    }

    def parse_expr_parens(self) -> str:
        self.expect_op("(")
        expr = self.parse_expr(stop={("OP", ")")})
        self.expect_op(")")
        return expr

    def parse_expr(self, stop: set[tuple[str, str]]) -> str:
        """Translate a SPARQL expression to a Spark SQL string, stopping
        (without consuming) at any ``stop`` token at depth 0.  Token-level
        transliteration with balanced parens — precedence is preserved
        because every operator maps to an operator of the same SPARQL/SQL
        precedence tier."""
        parts: list[str] = []
        depth = 0
        while True:
            k, v = self.peek()
            if k == "EOF":
                raise SparqlParseError("unterminated expression")
            if depth == 0 and (
                (k, v) in stop
                or (k == "KW" and ("KW", v.upper()) in stop)
            ):
                break
            self.i += 1
            if (k, v) == ("OP", "("):
                depth += 1
                parts.append("(")
            elif (k, v) == ("OP", ")"):
                depth -= 1
                if depth < 0:
                    raise SparqlParseError("unbalanced ')' in expression")
                parts.append(")")
            elif k == "VAR":
                parts.append(v[1:])
            elif k == "STRING":
                parts.append(_sql_text(_unescape(v)))
            elif k == "NUM":
                parts.append(v)
            elif k == "IRI":
                parts.append(_sql_text(v[1:-1]))
            elif k == "PNAME":
                parts.append(_sql_text(self._expand_pname(v)))
            elif (k, v) == ("OP", "&&"):
                parts.append("AND")
            elif (k, v) == ("OP", "||"):
                parts.append("OR")
            elif (k, v) == ("OP", "!"):
                parts.append("NOT")
            elif (k, v) == ("OP", "!="):
                parts.append("!=")
            elif k == "OP" and v in ("<", "<=", ">", ">=", "=", "+", "-", "*", "/", ","):
                parts.append(v)
            elif k == "KW":
                parts.append(self._expr_keyword(v))
            else:
                raise SparqlParseError(f"unexpected {v!r} in expression")
        if depth != 0:
            raise SparqlParseError("unbalanced '(' in expression")
        if not parts:
            raise SparqlParseError("empty expression")
        return " ".join(parts)

    def _apply_regex_flags(self, pat: str) -> str:
        """Fold a REGEX/REPLACE flags argument (XPath §4.7: ``i s m x``,
        position-independent) into the pattern as a Java inline
        ``(?ismx)`` prefix — the flags must be a STRING LITERAL (the only
        form with a static translation; a computed flags expression has
        no SQL equivalent short of eval) and the pattern is concatenated
        at query time so a variable pattern still works."""
        tok = self.next()
        if tok[0] != "STRING":
            raise SparqlParseError(
                "REGEX/REPLACE flags must be a string literal"
            )
        flags = _unescape(tok[1])
        if not flags:
            return pat
        bad = set(flags) - set("ismx")
        if bad:
            raise SparqlParseError(
                f"unsupported regex flag(s) {''.join(sorted(bad))!r} "
                "(supported: i s m x — 'q' has no Java inline form)"
            )
        return f"concat('(?{flags})', {pat})"

    def _expr_keyword(self, word: str) -> str:
        up = word.upper()
        if up in ("TRUE", "FALSE", "AND", "OR", "NOT", "IN", "IS", "NULL",
                  "CASE", "WHEN", "THEN", "ELSE", "END", "LIKE", "RLIKE"):
            return up
        if up == "BOUND":
            inner = self.parse_expr_parens()
            return f"({inner} IS NOT NULL)"
        if up == "REGEX":
            self.expect_op("(")
            arg = self.parse_expr(stop={("OP", ",")})
            self.expect_op(",")
            pat = self.parse_expr(stop={("OP", ")"), ("OP", ",")})
            if self.peek() == ("OP", ","):
                self.i += 1
                pat = self._apply_regex_flags(pat)
            self.expect_op(")")
            return f"({arg} RLIKE {pat})"
        if up == "STR":
            inner = self.parse_expr_parens()
            return f"CAST({inner} AS STRING)"
        if up == "SHA256":
            inner = self.parse_expr_parens()
            return f"sha2({inner}, 256)"
        if up == "ENCODE_FOR_URI":
            # §17.4.2.8 for the ASCII plane: unreserved (ALPHA / DIGIT /
            # - . _ ~) pass through, everything else becomes %XX of its
            # byte.  Non-ASCII needs UTF-8 byte-level encoding, which has
            # no native SQL translation — strict raise_error branch (the
            # ntriples.py refusal idiom, filter-pushdown-proof) instead
            # of silently wrong output.
            inner = self.parse_expr_parens()
            pct = (
                f"CASE WHEN substring({inner}, i, 1) RLIKE '[A-Za-z0-9._~-]' "
                f"THEN substring({inner}, i, 1) "
                f"ELSE concat('%', lpad(upper(hex(ascii(substring({inner}, i, 1)))), 2, '0')) END"
            )
            return (
                f"(CASE WHEN {inner} RLIKE '[^\\\\x00-\\\\x7F]' THEN "
                f"raise_error('ENCODE_FOR_URI: non-ASCII input is not in "
                f"the subset (UTF-8 byte-level pct-encoding has no native "
                f"SQL translation)') "
                f"WHEN length({inner}) = 0 THEN '' "
                f"ELSE aggregate(sequence(1, length({inner})), '', "
                f"(acc, i) -> concat(acc, {pct})) END)"
            )
        if up in ("STRBEFORE", "STRAFTER"):
            # §17.4.3.3-4: '' when the needle never occurs; the empty
            # needle matches at position 1 (instr convention on both
            # engines), giving '' for STRBEFORE and the whole string for
            # STRAFTER — the spec's answers.  Args are duplicated in the
            # translation, safe because the subset has no nondeterministic
            # functions.
            self.expect_op("(")
            a = self.parse_expr(stop={("OP", ",")})
            self.expect_op(",")
            b = self.parse_expr(stop={("OP", ")")})
            self.expect_op(")")
            if up == "STRBEFORE":
                return (
                    f"(CASE WHEN instr({a}, {b}) > 0 THEN "
                    f"substring({a}, 1, instr({a}, {b}) - 1) ELSE '' END)"
                )
            return (
                f"(CASE WHEN instr({a}, {b}) > 0 THEN "
                f"substring({a}, instr({a}, {b}) + length({b})) "
                f"ELSE '' END)"
            )
        if up == "IF":
            self.expect_op("(")
            c = self.parse_expr(stop={("OP", ",")})
            self.expect_op(",")
            t = self.parse_expr(stop={("OP", ",")})
            self.expect_op(",")
            e = self.parse_expr(stop={("OP", ")")})
            self.expect_op(")")
            return f"(CASE WHEN {c} THEN {t} ELSE {e} END)"
        if up == "REPLACE":
            self.expect_op("(")
            a = self.parse_expr(stop={("OP", ",")})
            self.expect_op(",")
            b = self.parse_expr(stop={("OP", ",")})
            self.expect_op(",")
            c = self.parse_expr(stop={("OP", ")"), ("OP", ",")})
            if self.peek() == ("OP", ","):
                self.i += 1
                b = self._apply_regex_flags(b)
            self.expect_op(")")
            return f"regexp_replace({a}, {b}, {c})"
        if up in self._AGGS:
            # aggregates appear in HAVING (and are re-parsed identically to
            # the SELECT list, so HAVING(COUNT(?x) >= 2) matches its alias)
            if self._no_aggs:
                raise SparqlParseError(
                    f"{up} inside a SELECT expression is not in the subset "
                    "— bind the aggregate to its own (AGG(...) AS ?v) item"
                )
            if up == "GROUP_CONCAT":
                raise SparqlParseError(
                    "GROUP_CONCAT in HAVING is not in the subset — filter "
                    "on a counted/summed alias instead"
                )
            self.expect_op("(")
            distinct = ""
            if self.at_kw("DISTINCT"):
                self.i += 1
                distinct = "DISTINCT "
            if self.peek() == ("OP", "*"):
                self.i += 1
                inner = "*"
                if up != "COUNT":
                    raise SparqlParseError(f"{up}(*) is not in the subset")
            else:
                inner = self.parse_expr(stop={("OP", ")")})
            self.expect_op(")")
            if up == "SAMPLE":
                return f"min({inner})"
            return f"{up.lower()}({distinct}{inner})"
        if up in self._FUNCS:
            name, arity = self._FUNCS[up]
            self.expect_op("(")
            args = [self.parse_expr(stop={("OP", ","), ("OP", ")")})]
            while self.peek() == ("OP", ","):
                self.i += 1
                args.append(self.parse_expr(stop={("OP", ","), ("OP", ")")}))
            self.expect_op(")")
            if arity is not None:
                ok = (args and len(args) in arity) if isinstance(arity, tuple) \
                    else len(args) == arity
                if not ok:
                    raise SparqlParseError(f"{up} takes {arity} arguments")
            return f"{name}({', '.join(args)})"
        raise SparqlParseError(f"function/keyword {word!r} is not in the subset")

    # ---- aggregates ------------------------------------------------------
    _AGGS = ("COUNT", "SUM", "MIN", "MAX", "AVG", "SAMPLE", "GROUP_CONCAT")

    def parse_select_items(self):
        """``SELECT`` list → (plain_vars, aggregates{alias: sql},
        expressions{alias: sql}, star).  A parenthesized item whose head
        token is an aggregate keyword goes to ``aggs``; any other
        ``(expr AS ?v)`` is a SPARQL 1.1 §18.2.4.4 Extend — a plain
        per-row expression bound after the group pattern."""
        plain: list[str] = []
        aggs: dict[str, str] = {}
        exprs: dict[str, str] = {}
        star = False
        while True:
            k, v = self.peek()
            if (k, v) == ("OP", "*"):
                self.i += 1
                star = True
            elif k == "VAR":
                self.i += 1
                plain.append(v[1:])
            elif (k, v) == ("OP", "("):
                self.i += 1
                nk, nv = self.peek()
                is_agg = nk == "KW" and nv.upper() in self._AGGS
                if is_agg:
                    sql = self._parse_aggregate()
                else:
                    self._no_aggs = True
                    try:
                        sql = self.parse_expr(stop={("KW", "AS")})
                    finally:
                        self._no_aggs = False
                self.expect_kw("AS")
                k2, v2 = self.next()
                if k2 != "VAR":
                    raise SparqlParseError(
                        "SELECT expression alias must be a variable"
                    )
                self.expect_op(")")
                (aggs if is_agg else exprs)[v2[1:]] = sql
            else:
                break
        if not (plain or aggs or exprs or star):
            raise SparqlParseError("empty SELECT list")
        if star and (plain or aggs or exprs):
            raise SparqlParseError("SELECT * cannot mix with other items")
        dup = set(plain) & (set(aggs) | set(exprs))
        if dup:
            raise SparqlParseError(
                f"alias rebinds an already-selected variable: {sorted(dup)}"
            )
        return plain, aggs, exprs, star

    def _parse_aggregate(self) -> str:
        k, v = self.next()
        if k != "KW" or v.upper() not in self._AGGS:
            raise SparqlParseError(
                f"expected aggregate ({'/'.join(self._AGGS)}), got {v!r}"
            )
        fn = v.upper()
        self.expect_op("(")
        distinct = ""
        if self.at_kw("DISTINCT"):
            self.i += 1
            distinct = "DISTINCT "
        if self.peek() == ("OP", "*"):
            self.i += 1
            inner = "*"
            if distinct:
                raise SparqlParseError("COUNT(DISTINCT *) is not supported")
            if fn != "COUNT":
                raise SparqlParseError(f"{fn}(*) is not in the subset")
        else:
            inner = self.parse_expr(stop={("OP", ")"), ("OP", ";")})
        if fn == "GROUP_CONCAT":
            # SPARQL leaves element order undefined; we DEFINE it as the
            # sorted value order so the result is engine-reproducible
            # (the array_sort-after-collect order-proofing idiom)
            sep = " "
            if self.peek() == ("OP", ";"):
                self.i += 1
                self.expect_kw("SEPARATOR")
                self.expect_op("=")
                k, v = self.next()
                if k != "STRING":
                    raise SparqlParseError(
                        "SEPARATOR expects a string literal"
                    )
                sep = _unescape(v)
            self.expect_op(")")
            collect = "collect_set" if distinct else "collect_list"
            return (
                f"array_join(array_sort({collect}({inner})), {_sql_text(sep)})"
            )
        self.expect_op(")")
        if fn == "SAMPLE":
            # SAMPLE picks an arbitrary value; we pick the MINIMUM so the
            # choice is deterministic across engines and partitionings
            return f"min({inner})"
        return f"{fn.lower()}({distinct}{inner})"


def _unescape(quoted: str) -> str:
    body = quoted[1:-1]
    return (
        body.replace("\\\\", "\x00")
        .replace('\\"', '"')
        .replace("\\'", "'")
        .replace("\\n", "\n")
        .replace("\\t", "\t")
        .replace("\x00", "\\")
    )


# --------------------------------------------------------------------------
# compilation: element list → DataFrame
# --------------------------------------------------------------------------


def _ground_to_probe(pattern: tuple, idx: int) -> tuple[tuple, str]:
    """An all-constant pattern (legal SPARQL, e.g. in ASK) can't flow into
    ``bgp_match`` (which requires ≥1 variable): rebind the object as a
    helper variable constrained by an equality filter — same relation,
    and the helper column is dropped after compilation."""
    var = f"?__const{idx}"
    rewritten = (*pattern[:2], var, *pattern[3:])
    return rewritten, f"__const{idx} = {_sql_text(pattern[2])}"


def _compile_group(
    triples: DataFrame, elements: list[tuple], stats: dict[str, int] | None
) -> DataFrame:
    patterns = []
    probe_filters = []
    for e in elements:
        if e[0] != "t":
            continue
        p = e[1]
        if not any(isinstance(t, str) and t.startswith("?") for t in p):
            p, flt = _ground_to_probe(p, len(probe_filters))
            probe_filters.append(flt)
        patterns.append(p)
    optionals = [p for e in elements if e[0] == "optional" for p in e[1]]
    solution: DataFrame | None = None
    if patterns:
        solution = bgp_match(
            triples, patterns, select=None, optional=optionals or None, stats=stats
        )
        for flt in probe_filters:
            solution = solution.filter(F.expr(flt))
    elif optionals:
        raise SparqlParseError("OPTIONAL with no required patterns in scope")

    for e in elements:
        if e[0] == "union":
            branch = bgp_union(
                *[_compile_group(triples, g, stats) for g in e[1]]
            )
            if solution is None:
                solution = branch
            else:
                shared = sorted(
                    set(solution.columns) & set(branch.columns)
                )
                if not shared:
                    raise SparqlParseError(
                        "UNION block shares no variable with the rest of "
                        "the group (would be a cartesian product)"
                    )
                solution = solution.join(branch, on=shared)
        elif e[0] == "subselect":
            sub = _compile_select(triples, e[1], stats)
            if solution is None:
                solution = sub
            else:
                shared = sorted(set(solution.columns) & set(sub.columns))
                if not shared:
                    raise SparqlParseError(
                        "subquery shares no variable with the rest of the "
                        "group (would be a cartesian product)"
                    )
                solution = solution.join(sub, on=shared)

    if solution is None:
        raise SparqlParseError("group pattern binds nothing")

    # textual order for BIND (later binds may use earlier ones) and VALUES
    for e in elements:
        if e[0] == "bind":
            solution = bgp_bind(solution, e[1], e[2])
        elif e[0] == "values":
            solution = bgp_values(solution, e[1])

    # group-level scope: filters/EXISTS/MINUS after all joins (spec §8.3.3)
    for e in elements:
        if e[0] == "filter":
            solution = solution.filter(F.expr(e[1]))
        elif e[0] == "exists":
            solution = bgp_exists(solution, _compile_group(triples, e[1], stats))
        elif e[0] == "notexists":
            other = _compile_group(triples, e[1], stats)
            shared = sorted(set(solution.columns) & set(other.columns))
            if not shared:
                raise SparqlParseError(
                    "FILTER NOT EXISTS shares no variable with the solution"
                )
            solution = solution.join(
                other.select(*shared), on=shared, how="left_anti"
            )
        elif e[0] == "minus":
            solution = bgp_minus(
                solution, _compile_group(triples, e[1], stats)
            )
    helpers = [c for c in solution.columns if c.startswith("__const")]
    return solution.drop(*helpers) if helpers else solution


def sparql_query(
    triples: DataFrame, text: str, *, stats: dict[str, int] | None = None
) -> DataFrame:
    """Run a SPARQL query string against a ``(subj, pred, obj[, graph])``
    triples DataFrame.  SELECT returns one column per projected variable;
    ASK returns one row ``(found boolean)``; CONSTRUCT returns a
    ``(subj, pred, obj)`` graph.  See the module docstring for the
    supported subset; anything outside it raises ``SparqlParseError``.
    ``stats`` is ``bgp_match``'s predicate-cardinality map (one
    ``curate.predicate_profile`` pass) for join ordering."""
    p = _Parser(text)
    while p.at_kw("PREFIX", "BASE"):
        if p.at_kw("BASE"):
            raise SparqlParseError("BASE is not supported — use absolute IRIs")
        p.i += 1
        k, v = p.next()
        if k != "PNAME" or not v.endswith(":"):
            raise SparqlParseError(f"PREFIX expects 'pfx:', got {v!r}")
        k2, v2 = p.next()
        if k2 != "IRI":
            raise SparqlParseError(f"PREFIX expects an <IRI>, got {v2!r}")
        p.prefixes[v[:-1]] = v2[1:-1]

    if p.at_kw("ASK"):
        p.i += 1
        if p.at_kw("WHERE"):
            p.i += 1
        group = p.parse_group()
        _expect_end(p)
        return bgp_ask(_compile_group(triples, group, stats))

    if p.at_kw("CONSTRUCT"):
        p.i += 1
        p.expect_op("{")
        templates = []
        while p.peek() != ("OP", "}"):
            block = p.parse_triples_block()
            templates.extend(t for _, t in block)
            if p.peek() == ("OP", "."):
                p.i += 1
        p.i += 1
        p.expect_kw("WHERE")
        group = p.parse_group()
        _expect_end(p)
        return bgp_construct(_compile_group(triples, group, stats), templates)

    p.expect_kw("SELECT")
    spec = _parse_select_tail(p)
    _expect_end(p)
    return _compile_select(triples, spec, stats)


def _parse_select_tail(p: _Parser) -> dict:
    """Everything after the ``SELECT`` keyword — projection, group
    pattern, solution modifiers — into a spec dict.  Shared by the
    top-level SELECT form and braced subqueries (SPARQL 1.1 §12), which
    have identical grammar (the subquery's caller consumes the closing
    ``}`` )."""
    distinct = False
    if p.at_kw("DISTINCT"):
        p.i += 1
        distinct = True
    elif p.at_kw("REDUCED"):
        # spec §18.5: REDUCED permits ANY duplicate multiplicity between
        # DISTINCT's and the full multiset — eliminating all of them is a
        # conformant (and the only deterministic) answer
        p.i += 1
        distinct = True
    plain, aggs, exprs, star = p.parse_select_items()
    if p.at_kw("WHERE"):
        p.i += 1
    group = p.parse_group()

    group_by: list[str] = []
    if p.at_kw("GROUP"):
        p.i += 1
        p.expect_kw("BY")
        while p.peek()[0] == "VAR":
            group_by.append(p.next()[1][1:])
        if not group_by:
            raise SparqlParseError("GROUP BY expects variables")
    having = None
    if p.at_kw("HAVING"):
        p.i += 1
        having = p.parse_expr_parens()
    order_by: list = []
    if p.at_kw("ORDER"):
        p.i += 1
        p.expect_kw("BY")
        while True:
            if p.at_kw("ASC", "DESC"):
                direction = p.next()[1].lower()
                p.expect_op("(")
                k, v = p.next()
                if k != "VAR":
                    raise SparqlParseError("ORDER BY expects variables")
                p.expect_op(")")
                order_by.append((v[1:], direction))
            elif p.peek()[0] == "VAR":
                order_by.append(p.next()[1][1:])
            else:
                break
        if not order_by:
            raise SparqlParseError("empty ORDER BY")
    limit = offset = None
    # SPARQL allows LIMIT/OFFSET in either order
    for _ in range(2):
        if p.at_kw("LIMIT"):
            p.i += 1
            limit = _expect_int(p)
        elif p.at_kw("OFFSET"):
            p.i += 1
            offset = _expect_int(p)
    return {
        "distinct": distinct,
        "plain": plain,
        "aggs": aggs,
        "exprs": exprs,
        "star": star,
        "group": group,
        "group_by": group_by,
        "having": having,
        "order_by": order_by,
        "limit": limit,
        "offset": offset,
    }


def _compile_select(
    triples: DataFrame, spec: dict, stats: dict[str, int] | None
) -> DataFrame:
    """Compile a parsed SELECT spec (top-level or subquery) onto the
    bgp.py algebra.  Only projected variables leave — which is exactly
    SPARQL's subquery scoping rule (§12: inner non-projected variables
    are invisible to the outer group)."""
    plain, aggs, star = spec["plain"], spec["aggs"], spec["star"]
    exprs = spec.get("exprs") or {}
    group_by, having = spec["group_by"], spec["having"]
    order_by, limit, offset = spec["order_by"], spec["limit"], spec["offset"]

    solution = _compile_group(triples, spec["group"], stats)

    if exprs and (aggs or group_by):
        raise SparqlParseError(
            "SELECT expressions alongside aggregates/GROUP BY are not in "
            "the subset — compute the expression in a subquery"
        )
    if exprs:
        for alias in sorted(exprs):
            if alias in solution.columns:
                raise SparqlParseError(
                    f"(expr AS ?{alias}) rebinds a variable already bound "
                    "in the group pattern"
                )
            solution = solution.withColumn(alias, F.expr(exprs[alias]))
        plain = plain + sorted(exprs)

    if aggs or group_by:
        if star:
            raise SparqlParseError("SELECT * cannot be aggregated")
        if having and not aggs:
            raise SparqlParseError("HAVING without aggregates")
        bad = [v for v in plain if v not in group_by]
        if bad:
            raise SparqlParseError(
                f"non-grouped variables {bad} in an aggregate SELECT"
            )
        solution = bgp_aggregate(solution, group_by, aggs, having=having)
        projected = (plain or group_by) + sorted(aggs)
    elif star:
        projected = sorted(solution.columns)
    else:
        missing = [v for v in plain if v not in solution.columns]
        if missing:
            raise SparqlParseError(f"SELECT variables {missing} are not bound")
        projected = plain

    out = solution.select(*projected)
    if spec["distinct"]:
        out = out.distinct()
    if limit is not None or offset is not None:
        out = bgp_slice(out, order_by, limit=limit, offset=offset or 0)
    elif order_by:
        out = bgp_slice(out, order_by)
    return out


def _expect_int(p: _Parser) -> int:
    k, v = p.next()
    if k != "NUM" or not v.isdigit():
        raise SparqlParseError(f"expected a non-negative integer, got {v!r}")
    return int(v)


def _expect_end(p: _Parser) -> None:
    if p.peek()[0] != "EOF":
        raise SparqlParseError(f"trailing input: {p.peek()[1]!r}")


def sparql_update_text(
    triples: DataFrame, text: str, *, stats: dict[str, int] | None = None
) -> DataFrame:
    """SPARQL 1.1 Update as TEXT (spec §3.1) over a 3-column graph —
    the string forms of ``bgp.sparql_update``:

    - ``INSERT DATA { ground triples }`` / ``DELETE DATA { … }`` —
      ground-only by spec (§3.1.1-2: variables refused);
    - ``DELETE WHERE { patterns }`` — §3.1.3.1 shorthand, the pattern
      is both binding source and delete template (plain triple
      patterns only — OPTIONAL/UNION in the shorthand have no
      template reading);
    - ``DELETE { t } INSERT { t } WHERE { group }`` — either or both
      template blocks; WHERE takes the full group grammar (OPTIONAL,
      FILTER, paths, …), a superset of the programmatic API.

    Spec evaluation order: bindings match the ORIGINAL graph, deletes
    apply, then inserts — two keyed anti-joins, the same cost class as
    ``sparql_update``; the returned graph honors set semantics.
    """
    spo = ["subj", "pred", "obj"]
    if set(triples.columns) != set(spo):
        raise SparqlParseError(
            "sparql_update_text needs exactly (subj, pred, obj); got "
            f"{triples.columns} — scope quads to one graph first"
        )
    from mopper_spark.pipeline.bgp import bgp_construct

    p = _Parser(text)
    while p.at_kw("PREFIX", "BASE"):
        if p.at_kw("BASE"):
            raise SparqlParseError("BASE is not supported — use absolute IRIs")
        p.i += 1
        k, v = p.next()
        if k != "PNAME" or not v.endswith(":"):
            raise SparqlParseError(f"PREFIX expects 'pfx:', got {v!r}")
        k2, v2 = p.next()
        if k2 != "IRI":
            raise SparqlParseError(f"PREFIX expects an <IRI>, got {v2!r}")
        p.prefixes[v[:-1]] = v2[1:-1]

    def parse_block() -> list[tuple]:
        p.expect_op("{")
        tps: list[tuple] = []
        while p.peek() != ("OP", "}"):
            tps.extend(t for _, t in p.parse_triples_block())
            if p.peek() == ("OP", "."):
                p.i += 1
        p.i += 1
        if not tps:
            raise SparqlParseError("empty template/data block")
        return tps

    def ground_df(tps: list[tuple], what: str) -> DataFrame:
        for t in tps:
            if len(t) != 3:
                raise SparqlParseError(f"{what} DATA template {t!r} is not a triple")
            if any(isinstance(x, str) and x.startswith("?") for x in t):
                raise SparqlParseError(
                    f"{what} DATA requires ground triples (spec §3.1.1)"
                )
        return (
            triples.sparkSession.createDataFrame([tuple(t) for t in tps], spo)
            .distinct()
        )

    delete_df = insert_df = None
    if p.at_kw("INSERT"):
        p.i += 1
        if p.at_kw("DATA"):
            p.i += 1
            insert_df = ground_df(parse_block(), "INSERT")
        else:
            ins_t = parse_block()
            p.expect_kw("WHERE")
            sol = _compile_group(triples, p.parse_group(), stats)
            insert_df = bgp_construct(sol, ins_t)
    elif p.at_kw("DELETE"):
        p.i += 1
        if p.at_kw("DATA"):
            p.i += 1
            delete_df = ground_df(parse_block(), "DELETE")
        elif p.at_kw("WHERE"):
            p.i += 1
            group = p.parse_group()
            bad = [e[0] for e in group if e[0] != "t"]
            if bad:
                raise SparqlParseError(
                    f"DELETE WHERE shorthand allows plain triple patterns "
                    f"only, found {sorted(set(bad))} — use DELETE {{ }} "
                    "WHERE { } with explicit templates"
                )
            tpl = [e[1] for e in group]
            sol = _compile_group(triples, group, stats)
            delete_df = bgp_construct(sol, tpl)
        else:
            del_t = parse_block()
            ins_t = None
            if p.at_kw("INSERT"):
                p.i += 1
                ins_t = parse_block()
            p.expect_kw("WHERE")
            sol = _compile_group(triples, p.parse_group(), stats)
            delete_df = bgp_construct(sol, del_t)
            if ins_t:
                insert_df = bgp_construct(sol, ins_t)
    else:
        raise SparqlParseError(
            f"expected INSERT or DELETE, got {p.peek()[1]!r}"
        )
    _expect_end(p)

    out = triples.select(*spo)
    if delete_df is not None:
        out = out.join(delete_df, spo, "left_anti")
    if insert_df is not None:
        out = out.unionByName(insert_df.join(out, spo, "left_anti"))
    return out

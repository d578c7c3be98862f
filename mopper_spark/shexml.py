"""ShExML mapping → AlgeMapLoom plan translator (pragmatic subset).

The reference accepts ShExML mapping documents through the same external
``ltranslator`` crate as RML (``/root/reference/src/lib.rs:234-242``,
``MappingLang::ShExML``); this module is our from-scratch equivalent for
the common CSV-backed subset of the language
(https://shexml.herminiogarcia.com/spec/):

- ``PREFIX pfx: <iri>``
- ``SOURCE name <file-or-url>``
- ``ITERATOR name csvperrow { FIELD f <column> ... }`` plus
  ``<jsonpath: $.items[*]>`` / ``<xpath: /root/item>`` iterators over the
  engine's JSON/XML source subsets (beyond the reference, whose engine
  executes only CSV rows, lib.rs:129-137).  JSON FIELD paths may be
  nested dotted keys (``a.b.c``); XML FIELD paths may be ``@attr`` or
  element paths with wildcards (``*``), predicates (``[@a='v']``,
  ``[c]``, ``[N]``), descendant axes (``//leaf``) and a terminal
  ``/@attr`` (sources.py ``_xpath_parse`` subset).  JSON ITERATORS may
  filter array elements (``$.items[?(@.f=='v')]`` — compiled to a native
  ``F.filter`` before the explode).  Declared FIELDs ride into the source
  config, so JSON/XML sources build exactly the declared columns in one
  pass (no key-discovery job — sources.py fast path); JSON value
  wildcards (``.*``) and recursive descent (``..``) stay named refusals
  (schema-indeterminate under Spark's static JSON schema)
- Nested ``ITERATOR`` blocks (spec §Iterators) for JSON/XML: a child
  iterator's query is relative to the parent element (JSON ``actors[*]``,
  XML ``cast/actor``); shapes reference nested fields with dotted paths
  (``[films.actors.name]``).  Poms are grouped by the nesting LEVEL they
  reference — parent-level poms emit once per parent element, child-level
  poms (including shape links to child-subject shapes) once per child —
  and each level compiles to its own single-scan source chain whose
  explodes carry ancestor fields along.  A pom mixing sibling nested
  iterators is refused (no single row set to iterate).
- ``EXPRESSION name <source.iterator>`` and N-way
  ``<a.b UNION c.d [UNION …]>`` (each branch instantiates every shape
  that uses the expression — union-into-one-sink semantics); UNION may
  combine with JOIN (``<a.b JOIN c.d ON k=k UNION e.f>``): each
  UNION-level branch is independently a plain iterator or a JOIN, and
  every branch instantiates every shape
- Iterator-level JOIN expressions
  ``EXPRESSION name <a.b JOIN c.d ON key1=key2>``: the expression's rows
  are the inner equi-join of iterator ``a.b`` (left) with ``c.d`` (right)
  on the named FIELDs (bare or ``[src.]iterator.field``-qualified, either
  operand order); shape field references resolve against the left
  iterator first, then the right via the engine's alias-prefixed JoinOp —
  the plan emitted is identical in shape to rml.py's RefObjectMap join
  chain, and a JOIN document produces the same triples as the equivalent
  RML mapping with ``rr:parentTriplesMap``/``rr:joinCondition``
  (pinned by tests/test_shexml.py::test_join_expression_rml_equivalence)
- Shapes: ``:Name pfx:[expr.field] { pfx:p [expr.field] ; … }`` with
  objects: ``[expr.field]`` (literal), ``pfx:[expr.field]`` (IRI
  template), ``"constant"`` / ``pfx:constant`` (constants),
  ``@:OtherShape`` (shape link: the object is the linked shape's subject
  built from the SAME row when both shapes read the same underlying rows
  — same (source, iterator) branch set or the same JOIN, the analogue of
  the RML same-source RefObjectMap.  A link across expressions reading
  DIFFERENT rows uses template-reuse semantics: the target's subject
  template is applied to the current row, so its subject FIELD name must
  resolve on this iterator — the RML re-templating idiom, which emits
  dangling IRIs when referential integrity doesn't hold; for
  join-filtered links, put both shapes on one JOIN expression).
- ``MATCHER name <v1, v2 AS Canonical & v3 AS Other>`` declarations and
  ``[expr.field MATCHING name]`` usage (spec §Matchers): values equal to a
  listed variant are replaced by that rule's canonical form, others pass
  through unchanged.  Compiles to the plan-dialect ``Match`` function
  (native chained ``isin``/``when``).
- String operations (spec §"Applying string operations"): concatenation
  of fields and quoted literals with ``+`` — both ``[a.f + "-" + a.g]``
  and ``[a.f] + "-" + [a.g]`` spellings are accepted.
- Language tags on field objects (``[expr.field] @en``) are carried into
  the plan and serialized as ``"v"@en`` when
  ``MopperOptions.literal_annotations`` is on; with the default
  (reference-parity) options they are dropped, matching the reference's
  unimplemented literal annotations (``src/function/literal.rs:36-37``
  TODO).

Unsupported constructs (shape links whose expressions read different
rows and whose subject field doesn't resolve, nested iterators under
csvperrow, JSON value wildcards / recursive descent, nested fields
inside JOIN expressions) raise ``ShexmlTranslateError`` with the
construct named — same contract as the engine's explicit
``todo!()``-style refusals.

The output plan shape is identical to ``rml.py``'s (Source → Project →
Extend → Serialize → Sink chains), so everything downstream — rewriter,
compiler, serializer, engine — is shared.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from mopper_spark.rml import _PlanBuilder, _compile_term_map, TermMap


class ShexmlTranslateError(ValueError):
    pass


@dataclass
class Iterator_:
    name: str
    kind: str  # raw kind text ("csvperrow" | "jsonpath: …" | "xpath: …")
    fields: dict[str, str] = field(default_factory=dict)  # field name -> path
    formulation: str = "CSVRows"  # CSVRows | JSONPath | XPath
    query: str | None = None  # iterator expression for JSONPath/XPath
    #: nested ITERATOR blocks (spec §Iterators): name → child iterator whose
    #: query is RELATIVE to this iterator's element (JSON ``arr[*]``, XML
    #: ``child/sub``); formulation is inherited.  Flat CSV rows cannot nest.
    children: dict[str, "Iterator_"] = field(default_factory=dict)

    def column(self, fld: str) -> str:
        """Engine-visible column name for a FIELD.  JSON/XML sources run
        in declared-field mode (sources.py fast path): output columns are
        named by the FIELD itself, with the possibly-nested path carried
        in the source config.  CSV keeps raw header names (reference
        model, csv_file.rs:74-98)."""
        if self.formulation in ("JSONPath", "XPath"):
            return fld
        return self.fields[fld]


@dataclass
class JoinSpec:
    """Iterator-level JOIN: ``<lsrc.lit JOIN rsrc.rit ON k1=k2>``.

    Semantics (the RML RefObjectMap analogue, which is what the reference
    executes for multi-source mappings): the expression's row set is the
    inner equi-join of the left iterator's rows with the right iterator's
    rows on ``left_key = right_key``; shape field references resolve against
    the left iterator first, then the right (whose columns are
    alias-prefixed through the engine's JoinOp, ``engine.py`` join path).
    ON operands may be bare field names (resolved against both iterators;
    ambiguity refused) or qualified ``[src.]iterator.field``."""

    left: tuple[str, str]  # (source, iterator)
    right: tuple[str, str]
    left_key: str  # FIELD name on the left iterator
    right_key: str  # FIELD name on the right iterator


@dataclass
class Expression:
    """A ShExML EXPRESSION: the top-level UNION of one or more branches,
    each either a plain iterator ``("plain", (source, iterator))`` or an
    iterator-level JOIN ``("join", JoinSpec)`` — UNION combined with JOIN
    (``<a.b JOIN c.d ON k=k UNION e.f>``) unions the joined rows with the
    plain branch's rows, every branch instantiating every shape that uses
    the expression (union-into-one-sink semantics)."""

    name: str
    branches: list[tuple]  # ("plain", (src, it)) | ("join", JoinSpec)


@dataclass
class ShapeObject:
    kind: str  # "literal" | "iri" | "constant_iri" | "constant_lit" | "link" | "concat"
    expr: str | None = None
    fld: str | None = None
    prefix_iri: str | None = None
    constant: str | None = None
    link: str | None = None
    matcher: str | None = None
    #: for kind == "concat": ordered (is_field, text-or-(expr, fld)) parts
    parts: list | None = None
    #: language tag ("en", "en-US") — serialized only under
    #: MopperOptions.literal_annotations
    lang: str | None = None


@dataclass
class Shape:
    name: str
    subject_prefix: str  # expanded prefix IRI
    subject_expr: str
    subject_field: str
    subject_matcher: str | None = None
    poms: list[tuple[str, ShapeObject]] = field(default_factory=list)


_PREFIX_RE = re.compile(r"^PREFIX\s+(\w*):\s*<([^>]*)>\s*$")
_SOURCE_RE = re.compile(r"^SOURCE\s+(\w+)\s+<([^>]*)>\s*$")
_ITER_RE = re.compile(r"^ITERATOR\s+(\w+)\s+<?([^>{]+?)>?\s*\{\s*$")
_FIELD_RE = re.compile(r"^FIELD\s+(\w+)\s+<([^>]*)>\s*$")
_EXPR_RE = re.compile(r"^EXPRESSION\s+(\w+)\s+<(.+)>\s*$")
_MATCHER_RE = re.compile(r"^MATCHER\s+(\w+)\s+<(.+)>\s*$")
_SHAPE_RE = re.compile(
    r"^:(\w+)\s+(\w*):\[(\w+)\.((?:\w+\.)*\w+)(?:\s+MATCHING\s+(\w+))?\]\s*\{\s*$"
)
_POM_RE = re.compile(
    r"^(\w*):(\w+)\s+(.+?)\s*;?\s*$"
)
_OBJ_FIELD_RE = re.compile(
    r"^\[(\w+)\.((?:\w+\.)*\w+)(?:\s+MATCHING\s+(\w+))?\](?:\s*@(\w+(?:-\w+)*))?$"
)
_OBJ_PREF_FIELD_RE = re.compile(
    r"^(\w*):\[(\w+)\.((?:\w+\.)*\w+)(?:\s+MATCHING\s+(\w+))?\]$"
)
_OBJ_LINK_RE = re.compile(r"^@:(\w+)$")
_JOIN_RE = re.compile(
    r"^(\w+)\.(\w+)\s+JOIN\s+(\w+)\.(\w+)\s+ON\s+([\w.]+)\s*=\s*([\w.]+)$"
)
_OBJ_LIT_RE = re.compile(r'^"([^"]*)"(?:\s*(?:@\w+|\^\^\S+))?$')
_OBJ_CONST_RE = re.compile(r"^(\w*):(\w[\w\-.]*)$")


@dataclass
class ShexmlDoc:
    prefixes: dict[str, str]
    sources: dict[str, str]
    iterators: dict[str, Iterator_]
    expressions: dict[str, Expression]
    shapes: list[Shape]
    #: matcher name → ((canonical, (variant, ...)), ...)
    matchers: dict[str, tuple] = field(default_factory=dict)


def _split_plus(txt: str) -> list[str]:
    """Split a string-operation body on top-level ``+`` (quote-aware)."""
    parts: list[str] = []
    cur: list[str] = []
    in_quote = False
    for ch in txt:
        if ch == '"':
            in_quote = not in_quote
            cur.append(ch)
        elif ch == "+" and not in_quote:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur).strip())
    return parts


def _parse_join(jm: re.Match, iterators: dict[str, Iterator_]) -> JoinSpec:
    """Resolve a ``l.lit JOIN r.rit ON a=b`` match to a JoinSpec.

    Each ON operand is a bare FIELD name or a qualified ``[src.]it.field``;
    an operand must resolve to exactly one of the two joined iterators."""
    left = (jm.group(1), jm.group(2))
    right = (jm.group(3), jm.group(4))
    for _, itn in (left, right):
        if itn not in iterators:
            raise ShexmlTranslateError(
                f"JOIN references unknown ITERATOR {itn!r} (declare "
                "iterators before the expression)"
            )

    def resolve(op: str) -> tuple[str, str]:
        parts = op.split(".")
        if len(parts) == 1:
            fld = parts[0]
            sides = [
                side
                for side, (_, itn) in (("left", left), ("right", right))
                if fld in iterators[itn].fields
            ]
            if not sides:
                raise ShexmlTranslateError(
                    f"JOIN key {op!r} is not a FIELD of either joined iterator"
                )
            if len(sides) > 1:
                raise ShexmlTranslateError(
                    f"JOIN key {op!r} is a FIELD of both iterators — qualify "
                    "it as iterator.field"
                )
            return sides[0], fld
        if len(parts) == 2:
            itn, fld = parts
        elif len(parts) == 3:
            srcn, itn, fld = parts
            for side, (s, i) in (("left", left), ("right", right)):
                if (s, i) == (srcn, itn):
                    break
            else:
                raise ShexmlTranslateError(
                    f"JOIN key {op!r} does not name a joined source.iterator"
                )
        else:
            raise ShexmlTranslateError(f"Bad JOIN key {op!r}")
        for side, (_, i) in (("left", left), ("right", right)):
            if i == itn:
                if fld not in iterators[itn].fields:
                    raise ShexmlTranslateError(
                        f"JOIN key {op!r}: no FIELD {fld!r} on iterator {itn!r}"
                    )
                return side, fld
        raise ShexmlTranslateError(
            f"JOIN key {op!r} does not name a joined iterator"
        )

    s1, f1 = resolve(jm.group(5))
    s2, f2 = resolve(jm.group(6))
    if {s1, s2} != {"left", "right"}:
        raise ShexmlTranslateError(
            "JOIN condition must relate one field of each iterator "
            f"(got both on the {s1} side)"
        )
    lk, rk = (f1, f2) if s1 == "left" else (f2, f1)
    return JoinSpec(left=left, right=right, left_key=lk, right_key=rk)


def _validate_field_path(formulation: str, raw: str) -> str:
    """Validate/normalize one FIELD path for a formulation (shared by top
    and nested iterators); returns the engine path."""
    col = raw
    if formulation == "JSONPath":
        # dotted (possibly nested) keys of the iterated object; value
        # wildcards (.*) and recursive descent ($..y) stay refusals —
        # both are schema-indeterminate under Spark's static JSON schema
        col = col.removeprefix("$.").removeprefix("$")
        # empty segments also catch recursive descent ($..y)
        if re.search(r"[\[\]/]", col) or not all(col.split(".")):
            raise ShexmlTranslateError(
                f"FIELD path {raw!r} not supported (dotted keys of the "
                "iterated object only, e.g. a.b.c — no wildcards or "
                "recursive descent; filter iteration belongs on the "
                "ITERATOR, e.g. <jsonpath: $.items[?(@.f=='v')]>)"
            )
    elif formulation == "XPath":
        # the engine's XPath-lite subset relative to the iterated element:
        # @attr, element paths with wildcards, [@a='v']/[c]/[N] predicates
        # and // descendant axes, optional terminal /@attr
        col = col[1:] if col.startswith(".//") else col.removeprefix("./")
        try:
            from .sources import _xpath_parse

            if col.startswith("/") and not col.startswith("//"):
                raise NotImplementedError("absolute path")
            steps = _xpath_parse(col)
            for _, name, _p in steps[:-1]:
                if name.startswith("@"):
                    raise NotImplementedError("non-terminal @attr step")
        except NotImplementedError as exc:
            raise ShexmlTranslateError(
                f"FIELD path {raw!r} not supported ({exc})"
            ) from None
    return col


def _parse_iterator(
    lines: list[str], i: int, m: re.Match, parent: Iterator_ | None
) -> tuple[Iterator_, int]:
    """Parse one ITERATOR block starting after its header line; recurses
    into nested ITERATOR blocks (spec §Iterators).  A nested iterator's
    query is RELATIVE to the parent element (JSON ``arr[*]`` /
    ``a.b[*]``; XML ``child`` / ``child/sub``) and inherits the parent's
    formulation; flat CSV rows cannot nest."""
    it = Iterator_(name=m.group(1), kind=m.group(2).strip())
    if parent is None:
        if it.kind == "csvperrow":
            it.formulation, it.query = "CSVRows", None
        elif it.kind.startswith("jsonpath:"):
            it.formulation = "JSONPath"
            it.query = it.kind.split(":", 1)[1].strip()
        elif it.kind.startswith("xpath:"):
            it.formulation = "XPath"
            it.query = it.kind.split(":", 1)[1].strip()
        else:
            raise ShexmlTranslateError(
                f"Iterator kind {it.kind!r} not supported (csvperrow, "
                "jsonpath: …, xpath: … — the formulations the engine's "
                "source layer executes)"
            )
    else:
        it.formulation = parent.formulation
        it.query = it.kind.removeprefix("jsonpath:").removeprefix(
            "xpath:"
        ).strip()
        if parent.formulation == "CSVRows":
            raise ShexmlTranslateError(
                f"Nested ITERATOR {it.name!r} under a csvperrow iterator "
                "is not supported (CSV rows are flat)"
            )
        if parent.formulation == "JSONPath":
            q = it.query.removeprefix("$.").removeprefix("$")
            if not re.fullmatch(
                r"\w+(\.\w+)*(\[\*\]|\[\?\(@\.\w+(=='[^']*')?\)\])", q
            ):
                raise ShexmlTranslateError(
                    f"Nested JSON iterator {it.query!r} not supported "
                    "(relative array path, e.g. actors[*], a.b[*], or "
                    "actors[?(@.role=='lead')])"
                )
            it.query = q
        else:  # XPath
            q = (
                it.query[1:]
                if it.query.startswith(".//")
                else it.query.removeprefix("./")
            )
            try:  # the engine's XPath-lite subset: wildcards, predicates,
                # descendant axes relative to the parent element
                from .sources import _xpath_parse

                if q.startswith("/") and not q.startswith("//"):
                    raise NotImplementedError("absolute path")
                _xpath_parse(q)
            except NotImplementedError as exc:
                raise ShexmlTranslateError(
                    f"Nested XML iterator {it.query!r} not supported "
                    f"({exc})"
                ) from None
            it.query = q
    while i < len(lines):
        fl = lines[i]
        i += 1
        if fl == "}":
            break
        if not fl or fl.startswith("#"):
            continue
        if nm := _ITER_RE.match(fl):
            child, i = _parse_iterator(lines, i, nm, parent=it)
            if child.name in it.fields:
                raise ShexmlTranslateError(
                    f"Nested ITERATOR {child.name!r} collides with a FIELD "
                    f"of iterator {it.name!r}"
                )
            it.children[child.name] = child
            continue
        fm = _FIELD_RE.match(fl)
        if not fm:
            raise ShexmlTranslateError(f"Bad FIELD line: {fl!r}")
        if fm.group(1) in it.children:
            raise ShexmlTranslateError(
                f"FIELD {fm.group(1)!r} collides with a nested ITERATOR "
                f"of iterator {it.name!r}"
            )
        it.fields[fm.group(1)] = _validate_field_path(
            it.formulation, fm.group(2)
        )
    return it, i


def parse_shexml(text: str) -> ShexmlDoc:
    prefixes: dict[str, str] = {}
    sources: dict[str, str] = {}
    iterators: dict[str, Iterator_] = {}
    expressions: dict[str, Expression] = {}
    shapes: list[Shape] = []
    matchers: dict[str, tuple] = {}

    lines = [ln.strip() for ln in text.splitlines()]
    i = 0
    while i < len(lines):
        ln = lines[i]
        i += 1
        if not ln or ln.startswith("#") or ln.startswith("//"):
            continue
        if m := _PREFIX_RE.match(ln):
            prefixes[m.group(1)] = m.group(2)
            continue
        if m := _SOURCE_RE.match(ln):
            sources[m.group(1)] = m.group(2)
            continue
        if m := _ITER_RE.match(ln):
            it, i = _parse_iterator(lines, i, m, parent=None)
            iterators[it.name] = it
            continue
        if m := _MATCHER_RE.match(ln):
            rules_: list[tuple[str, tuple[str, ...]]] = []
            for rule in m.group(2).split("&"):
                rm = re.match(r"^(.*?)\s+AS\s+(.+?)\s*$", rule.strip())
                if not rm:
                    raise ShexmlTranslateError(
                        f"Bad MATCHER rule {rule.strip()!r} (expected "
                        "'variant[, variant…] AS Canonical')"
                    )
                variants = [v.strip() for v in rm.group(1).split(",") if v.strip()]
                canonical = rm.group(2).strip()
                # the canonical form also matches itself (idempotent apply)
                rules_.append((canonical, tuple(variants + [canonical])))
            matchers[m.group(1)] = tuple(rules_)
            continue
        if m := _EXPR_RE.match(ln):
            name, body = m.group(1), m.group(2)
            branches: list[tuple] = []
            for part in re.split(r"\s+UNION\s+", body):
                part = part.strip()
                if jm := _JOIN_RE.match(part):
                    branches.append(("join", _parse_join(jm, iterators)))
                    continue
                if " JOIN " in f" {part} ":
                    raise ShexmlTranslateError(
                        f"Expression branch {part!r} not supported (JOIN "
                        "form is 'src.it JOIN src2.it2 ON key=key')"
                    )
                pm = re.match(r"^(\w+)\.(\w+)$", part)
                if not pm:
                    raise ShexmlTranslateError(
                        f"Expression {part!r} not supported (plain "
                        "source.iterator, UNION, and iterator-level JOIN "
                        "branches only)"
                    )
                branches.append(("plain", (pm.group(1), pm.group(2))))
            expressions[name] = Expression(name, branches)
            continue
        if m := _SHAPE_RE.match(ln):
            pfx = m.group(2)
            if pfx not in prefixes:
                raise ShexmlTranslateError(f"Undefined prefix {pfx!r}:")
            shape = Shape(
                name=m.group(1),
                subject_prefix=prefixes[pfx],
                subject_expr=m.group(3),
                subject_field=m.group(4),
                subject_matcher=m.group(5),
            )
            while i < len(lines):
                pl = lines[i]
                i += 1
                if pl == "}":
                    break
                if not pl or pl.startswith("#"):
                    continue
                pm = _POM_RE.match(pl)
                if not pm:
                    raise ShexmlTranslateError(f"Bad predicate-object line: {pl!r}")
                p_pfx, p_local, obj_txt = pm.groups()
                if p_pfx not in prefixes:
                    raise ShexmlTranslateError(f"Undefined prefix {p_pfx!r}:")
                predicate = prefixes[p_pfx] + p_local
                shape.poms.append((predicate, _parse_object(obj_txt, prefixes)))
            shapes.append(shape)
            continue
        raise ShexmlTranslateError(f"Unsupported ShExML construct: {ln!r}")

    return ShexmlDoc(prefixes, sources, iterators, expressions, shapes, matchers)


_CONCAT_FIELD_RE = re.compile(
    r"^\[?(\w+)\.((?:\w+\.)*\w+)(?:\s+MATCHING\s+(\w+))?\]?$"
)
_CONCAT_LIT_RE = re.compile(r'^"([^"]*)"$')


def _parse_object(txt: str, prefixes: dict[str, str]) -> ShapeObject:
    txt = txt.strip()
    if m := _OBJ_LINK_RE.match(txt):
        return ShapeObject(kind="link", link=m.group(1))
    if m := _OBJ_PREF_FIELD_RE.match(txt):
        pfx = m.group(1)
        if pfx not in prefixes:
            raise ShexmlTranslateError(f"Undefined prefix {pfx!r}:")
        return ShapeObject(
            kind="iri", prefix_iri=prefixes[pfx], expr=m.group(2), fld=m.group(3),
            matcher=m.group(4),
        )
    if m := _OBJ_FIELD_RE.match(txt):
        return ShapeObject(
            kind="literal", expr=m.group(1), fld=m.group(2), matcher=m.group(3),
            lang=m.group(4),
        )
    if m := _OBJ_LIT_RE.match(txt):
        return ShapeObject(kind="constant_lit", constant=m.group(1))
    if m := _OBJ_CONST_RE.match(txt):
        pfx = m.group(1)
        if pfx not in prefixes:
            raise ShexmlTranslateError(f"Undefined prefix {pfx!r}:")
        return ShapeObject(kind="constant_iri", constant=prefixes[pfx] + m.group(2))
    toks = _split_plus(txt)
    if len(toks) > 1:
        # string operation: concatenation of field slots and literals.
        # Normalize the outer-bracket spelling [a.f + "-" + a.g] to
        # per-token slots.
        if toks[0].startswith("[") and not toks[0].endswith("]"):
            toks[0] = toks[0][1:]
            if toks[-1].endswith("]"):
                toks[-1] = toks[-1][:-1].strip()
        parts: list = []
        for t in toks:
            t = t.strip()
            if m := _CONCAT_LIT_RE.match(t):
                parts.append(("lit", m.group(1)))
            elif m := _CONCAT_FIELD_RE.match(t):
                parts.append(("field", m.group(1), m.group(2), m.group(3)))
            else:
                raise ShexmlTranslateError(
                    f"Unsupported string-operation term {t!r} (field slots "
                    "and quoted literals joined by '+' only)"
                )
        return ShapeObject(kind="concat", parts=parts)
    raise ShexmlTranslateError(f"Unsupported object expression: {txt!r}")


# --------------------------------------------------------------------------
# translation to plan
# --------------------------------------------------------------------------
def _match_rules_json(doc: ShexmlDoc, matcher_name: str) -> list:
    rules_ = doc.matchers.get(matcher_name)
    if rules_ is None:
        raise ShexmlTranslateError(f"Unknown MATCHER {matcher_name!r}")
    return [[canonical, list(variants)] for canonical, variants in rules_]


def _ref_fn(doc: ShexmlDoc, column: str, matcher_name: str | None) -> dict:
    fn: dict = {"type": "Reference", "value": column}
    if matcher_name:
        fn = {
            "type": "Match",
            "inner_function": fn,
            "rules": _match_rules_json(doc, matcher_name),
        }
    return fn


def _iri_fn(
    doc: ShexmlDoc, prefix_iri: str, column: str, matcher_name: str | None
) -> dict:
    """IRI template function JSON — identical to rml._fn_template_iri output
    when no matcher applies, with the Match node threaded below UriEncode
    otherwise (normalize first, THEN percent-encode)."""
    if "{" in prefix_iri or "}" in prefix_iri:
        raise ShexmlTranslateError(f"Brace in prefix IRI {prefix_iri!r}")
    return {
        "type": "Iri",
        "base_iri": "",
        "inner_function": {
            "type": "TemplateFunctionValue",
            "template": prefix_iri + "{" + column + "}",
            "variable_function_pairs": [
                [column, {"type": "UriEncode",
                          "inner_function": _ref_fn(doc, column, matcher_name)}]
            ],
        },
    }


def _literal_fn(
    doc: ShexmlDoc, column: str, matcher_name: str | None, lang: str | None = None
) -> dict:
    return {
        "type": "Literal",
        "inner_function": _ref_fn(doc, column, matcher_name),
        "dtype_function": None,
        "langtype_function": {"type": "Constant", "value": lang} if lang else None,
    }


def _resolve_field_path(
    it: Iterator_, fld: str, where: str
) -> tuple[tuple[str, ...], str]:
    """Resolve a possibly-dotted shape field reference against an iterator
    tree: ``name`` → ((), name); ``actors.name`` → (("actors",), "name").
    Returns ``(level_path, leaf_field)``."""
    parts = fld.split(".")
    cur, level = it, []
    for seg in parts[:-1]:
        child = cur.children.get(seg)
        if child is None:
            raise ShexmlTranslateError(
                f"Unknown FIELD {fld!r} in {where} (iterator {cur.name!r} "
                f"has no nested iterator {seg!r})"
            )
        cur = child
        level.append(seg)
    leaf = parts[-1]
    if leaf not in cur.fields:
        raise ShexmlTranslateError(
            f"Unknown FIELD {fld!r} in {where} (iterator {cur.name})"
        )
    return tuple(level), leaf


def _field_column(it: Iterator_, level: tuple[str, ...], leaf: str) -> str:
    """Engine column name of a field at a nesting level.  Top-level keeps
    the iterator's naming (CSV: raw header); nested fields are
    level-qualified (``actors__name``) so a child FIELD cannot shadow a
    parent FIELD of the same name."""
    if not level:
        return it.column(leaf)
    return "__".join(level + (leaf,))


def _level_field_refs(obj: ShapeObject) -> list[str]:
    """Field references an object contributes for LEVEL computation (link
    targets are handled by the caller, which knows the shape table)."""
    if obj.kind in ("iri", "literal"):
        return [obj.fld]
    if obj.kind == "concat":
        return [part[2] for part in obj.parts if part[0] == "field"]
    return []


class _UnionCtx:
    """Row context for a plain/union branch: one iterator (possibly at a
    NESTED level), one source chain.  ``level`` names the nested-iterator
    path the chain iterates at; fields of every ancestor level (parent
    columns ride through the explode) and of the level itself resolve."""

    def __init__(
        self,
        doc: ShexmlDoc,
        src_name: str,
        it_name: str,
        level: tuple[str, ...] = (),
    ):
        if src_name not in doc.sources:
            raise ShexmlTranslateError(f"Unknown SOURCE {src_name!r}")
        it = doc.iterators.get(it_name)
        if it is None:
            raise ShexmlTranslateError(f"Unknown ITERATOR {it_name!r}")
        self.doc, self.src_name, self.it = doc, src_name, it
        self.level = level
        self.attrs: list[str] = []

    def col_of(self, fld: str, where: str) -> str:
        lvl, leaf = _resolve_field_path(self.it, fld, where)
        if lvl != self.level[: len(lvl)]:
            raise ShexmlTranslateError(
                f"FIELD {fld!r} in {where} lives on nested iterator "
                f"{'.'.join(lvl)!r}, not on this chain's level "
                f"{'.'.join(self.level) or '(root)'!r} — a single "
                "predicate-object cannot mix sibling nested iterators"
            )
        col = _field_column(self.it, lvl, leaf)
        self.attrs.append(col)
        return col

    def build_chain(self, pb: _PlanBuilder, upstream_of_extend):
        src = pb.add(
            "SourceOp",
            _source_config(self.doc, self.src_name, self.it, self.level),
            "Source",
        )
        proj = pb.add(
            "ProjectOp",
            {"projection_attributes": sorted(set(self.attrs))},
            "Projection",
        )
        pb.connect(src, proj)
        pb.connect(proj, upstream_of_extend)


class _JoinCtx:
    """Row context for an iterator-level JOIN expression: rows are the inner
    equi-join of the left iterator with the right; field references resolve
    left-first, then right via the engine's alias-prefixed JoinOp columns —
    the plan produced is identical in shape to rml.py's RefObjectMap chain
    (child proj + parent proj → JoinOp → Extend)."""

    def __init__(self, doc: ShexmlDoc, join: JoinSpec, alias: str):
        self.doc, self.join, self.alias = doc, join, alias
        for src_name, _ in (join.left, join.right):
            if src_name not in doc.sources:
                raise ShexmlTranslateError(f"Unknown SOURCE {src_name!r}")
        self.lit = doc.iterators[join.left[1]]
        self.rit = doc.iterators[join.right[1]]
        self.left_attrs: list[str] = []
        self.right_attrs: list[str] = []

    def col_of(self, fld: str, where: str) -> str:
        in_left = fld in self.lit.fields
        in_right = fld in self.rit.fields
        if in_left and in_right:
            raise ShexmlTranslateError(
                f"FIELD {fld!r} in {where} exists on both joined iterators "
                f"({self.lit.name}, {self.rit.name}) — rename one FIELD to "
                "disambiguate"
            )
        if in_left:
            col = self.lit.column(fld)
            self.left_attrs.append(col)
            return col
        if in_right:
            col = self.rit.column(fld)
            self.right_attrs.append(col)
            return f"{self.alias}_{col}"
        raise ShexmlTranslateError(
            f"Unknown FIELD {fld!r} in {where} (joined iterators "
            f"{self.lit.name}, {self.rit.name})"
        )

    def build_chain(self, pb: _PlanBuilder, upstream_of_extend):
        lk = self.lit.column(self.join.left_key)
        rk = self.rit.column(self.join.right_key)
        self.left_attrs.append(lk)
        self.right_attrs.append(rk)
        left_src = pb.add(
            "SourceOp",
            _source_config(self.doc, self.join.left[0], self.lit),
            "Source",
        )
        left_proj = pb.add(
            "ProjectOp",
            {"projection_attributes": sorted(set(self.left_attrs))},
            "Projection",
        )
        right_src = pb.add(
            "SourceOp",
            _source_config(self.doc, self.join.right[0], self.rit),
            "Source",
        )
        right_proj = pb.add(
            "ProjectOp",
            {"projection_attributes": sorted(set(self.right_attrs))},
            "Projection",
        )
        join = pb.add(
            "JoinOp",
            {
                "left_right_attr_pairs": [[lk, rk]],
                "join_type": "InnerJoin",
                "predicate_type": "Equal",
                "join_alias": self.alias,
            },
            "Join",
        )
        pb.connect(left_src, left_proj)
        pb.connect(right_src, right_proj)
        # left/child edge FIRST (src/lib.rs:197-202 edge-order contract)
        pb.connect(left_proj, join, self.alias)
        pb.connect(right_proj, join, self.alias)
        pb.connect(join, upstream_of_extend)


def _source_config(
    doc: ShexmlDoc,
    src_name: str,
    it: Iterator_,
    level: tuple[str, ...] = (),
) -> dict:
    # JSON/XML iterators ship their FIELD declarations into the source
    # config: sources.py builds the columns straight from the declared
    # (possibly nested) paths — no key-discovery pass, fixed schema
    fields: list = []
    if it.formulation in ("JSONPath", "XPath"):
        fields = [{"name": n, "path": p} for n, p in it.fields.items()]
    config = {
        "path": doc.sources[src_name],
        "source_type": "File",
        "root_iterator": {
            "reference": it.query,
            "reference_formulation": it.formulation,
            "fields": fields,
            "alias": None,
        },
    }
    if level:
        # nested-iterator chain: one explode per step, each level's FIELDs
        # level-qualified (actors__name) and every ancestor level's fields
        # riding along — sources.py executes the chain in one scan pass
        nested = []
        cur, prefix = it, []
        for step in level:
            cur = cur.children[step]
            prefix.append(step)
            nested.append(
                {
                    "reference": cur.query,
                    "fields": [
                        {"name": "__".join(prefix + [n]), "path": p}
                        for n, p in cur.fields.items()
                    ],
                }
            )
        config["root_iterator"]["nested"] = nested
    return config


def _same_rows(a: Expression, b: Expression) -> bool:
    """Do two expressions read the same underlying rows (so a shape link
    between them is a same-row reference, not a cross-row join)?"""

    def norm(e: Expression) -> list:
        out = []
        for kind, spec in e.branches:
            if kind == "join":
                out.append(
                    ("join", spec.left, spec.right, spec.left_key, spec.right_key)
                )
            else:
                out.append(("plain",) + tuple(spec))
        return sorted(out)

    return norm(a) == norm(b)


def _deeper_level(
    a: tuple[str, ...], b: tuple[str, ...], shape_name: str, predicate: str
) -> tuple[str, ...]:
    """Combine two nesting levels used by one predicate-object: the deeper
    one wins, but they must lie on one root-to-leaf path — a pom mixing
    SIBLING nested iterators has no single row set to iterate."""
    if a == b[: len(a)]:
        return b
    if b == a[: len(b)]:
        return a
    raise ShexmlTranslateError(
        f"Predicate {predicate!r} of shape :{shape_name} mixes sibling "
        f"nested iterators {'.'.join(a)!r} and {'.'.join(b)!r}"
    )


def _emit_chain(pb, doc, shapes_by_name, shape, expr, ctx, poms) -> None:
    """Compile one (shape × branch × nesting-level) chain: Extend +
    Serializer + Sink fed by the context's source chain."""
    col_of = ctx.col_of

    extend: dict[str, dict] = {}
    subj_var = f"?sx_{shape.name}_sm"
    subj_col = col_of(shape.subject_field, f":{shape.name}")
    extend[subj_var] = _iri_fn(
        doc, shape.subject_prefix, subj_col, shape.subject_matcher
    )
    lines: list[str] = []

    for pi, (predicate, obj) in enumerate(poms):
        p_var = f"?sx_{shape.name}_p{pi}"
        extend[p_var] = _compile_term_map(
            TermMap(constant=predicate, constant_is_iri=True, term_type="IRI"),
            "",
        )
        o_var = f"?sx_{shape.name}_o{pi}"
        if obj.kind == "link":
            target = shapes_by_name.get(obj.link)
            if target is None:
                raise ShexmlTranslateError(
                    f"Shape link @:{obj.link} has no target shape"
                )
            target_expr = doc.expressions.get(target.subject_expr)
            if target_expr is None:
                raise ShexmlTranslateError(
                    f"Shape link @:{obj.link}: target shape references "
                    f"unknown expression {target.subject_expr!r}"
                )
            # Same-row link (same branches / same JOIN): the RML
            # same-source RefObjectMap analogue.  Cross-row link:
            # template-reuse semantics — the target's subject
            # template is applied to the CURRENT row, so the
            # target's subject FIELD name must resolve here (the
            # RML re-templating idiom; emits dangling IRIs when
            # referential integrity doesn't hold, exactly like an
            # RML template object map).  For join-filtered links,
            # put both shapes on one JOIN expression.
            try:
                link_col = col_of(target.subject_field, f"@:{obj.link}")
            except ShexmlTranslateError:
                if _same_rows(target_expr, expr):
                    raise
                raise ShexmlTranslateError(
                    f"Shape link @:{obj.link} crosses expressions over "
                    f"different rows ({shape.subject_expr!r} → "
                    f"{target.subject_expr!r}) and the target subject "
                    f"FIELD {target.subject_field!r} does not resolve "
                    "on the current rows; cross-row links are "
                    "template-reuse (target subject template over the "
                    "current row) — declare the field on this "
                    "iterator, or join the rows with a JOIN expression"
                ) from None
            o_fn = _iri_fn(
                doc, target.subject_prefix, link_col, target.subject_matcher
            )
        elif obj.kind == "iri":
            o_fn = _iri_fn(
                doc, obj.prefix_iri, col_of(obj.fld, predicate), obj.matcher
            )
        elif obj.kind == "literal":
            o_fn = _literal_fn(
                doc, col_of(obj.fld, predicate), obj.matcher, obj.lang
            )
        elif obj.kind == "concat":
            inners = []
            for part in obj.parts:
                if part[0] == "lit":
                    inners.append({"type": "Constant", "value": part[1]})
                else:
                    _, _pexpr, pfld, pmatcher = part
                    pcol = col_of(pfld, predicate)
                    inners.append(_ref_fn(doc, pcol, pmatcher))
            o_fn = {
                "type": "Literal",
                "inner_function": {
                    "type": "Concatenate",
                    "inner_functions": inners,
                    "separator": "",
                },
                "dtype_function": None,
                "langtype_function": None,
            }
        elif obj.kind == "constant_iri":
            o_fn = _compile_term_map(
                TermMap(constant=obj.constant, constant_is_iri=True,
                        term_type="IRI"),
                "",
            )
        else:  # constant_lit
            o_fn = _compile_term_map(
                TermMap(constant=obj.constant, term_type="Literal"), ""
            )
        extend[o_var] = o_fn
        lines.append(f"{subj_var} {p_var} {o_var} .")

    if not lines:
        return
    ext = pb.add("ExtendOp", extend, "Extend")
    ser = pb.add(
        "SerializerOp",
        {"template": "\n".join(lines), "format": "NQuads"},
        "Serialize",
    )
    sink = pb.add(
        "TargetOp", {"target_type": "StdOut", "data_format": "NQuads"}, "Sink"
    )
    ctx.build_chain(pb, ext)
    pb.connect(ext, ser)
    pb.connect(ser, sink)


def shexml_to_plan(text: str) -> dict:
    """Translate a ShExML document to an executable plan dict."""
    doc = parse_shexml(text)
    pb = _PlanBuilder()
    shapes_by_name = {s.name: s for s in doc.shapes}
    join_n = 0

    for shape in doc.shapes:
        expr = doc.expressions.get(shape.subject_expr)
        if expr is None:
            raise ShexmlTranslateError(
                f"Shape :{shape.name} references unknown expression "
                f"{shape.subject_expr!r}"
            )
        # one chain per union branch (union-into-sink semantics); a JOIN
        # branch's rows are the joined rows.  Within a plain branch whose
        # iterator nests, poms are grouped by the nesting LEVEL they
        # reference and each level gets its own chain: parent-level poms
        # emit once per parent element, child-level poms once per child
        # element — the spec's per-iteration semantics, with no duplicate
        # triples.
        for kind, spec in expr.branches:
            if kind == "join":
                ctx = _JoinCtx(doc, spec, f"sxjoin_{join_n}")
                join_n += 1
                _emit_chain(pb, doc, shapes_by_name, shape, expr, ctx, shape.poms)
                continue
            src_name, it_name = spec
            it = doc.iterators.get(it_name)
            if it is None:
                raise ShexmlTranslateError(f"Unknown ITERATOR {it_name!r}")
            subj_lvl, _ = _resolve_field_path(
                it, shape.subject_field, f":{shape.name}"
            )
            groups: dict[tuple[str, ...], list] = {}
            for predicate, obj in shape.poms:
                refs = _level_field_refs(obj)
                if obj.kind == "link":
                    target = shapes_by_name.get(obj.link)
                    if target is not None:
                        refs = [target.subject_field]
                lvl = subj_lvl
                for r in refs:
                    try:
                        rl, _ = _resolve_field_path(it, r, predicate)
                    except ShexmlTranslateError:
                        continue  # deferred: col_of raises the real error
                    lvl = _deeper_level(lvl, rl, shape.name, predicate)
                groups.setdefault(lvl, []).append((predicate, obj))
            for lvl in sorted(groups):
                ctx = _UnionCtx(doc, src_name, it_name, level=lvl)
                _emit_chain(
                    pb, doc, shapes_by_name, shape, expr, ctx, groups[lvl]
                )
    return pb.plan()

"""Function-tree → Spark SQL text compiler (the ExtendOp workhorse).

Compiles each mapping function tree (the reference's
``src/operator/extension.rs:124-190``) into native Spark SQL text, so an
ExtendOp is one ``selectExpr``: one py4j call instead of one per Column
function, literal and argument list.  Identifiers are backtick-quoted and
constants go through ``serializer._sql_text``.  The only Python a compiled
plan can hold is a vectorized FnO implementation registered in
``MopperOptions.fno_registry``: Column in (``F.expr`` of each argument's
SQL), Column out, bound as a hidden input column by a ``select`` before
the node's ``selectExpr``.  Row-at-a-time Python (``BatchEvalPython``)
never appears in the plan.

Scale notes
-----------
- Everything here is embarrassingly parallel per partition: no shuffles.
- The hot path for RML-style IRI templates (constant absolute skeleton +
  ``UriEncode``-wrapped slots) compiles to pure JVM ``concat`` + one
  ``RLIKE`` validity check — whole-stage-codegen friendly, no Python at all.
  The compile-time proof: percent-encoded slot values consist only of
  unreserved chars, ``%XX`` escapes, and the raw survivors
  ``" < > \\ ^ ` { | }``; given a structurally valid constant skeleton the
  *only* way a row can be invalid is to contain one of those raw survivors,
  which a single regex find detects (see functions/iri.py docstring).
"""

from __future__ import annotations

import logging
import re
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mopper_spark import rules
from mopper_spark.functions.encoding import KEEP_CHARS
from mopper_spark.functions.iri import (
    RELREF_FULLMATCH,
    URI_ALLOWED_CHARS,
    URI_FULLMATCH,
    iri_finalize,
    is_valid_uri,
    is_valid_uri_reference,
)
from mopper_spark.functions.templates import (
    parse_template,
    remove_join_alias_prefix,
)
from mopper_spark.serializer import _sql_concat, _sql_ident, _sql_text

log = logging.getLogger(__name__)

_SCHEME_PREFIX_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")


@dataclass
class CompiledTerm:
    sql: str
    kind: str  # "iri" | "lit" | "blank" | "str"


# ``url_encode`` (java.net.URLEncoder, UTF-8) keeps only alphanumerics and
# ``. - * _``; it writes a space as "+".  pct-str keeps every KEEP_CHARS
# character raw and encodes "*" and the space.  Every "%" URLEncoder writes
# opens an uppercase %XX triple, so replacing whole triples cannot match
# across two of them, and a "+" in its output is always a space.
_URL_ENCODE_FIXES = [("+", "%20"), ("*", "%2A")] + [
    (f"%{ord(c):02X}", c)
    for c in KEEP_CHARS
    if not (c.isascii() and c.isalnum()) and c not in ".-_"
]

# a class of the characters pct-str keeps raw that no URI may hold:
# ``" < > \ ^ ` { | }``
_KEPT_NOT_URI_CLASS = "[%s]" % re.escape(
    "".join(c for c in KEEP_CHARS if c not in URI_ALLOWED_CHARS)
)


def pct_encode_native(value: str) -> str:
    """SQL percent-encoding the SQL expression ``value`` entirely JVM-side
    (pct-str URIReserved parity).

    ``url_encode`` (UTF-8 bytes, uppercase hex) followed by the
    ``_URL_ENCODE_FIXES`` replacements, which map URLEncoder's character
    set onto pct-str's.  Whole-stage-codegen friendly: no Python, no Arrow
    round-trip, no interpreted lambda, and no per-character allocation; a
    value with nothing to encode comes back unchanged from every step.
    Parity vs ``pct_encode`` is asserted by unit + golden tests.

    With no lambda variable in it, the expression is semantically equal to
    a copy of itself, so a plan that uses it twice (the IRI fast path's
    value and validity check) evaluates it once per row.
    """
    encoded = f"url_encode({value})"
    for old, new in _URL_ENCODE_FIXES:
        encoded = f"replace({encoded}, {_sql_text(old)}, {_sql_text(new)})"
    return encoded


def iri_finalize_native(value: str, base_iri: str | None) -> str:
    """SQL of the reference's Iri resolution (iri.rs:44-69) over the SQL
    expression ``value``, entirely JVM-side.

    The RFC 3986 fullmatch regexes run via ``RLIKE`` — slower than the
    one-class check of the skeleton fast path, but with no Arrow round
    trip and no Python worker contention; byte parity with
    ``iri_finalize`` is pinned by a hypothesis property test.
    """
    v = f"coalesce({value}, '')"
    with_base = _sql_concat([_sql_text(base_iri), v]) if base_iri else v
    uri, relref = _sql_text(URI_FULLMATCH), _sql_text(RELREF_FULLMATCH)
    return (
        f"CASE WHEN {v} RLIKE {uri} THEN {v} "
        f"WHEN {with_base} RLIKE {uri} OR {with_base} RLIKE {relref} "
        f"THEN {with_base} ELSE 'INVALID' END"
    )


def _maybe_absolute(parts: list[tuple[bool, str]]) -> bool:
    """Could *some* row instantiation of this template be an absolute URI?

    The reference checks absoluteness per value before base-prefixing
    (``iri.rs:49-52``); the fast path with a base prefix is only sound when
    no instantiation can carry its own scheme.  Slot values are
    percent-encoded, so they can never contribute ``:`` or ``/`` — but they
    CAN contribute scheme-legal alphanumerics, so a ``:`` in a constant part
    reachable through only scheme-legal constant chars makes absoluteness
    possible.  Conservative: returns True on any doubt.
    """
    first_char_seen = False
    for is_var, text in parts:
        if is_var:
            first_char_seen = True  # slot may open with a letter
            continue
        for ch in text:
            if not first_char_seen:
                if not ch.isalpha():
                    return False  # scheme must start with a letter
                first_char_seen = True
                continue
            if ch == ":":
                return True
            if not re.fullmatch(r"[A-Za-z0-9+.\-]", ch):
                return False
    return False


class FunctionCompiler:
    """Compiles function trees against a known set of input column names."""

    def __init__(
        self,
        available_columns: list[str],
        join_alias: str | None = None,
        fno_registry: dict | None = None,
        literal_annotations: bool = False,
    ):
        self.columns = list(available_columns)
        self.join_alias = join_alias
        self.fno_registry = fno_registry or {}
        self.literal_annotations = literal_annotations
        self.bindings: list[tuple[str, Column]] = []

    @staticmethod
    def _const_value(fn: rules.Function | None) -> str | None:
        """Constant annotation value or None (dynamic dtype/lang maps are
        not in the subset — R2RML's rr:datatype/rr:language are constants)."""
        if fn is None:
            return None
        if isinstance(fn, rules.Constant):
            return fn.value
        raise NotImplementedError(
            "Dynamic datatype/language maps are not supported "
            f"({type(fn).__name__})"
        )

    def select(self, df: DataFrame, terms: list[tuple[str, CompiledTerm]]) -> DataFrame:
        """One column per ``(name, term)``: a ``select`` per FnO binding (a
        nested FnO reads the one before it), then one ``selectExpr``."""
        for hidden, col in self.bindings:
            df = df.select("*", col.alias(hidden))
        return df.selectExpr(
            *(f"{t.sql} AS {_sql_ident(name)}" for name, t in terms)
        )

    # -- helpers ---------------------------------------------------------
    def _ref_sql(self, name: str) -> str:
        stripped = remove_join_alias_prefix(name, self.join_alias)
        if stripped not in self.columns:
            # reference warns (csv_file.rs:84-87) rather than failing; we
            # bind a deterministic empty string instead of their index-0
            # misalignment.
            log.warning("Referenced column %r not in input; binding ''", stripped)
            return "''"
        return f"coalesce(cast({_sql_ident(stripped)} as string), '')"

    def compile(self, fn: rules.Function) -> CompiledTerm:
        if isinstance(fn, rules.Iri):
            # proven-safe skeleton fast path, else native RLIKE resolution
            return CompiledTerm(
                self._try_iri_fast(fn)
                or iri_finalize_native(self.compile(fn.inner).sql, fn.base_iri),
                "iri",
            )
        if isinstance(fn, rules.Literal):
            # dtype/lang unapplied by DEFAULT — reference parity
            # (src/function/literal.rs:36-37 TODO).  With
            # literal_annotations on, the (constant) annotation rides in
            # the kind string ("lit@en" / "lit^^<iri>") and the serializer
            # appends it after the closing quote.
            kind = "lit"
            if self.literal_annotations:
                lang = self._const_value(fn.lang)
                dtype = self._const_value(fn.dtype)
                if lang:
                    kind = f"lit@{lang}"
                elif dtype:
                    kind = f"lit^^{dtype}"
            return CompiledTerm(self.compile(fn.inner).sql, kind)
        if isinstance(fn, rules.BlankNode):
            return CompiledTerm(self.compile(fn.inner).sql, "blank")
        return CompiledTerm(self._sql(fn), "str")

    def _sql(self, fn: rules.Function) -> str:
        """SQL of a string-valued node."""
        if isinstance(fn, rules.Reference):
            return self._ref_sql(fn.value)
        if isinstance(fn, rules.Constant):
            return _sql_text(fn.value)
        if isinstance(fn, rules.TemplateString):
            parts = parse_template(fn.template, self.join_alias)
            return _sql_concat([
                self._ref_sql(text) if is_var else _sql_text(text)
                for is_var, text in parts
            ])
        if isinstance(fn, rules.TemplateFunctionValue):
            return self._template_fv_sql(fn)
        if isinstance(fn, rules.UriEncode):
            return pct_encode_native(self.compile(fn.inner).sql)
        if isinstance(fn, rules.Concatenate):
            args = [self.compile(i).sql for i in fn.inners]
            if fn.separator:
                return f"concat_ws({', '.join([_sql_text(fn.separator), *args])})"
            return _sql_concat(args)
        if isinstance(fn, rules.Lower):
            return f"lower({self.compile(fn.inner).sql})"
        if isinstance(fn, rules.Upper):
            return f"upper({self.compile(fn.inner).sql})"
        if isinstance(fn, rules.Replace):
            inner = self.compile(fn.inner).sql
            return f"replace({inner}, {_sql_text(fn.old)}, {_sql_text(fn.new)})"
        if isinstance(fn, rules.Match):
            value = self.compile(fn.inner).sql
            # full-string equality, first rule wins, non-matching values
            # pass through (a matcher is a handful of literals, never
            # data-sized); a rule with no variants never matches
            whens = [
                f"WHEN {value} IN ({', '.join(map(_sql_text, variants))}) "
                f"THEN {_sql_text(canonical)}"
                for canonical, variants in fn.rules
                if variants
            ]
            return f"CASE {' '.join(whens)} ELSE {value} END" if whens else value
        if isinstance(fn, rules.FnO):
            impl = self.fno_registry.get(fn.function)
            if impl is None:
                raise NotImplementedError(
                    f"FnO function {fn.function!r} not registered"
                )
            args = {name: F.expr(self.compile(f).sql) for name, f in fn.parameters}
            hidden = f"__fno{len(self.bindings)}"
            while hidden in self.columns:
                hidden = "_" + hidden
            self.bindings.append((hidden, impl(**args)))
            return _sql_ident(hidden)
        raise NotImplementedError(f"Unknown function node {type(fn).__name__}")

    # -- templates -------------------------------------------------------
    def _template_fv_sql(self, fn: rules.TemplateFunctionValue) -> str:
        parts = parse_template(fn.template, self.join_alias)
        # pair names get alias-stripped exactly like extension.rs:145-152
        pair_map = {
            remove_join_alias_prefix(name, self.join_alias): f
            for name, f in fn.variable_function_pairs
        }
        out: list[str] = []
        for is_var, text in parts:
            if is_var:
                if text not in pair_map:
                    raise KeyError(
                        f"Template variable {text!r} has no function binding"
                    )
                out.append(self.compile(pair_map[text]).sql)
            else:
                out.append(_sql_text(text))
        return _sql_concat(out)

    def _try_iri_fast(self, fn: rules.Iri) -> str | None:
        inner = fn.inner
        if isinstance(inner, rules.Constant):
            # fully constant: fold at compile time with exact semantics
            return _sql_text(iri_finalize(pd.Series([inner.value]), fn.base_iri)[0])
        if not isinstance(inner, rules.TemplateFunctionValue):
            return None
        try:
            parts = parse_template(inner.template, self.join_alias)
        except Exception:
            return None
        pair_map = {
            remove_join_alias_prefix(name, self.join_alias): f
            for name, f in inner.variable_function_pairs
        }
        for is_var, text in parts:
            if is_var:
                if not isinstance(pair_map.get(text), rules.UriEncode):
                    return None
        skeleton_x = "".join("x" if v else t for v, t in parts)
        skeleton_e = "".join("" if v else t for v, t in parts)
        first_const = parts[0][1] if parts and not parts[0][0] else ""

        if (
            _SCHEME_PREFIX_RE.match(first_const)
            and is_valid_uri(skeleton_x)
            and is_valid_uri(skeleton_e)
        ):
            prefix: list[str] = []
        elif (
            fn.base_iri
            and not _maybe_absolute(parts)
            and _SCHEME_PREFIX_RE.match(fn.base_iri + first_const)
            and is_valid_uri(fn.base_iri + skeleton_x)
            and is_valid_uri_reference(fn.base_iri + skeleton_e)
        ):
            prefix = [_sql_text(fn.base_iri)]
        else:
            return None

        value = _sql_concat([*prefix, self._template_fv_sql(inner)])
        # the skeleton is a valid URI and every slot is pct-encoded, so a
        # row is invalid iff it holds a character pct-str keeps raw that no
        # URI may hold: one regex find, no per-character allocation
        # (``translate`` builds a String per character it looks up)
        return (
            f"CASE WHEN {value} RLIKE {_sql_text(_KEPT_NOT_URI_CLASS)} "
            f"THEN 'INVALID' ELSE {value} END"
        )


def compile_extend(
    extend_config: dict,
    parent: DataFrame,
    join_alias: str | None = None,
    fno_registry: dict | None = None,
    literal_annotations: bool = False,
) -> tuple[DataFrame, dict[str, str]]:
    """Apply an ExtendOp config ``{"?var": function-json-or-Function}`` to
    ``parent``: returns the extended DataFrame (one column per variable) and
    each variable's term kind.

    Output variable names drop the leading ``?`` exactly like the reference
    header protocol (``extension.rs:73-80``).
    """
    fc = FunctionCompiler(parent.columns, join_alias, fno_registry, literal_annotations)
    terms: list[tuple[str, CompiledTerm]] = []
    for name, fn in extend_config.items():
        if isinstance(fn, dict):
            fn = rules.from_json(fn)
        var = name[1:] if name.startswith("?") else name
        terms.append((var, fc.compile(fn)))
    return fc.select(parent, terms), {var: t.kind for var, t in terms}

"""Function-tree → Spark Column compiler (the ExtendOp workhorse).

Compiles each mapping function tree
(``/root/reference/src/operator/extension.rs:124-190``) into a native Spark
Column expression; the only Python a compiled plan can hold is a
vectorized FnO implementation registered in ``MopperOptions.fno_registry``.
Row-at-a-time Python (``BatchEvalPython``) never appears in the plan.

Scale notes
-----------
- Everything here is embarrassingly parallel per partition: no shuffles.
- The hot path for RML-style IRI templates (constant absolute skeleton +
  ``UriEncode``-wrapped slots) compiles to pure JVM ``concat`` + one
  ``rlike`` validity check — whole-stage-codegen friendly, no Python at all.
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
from pyspark.sql import Column
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

log = logging.getLogger(__name__)

_SCHEME_PREFIX_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")


@dataclass
class CompiledTerm:
    col: Column
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


def pct_encode_native(col: Column) -> Column:
    """Percent-encode entirely JVM-side (pct-str URIReserved parity).

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
    encoded = F.url_encode(col)
    for old, new in _URL_ENCODE_FIXES:
        encoded = F.replace(encoded, F.lit(old), F.lit(new))
    return encoded


def iri_finalize_native(col: Column, base_iri: str | None) -> Column:
    """The reference's Iri resolution (iri.rs:44-69) entirely JVM-side.

    The RFC 3986 fullmatch regexes run via ``rlike`` — slower than the
    translate trick of the skeleton fast path, but with no Arrow round
    trip and no Python worker contention; byte parity with
    ``iri_finalize`` is pinned by a hypothesis property test.
    """
    v = F.coalesce(col, F.lit(""))
    with_base = F.concat(F.lit(base_iri), v) if base_iri else v
    return (
        F.when(v.rlike(URI_FULLMATCH), v)
        .when(
            with_base.rlike(URI_FULLMATCH) | with_base.rlike(RELREF_FULLMATCH),
            with_base,
        )
        .otherwise(F.lit("INVALID"))
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

    # -- helpers ---------------------------------------------------------
    def _ref_col(self, name: str) -> Column:
        stripped = remove_join_alias_prefix(name, self.join_alias)
        if stripped not in self.columns:
            # reference warns (csv_file.rs:84-87) rather than failing; we
            # bind a deterministic empty string instead of their index-0
            # misalignment.
            log.warning("Referenced column %r not in input; binding ''", stripped)
            return F.lit("")
        return F.coalesce(F.col(stripped).cast("string"), F.lit(""))

    def compile(self, fn: rules.Function) -> CompiledTerm:
        if isinstance(fn, rules.Reference):
            return CompiledTerm(self._ref_col(fn.value), "str")
        if isinstance(fn, rules.Constant):
            return CompiledTerm(F.lit(fn.value), "str")
        if isinstance(fn, rules.TemplateString):
            return CompiledTerm(self._template_string_col(fn.template), "str")
        if isinstance(fn, rules.TemplateFunctionValue):
            return CompiledTerm(self._template_fv_col(fn), "str")
        if isinstance(fn, rules.UriEncode):
            inner = self.compile(fn.inner)
            return CompiledTerm(pct_encode_native(inner.col), "str")
        if isinstance(fn, rules.Iri):
            return self._compile_iri(fn)
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
            return CompiledTerm(self.compile(fn.inner).col, kind)
        if isinstance(fn, rules.BlankNode):
            return CompiledTerm(self.compile(fn.inner).col, "blank")
        if isinstance(fn, rules.Concatenate):
            cols = [self.compile(i).col for i in fn.inners]
            if fn.separator:
                return CompiledTerm(F.concat_ws(fn.separator, *cols), "str")
            return CompiledTerm(F.concat(*cols) if cols else F.lit(""), "str")
        if isinstance(fn, rules.Lower):
            return CompiledTerm(F.lower(self.compile(fn.inner).col), "str")
        if isinstance(fn, rules.Upper):
            return CompiledTerm(F.upper(self.compile(fn.inner).col), "str")
        if isinstance(fn, rules.Replace):
            return CompiledTerm(
                F.replace(
                    self.compile(fn.inner).col, F.lit(fn.old), F.lit(fn.new)
                ),
                "str",
            )
        if isinstance(fn, rules.Match):
            col = self.compile(fn.inner).col
            # chained native when/isin — full-string equality, first rule
            # wins, non-matching values pass through (codegen-friendly; a
            # matcher is a handful of literals, never data-sized)
            w = None
            for canonical, variants in fn.rules:
                cond = col.isin(list(variants))
                w = F.when(cond, F.lit(canonical)) if w is None else w.when(
                    cond, F.lit(canonical)
                )
            return CompiledTerm(w.otherwise(col) if w is not None else col, "str")
        if isinstance(fn, rules.FnO):
            impl = self.fno_registry.get(fn.function)
            if impl is None:
                raise NotImplementedError(
                    f"FnO function {fn.function!r} not registered"
                )
            args = {name: self.compile(f).col for name, f in fn.parameters}
            return CompiledTerm(impl(**args), "str")
        raise NotImplementedError(f"Unknown function node {type(fn).__name__}")

    # -- templates -------------------------------------------------------
    def _template_string_col(self, template: str) -> Column:
        parts = parse_template(template, self.join_alias)
        cols = [
            self._ref_col(text) if is_var else F.lit(text)
            for is_var, text in parts
        ]
        return F.concat(*cols) if cols else F.lit("")

    def _template_fv_col(self, fn: rules.TemplateFunctionValue) -> Column:
        parts = parse_template(fn.template, self.join_alias)
        # pair names get alias-stripped exactly like extension.rs:145-152
        pair_map = {
            remove_join_alias_prefix(name, self.join_alias): f
            for name, f in fn.variable_function_pairs
        }
        cols: list[Column] = []
        for is_var, text in parts:
            if is_var:
                if text not in pair_map:
                    raise KeyError(
                        f"Template variable {text!r} has no function binding"
                    )
                cols.append(self.compile(pair_map[text]).col)
            else:
                cols.append(F.lit(text))
        return F.concat(*cols) if cols else F.lit("")

    # -- Iri: proven-safe skeleton fast path, else native rlike resolution --
    def _compile_iri(self, fn: rules.Iri) -> CompiledTerm:
        fast = self._try_iri_fast(fn)
        if fast is not None:
            return CompiledTerm(fast, "iri")
        inner = self.compile(fn.inner)
        return CompiledTerm(iri_finalize_native(inner.col, fn.base_iri), "iri")

    def _try_iri_fast(self, fn: rules.Iri) -> Column | None:
        inner = fn.inner
        if isinstance(inner, rules.Constant):
            # fully constant: fold at compile time with exact semantics
            result = iri_finalize(pd.Series([inner.value]), fn.base_iri)[0]
            return F.lit(result)
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
            prefix_cols: list[Column] = []
        elif (
            fn.base_iri
            and not _maybe_absolute(parts)
            and _SCHEME_PREFIX_RE.match(fn.base_iri + first_const)
            and is_valid_uri(fn.base_iri + skeleton_x)
            and is_valid_uri_reference(fn.base_iri + skeleton_e)
        ):
            prefix_cols = [F.lit(fn.base_iri)]
        else:
            return None

        value = F.concat(*prefix_cols, self._template_fv_col(inner))
        # the skeleton is a valid URI and every slot is pct-encoded, so a
        # row is invalid iff it holds a character pct-str keeps raw that no
        # URI may hold: one regex find, no per-character allocation
        # (``translate`` builds a String per character it looks up)
        has_invalid = value.rlike(_KEPT_NOT_URI_CLASS)
        return F.when(has_invalid, F.lit("INVALID")).otherwise(value)


def compile_extend(
    extend_config: dict,
    available_columns: list[str],
    join_alias: str | None = None,
    fno_registry: dict | None = None,
    literal_annotations: bool = False,
) -> list[tuple[str, CompiledTerm]]:
    """Compile an ExtendOp config ``{"?var": function-json-or-Function}``.

    Output variable names drop the leading ``?`` exactly like the reference
    header protocol (``extension.rs:73-80``).
    """
    fc = FunctionCompiler(available_columns, join_alias, fno_registry, literal_annotations)
    out: list[tuple[str, CompiledTerm]] = []
    for name, fn in extend_config.items():
        if isinstance(fn, dict):
            fn = rules.from_json(fn)
        var = name[1:] if name.startswith("?") else name
        out.append((var, fc.compile(fn)))
    return out

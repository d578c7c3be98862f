"""RFC 3986 URI / URI-reference validation and the Iri term function.

Mirrors the reference's ``Iri`` semantics
(``/root/reference/src/function/iri.rs:44-69``, which uses the Rust
``iri_string`` crate with ``UriSpec`` — i.e. ASCII RFC 3986, not full IRI):

1. if the inner value is a valid *absolute* URI (scheme + hier-part,
   optional query/fragment) → keep it as-is;
2. otherwise prepend ``base_iri`` (when present) and validate the result as
   a *URI reference*; valid → keep, invalid → the literal sentinel string
   ``"INVALID"`` (the row is still emitted).

The validator below is a faithful regex transcription of the RFC 3986 ABNF
(appendix A), including strict IPv6 literals.  Known divergence: we accept
uppercase hex in pct-escapes exactly like the RFC (so does iri_string).
"""

from __future__ import annotations

import re

import pandas as pd

# --- RFC 3986 ABNF, appendix A ------------------------------------------
_PCT = r"%[0-9A-Fa-f]{2}"
_UNRES = r"[A-Za-z0-9\-._~]"
_SUB = r"[!$&'()*+,;=]"
_PCHAR = rf"(?:{_UNRES}|{_PCT}|{_SUB}|[:@])"
_SEGMENT = rf"{_PCHAR}*"
_SEGMENT_NZ = rf"{_PCHAR}+"
_SEGMENT_NZ_NC = rf"(?:{_UNRES}|{_PCT}|{_SUB}|@)+"
_QUERY = rf"(?:{_PCHAR}|[/?])*"
_FRAGMENT = _QUERY
_USERINFO = rf"(?:{_UNRES}|{_PCT}|{_SUB}|:)*"
_REG_NAME = rf"(?:{_UNRES}|{_PCT}|{_SUB})*"
_DEC_OCTET = r"(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9][0-9]|[0-9])"
_IPV4 = rf"(?:{_DEC_OCTET}\.){{3}}{_DEC_OCTET}"
_H16 = r"[0-9A-Fa-f]{1,4}"
_LS32 = rf"(?:{_H16}:{_H16}|{_IPV4})"
_IPV6 = (
    rf"(?:(?:{_H16}:){{6}}{_LS32}"
    rf"|::(?:{_H16}:){{5}}{_LS32}"
    rf"|(?:{_H16})?::(?:{_H16}:){{4}}{_LS32}"
    rf"|(?:(?:{_H16}:)?{_H16})?::(?:{_H16}:){{3}}{_LS32}"
    rf"|(?:(?:{_H16}:){{0,2}}{_H16})?::(?:{_H16}:){{2}}{_LS32}"
    rf"|(?:(?:{_H16}:){{0,3}}{_H16})?::{_H16}:{_LS32}"
    rf"|(?:(?:{_H16}:){{0,4}}{_H16})?::{_LS32}"
    rf"|(?:(?:{_H16}:){{0,5}}{_H16})?::{_H16}"
    rf"|(?:(?:{_H16}:){{0,6}}{_H16})?::)"
)
_IPVFUTURE = rf"[Vv][0-9A-Fa-f]+\.(?:{_UNRES}|{_SUB}|:)+"
_IP_LITERAL = rf"\[(?:{_IPV6}|{_IPVFUTURE})\]"
_HOST = rf"(?:{_IP_LITERAL}|{_IPV4}|{_REG_NAME})"
_AUTHORITY = rf"(?:{_USERINFO}@)?{_HOST}(?::[0-9]*)?"
_PATH_ABEMPTY = rf"(?:/{_SEGMENT})*"
_PATH_ABSOLUTE = rf"/(?:{_SEGMENT_NZ}(?:/{_SEGMENT})*)?"
_PATH_ROOTLESS = rf"{_SEGMENT_NZ}(?:/{_SEGMENT})*"
_PATH_NOSCHEME = rf"{_SEGMENT_NZ_NC}(?:/{_SEGMENT})*"
_SCHEME = r"[A-Za-z][A-Za-z0-9+.\-]*"
_HIER_PART = rf"(?://{_AUTHORITY}{_PATH_ABEMPTY}|{_PATH_ABSOLUTE}|{_PATH_ROOTLESS})?"
_REL_PART = rf"(?://{_AUTHORITY}{_PATH_ABEMPTY}|{_PATH_ABSOLUTE}|{_PATH_NOSCHEME})?"
_TAIL = rf"(?:\?{_QUERY})?(?:\#{_FRAGMENT})?"

_URI_RE = re.compile(rf"{_SCHEME}:{_HIER_PART}{_TAIL}")
_RELREF_RE = re.compile(rf"{_REL_PART}{_TAIL}")

#: Java-regex character class matching any char *forbidden* in a URI.
INVALID_URI_CHAR_CLASS_JAVA = "[^A-Za-z0-9\\-._~:/?#\\[\\]@!$&'()*+,;=%]"

#: Every character allowed in a URI (unreserved + reserved + '%').  The
#: compiler's native fast path looks only for the percent-encoder's raw
#: survivors outside this set (``compiler._KEPT_NOT_URI_CLASS``).
URI_ALLOWED_CHARS = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
    "-._~:/?#[]@!$&'()*+,;=%"
)


#: anchored pattern strings for JVM-side ``rlike`` (Spark's rlike is a
#: *find*, not a fullmatch — anchoring makes it equivalent; the ABNF
#: transcription above uses only constructs with identical semantics in
#: python `re` and java.util.regex, pinned by the parity property test).
#: ``\A``/``\z``, NOT ``^``/``$``: java's ``$`` matches before a final
#: line terminator, which would accept values with a trailing newline
#: that ``re.fullmatch`` (and the reference) reject as INVALID.
URI_FULLMATCH = rf"\A(?:{_URI_RE.pattern})\z"
RELREF_FULLMATCH = rf"\A(?:{_RELREF_RE.pattern})\z"


def is_valid_uri(value: str) -> bool:
    """True iff ``value`` is a valid absolute RFC 3986 URI (opt. fragment)."""
    return _URI_RE.fullmatch(value) is not None


def is_valid_uri_reference(value: str) -> bool:
    """True iff ``value`` is a valid RFC 3986 URI-reference."""
    return _URI_RE.fullmatch(value) is not None or _RELREF_RE.fullmatch(value) is not None


def iri_finalize(values: pd.Series, base_iri: str | None) -> pd.Series:
    """Apply the reference's Iri resolution to a batch of term strings."""

    def one(v: str) -> str:
        if v is None:
            v = ""
        if _URI_RE.fullmatch(v):
            return v
        iri = f"{base_iri}{v}" if base_iri else v
        if _URI_RE.fullmatch(iri) or _RELREF_RE.fullmatch(iri):
            return iri
        return "INVALID"

    return values.map(one)

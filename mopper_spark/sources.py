"""Source resolution: plan SourceOp config → DataFrame.

The reference supports only CSV files with a header row, reading every field
as a string (``/root/reference/src/source/csv_file.rs:27-115``;
``ReferenceFormulation::CSVRows`` is the single handled iterator,
``lib.rs:129-137``).  We generalize: CSV (string-typed, header), Parquet and
catalog tables (all columns cast to string for the all-strings runtime model,
SURVEY.md §1.2), plus an in-memory registry so tests and library callers can
bind DataFrames to plan paths directly.

Projection (the plan's folded-in attribute set) is applied as a ``select`` —
Catalyst pushes it into the scan (column pruning), which is the Spark-native
version of the reference's projection-at-scan (``csv_file.rs:71-98``).
"""

from __future__ import annotations

import collections
import logging
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from mopper_spark.options import MopperOptions
from mopper_spark.serializer import _sql_ident

log = logging.getLogger(__name__)


class SourceRegistry:
    """Maps plan source paths to in-memory DataFrames (test/library hook)."""

    def __init__(self) -> None:
        self._frames: dict[str, DataFrame] = {}

    def register(self, path: str, df: DataFrame) -> None:
        self._frames[path] = df

    def get(self, path: str) -> DataFrame | None:
        return self._frames.get(path)


def _all_string(df: DataFrame) -> DataFrame:
    return df.select(
        [F.col(c).cast("string").alias(c) for c in df.columns]
    )


def _stringify(expr, dt):
    if isinstance(dt, (StructType, ArrayType, MapType)):
        return F.to_json(expr)
    return expr.cast("string")


def _nested_string_col(schema: StructType, path: str, source: str):
    """Resolve a dotted nested field path (``a.b.c``) against a struct
    schema to a string-typed Column.  A segment absent from the static
    schema binds ``''`` with a warning — the reference's missing-column
    contract (csv_file.rs:84-87) extended to nested paths."""
    segs = path.split(".")
    if segs[0] not in schema.names:
        log.warning("Source %s: field path %r missing; binding ''", source, path)
        return F.lit("")
    expr = F.col(segs[0])
    dt = schema[segs[0]].dataType
    for seg in segs[1:]:
        if not (isinstance(dt, StructType) and seg in dt.names):
            log.warning(
                "Source %s: field path %r missing at %r; binding ''",
                source, path, seg,
            )
            return F.lit("")
        expr = expr.getField(seg)
        dt = dt[seg].dataType
    return _stringify(expr, dt)


def _json_iterate(
    spark: SparkSession,
    path: str,
    iterator: str | None,
    fields: list[dict] | None = None,
    nested: list[dict] | None = None,
) -> DataFrame:
    """Apply a JSONPath-subset iterator to a JSON document.

    Supported iterator shapes (the ones RML mappings use in practice):
    ``$.a.b[*]`` (descend fields, iterate the final array), ``$.a.b``
    (single object), ``$`` / empty (document root; a top-level JSON array
    iterates naturally via Spark's reader), and FILTERED array iteration
    ``$.a.b[?(@.f=='v')]`` / ``[?(@.f)]`` — compiled to a NATIVE
    ``F.filter`` over the array before the explode, so Catalyst sees one
    higher-order function, no UDF.  Wildcard values (``.*``) and
    recursive descent (``..``) stay named refusals: both are
    schema-indeterminate under Spark's static JSON schema (the column set
    would depend on the data), the same reason Spark's own reader fixes
    the schema up front.  Anything else raises.

    Without declared ``fields``, the iterated objects' top-level keys
    become string-typed columns (nested structs stay JSON-encoded
    strings — reference model: all strings).  With declared fields
    (``[{"name": …, "path": "a.b.c"}]``, the ShExML FIELD fast path) each
    output column is built directly from its dotted path — nested fields
    resolve natively and no schema-wide stringification happens.
    """
    df = spark.read.option("multiLine", "true").json(path)
    steps = (iterator or "$").strip()
    step_re = r"\.(\w+)(\[\*\]|\[\?\(@\.(\w+)(?:==('[^']*'))?\)\])?"
    if not re.fullmatch(rf"\$?({step_re})*", steps):
        raise NotImplementedError(
            f"JSONPath iterator {iterator!r} not supported "
            "(subset: $.field.field[*] with optional [?(@.f=='v')] filters)"
        )
    for m in re.finditer(step_re, steps.lstrip("$")):
        name, bracket, filt_key, filt_val = m.groups()
        if name not in df.columns:
            raise ValueError(f"JSON iterator step {name!r} not in {df.columns}")
        if bracket and bracket != "[*]":
            # filtered iteration: native array filter, then explode
            pred = (
                (lambda x: x[filt_key] == F.lit(filt_val[1:-1]))
                if filt_val is not None
                else (lambda x: x[filt_key].isNotNull())
            )
            col = F.explode(F.filter(F.col(name), pred))
        elif bracket:
            col = F.explode(name)
        else:
            col = F.col(name)
        df = df.select(col.alias("_it"))
        df = df.select("_it.*") if isinstance(
            df.schema["_it"].dataType, StructType
        ) else df.withColumnRenamed("_it", name)
    if nested:
        # nested-iterator chain (ShExML nested ITERATOR blocks): each level
        # explodes a RELATIVE array path of the current element and
        # evaluates that level's declared fields; ancestor fields are
        # materialized BEFORE each explode and ride along, so one scan
        # pass yields rows at the deepest level with full lineage.  A
        # parent whose array is empty/missing contributes no rows
        # (explode, per-iteration semantics).
        if fields is None:
            raise NotImplementedError(
                "nested JSON iteration requires declared fields "
                "(the ShExML FIELD fast path)"
            )
        kept = [
            _nested_string_col(df.schema, f["path"], path).alias(f["name"])
            for f in fields
        ]
        kept_names = [f["name"] for f in fields]
        holder = None  # column holding the current level's element
        for depth, spec in enumerate(nested, 1):
            ref = (spec.get("reference") or "").strip()
            m = re.fullmatch(
                r"(\w+(?:\.\w+)*)(\[\*\]|\[\?\(@\.(\w+)(?:==('[^']*'))?\)\])",
                ref,
            )
            if not m:
                raise NotImplementedError(
                    f"nested JSON iterator {ref!r} not supported "
                    "(relative array path, e.g. actors[*] or "
                    "actors[?(@.role=='lead')])"
                )
            arr = f"{holder}.{m.group(1)}" if holder else m.group(1)
            holder = f"_lvl{depth}"
            arr_col = F.col(arr)
            if m.group(2) != "[*]":
                fk, fv = m.group(3), m.group(4)
                arr_col = F.filter(
                    arr_col,
                    (lambda x: x[fk] == F.lit(fv[1:-1]))
                    if fv is not None
                    else (lambda x: x[fk].isNotNull()),
                )
            try:
                df = df.select(*kept, F.explode(arr_col).alias(holder))
            except Exception as exc:  # path absent in the static schema
                raise ValueError(
                    f"nested iterator path {ref!r} not found in {path!r}"
                ) from exc
            kept = [F.col(n) for n in kept_names]
            lvl_fields = spec.get("fields") or []
            lvl_cols = [
                _nested_string_col(
                    df.schema, f"{holder}.{f['path']}", path
                ).alias(f["name"])
                for f in lvl_fields
            ]
            kept = kept + lvl_cols
            kept_names = kept_names + [f["name"] for f in lvl_fields]
        return df.select(*kept)
    if fields:
        return df.select(
            [
                _nested_string_col(df.schema, f["path"], path).alias(f["name"])
                for f in fields
            ]
        )
    return df.select(
        [_stringify(F.col(c.name), c.dataType).alias(c.name) for c in df.schema.fields]
    )


# --------------------------------------------------------- XPath subset --
# Grammar (closes the VERDICT r3 "ShExML long tail" XML items):
#   path  := ('/' | '//')? step (('/' | '//') step)*  [ ('/')? '@' name ]
#   step  := (name | '*') predicate*
#   pred  := '[' N ']'                    positional (1-based, child axis)
#          | '[@a]' | "[@a='v']"          attribute exists / equals
#          | '[c]'  | "[c='v']"           child element exists / text equals
#          | "[.='v']"                    own text equals
# '//' before a step selects DESCENDANTS (any depth) instead of children.
# Predicate values may not contain '/', '[' or ']' (refused at parse).
_XPATH_STEP = re.compile(r"(@?[\w.]+|\*)((?:\[[^\]]*\])*)\Z")
_XPATH_PRED = re.compile(r"\[([^\]]*)\]")


def _xpath_parse(path: str) -> list[tuple[str, str, list[str]]]:
    """Parse a subset-XPath into ``(axis, nametest, predicates)`` steps;
    axis is ``child`` or ``desc``.  Raises NotImplementedError outside the
    subset (the ShExML contract's named-refusal channel)."""
    raw = path.strip()
    steps: list[tuple[str, str, list[str]]] = []
    axis = "child"
    if raw.startswith("//"):
        axis, raw = "desc", raw[2:]
    elif raw.startswith("/"):
        raw = raw[1:]
    while raw:
        nxt_child = raw.find("/")
        # predicates cannot contain '/', so the first '/' ends the step
        chunk, rest = (raw, "") if nxt_child < 0 else (
            raw[:nxt_child],
            raw[nxt_child:],
        )
        m = _XPATH_STEP.fullmatch(chunk)
        if not m:
            raise NotImplementedError(
                f"XPath step {chunk!r} not supported (name, '*', '@attr', "
                "with optional [N] / [@a] / [@a='v'] / [c] / [c='v'] / "
                "[.='v'] predicates)"
            )
        name, preds_raw = m.group(1), m.group(2)
        preds = _XPATH_PRED.findall(preds_raw)
        for p in preds:  # refuse unknown predicate forms at parse time
            if not re.fullmatch(
                r"\s*(\d+|@\w+|\.|@?\w+)\s*(=\s*['\"][^'\"]*['\"])?\s*",
                p,
            ) or (p.strip() == "."):
                raise NotImplementedError(
                    f"XPath predicate [{p}] not supported ([N], [@a], "
                    "[@a='v'], [c], [c='v'], [.='v'])"
                )
        if name.startswith("@") and (preds or rest):
            raise NotImplementedError(
                f"XPath attribute step {chunk!r} must be terminal and bare"
            )
        if axis == "desc" and any(p.strip().isdigit() for p in preds):
            # refused at parse (driver-side): 'position among a flattened
            # any-depth set' has no XPath meaning
            raise NotImplementedError(
                "positional predicate on a '//' step not supported"
            )
        steps.append((axis, name, preds))
        if rest.startswith("//"):
            axis, raw = "desc", rest[2:]
        elif rest.startswith("/"):
            axis, raw = "child", rest[1:]
        else:
            raw = ""
    return steps


def _xpath_pred_ok(el, pred: str) -> bool:
    pred = pred.strip()
    m = re.fullmatch(r"@(\w+)\s*=\s*['\"]([^'\"]*)['\"]", pred)
    if m:
        return el.attrib.get(m.group(1)) == m.group(2)
    m = re.fullmatch(r"@(\w+)", pred)
    if m:
        return m.group(1) in el.attrib
    m = re.fullmatch(r"\.\s*=\s*['\"]([^'\"]*)['\"]", pred)
    if m:
        return (el.text or "") == m.group(1)
    m = re.fullmatch(r"(\w+)\s*=\s*['\"]([^'\"]*)['\"]", pred)
    if m:
        return any((c.text or "") == m.group(2) for c in el if c.tag == m.group(1))
    m = re.fullmatch(r"(\w+)", pred)
    if m:
        return any(c.tag == m.group(1) for c in el)
    raise NotImplementedError(f"XPath predicate [{pred}] not supported")


def _xpath_apply_preds(cands: list, preds: list[str], axis: str) -> list:
    """Apply predicates left-to-right over one parent's candidate list —
    positional predicates index the list as filtered so far (XPath
    semantics); they are refused on the descendant axis, where 'position
    among a flattened any-depth set' has no XPath meaning."""
    for pred in preds:
        if pred.strip().isdigit():
            if axis == "desc":
                raise NotImplementedError(
                    "positional predicate on a '//' step not supported"
                )
            idx = int(pred)
            cands = [cands[idx - 1]] if 1 <= idx <= len(cands) else []
        else:
            cands = [c for c in cands if _xpath_pred_ok(c, pred)]
    return cands


def _xpath_eval(roots: list, steps: list) -> list:
    """Evaluate parsed element steps (no terminal ``@attr``) against a
    list of context elements; returns matched elements, document order
    per context."""
    cur = list(roots)
    for axis, name, preds in steps:
        nxt = []
        for el in cur:
            if axis == "child":
                cands = [c for c in el if name == "*" or c.tag == name]
            else:
                cands = [
                    c for c in el.iter() if c is not el and (name == "*" or c.tag == name)
                ]
            nxt.extend(_xpath_apply_preds(cands, preds, axis))
        cur = nxt
    return cur


def _xml_field_value(el, path: str) -> str:
    """Evaluate an XPath-subset FIELD path against an element (first
    match; missing → ''): ``@attr``, element paths with wildcards,
    predicates and ``//`` (see ``_xpath_parse``), optionally ending in
    ``/@attr``.  A single bare name prefers a child element's text over a
    same-named attribute (mirroring discovery mode, where child tags
    override attributes)."""
    if path.startswith("@"):
        return el.attrib.get(path[1:], "")
    if path in (".", "./"):  # the iterated element's own text
        return el.text or ""
    if re.fullmatch(r"\w+", path):
        sub = el.find(path)
        if sub is not None:
            return sub.text or ""
        return el.attrib.get(path, "")
    # './/x' is the relative-descendant spelling of '//x'
    norm = path[1:] if path.startswith(".//") else path.removeprefix("./")
    steps = _xpath_parse(norm)
    attr = None
    if steps and steps[-1][1].startswith("@"):
        attr = steps[-1][1][1:]
        steps = steps[:-1]
    matched = _xpath_eval([el], steps)
    if not matched:
        return ""
    if attr is not None:
        return matched[0].attrib.get(attr, "")
    return matched[0].text or ""


def _xml_iterate(
    spark: SparkSession,
    path: str,
    iterator: str | None,
    fields: list[dict] | None = None,
    nested: list[dict] | None = None,
) -> DataFrame:
    """Apply an XPath-subset iterator to XML files (beyond reference
    parity — its README lists XML as roadmap-only).

    Subset: absolute element paths with wildcards (``/root/*/item``),
    predicates (``/root/item[@k='v']``, ``[c]``, ``[N]``) and descendant
    axes (``//item``, ``/root//leaf``) — see ``_xpath_parse``.  Each
    matched element becomes a row.  Files are read whole (one XML
    document per file) and parsed in Arrow batches via ``mapInPandas`` —
    the documents move straight from storage to executors, never through
    the driver.

    Without declared ``fields``, each row's columns are discovered from
    the data: attributes and single-valued child-element texts, with a
    distinct-map-keys pass to fix the schema (one extra job, and at scale
    a full corpus pass).  With declared fields
    (``[{"name": …, "path": "a/b" | "@attr" | "a/@attr"}]``, the ShExML
    FIELD fast path) the output schema is fixed up front and the parse is
    a single pass — no discovery job, no persist.
    """
    raw_it = (iterator or "/").strip()
    desc_root = raw_it.startswith("//")
    steps = _xpath_parse(raw_it)  # NotImplementedError outside the subset
    if any(name.startswith("@") for _, name, _ in steps):
        raise NotImplementedError(
            f"XPath iterator {iterator!r} must select elements, not attributes"
        )

    docs = spark.read.text(path, wholetext=True)

    def matched_elements(pdf):
        import xml.etree.ElementTree as ET

        for doc in pdf["value"]:
            root = ET.fromstring(doc)
            if not steps:
                yield root
                continue
            if desc_root:
                # '//a' = descendant-or-self — the root element itself is
                # a candidate for the first step
                axis, name, preds = steps[0]
                cands = [
                    c for c in root.iter() if name == "*" or c.tag == name
                ]
                first = _xpath_apply_preds(cands, preds, "desc")
                yield from _xpath_eval(first, steps[1:])
                continue
            # absolute '/a/...': first step must match the document root
            axis, name, preds = steps[0]
            if name != "*" and root.tag != name:
                continue
            if _xpath_apply_preds([root], preds, "child") != [root]:
                continue
            yield from _xpath_eval([root], steps[1:])

    if nested:
        # nested-iterator chain: per matched parent element, descend each
        # level's RELATIVE element path (one row per deepest-level match;
        # a parent with no matches contributes nothing), ancestor fields
        # riding along — all inside the same single-pass Arrow batch parse
        if fields is None:
            raise NotImplementedError(
                "nested XML iteration requires declared fields "
                "(the ShExML FIELD fast path)"
            )
        names = [f["name"] for f in fields] + [
            f["name"] for spec in nested for f in spec.get("fields") or []
        ]
        levels = []
        for spec in nested:
            ref = (spec.get("reference") or "").strip()
            if ref.startswith("/") and not ref.startswith("//"):
                raise NotImplementedError(
                    f"nested XML iterator {ref!r} must be relative to the "
                    "parent element (or '//desc'), not absolute"
                )
            # parses the same subset as the top-level iterator: wildcards,
            # predicates, descendant axes (relative to the parent element)
            levels.append((_xpath_parse(ref), spec.get("fields") or []))
        top_paths = [f["path"] for f in fields]

        def parse_nested(batches):
            import pandas as pd

            def walk(el, depth, prefix):
                if depth == len(levels):
                    yield prefix
                    return
                lvl_steps, lvl_fields = levels[depth]
                for sub in _xpath_eval([el], lvl_steps):
                    vals = tuple(
                        _xml_field_value(sub, f["path"]) for f in lvl_fields
                    )
                    yield from walk(sub, depth + 1, prefix + vals)

            for pdf in batches:
                rows = []
                for el in matched_elements(pdf):
                    top = tuple(_xml_field_value(el, p) for p in top_paths)
                    rows.extend(walk(el, 0, top))
                yield pd.DataFrame(rows, columns=names).astype("string")

        return docs.mapInPandas(
            parse_nested,
            schema=StructType([StructField(n, StringType()) for n in names]),
        )
    if fields:
        names = [f["name"] for f in fields]
        paths = [f["path"] for f in fields]

        def parse_declared(batches):
            import pandas as pd

            for pdf in batches:
                rows = [
                    tuple(_xml_field_value(el, p) for p in paths)
                    for el in matched_elements(pdf)
                ]
                yield pd.DataFrame(rows, columns=names).astype("string")

        return docs.mapInPandas(
            parse_declared,
            schema=StructType([StructField(n, StringType()) for n in names]),
        )

    def parse(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for el in matched_elements(pdf):
                row = dict(el.attrib)
                for child in el:
                    if len(child) == 0:
                        row[child.tag] = child.text or ""
                rows.append(row)
            yield pd.DataFrame({"kv": rows})

    kv = docs.mapInPandas(
        parse,
        schema=StructType([StructField("kv", MapType(StringType(), StringType()))]),
    ).persist()  # key discovery below would otherwise re-parse every file
    keys = sorted(
        r[0]
        for r in kv.select(F.explode(F.map_keys("kv")).alias("k")).distinct().collect()
    )
    return kv.select([F.col("kv").getItem(k).alias(k) for k in keys])


# Hadoop picks a decompression codec from these suffixes
_CODEC_SUFFIXES = (".gz", ".bz2", ".deflate", ".lz4", ".snappy", ".zst")


def _csv_header(path: str) -> list[str] | None:
    """The header record of a CSV file, read on the driver the way Spark's
    header inference reads it (UTF-8, a BOM dropped, lines of spaces only
    skipped), so the schema needs no inference job.

    ``None`` where Spark's own parse must decide: a header line holding a
    quote (Spark's CSV escaping differs from every ``csv`` dialect: it keeps
    ``"a""b"`` verbatim and reads ``"a\\"b"`` as ``a"b``), a compressed
    file, or bytes that are not UTF-8.  A file of blank lines has the empty
    header ``[]``.
    """
    if path.lower().endswith(_CODEC_SUFFIXES):
        return None
    try:
        with open(path, encoding="utf-8-sig", newline="") as f:
            for line in f:
                line = line.rstrip("\r\n")
                if line.strip(" "):
                    return None if '"' in line else line.split(",")
    except UnicodeDecodeError:
        return None
    return []


def _safe_header(names: list[str], case_sensitive: bool) -> list[str]:
    """Spark's ``CSVUtils.makeSafeHeader``: an empty name becomes ``_c{i}``,
    a duplicated name (case-insensitively unless ``case_sensitive``) gets
    its index appended."""
    key = (lambda n: n) if case_sensitive else str.lower
    seen = collections.Counter(key(n) for n in names if n)
    return [
        f"_c{i}" if not n else f"{n}{i}" if seen[key(n)] > 1 else n
        for i, n in enumerate(names)
    ]


def resolve_source(
    spark: SparkSession,
    config: dict,
    options: MopperOptions,
    registry: SourceRegistry | None = None,
    attributes: set[str] | None = None,
) -> DataFrame:
    source_type = config.get("source_type", "File")
    path = config.get("path", "")
    it = config.get("root_iterator") or {}
    ref_form = it.get("reference_formulation", "CSVRows")
    # declared-field fast path (ShExML FIELD declarations): only
    # {name, path} dict entries count — AlgeMapLoom plans carry other
    # shapes in root_iterator.fields, which stay on the discovery path
    decl_fields = [
        f
        for f in (it.get("fields") or [])
        if isinstance(f, dict) and "name" in f and "path" in f
    ] or None

    df: DataFrame | None = None
    if registry is not None:
        df = registry.get(path)

    if df is None:
        if source_type == "Table":
            df = _all_string(spark.read.table(path))
        elif source_type == "File":
            resolved = path
            if options.working_dir_hint and not os.path.isabs(path):
                resolved = os.path.join(options.working_dir_hint, path)
            if not os.path.exists(resolved):
                raise FileNotFoundError(
                    f"Source file {resolved!r} does not exist"
                )
            if resolved.endswith(".parquet"):
                df = _all_string(spark.read.parquet(resolved))
            elif resolved.endswith(".orc"):
                # ORC ships in Spark core — same all-string scan contract
                # as parquet (beyond reference parity: its engine reads
                # CSV only, lib.rs:129-137)
                df = _all_string(spark.read.orc(resolved))
            elif resolved.endswith((".jsonl", ".ndjson")):
                # JSON Lines: line-splittable (the 100 TB-friendly JSON
                # shape); one object per line, top-level keys as columns,
                # nested values JSON-encoded strings (same contract as
                # discovery-mode _json_iterate)
                raw = spark.read.json(resolved)
                df = raw.select(
                    [
                        _stringify(F.col(f.name), f.dataType).alias(f.name)
                        for f in raw.schema.fields
                    ]
                )
            elif os.path.isdir(resolved):
                df = _all_string(spark.read.parquet(resolved))
            elif ref_form == "CSVRows":
                reader = spark.read.option("header", "true")
                header = _csv_header(resolved)
                if header is not None:
                    case_sensitive = spark.conf.get("spark.sql.caseSensitive") == "true"
                    reader = reader.schema(StructType([
                        StructField(n, StringType())
                        for n in _safe_header(header, case_sensitive)
                    ]))
                df = reader.csv(resolved)
            elif ref_form == "JSONPath":
                # beyond reference parity (its README lists JSON as
                # roadmap-only): iterate a JSON document with a simple
                # JSONPath subset — `$`, dotted fields, trailing `[*]`
                df = _json_iterate(
                    spark, resolved, it.get("reference"), decl_fields,
                    nested=it.get("nested"),
                )
            elif ref_form == "XPath":
                df = _xml_iterate(
                    spark, resolved, it.get("reference"), decl_fields,
                    nested=it.get("nested"),
                )
            else:
                raise NotImplementedError(
                    f"Reference formulation {ref_form!r} not supported "
                    "(reference handles CSVRows only, lib.rs:129-137)"
                )
        else:
            raise NotImplementedError(f"Source type {source_type!r} not supported")

    if attributes:
        present = [a for a in attributes if a in df.columns]
        missing = sorted(set(attributes) - set(present))
        for m in missing:
            # reference warns and continues (csv_file.rs:84-87)
            log.warning("Source %s: requested column %r missing; binding ''", path, m)
        df = df.selectExpr(
            *map(_sql_ident, sorted(present)),
            *(f"'' AS {_sql_ident(m)}" for m in missing),
        )
    return df

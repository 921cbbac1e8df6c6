"""Pandas-UDF term evaluation — the slow path, used only where built-in
column functions cannot express the semantics (multi-valued mixed-syntax
paths, XPath references, templates with multi-valued groups, and the
JSONPath references the source catalog does not prove to be typed
columns: a simple field whose values are all non-empty strings or all
integers is read natively, see ``SourceCatalog.typed_fields``).

Each UDF maps one Arrow batch of source values to lists of *final*
N-Triples term strings (ArrayType(StringType)); the surrounding plan
explodes those arrays. Empty list => no triple
(MixedSyntaxPath.recursiveEval:222-239 List() semantics).

Reimplements the per-row translation core of
MorphMongoDataTranslator.translateData (:236-342) and the corresponding
RDB path (MorphRDBDataTranslator.scala:275-373), vectorized per batch.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Callable

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import encoding, terms
from ..functions.paths import MixedSyntaxPath
from ..functions.templates import get_template_groups, replace_template_groups
from ..mapping.model import REFERENCE, TEMPLATE, TermMap


def _py_value(v: object) -> object:
    """Normalize a pandas/Arrow cell to the Java-toString-compatible value
    the kernel expects (numpy scalars unwrapped, NaN -> None, timestamps in
    JDBC lexical form 'yyyy-MM-dd HH:mm:ss.f')."""
    if v is None:
        return None
    if isinstance(v, float) and v != v:  # NaN
        return None
    if hasattr(v, "item") and type(v).__module__ == "numpy":
        v = v.item()
    if isinstance(v, pd.Timestamp):
        if v is pd.NaT:
            return None
        v = v.to_pydatetime()
    if isinstance(v, _dt.datetime):
        frac = v.microsecond
        # Java Timestamp.toString prints at least one fractional digit
        base = v.strftime("%Y-%m-%d %H:%M:%S")
        if frac == 0:
            return base + ".0"
        return base + "." + f"{frac:06d}".rstrip("0")
    return v


def rewrite_mongo_id(path_expr: str) -> str:
    """$._id special-case: ObjectId unwrap (MorphMongoDataTranslator
    .scala:277-281, 297-309)."""
    return "$._id.$oid" if path_expr == "$._id" else path_expr


def translate_values(
    values: list[object],
    member_term_type: str,
    datatype: str | None,
    language: str | None,
    encode_unsafe_chars_in_uri: bool,
) -> list[str]:
    """translateMultipleValues (MorphBaseDataTranslator.scala:216-231):
    one term per non-null value; literal datatype falls back to runtime
    JSON-type inference (MorphMongoDataTranslator.scala:370-376)."""
    out: list[str] = []
    for v in values:
        if v is None:
            continue
        if member_term_type == terms.TERM_LITERAL:
            dt = datatype
            if dt is None and language is None:
                dt = terms.json_type_to_xsd(v)
            t = terms.make_literal(v, dt, language)
        elif member_term_type == terms.TERM_BLANKNODE:
            t = terms.make_blank_node(v)
        else:
            t = terms.make_iri(v, encode_unsafe_chars_in_uri)
        if t is not None:
            out.append(t)
    return out


def reference_evaluator(
    term_map: TermMap,
    encode_unsafe_chars_in_uri: bool = True,
) -> Callable[[object], list[str]]:
    """Row evaluator for a reference term map (ReferenceTermMap branch,
    MorphMongoDataTranslator.scala:275-288)."""
    assert term_map.kind == REFERENCE
    msp = MixedSyntaxPath.parse(
        rewrite_mongo_id(term_map.reference), term_map.ref_formulation
    )
    member_tt, datatype, language = term_map.member_term_info()

    def evaluate(cell: object) -> list[str]:
        values = [_py_value(v) for v in msp.evaluate(_py_value(cell))]
        return translate_values(
            values, member_tt, datatype, language, encode_unsafe_chars_in_uri
        )

    return evaluate


def template_evaluator(
    term_map: TermMap,
    encode_unsafe_chars_in_uri: bool = True,
    encode_unsafe_chars_in_db_values: bool = True,
) -> tuple[list[str], Callable[..., list[str]]]:
    """Row evaluator for a template term map with multi-valued / non-column
    groups (TemplateTermMap branch, MorphMongoDataTranslator.scala:291-334).

    Returns (input column refs, evaluator). For Column-formulation sources
    the inputs are the distinct referenced columns (one evaluator arg per
    column); for document formulations the single input is the document.
    """
    assert term_map.kind == TEMPLATE
    groups = get_template_groups(term_map.template)
    msps = [
        MixedSyntaxPath.parse(rewrite_mongo_id(g), term_map.ref_formulation)
        for g in groups
    ]
    member_tt, datatype, language = term_map.member_term_info()

    if term_map.ref_formulation == "Column":
        input_cols: list[str] = []
        group_input: list[int] = []
        for msp in msps:
            col = msp.referenced_column
            if col is None:
                raise ValueError(
                    f"template group without column reference in row source: {msp.raw}"
                )
            if col not in input_cols:
                input_cols.append(col)
            group_input.append(input_cols.index(col))
    else:
        input_cols = ["__doc__"]
        group_input = [0] * len(msps)

    def evaluate(*cells: object) -> list[str]:
        replacements: list[list[object]] = []
        all_empty = True
        for gi, msp in enumerate(msps):
            values = [
                _py_value(v) for v in msp.evaluate(_py_value(cells[group_input[gi]]))
            ]
            values = [v for v in values if v is not None]
            if member_tt == terms.TERM_IRI and encode_unsafe_chars_in_db_values:
                # encodeResvdCharsIfUri per replacement value
                values = [
                    encoding.encode_reserved_chars(terms.lex_value_to_string(v))
                    for v in values
                ]
            if values:
                all_empty = False
            replacements.append(values)
        if all_empty:
            return []
        expanded = replace_template_groups(term_map.template, replacements)
        return translate_values(
            expanded, member_tt, datatype, language, encode_unsafe_chars_in_uri
        )

    return input_cols, evaluate


def iterator_evaluator(iterator: str, formulation: str) -> Callable[[object], list[str]]:
    """rml:iterator explode: document -> list of sub-document JSON strings
    (MorphMongoDataSourceReader.executeQueryAndIterator:107-111)."""
    msp = MixedSyntaxPath.parse(iterator, formulation)

    def evaluate(cell: object) -> list[str]:
        import json

        out = []
        for v in msp.evaluate(cell):
            if v is None:
                continue
            if isinstance(v, str):
                out.append(v)
            else:
                out.append(json.dumps(v, separators=(",", ":"), ensure_ascii=False))
        return out

    return evaluate


def make_array_udf(evaluate: Callable[..., list[str]]):
    """Wrap a row evaluator into an Arrow-batched pandas UDF returning
    array<string>."""

    def batch_fn(*series: pd.Series) -> pd.Series:
        n = len(series[0])
        return pd.Series([evaluate(*(s.iloc[i] for s in series)) for i in range(n)])

    return F.pandas_udf(batch_fn, T.ArrayType(T.StringType()))

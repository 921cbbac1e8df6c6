"""Late SPARQL evaluation over a *virtual* mapped graph — answering a
SPARQL query directly against the mapped sources, without first
materializing the full triple set.

This is the Spark-first re-expression of the reference's SPARQL
query-rewriting mode (its second entry point):

- ``MorphBaseRunner.runQuery`` (MorphBaseRunner.scala:57-107) drives
  rewriting instead of materialization;
- ``MorphBaseTriplePatternBinder.bindm``:50-213 / ``bindmTP``:223-249
  bind each triple pattern to the triples maps that could produce
  matching triples (template/constant compatibility)  →  here
  :func:`bind_patterns` / :func:`_bind`;
- ``genCond`` / ``genCondParent`` (MorphBaseQueryTranslator.scala:227-355)
  turn the pattern's constant terms into conditions on the source query
  →  here one path serves constant subjects and objects, DESCRIBE node
  keys and propagated variable constraints: invert the term against
  the term map (``getTemplateMatching``, TemplateUtility.scala:36-69
  analogue), find the source key the term map reads, and render
  'key IN values' for the source kind (a typed filter on a table
  column, a ``get_json_object`` test on a find() document) into the
  source scan *before* term construction, so the reduction happens at
  the scan;
- ``excludeTriplesAboutCollecOrContainer``
  (MorphMongoQueryTranslator.scala:270-378)  →  a collection/container
  branch binds through its head (the map's subject, the POM's
  predicate, a blank node) or its cells (blank-node subjects, RDF
  vocabulary predicates, member / blank-node / ``rdf:nil`` objects),
  and compiles its cells only when a pattern can match one;
- ``MorphMongoQueryProcessor.process``:45-150 materializes only the
  bound fragments into a temporary Jena graph and re-evaluates the
  original SPARQL on it with ARQ  →  here the bound branches union into
  a *reduced, distributed* triple frame and the existing evaluator
  (:func:`..sparql.bgp.sparql_select`) runs over it.

The binder is a **reducer, never an oracle**: a triples-map branch is
skipped only when it *provably* cannot produce a matching triple
(constant mismatch, template that cannot match the pattern's IRI,
term-type clash). Anything uncertain stays in, and per-pattern residual
equality filters plus the evaluator's own pattern matching guarantee
exactness — so virtual answers are always identical to
materialize-then-query answers, just computed over a fraction of the
data. Property paths that can have zero length (``*``/``?``) or negated
property sets disable predicate pruning for their pattern (a zero-length
path ranges over every graph node, so the whole graph is that pattern's
domain).
"""

from __future__ import annotations

import functools
import math
import re
from dataclasses import replace
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..compiler.collections import _CONTAINER_CLASS
from ..compiler.compile import CompileOptions, MappingCompiler, _control_free_lexical
from ..functions import terms
from ..functions.encoding import _ENCODE_RESERVED_PAIRS, _ENCODE_URL_PAIRS, _JAVA_TRIM_CHARS
from ..functions.paths import MixedSyntaxPath, simple_json_field
from ..functions.templates import get_template_groups, get_template_matching
from ..compiler.udfs import rewrite_mongo_id
from ..plans import caching
from ..mapping.model import (
    COLUMN,
    CONSTANT,
    REFERENCE,
    TEMPLATE,
    MappingDocument,
    PredicateObjectMap,
    TriplesMap,
)
from ..sources.catalog import RawSource, SourceCatalog
from .bgp import Graph, _parsed, select_over_bindings
from .parse import Group, Path, SelectQuery, TriplePattern, _is_var
from .results import parse_term

_RDF_TYPE = f"<{terms.RDF_TYPE}>"
_RDF_FIRST = f"<{terms.RDF_FIRST}>"
_RDF_REST = f"<{terms.RDF_REST}>"
_RDF_NIL = f"<{terms.RDF_NIL}>"
_MEMBERSHIP = re.compile(rf"^<{re.escape(terms.RDF_NS)}_[1-9][0-9]*>$")

# characters on which every encoding chain (encode_uri + encode_url,
# functions/encoding.py) is the identity: printable ASCII minus what
# encode_url rewrites — pushdown and template-match exclusion are only
# trusted when the text involved stays inside this set
_ENCODING_INVARIANT = frozenset(map(chr, range(0x21, 0x7F))) - {
    src for src, _dst in _ENCODE_URL_PAIRS
}
# ... and of those, the characters encode_reserved_chars also leaves
# alone: a group value made of them renders verbatim
_UNRESERVED = _ENCODING_INVARIANT - {src for src, _dst in _ENCODE_RESERVED_PAIRS}


# ---------------------------------------------------------------------------
# pattern collection
# ---------------------------------------------------------------------------


def collect_patterns(group: Group) -> list[TriplePattern]:
    """Every triple pattern reachable in a group tree (bindm walks the
    whole algebra the same way, MorphBaseTriplePatternBinder.scala:50-213)."""
    return [tp for _g, tp in collect_patterns_g(group)]


def collect_patterns_g(
    group: Group, gctx: str | None = None
) -> list[tuple[str | None, TriplePattern]]:
    """Every reachable triple pattern paired with its graph context:
    None = default graph (outside any GRAPH), ``?g`` = any named graph,
    ``<iri>`` = that named graph. Mirrors the evaluator's graph
    propagation (``_group_df_info``): GRAPH sets the context for its
    sub-group; everything else inherits."""
    out: list[tuple[str | None, TriplePattern]] = [
        (gctx, tp) for tp in group.patterns
    ]
    for g in group.optionals:
        out.extend(collect_patterns_g(g, gctx))
    for branches in group.unions:
        for g in branches:
            out.extend(collect_patterns_g(g, gctx))
    for gterm, g in group.graphs:
        out.extend(collect_patterns_g(g, gterm))
    for _pos, g in group.exists:
        out.extend(collect_patterns_g(g, gctx))
    for g in group.minuses:
        out.extend(collect_patterns_g(g, gctx))
    for sub in group.subselects:
        out.extend(collect_patterns_g(sub.where, gctx))
    return out


def _pred_candidates(p) -> frozenset[str] | None:
    """Constant-predicate candidates of a pattern's predicate position:
    a frozenset of ``<iri>`` strings, or None = unrestricted (variable
    predicate, negated property set, or a path with a possibly
    zero-length step, whose domain is every node of the graph)."""
    if isinstance(p, Path):
        if p.op in ("star", "opt", "nps"):
            return None
        acc: set[str] = set()
        for arg in p.args:
            sub = _pred_candidates(arg)
            if sub is None:
                return None
            acc |= sub
        return frozenset(acc)
    if _is_var(p):
        return None
    return frozenset((p,))


# ---------------------------------------------------------------------------
# per-(pattern, triples map) binding — bindmTP analogue
# ---------------------------------------------------------------------------


def _constant_term(term_map, options: CompileOptions) -> str | None:
    if term_map.kind != CONSTANT:
        return None
    member_tt, datatype, language = term_map.member_term_info()
    return terms.make_term(
        term_map.constant, member_tt, datatype, language,
        options.encode_unsafe_chars_in_uri,
    )


def _template_invariant(template: str) -> bool:
    """True when the template's literal parts are unchanged by the IRI
    encoding chain, so textual template matching against an output IRI
    is trustworthy as an exclusion test."""
    masked = re.sub(r"\{[^}]*\}", "", template)
    return set(masked) <= _ENCODING_INVARIANT


def _can_emit(term_map, t: str, options: CompileOptions) -> bool:
    """Can this term map ever produce the constant term ``t`` (an
    ``<iri>``, a ``_:bnode`` or a literal)? For a collection term map
    the question is asked of its members. False only on *proof* of
    impossibility (bindmTP's compatibility checks,
    MorphBaseTriplePatternBinder.scala:223-249)."""
    tt, datatype, language = term_map.member_term_info()
    if t.startswith("_:"):
        return tt == terms.TERM_BLANKNODE
    if t.startswith("<"):
        if tt != terms.TERM_IRI:
            return False
        if term_map.kind == CONSTANT:
            return _constant_term(term_map, options) == t
        if term_map.kind == TEMPLATE and _template_invariant(term_map.template):
            if not get_template_groups(term_map.template):
                # a group-less template renders its fixed text verbatim
                # (invariant => the encoding chain is the identity on it)
                return term_map.template == t[1:-1]
            return bool(get_template_matching(term_map.template, t[1:-1]))
        return True
    if tt != terms.TERM_LITERAL:
        return False
    lit = parse_term(t)
    if term_map.kind == CONSTANT:
        want = terms.make_literal(lit["value"], lit.get("datatype"), lit.get("xml:lang"))
        return _constant_term(term_map, options) == want
    if language is not None and lit.get("xml:lang") != language:
        return False
    if lit.get("xml:lang") and language is None:
        return False
    if datatype is not None and lit.get("datatype") != datatype:
        return False
    # column/reference maps infer a datatype from the source type at
    # compile time — unknown here, so stay in (reducer, not oracle)
    return True


def _emits_any(term_map, ts: tuple[str, ...] | None, options: CompileOptions) -> bool:
    """Can ``term_map`` emit one of the terms ``ts`` (None = any term)?"""
    return ts is None or any(_can_emit(term_map, t, options) for t in ts)


def _cells_can_match(
    coll_tt: str,
    members,
    subj: tuple[str, ...] | None,
    preds: frozenset[str] | None,
    obj: tuple[str, ...] | None,
    options: CompileOptions,
) -> bool:
    """Can a cell of a collection match? Cells have blank-node subjects.
    A list cell is ``(b, rdf:first, member)`` or ``(b, rdf:rest, b' |
    rdf:nil)``; a container cell ``(b, rdf:type, rdf:Bag|Seq|Alt)`` or
    ``(b, rdf:_n, member)``. Members come from ``members``: the nested
    term map of an object map, or the parent's subject map of a
    RefObjectMap."""
    if subj is not None and not any(t.startswith("_:") for t in subj):
        return False
    member = lambda t: _can_emit(members, t, options)  # noqa: E731
    if coll_tt == terms.TERM_RDFLIST:
        arcs = (
            (lambda p: p == _RDF_FIRST, member),
            (lambda p: p == _RDF_REST, lambda t: t == _RDF_NIL or t.startswith("_:")),
        )
    else:
        cls = _CONTAINER_CLASS[coll_tt]
        arcs = (
            (lambda p: p == _RDF_TYPE, lambda t: t == cls),
            (lambda p: bool(_MEMBERSHIP.match(p)), member),
        )
    return any(
        (preds is None or any(pred_ok(p) for p in preds))
        and (obj is None or any(obj_ok(t) for t in obj))
        for pred_ok, obj_ok in arcs
    )


# sentinel: no graph pruning (triples-mode fragment over one merged graph)
_ANY_GRAPH = object()


def _graph_info(
    sm, pom: PredicateObjectMap | None, options: CompileOptions
) -> tuple[bool, frozenset[str] | None]:
    """(can emit into the default graph, constant named-graph IRIs or
    None = at least one non-constant graph map). Per materializeQuads
    (MorphBaseMaterializer.scala:159-200): POM triples land in
    subjectMap graphs ∪ POM graphs; class triples in subjectMap graphs;
    no graph maps ⇒ default graph. rr:defaultGraph constants are
    dropped at parse, so any graph map here emits a *named* graph."""
    gms = list(sm.graph_maps) + (list(pom.graph_maps) if pom is not None else [])
    if not gms:
        return True, frozenset()
    named: set[str] = set()
    for gm in gms:
        if gm.kind != CONSTANT:
            return False, None
        named.add(terms.make_iri(gm.constant, options.encode_unsafe_chars_in_uri))
    return False, frozenset(named)


def _graph_ok(info: tuple[bool, frozenset[str] | None], gctx) -> bool:
    """Can a branch with graph signature ``info`` emit a quad visible in
    graph context ``gctx``? (None = default graph, ?var = any named
    graph, <iri> = that graph, frozenset = one of those named graphs —
    the FROM/FROM NAMED dataset-clause form.) False only on proof of
    impossibility."""
    if gctx is _ANY_GRAPH:
        return True
    can_default, named = info
    if gctx is None:
        return can_default
    if isinstance(gctx, frozenset):
        return named is None or bool(named & gctx)
    if _is_var(gctx):
        return named is None or bool(named)
    return named is None or gctx in named


class _Bound(NamedTuple):
    """One triples map pruned to what can match: the class IRIs kept,
    the (original index, pruned POM) pairs kept — the index survives
    pruning so several bindings of one map can merge into one
    compilation — and whether any collection CELL can match (when not,
    the map compiles with its collection heads only)."""

    classes: tuple[str, ...]
    poms: tuple[tuple[int, PredicateObjectMap], ...]
    cells: bool


def _bind(
    doc: MappingDocument,
    tm: TriplesMap,
    subj: tuple[str, ...] | None,
    preds: frozenset[str] | None,
    obj: tuple[str, ...] | None,
    options: CompileOptions,
    gctx=_ANY_GRAPH,
) -> _Bound | None:
    """The branches of ``tm`` that can emit a triple with a subject in
    ``subj``, a predicate in ``preds`` and an object in ``obj`` (None =
    unconstrained), or None when none can. This is the one can-emit
    check of the binder, for patterns and DESCRIBE nodes alike:

    - a class triple ``(s, rdf:type, C)`` emits its class IRI as object;
    - an object map emits its own terms, a RefObjectMap its parent's
      subject terms;
    - a collection emits a head ``(s, p, bnode)`` and cells
      (:func:`_cells_can_match`).

    ``gctx`` (quad mode) additionally excludes branches whose graph maps
    provably cannot emit into that graph context."""
    sm = tm.subject_map
    subj_ok = _emits_any(sm, subj, options)
    bnode_obj = obj is None or any(t.startswith("_:") for t in obj)

    classes: tuple[str, ...] = ()
    if (
        subj_ok
        and (preds is None or _RDF_TYPE in preds)
        and _graph_ok(_graph_info(sm, None, options), gctx)
    ):
        classes = tuple(
            c for c in sm.class_uris
            if obj is None or terms.make_iri(c, False) in obj
        )

    kept: list[tuple[int, PredicateObjectMap]] = []
    cells = False
    for i, pom in enumerate(tm.predicate_object_maps):
        if not _graph_ok(_graph_info(sm, pom, options), gctx):
            continue
        head_ok = subj_ok and (
            preds is None
            or any(_can_emit(pm, p, options) for pm in pom.predicate_maps for p in preds)
        )

        def keeps(coll_tt, members) -> bool:
            nonlocal cells
            if not coll_tt:
                return head_ok and _emits_any(members, obj, options)
            cell = _cells_can_match(coll_tt, members, subj, preds, obj, options)
            cells = cells or cell
            return cell or (head_ok and bnode_obj)

        oms = tuple(
            om for om in pom.object_maps if keeps(om.collection_term_type(), om)
        )
        roms = tuple(
            rom for rom in pom.ref_object_maps
            if keeps(
                rom.collection_term_type(),
                doc.triples_maps[rom.parent_triples_map].subject_map,
            )
        )
        if oms or roms:
            kept.append(
                (i, replace(pom, object_maps=oms, ref_object_maps=roms))
            )
    if not kept and not classes:
        return None
    return _Bound(classes, tuple(kept), cells)


def _bind_pattern(
    doc: MappingDocument,
    tm: TriplesMap,
    tp: TriplePattern,
    options: CompileOptions,
    gctx=_ANY_GRAPH,
) -> _Bound | None:
    """:func:`_bind` for one triple pattern. A property-path pattern's
    constant subject or object constrains only ONE end of the path:
    intermediate hops have other subjects and objects, and an inverse
    step (^p) swaps the ends. The evaluator (bgp._pattern_df) applies
    endpoint constants AFTER computing path pairs over the whole frame,
    so a path pattern binds on its predicates only (and its residual
    is empty, see ``VirtualGraph._residual``)."""
    preds = _pred_candidates(tp.p)
    if isinstance(tp.p, Path):
        return _bind(doc, tm, None, preds, None, options, gctx)
    subj = None if _is_var(tp.s) else (tp.s,)
    obj = None if _is_var(tp.o) else (tp.o,)
    return _bind(doc, tm, subj, preds, obj, options, gctx)


def _bound_tm(tm: TriplesMap, bound: _Bound) -> TriplesMap:
    """The triples map reduced to the bound branches."""
    sm = tm.subject_map
    if bound.classes != sm.class_uris:
        sm = replace(sm, class_uris=bound.classes)
    return replace(
        tm,
        subject_map=sm,
        predicate_object_maps=tuple(pom for _i, pom in bound.poms),
    )


def _merge_bounds(tm: TriplesMap, bounds: list[_Bound]) -> _Bound:
    """Union of several bindings of the same triples map — the widest
    fragment any of them needs, compiled (and scanned) once. This is
    the rewriting-mode twin of the reference's self-join elimination
    (MorphBaseQueryOptimizer: several triple patterns over one logical
    source share its query)."""
    class_set = {c for b in bounds for c in b.classes}
    classes = tuple(c for c in tm.subject_map.class_uris if c in class_set)
    merged: dict[int, PredicateObjectMap] = {}
    for b in bounds:
        for i, pom in b.poms:
            prev = merged.get(i)
            if prev is None:
                merged[i] = pom
                continue
            # widen: union of surviving object maps / ref-object maps
            # (term-map objects keep their identity through replace())
            oms = list(prev.object_maps)
            oms += [om for om in pom.object_maps if not any(om is o for o in oms)]
            roms = list(prev.ref_object_maps)
            roms += [
                rm for rm in pom.ref_object_maps
                if not any(rm is r for r in roms)
            ]
            merged[i] = replace(
                prev, object_maps=tuple(oms), ref_object_maps=tuple(roms)
            )
    return _Bound(
        classes,
        tuple((i, merged[i]) for i in sorted(merged)),
        any(b.cells for b in bounds),
    )


def bind_patterns(
    doc: MappingDocument,
    query: SelectQuery,
    options: CompileOptions | None = None,
) -> dict[int, list[tuple[TriplePattern, TriplesMap]]]:
    """bindm analogue: pattern index -> [(pattern, pruned triples map)].
    Purely driver-side over the mapping tree; no data is touched."""
    options = options or CompileOptions()
    out: dict[int, list[tuple[TriplePattern, TriplesMap]]] = {}
    for i, tp in enumerate(collect_patterns(query.where)):
        out[i] = [
            (tp, _bound_tm(tm, b))
            for tm in doc.triples_maps.values()
            if (b := _bind_pattern(doc, tm, tp, options)) is not None
        ]
    return out


# ---------------------------------------------------------------------------
# constant pushdown — genCond analogue, as a Catalyst source filter
# ---------------------------------------------------------------------------
# A constant becomes a condition on the source key its term map reads
# (the reference's AbstractConditionEquals(ref, val), genCond
# MorphBaseQueryTranslator.scala:227-305) in three steps, each written
# once: invert the term against the term map (_invert), find the key
# the term map reads in the raw source (_key_filter), and render 'key
# IN values' for the source kind: a typed IN-list on a row source's
# column, a get_json_object test on a document source's raw column
# (the reference renders SQL or a Mongo query at the same point).
# Subject and object constants, DESCRIBE node keys and propagated
# variable constraints all take this path.

# _invert's answer for a term the term map provably never renders
_NOT_THIS = object()


def _iri_group(term_map) -> str | None:
    """The one group of a single-group, encoding-invariant IRI template
    map, else None: the only templates whose inversion is exact."""
    if (
        term_map.kind != TEMPLATE
        or term_map.infer_term_type() != terms.TERM_IRI
        or not _template_invariant(term_map.template)
    ):
        return None
    groups = get_template_groups(term_map.template)
    return groups[0] if len(groups) == 1 else None


def _reference(term_map) -> str | None:
    """The source reference whose value a term map's terms give back:
    a plain column or reference, or the group of an exactly invertible
    template."""
    if term_map.kind == COLUMN:
        return term_map.column
    if term_map.kind == REFERENCE:
        return term_map.reference
    return _iri_group(term_map)


def _invert(term_map, term: str):
    """The source value from which ``term_map`` renders the constant
    ``term``; ``_NOT_THIS`` when it provably never renders it; None
    when there is no exact inversion. A literal inverts on a plain
    column or reference to its lexical value (the binder has checked
    its datatype and language). An IRI inverts on an exactly invertible
    template when the recovered value is one percent-encoding leaves
    alone."""
    if term_map.kind in (COLUMN, REFERENCE):
        return parse_term(term)["value"] if term.startswith('"') else None
    if _iri_group(term_map) is None:
        return None
    if not term.startswith("<"):
        return _NOT_THIS
    match = get_template_matching(term_map.template, term[1:-1])
    if len(match) != 1:
        return _NOT_THIS
    value = next(iter(match.values()))
    return value if set(value) <= _UNRESERVED else None


def _typed_key(value: str, dtype) -> object | None:
    """The lexical ``value`` as a Python literal of the column's type,
    or None when it cannot be a row's lexical form / the type needs the
    lexical fallback. Comparing in the COLUMN's type (instead of
    casting the column to string) is what lets the filter reach the
    parquet scan as a PushedFilter — a column-side cast defeats
    pushdown. The typed comparison is a SUPERSET of 'lexical form ==
    value' for these types (their lex_value_col forms round-trip
    through parsing); callers' exact residual / post-filters remove the
    slack, so soundness needs only the superset direction."""
    import decimal

    try:
        if isinstance(dtype, T.BooleanType):
            return {"true": True, "false": False}.get(value)
        if isinstance(
            dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        ):
            return int(value)
        if isinstance(dtype, (T.FloatType, T.DoubleType)):
            return float(value)
        if isinstance(dtype, T.DecimalType):
            return decimal.Decimal(value)
        if isinstance(dtype, T.StringType):
            return value
    except (ValueError, decimal.InvalidOperation, OverflowError):
        return None
    return None


def _key_in_filter(col_name: str, dtype, values: list[str]) -> Column:
    """Row-source rendering of 'the column's lexical form is one of
    values': typed IN-list when the type allows (parquet-pushable),
    lexical string comparison otherwise."""
    if isinstance(
        dtype,
        (T.BooleanType, T.NumericType, T.StringType),
    ):
        typed = [t for t in (_typed_key(v, dtype) for v in values)
                 if t is not None]
        return F.col(col_name).isin(typed) if typed else F.lit(False)
    lex = terms.lex_value_col(F.col(col_name), dtype)
    return lex.isin(values) if values else F.lit(False)


def _doc_key_filter(
    doc: Column, field: str, values: list[str], dropped: str = ""
) -> Column:
    """Document-source rendering: keep exactly the documents whose
    ``field`` COULD render as one of the lexical ``values`` during term
    construction — the analogue of the reference's
    JsonPathToMongoTranslator pushing a SPARQL constant into the Mongo
    find() query (rules R0-R9, JsonPathToMongoTranslator.scala:242-463),
    expressed as a Catalyst predicate on the raw document column so it
    reaches the scan. One ``get_json_object`` expression ``gj`` serves
    every value, so the test does not grow with the value count:
    ``gj IS NOT NULL AND (gj starts with [ or { OR lower(gj) IN (…) OR
    try_cast(gj AS double) IN (…))``.

    Never a false exclusion (the binder is a reducer; the per-pattern
    residual makes the fragment exact):
      * missing field / JSON null  -> get_json_object NULL, and the
        template/reference evaluator drops None values (no term), so
        ``IS NOT NULL`` is implied;
      * scalar string -> get_json_object returns the decoded text, equal
        to the evaluated value;
      * numbers -> formatting may differ ("1" vs "1.0" vs "1e0"), so
        numeric equality is accepted too;
      * booleans -> Python renders "True"/"False" vs JSON "true", so
        case-insensitive equality is accepted;
      * arrays/objects (prefix ``[``/``{``) -> evaluation semantics
        diverge from get_json_object, so such rows are always kept;
      * the characters ``dropped`` are taken out of the text before
        comparing (an IRI drops control characters, see _key_filter).
    """
    if not values:
        return F.lit(False)
    gj = F.get_json_object(doc, "$." + field)
    text = F.translate(gj, dropped, "") if dropped else gj
    cond = (
        gj.startswith("[")
        | gj.startswith("{")
        | F.lower(text).isin([v.lower() for v in values])
    )
    nums: list[float] = []
    for v in values:
        try:
            num = float(v)
        except ValueError:
            continue
        if math.isfinite(num):
            nums.append(num)
    if nums:
        cond = cond | gj.try_cast("double").isin(nums)
    return gj.isNotNull() & cond


def _key_filter(src: RawSource, term_map, values: list[str]) -> Column | None:
    """The scan filter 'the source key ``term_map`` reads is one of
    ``values``', rendered for the source kind; None when the term map
    reads no plain key of ``src``. A row source's key is a column (an
    ``rr:column``, or a template group naming one column); a document
    source's key is a simple JSONPath field (an ``xrr:reference`` or a
    template group, see functions.paths.simple_json_field)."""
    ref = _reference(term_map)
    if ref is None:
        return None
    # an IRI template's key renders through the IRI chain, which drops
    # control characters ('5\n' renders as 5): a key whose lexical form
    # can hold them is compared with every character up to U+0020
    # taken out, a superset of the keys that render the value
    iri = term_map.kind == TEMPLATE
    if src.doc_column is None:
        if iri:
            msp = MixedSyntaxPath.parse(ref, "Column")
            ref = msp.referenced_column if msp.is_simple_column else None
        elif term_map.kind != COLUMN:
            return None
        if ref not in src.frame.columns:
            return None
        dtype = src.frame.schema[ref].dataType
        if iri and not _control_free_lexical(dtype):
            lex = terms.lex_value_col(F.col(ref), dtype)
            return F.translate(lex, _JAVA_TRIM_CHARS, "").isin(values)
        return _key_in_filter(ref, dtype, values)
    if term_map.kind == COLUMN or term_map.ref_formulation != "JSONPath":
        return None
    # $._id reads $._id.$oid, whose $oid segment simple_json_field rejects
    field = simple_json_field(rewrite_mongo_id(ref))
    if field is None:
        return None
    return _doc_key_filter(
        F.col(src.doc_column), field, values, _JAVA_TRIM_CHARS if iri else ""
    )


def _nodes_filter(src: RawSource, term_map, nodes) -> Column | None:
    """The scan filter implied by 'the term ``term_map`` renders is one
    of ``nodes``'. A node the map provably never renders adds no key
    (no key at all keeps no row); a node without an exact inversion
    disables the filter. A single constant is the one-node case."""
    values: list[str] = []
    for n in nodes:
        v = _invert(term_map, n)
        if v is None:
            return None
        if v is not _NOT_THIS:
            values.append(v)
    return _key_filter(src, term_map, values)


def _plain_object_map(pruned: TriplesMap):
    """The one object map every triple of the pruned map comes from (no
    class, one POM, one object map, no RefObjectMap, no collection),
    else None: a filter on its key could then suppress a row another
    branch still needs, and a constant object determines no unique
    reference."""
    if pruned.subject_map.class_uris or len(pruned.predicate_object_maps) != 1:
        return None
    pom = pruned.predicate_object_maps[0]
    if pom.ref_object_maps or len(pom.object_maps) != 1:
        return None
    om = pom.object_maps[0]
    return None if om.is_collection else om


def _and(conds) -> Column | None:
    """Left-nested AND of the conditions that are not None."""
    conds = [c for c in conds if c is not None]
    return functools.reduce(Column.__and__, conds) if conds else None


def _constant_terms_at(
    tm: TriplesMap, pos: str, options: CompileOptions
) -> set[str] | None:
    """Every term the pruned map can emit at position ``pos`` ('s'/'p'/
    'o'), when ALL of them are constants; None as soon as any is
    data-dependent (the constant-projection rewrite then bails).
    rr:class emits constant rdf:type/class terms; RdfList collections
    emit constant rdf:first/rdf:rest predicates but generated chain
    bnodes as objects; containers emit data-dependent rdf:_n
    predicates."""
    out: set[str] = set()
    sm = tm.subject_map
    if pos == "s":
        if sm.kind != CONSTANT or sm.infer_term_type() != terms.TERM_IRI:
            return None
        if any(
            m.collection_term_type()
            for pom in tm.predicate_object_maps
            for m in pom.object_maps + pom.ref_object_maps
        ):
            return None  # collection cells have blank-node subjects
        out.add(_constant_term(sm, options))
        return out
    if pos == "p":
        if sm.class_uris:
            out.add(f"<{terms.RDF_TYPE}>")
        for pom in tm.predicate_object_maps:
            for m in pom.object_maps + pom.ref_object_maps:
                ctt = m.collection_term_type()
                if ctt is None:
                    continue
                if ctt != terms.TERM_RDFLIST:
                    return None  # containers: rdf:_1, rdf:_2, ... per row
                out.update((_RDF_FIRST, _RDF_REST))
            for pm in pom.predicate_maps:
                if pm.kind != CONSTANT:
                    return None
                out.add(_constant_term(pm, options))
        return out
    for cls in sm.class_uris:
        out.add(terms.make_iri(cls, False))
    for pom in tm.predicate_object_maps:
        if pom.ref_object_maps:
            return None  # parent subjects are data-dependent
        for om in pom.object_maps:
            if om.is_collection or om.kind != CONSTANT:
                return None  # chain heads are generated bnodes
            out.add(_constant_term(om, options))
    return out


# ---------------------------------------------------------------------------
# cross-pattern condition propagation
# ---------------------------------------------------------------------------
# The reference copies Equals/IsNotNull conditions between the two sides
# of a join when the condition's reference is also the reference
# projected as a shared variable
# (AbstractQueryAtomicMongo.propagateConditionFromJoinedQuery:269-316;
# child->parent equality push MorphMongoQueryTranslator.scala:426-431),
# so BOTH patterns' source scans are reduced — its taxref notes showcase
# ``?t skosxl:prefLabel <label/60585> . ?t skosxl:altLabel ?a`` ("very
# big inner join but with propagation of conditions"). Spark-first
# re-expression: a required pattern's constant terms invert (via the
# term-map template) into key-value constraints on the pattern's OWN
# VARIABLES; a variable constrained the same way by EVERY binding of
# that pattern carries the constraint query-wide, and any other
# pattern's binding whose term map for that variable is an IRI template
# of the *same shape* gets the implied key filter pushed into its source
# scan. Soundness: equal single-group templates
# with encoding-invariant fixed parts render equal terms iff the
# percent-encoded group values are equal, and encoding is injective, so
# term equality forces key equality; the typed IN-list is a documented
# superset (_typed_key) and the evaluator's own join removes the slack.


def _template_shape(template: str) -> tuple[str, str] | None:
    """(prefix, suffix) around THE single group of a template, or None
    when the template has != 1 group. Two single-group templates with
    equal shapes and encoding-invariant fixed parts render equal terms
    iff their percent-encoded group values are equal — the propagation
    comparison key. Shape (not whole-template) equality matters because
    the reference transfers the VALUE between *different* references
    projected as the same variable (taxref: the constraint inverts on
    ``taxon/{$.codeTaxon}`` but applies to ``taxon/{$.codeReference}``)."""
    from ..functions.templates import _GROUP_RE, _mask_paths

    masked, _paths = _mask_paths(template)
    ms = list(_GROUP_RE.finditer(masked))
    if len(ms) != 1:
        return None
    return masked[: ms[0].start()], masked[ms[0].end():]


def _binding_var_keys(
    pruned: TriplesMap, tp: TriplePattern
) -> dict[str, tuple[tuple[str, str], tuple[str, ...]]]:
    """var -> (template shape, key values) constraints implied by this
    binding's constant terms on the pattern's variable terms. A
    constraint is emitted only when the constant inverts on the SAME
    source reference the variable's term map reads (the reference's
    projected-reference condition match) and the variable's term map is
    an exactly invertible IRI template."""
    slots = ((tp.s, pruned.subject_map), (tp.o, _plain_object_map(pruned)))
    # constant-derived (reference, lexical value) pairs — genCond
    pairs: set[tuple[str, str]] = set()
    for term, tmap in slots:
        if tmap is not None and not _is_var(term):
            ref, value = _reference(tmap), _invert(tmap, term)
            if ref is not None and isinstance(value, str):
                pairs.add((ref, value))
    out: dict[str, tuple[tuple[str, str], tuple[str, ...]]] = {}
    for term, tmap in slots:
        if tmap is None or not _is_var(term) or (ref := _iri_group(tmap)) is None:
            continue
        vals = tuple(sorted(v for r, v in pairs if r == ref))
        if vals:
            out[term] = (_template_shape(tmap.template), vals)
    return out


def _prop_scan_filter(
    src: RawSource,
    pruned: TriplesMap,
    tp: TriplePattern,
    prop: dict[str, list[tuple[tuple[str, str] | None, tuple[str, ...]]]],
) -> Column | None:
    """AND of the scan filters the propagated variable constraints imply
    on THIS binding, or None. A constraint applies to a position only
    when the position's term map is an exactly invertible IRI template
    of the SAME SHAPE as the constraint's — templates of a different
    shape can render the same term, so they are skipped, never
    filtered. A term-level constraint (VALUES inline data, shape None)
    inverts its nodes against this map's own template. Every POM of the
    branch shares the subject, so a subject-side filter cannot starve a
    sibling object map; the object side needs the one plain object
    map."""
    conds: list[Column | None] = []
    for term, tmap in (
        (tp.s, pruned.subject_map), (tp.o, _plain_object_map(pruned))
    ):
        if tmap is None or term not in prop:
            continue
        for shape, vals in prop[term]:
            if shape is None:
                conds.append(_nodes_filter(src, tmap, vals))
            elif (
                _iri_group(tmap) is not None
                and _template_shape(tmap.template) == shape
            ):
                conds.append(_key_filter(src, tmap, list(vals)))
    return _and(conds)


# ---------------------------------------------------------------------------
# the virtual graph
# ---------------------------------------------------------------------------


class VirtualGraph(Graph):
    """Answer SPARQL queries over the graph a mapping *would* produce,
    materializing only the fragments the query's patterns can touch.

    ``fragment(query)`` is the reduced triple frame (the distributed
    analogue of the reference's temporary Jena graph,
    MorphMongoQueryProcessor.process:45-150); the :class:`..bgp.Graph`
    methods evaluate the full SPARQL surface over it with the ordinary
    distributed evaluator. Two methods answer from the mapping itself
    first: ``select`` (Constant Projection) and ``describe``, which
    binds its nodes with the same can-emit check as the patterns
    (:func:`_bind`) and compiles only the branches that can mention
    them."""

    def __init__(
        self,
        spark: SparkSession,
        doc: MappingDocument,
        catalog: SourceCatalog,
        options: CompileOptions | None = None,
    ):
        self.spark = spark
        self.doc = doc
        self.catalog = catalog
        self.options = options or CompileOptions()
        self._compilers: list[MappingCompiler] = []
        self._persisted: list[DataFrame] = []
        # term expressions of the translated path (translate.py), per
        # term map, column prefix and column types
        self._terms: dict = {}

    # -- fragment construction --------------------------------------------

    def _scan(self, tm: TriplesMap) -> RawSource | None:
        """The raw source ``tm`` scans, when a key filter can reach it:
        never below an iterator, which re-roots the map's references
        inside each document."""
        ls = tm.logical_source
        return None if ls.iterator else self.catalog.raw_source(ls)

    def _compile_tm(
        self,
        tm: TriplesMap,
        bound: _Bound,
        catalog: SourceCatalog,
        quads: bool = False,
    ) -> DataFrame | None:
        """The triples (or quads) of ``tm``'s bound branches over
        ``catalog``; collection cells only when a cell can match."""
        doc2 = MappingDocument(
            triples_maps={**self.doc.triples_maps, tm.name: _bound_tm(tm, bound)},
            prefixes=self.doc.prefixes,
        )
        comp = MappingCompiler(self.spark, doc2, catalog, self.options)
        self._compilers.append(comp)
        frame = comp.quads_for(tm.name, cells=bound.cells)
        if frame is None or quads:
            return frame
        return frame.select("subj", "pred", "obj")

    def _compile_bindings(
        self,
        tm: TriplesMap,
        bindings: list[tuple[_Bound, list[tuple[str | None, Column | None]]]],
        quads: bool = False,
    ) -> DataFrame | None:
        """The one compile of every binding a query gives ``tm``: each a
        :class:`_Bound` with the scan filters it allows, as (table,
        condition) pairs, None for a table the binding reads whole.

        - The branches are the merged bound (:func:`_merge_bounds`; one
          binding stays as it is), so the map is compiled, and its
          source scanned, once per query: the reference's self-union
          elimination (OR-ed conditions over one logical-source query).
        - A table is filtered by the OR of the bindings' conditions on
          it, and only when every binding filters it.
        - A filter on the map's own table is dropped when a kept
          RefObjectMap's parent may read that table. The filter replaces
          the catalog entry, so the parent side of the join would be
          starved too (a self-join's parent rows rarely satisfy the
          child's key), and a SQL-query parent's tables are not known
          statically."""
        bound = (
            bindings[0][0] if len(bindings) == 1
            else _merge_bounds(tm, [b for b, _f in bindings])
        )
        conds: dict[str | None, list[Column | None]] = {}
        for _b, pairs in bindings:
            for table, cond in pairs:
                conds.setdefault(table, []).append(cond)
        own = self.catalog.table_of(tm.logical_source)
        parents = (
            self.doc.triples_maps.get(rom.parent_triples_map)
            for _i, pom in bound.poms
            for rom in pom.ref_object_maps
        )
        if own in conds and any(
            ptm is None or self.catalog.table_of(ptm.logical_source) in (None, own)
            for ptm in parents
        ):
            del conds[own]
        catalog = self.catalog
        for table, cs in conds.items():
            if (
                table is not None
                and all(c is not None for c in cs)
                and all(any(t == table for t, _c in f) for _b, f in bindings)
            ):
                catalog = catalog.filtered(table, functools.reduce(Column.__or__, cs))
        return self._compile_tm(tm, bound, catalog, quads)

    @staticmethod
    def _residual(
        frame: DataFrame, tp: TriplePattern, gctx=_ANY_GRAPH
    ) -> DataFrame:
        """Exact restriction to the pattern's constants (the binder only
        proves *possible*; these make the fragment tight). Path patterns
        get none — their intermediate hops are unconstrained. In quad
        mode the pattern's graph context restricts the graph column the
        same way the evaluator will (``_pattern_df``)."""
        if gctx is not _ANY_GRAPH and "graph" in frame.columns:
            if gctx is None:
                frame = frame.where(F.col("graph").isNull())
            elif isinstance(gctx, frozenset):
                frame = frame.where(F.col("graph").isin(list(gctx)))
            elif _is_var(gctx):
                frame = frame.where(F.col("graph").isNotNull())
            else:
                frame = frame.where(F.col("graph") == F.lit(gctx))
        if isinstance(tp.p, Path):
            return frame
        for pos, term in (("subj", tp.s), ("pred", tp.p), ("obj", tp.o)):
            if not _is_var(term):
                frame = frame.where(F.col(pos) == F.lit(term))
        return frame

    def _propagation_constraints(
        self, q: SelectQuery, quads: bool, dataset: bool
    ) -> dict[str, list[tuple[tuple[str, str] | None, tuple[str, ...]]]]:
        """var -> [(template shape, key values), ...] constraints that
        hold in EVERY solution of the query: derived from the REQUIRED
        top-level patterns (conjunctive, so each constrains all
        solutions), and only when every binding of the pattern agrees on
        the variable's template shape (the values union over bindings).
        Purely driver-side over the mapping tree.

        Top-level VALUES inline data adds TERM-level constraints (shape
        None): every solution binds the variable to one of the listed
        IRI terms, so each target binding inverts the terms against its
        own template — the rewriting analogue of pushing a VALUES join
        into the source scans."""
        prop: dict[str, list[tuple[tuple[str, str] | None, tuple[str, ...]]]] = {}
        for vars_, rows in q.where.values:
            if not rows or len(rows) > 256:
                continue  # empty: query is empty anyway; huge: not a scan filter
            for vi, name in enumerate(vars_):
                col = [r[vi] for r in rows]
                if any(t is None or not t.startswith("<") for t in col):
                    continue  # UNDEF or non-IRI rows: unconstrained
                prop.setdefault("?" + name, []).append(
                    (None, tuple(sorted(set(col))))
                )
        if not quads:
            gctx = _ANY_GRAPH
        elif dataset:
            gctx = frozenset(q.from_graphs)
            if not gctx:
                return prop
        else:
            gctx = None
        for tp in q.where.patterns:
            if isinstance(tp.p, Path):
                continue
            if _is_var(tp.s) and _is_var(tp.o):
                continue  # no constant to invert
            dicts: list[dict] = []
            for tm in self.doc.triples_maps.values():
                bound = _bind_pattern(self.doc, tm, tp, self.options, gctx)
                if bound is None:
                    continue
                dicts.append(
                    _binding_var_keys(_bound_tm(tm, bound), tp)
                )
            if not dicts:
                continue  # pattern matches nothing; fragment is empty
            common = set(dicts[0])
            for d in dicts[1:]:
                common &= set(d)
            for v in common:
                shapes = {d[v][0] for d in dicts}
                if len(shapes) != 1:
                    continue  # bindings disagree: values not comparable
                vals = sorted(set().union(*(d[v][1] for d in dicts)))
                prop.setdefault(v, []).append((shapes.pop(), tuple(vals)))
        return prop

    def fragment(self, query: str | SelectQuery) -> DataFrame:
        """The deduplicated union of every bound, pushed-down branch —
        a subset of ``MappingCompiler.triples()`` sufficient to answer
        the query exactly.

        Each triples map the query's patterns bind is compiled once
        (:meth:`_compile_bindings`): the union of the bindings' prunings,
        over a scan filtered by the OR of their inverted constants when
        every binding has one. When more than one pattern reads the
        compile it is persisted, so the source is scanned once and each
        pattern's residual reads the cached fragment — the
        rewriting-mode twin of the reference's self-join elimination
        over a shared logical-source query.

        View selection mirrors materialize-then-query usage: a query
        with no GRAPH pattern runs over the merged-triples view
        (``MappingCompiler.triples()`` semantics — all graphs union);
        a query mentioning GRAPH runs over the dataset view
        (``quads()`` semantics — default graph is NULL, patterns
        outside GRAPH match only the default graph)."""
        q = _parsed(query)
        dataset = bool(q.from_graphs or q.from_named)
        quads = dataset or self._has_graphs(q.where)
        prop = self._propagation_constraints(q, quads, dataset)
        frames: list[DataFrame] = []
        # tm name -> [(pattern, graph ctx, binding, scan filters)]
        collected: dict[
            str, list[tuple[TriplePattern, object, _Bound, list]]
        ] = {}
        for gctx, tp in collect_patterns_g(q.where):
            if not quads:
                gctx = _ANY_GRAPH
            elif dataset:
                # under dataset clauses the pattern's graph context is a
                # *set* of named graphs: default-position patterns see
                # the FROM graphs, GRAPH patterns the FROM NAMED ones
                if gctx is None:
                    gctx = frozenset(q.from_graphs)
                elif _is_var(gctx):
                    gctx = frozenset(q.from_named)
                else:
                    gctx = frozenset((gctx,)) & frozenset(q.from_named)
                if not gctx:
                    continue  # no graph of the dataset can match
            is_path = isinstance(tp.p, Path)
            for tm in self.doc.triples_maps.values():
                bound = _bind_pattern(self.doc, tm, tp, self.options, gctx)
                if bound is None:
                    continue
                src = None if is_path else self._scan(tm)
                cond = None
                if src is not None:
                    pruned = _bound_tm(tm, bound)
                    om = _plain_object_map(pruned)
                    cond = _and((
                        None if _is_var(tp.s)
                        else _nodes_filter(src, pruned.subject_map, [tp.s]),
                        None if om is None or _is_var(tp.o)
                        else _nodes_filter(src, om, [tp.o]),
                        # cross-pattern condition propagation: constraints
                        # a REQUIRED pattern places on a shared variable
                        # filter this binding's scan too (propagate-
                        # ConditionFromJoinedQuery analogue; sound for any
                        # pattern position — OPTIONAL/UNION/MINUS/EXISTS
                        # solutions only matter when compatible with the
                        # required patterns, whose shared-var values are
                        # constrained)
                        _prop_scan_filter(src, pruned, tp, prop),
                    ))
                collected.setdefault(tm.name, []).append(
                    (tp, gctx, bound, [] if cond is None else [(src.table, cond)])
                )
        for tm_name, entries in collected.items():
            frame = self._compile_bindings(
                self.doc.triples_maps[tm_name],
                [(b, f) for _tp, _g, b, f in entries],
                quads,
            )
            if frame is None:
                continue
            if len(entries) > 1:
                # register through the session cache registry (not a bare
                # persist) so request-scoped release hooks — the endpoint's
                # release_since at its request boundary — reclaim the block
                # even when nothing calls VirtualGraph.release(); a
                # long-lived serve_virtual otherwise leaks one cached frame
                # per multi-pattern request
                frame = caching.cache(frame)
                self._persisted.append(frame)
            for tp, gctx, _b, _f in entries:
                frames.append(self._residual(frame, tp, gctx))
        if not frames:
            schema = "subj string, pred string, obj string"
            if quads:
                schema += ", graph string"
            return self.spark.createDataFrame([], schema)
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        # set semantics over the REDUCED frame (the full graph's dedup
        # shuffle never happens in virtual mode)
        return out.dropDuplicates()

    # -- query surface ------------------------------------------------------

    def select(self, query: str | SelectQuery) -> DataFrame:
        q = _parsed(query, "SELECT")
        cp = self._constant_projection(q)
        return super().select(q) if cp is None else cp

    def solutions(self, q: SelectQuery) -> DataFrame:
        """A basic graph pattern over table sources is answered as joins
        of source scans (:mod:`.translate`); any other query over its
        fragment."""
        from .translate import translate

        bindings = translate(self, q)
        if bindings is None:
            return super().solutions(q)
        return select_over_bindings(bindings, q)

    def _constant_projection(self, q: SelectQuery) -> DataFrame | None:
        """§4.1 Constant Projection / Projection Pushing
        (allVarsProjectedAsConstantTermMaps,
        MorphBaseQueryTranslator.scala:398-470): a schema-exploration
        query like ``SELECT DISTINCT ?p WHERE { ?s ?p ?o } LIMIT 100``
        whose projected variable is matched only by CONSTANT term maps
        answers from the mapping alone — a literal VALUES frame, no
        source scan at all (the naive plan is a union of every triples
        map). None when the rewrite does not apply; opt-in via
        ``CompileOptions.constant_projection`` (see the option's note on
        the reference's non-empty-source assumption, which this rewrite
        shares)."""
        if not (self.options.constant_projection and q.distinct):
            return None
        if len(q.variables) != 1:
            return None
        if q.aggregates or q.group_by or q.having is not None or q.order_by:
            return None
        if q.projections:
            # (expr AS ?v) needs the expression evaluated over real
            # bindings; the mapping-only shortcut cannot compute it
            return None
        if q.from_graphs or q.from_named:
            return None
        w = q.where
        if (
            w.optionals or w.filters or w.unions or w.graphs or w.binds
            or w.values or w.exists or w.minuses or w.subselects
        ):
            return None
        # Soundness restriction: the rewrite answers from the MAPPING
        # alone, so the WHERE must not constrain solutions in any
        # data-dependent way. That holds only for a SINGLE triple
        # pattern whose other positions are distinct, otherwise-unused
        # variables (a co-pattern sharing a variable, a repeated
        # variable, or a constant subject/object all select rows — the
        # reference inspects the joined abstract query for the same
        # reason, MorphBaseQueryTranslator.scala:398-470). One certain
        # exception: a CONSTANT predicate whose bound POMs all carry
        # constant predicate maps — constant-vs-constant pruning is
        # exact, so the match is mapping-decidable (covers
        # ``SELECT DISTINCT ?t WHERE { ?s a ?t }``). Residual
        # assumption, as documented on the option: every bound source
        # is non-empty and produces at least one non-null term per map.
        if len(w.patterns) != 1:
            return None
        var = "?" + q.variables[0]
        tp = w.patterns[0]
        if isinstance(tp.p, Path):
            return None
        pos_terms = (("s", tp.s), ("p", tp.p), ("o", tp.o))
        positions = [pos for pos, t in pos_terms if t == var]
        if len(positions) != 1:
            return None  # unbound or repeated projected var
        pos = positions[0]
        const_pred = False
        other_vars: list[str] = []
        for opos, t in pos_terms:
            if opos == pos:
                continue
            if _is_var(t):
                other_vars.append(t)
            elif opos == "p":
                const_pred = True
            else:
                return None  # constant subject/object selects rows
        if len(set(other_vars)) != len(other_vars):
            return None  # repeated variable joins positions
        consts: set[str] = set()
        for tm in self.doc.triples_maps.values():
            bound = _bind_pattern(self.doc, tm, tp, self.options)
            if bound is None:
                continue
            pruned = _bound_tm(tm, bound)
            if const_pred and any(
                pm.kind != CONSTANT
                for pom in pruned.predicate_object_maps
                for pm in pom.predicate_maps
            ):
                # a data-dependent predicate map *might* match the
                # constant predicate — not mapping-decidable
                return None
            got = _constant_terms_at(pruned, pos, self.options)
            if got is None:
                return None
            consts.update(got)
        schema = f"{q.variables[0]} string"
        df = (
            self.spark.createDataFrame([(c,) for c in sorted(consts)], schema)
            if consts
            else self.spark.createDataFrame([], schema)
        )
        if q.offset:
            df = df.offset(q.offset)
        if q.limit is not None:
            df = df.limit(q.limit)
        return df

    @staticmethod
    def _has_graphs(group: Group) -> bool:
        if group.graphs:
            return True
        subs = (
            group.optionals
            + [g for br in group.unions for g in br]
            + [g for _p, g in group.exists]
            + group.minuses
            + [s.where for s in group.subselects]
        )
        return any(VirtualGraph._has_graphs(g) for g in subs)

    def describe(
        self, query: str | SelectQuery, max_nodes: int = 50_000
    ) -> DataFrame:
        """DESCRIBE, virtually: every triple whose subject or object is a
        described resource, built from ONLY the triples-map branches
        that can emit one of them (:meth:`_describe_nodes`). Named IRIs
        go straight there. With variables, two-phase (expandDescribe
        analogue, MorphBaseQueryTranslator.scala:86-92, which also
        answers DESCRIBE without materializing):

        phase 1 — evaluate the WHERE virtually (its patterns' fragment
        only) and collect the matched resource terms, bounded by
        ``max_nodes``;
        phase 2 — :meth:`_describe_nodes` over those terms and the named
        IRIs.

        Above the bound the node set is no longer driver-safe, so the
        evaluation falls back to :meth:`Graph.describe`'s fully
        distributed describe (two semi-joins against the whole virtual
        graph). The default bound is 50k terms (a few MB on the driver):
        past _ISIN_MAX the phase-2 restriction is a broadcast semi-join,
        so large node sets stay cheap — measured at sf0.1 (~15k matched
        customers), two-phase runs 2-2.6x faster than the fallback it
        previously hit at the old 10k bound."""
        q = _parsed(query, "DESCRIBE")
        if q.from_graphs or q.from_named:
            return super().describe(q)  # which refuses a dataset
        named = {t for t in q.describe if not _is_var(t)}
        if not q.variables:
            return self._describe_nodes(sorted(named))
        bindings = self.solutions(q)  # phase 1: virtual
        nodes_df = bindings.select(
            F.explode(F.array(*[F.col(v) for v in q.variables])).alias("n")
        ).distinct()
        sample = nodes_df.take(max_nodes + 1)
        if len(sample) > max_nodes:
            return super().describe(q)
        # literals cannot be described (they never appear as subjects,
        # and their occurrences as objects are not a resource description)
        nodes = {r.n for r in sample if r.n is not None and not r.n.startswith('"')}
        return self._describe_nodes(sorted(nodes | named))

    # above this many nodes a literal isin() stops being the right
    # restriction: the expression serializes into every task and the
    # per-key scan IN-list stops helping the reader — switch to a
    # broadcast semi-join against the node set and plain scans
    _ISIN_MAX = 1024

    def _describe_nodes(self, nodes: list[str]) -> DataFrame:
        """The fragment of every triple that can mention one of
        ``nodes`` as subject or object, restricted exactly to them.
        Each triples map is bound twice by the binder's can-emit check
        (:func:`_bind`): with the nodes as subjects and with the nodes
        as objects; a map neither binding keeps is never compiled.
        Up to ``_ISIN_MAX`` nodes without a blank node, a binding whose
        branches the translator covers is not compiled either: its rows
        come from key-filtered scans and joins
        (:meth:`.translate._Translator.describe`).

        The bindings left are compiled once per map
        (:meth:`_compile_bindings`, the rule ``fragment`` follows): the
        subject binding filters the map's own source to the inverted
        node keys, the object binding filters each RefObjectMap's
        parent source (the parent subject IS the described object), and
        a table is filtered only when every binding filters it. Up to
        ``_ISIN_MAX`` nodes the keys push into the scans as typed IN
        filters (a k-node DESCRIBE reads O(k) rows) and the exact
        subj/obj restriction is a literal isin(); above it the node set
        rides along as a broadcast frame, no key is pushed and the
        restriction is a broadcast LEFT SEMI join (one tiny hash table
        per executor instead of a 10k-element expression serialized
        into every task)."""
        if not nodes:
            return self.spark.createDataFrame(
                [], "subj string, pred string, obj string"
            )
        has_bnode = any(n.startswith("_:") for n in nodes)
        use_keys = len(nodes) <= self._ISIN_MAX
        nodes_df = (
            None
            if use_keys
            else F.broadcast(
                self.spark.createDataFrame([(n,) for n in nodes], "n string")
            )
        )

        def node_restrict(frame: DataFrame) -> DataFrame:
            """Exact 'subj or obj is a node' restriction in the regime's
            idiom; the final dropDuplicates dedups rows matched by both
            columns in the semi-join regime."""
            if use_keys:
                return frame.where(F.col("subj").isin(nodes) | F.col("obj").isin(nodes))
            return functools.reduce(DataFrame.unionByName, (
                frame.join(nodes_df, frame[c] == nodes_df["n"], "leftsemi")
                for c in ("subj", "obj")
            ))

        def node_keys(tm: TriplesMap, keyed: bool) -> tuple[str | None, Column | None]:
            """(table, scan filter) implied by 'this map's SUBJECT is a
            node', the filter None unless ``keyed`` and provably exact;
            none in the semi-join regime."""
            src = self._scan(tm) if keyed and use_keys else None
            return self.catalog.table_of(tm.logical_source), (
                None if src is None else _nodes_filter(src, tm.subject_map, nodes)
            )

        # a binding whose branches the translator covers answers from
        # key-filtered source scans and joins (translate.py), never a
        # compile of the map; blank nodes have no key to filter on
        tx = None
        if use_keys and not has_bnode:
            from .translate import _Translator

            tx = _Translator(self)
        frames: list[DataFrame] = []
        translated = []
        for tm in self.doc.triples_maps.values():
            bindings = []
            for pos, bound in (
                ("s", _bind(self.doc, tm, nodes, None, None, self.options)),
                ("o", _bind(self.doc, tm, None, None, nodes, self.options)),
            ):
                got = None if tx is None or bound is None else tx.describe(
                    tm, pos, bound, tuple(nodes)
                )
                if got is not None:
                    translated += got
                elif bound is None:
                    continue
                elif pos == "s":
                    # the nodes as this map's subjects: its own source
                    # filtered to their keys (a blank node has none, and
                    # a collection cell has a blank-node subject)
                    bindings.append((bound, [node_keys(tm, not has_bnode)]))
                else:
                    # the nodes as objects: each RefObjectMap's parent
                    # source filtered to their keys — but not a
                    # collection's parent, whose every member labels the
                    # collection's blank nodes
                    bindings.append((bound, [
                        node_keys(
                            self.doc.triples_maps[rom.parent_triples_map],
                            not rom.collection_term_type(),
                        )
                        for _i, pom in bound.poms
                        for rom in pom.ref_object_maps
                    ]))
            if bindings:
                frame = self._compile_bindings(tm, bindings)
                if frame is not None:
                    frames.append(node_restrict(frame))
        if not frames and not translated:
            return self.spark.createDataFrame(
                [], "subj string, pred string, obj string"
            )
        out = functools.reduce(
            DataFrame.unionByName, frames + [f for _b, f in translated]
        )
        # translated rows are a set when no two branches share a
        # predicate (a triple with nodes at both ends is bound twice
        # under one predicate) and each branch's rows are distinct
        preds = [b.pred for b, _f in translated]
        if not frames and len(set(preds)) == len(preds) and all(
            tx._distinct(b) for b, _f in translated
        ):
            return out
        return out.dropDuplicates()

    def release(self) -> None:
        for comp in self._compilers:
            comp.release()
        self._compilers.clear()
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

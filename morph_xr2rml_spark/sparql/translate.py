"""Rewriting mode on source keys: a basic graph pattern answered as joins
of key-filtered source scans, with N-Triples terms built after the joins.

The reference's RDB path turns a SPARQL query into one SQL query of
joins between the source tables (MorphRDBQueryTranslator.trans
:262-315, SURVEY §3.3), and merges the self-joins of a table on its
unique key (mergeForInnerJoin :122-186, SURVEY §4.1). This module is
that path for the shapes it covers:

- a *binding* is a triple pattern paired with one branch of a triples
  map that the binder (:func:`.virtual._bind_pattern`) kept for it: a
  class triple, a predicate-object pair or a RefObjectMap;
- its *atom* is the branch's source scan (a RefObjectMap adds the
  parent's scan, joined on its join conditions), with the pattern's
  constants pushed in as scan filters (:func:`.virtual._nodes_filter`)
  plus an exact test on the rendered term, and each term map's
  definedness (a row whose term is NULL emits no triple); a
  RefObjectMap with a list or container term type is the head of its
  collection, the joined parents' subjects grouped per child subject
  and join key, labelled by the compiler's own code;
- a pattern's atoms are unioned, and deduplicated unless the source
  keys prove them distinct (the materialized graph is a set); an atom
  whose rendering of a shared variable is disjoint from every
  rendering another pattern has for it is dropped first
  (compatibleTemplateStrings, TemplateUtility.scala:260-281);
- patterns join on shared variables: on source columns when both
  render the variable with the same injective template, else on the
  rendered terms; two scans of one table joined on its unique key are
  one scan;
- terms are built last, with the compiler's own term-map code, and only
  for the variables the rest of the query reads.

:func:`translate` returns None for any other query, which the caller
then evaluates over the fragment (:meth:`.virtual.VirtualGraph.fragment`).
DESCRIBE binds each map to its nodes as subjects and as objects, and
takes the atoms of the maps it covers (:meth:`_Translator.describe`,
the reference's expandDescribe, MorphBaseQueryTranslator.scala:86-92).
"""

from __future__ import annotations

import functools
import itertools
from dataclasses import dataclass, field, replace
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..compiler.collections import collection_heads
from ..compiler.compile import MappingCompiler, _TermExpr, json_fields, typed_term_map
from ..functions import terms
from ..functions.paths import MixedSyntaxPath
from ..functions.templates import get_template_groups, template_parts
from ..mapping.model import (
    COLUMN, CONSTANT, REFERENCE, TEMPLATE, RefObjectMap, TermMap, TriplesMap,
)
from ..sources.catalog import RawSource, typed_column
from .parse import FilterNode, Path, SelectQuery, TriplePattern, _is_var
from .virtual import (
    _NOT_THIS,
    _RDF_TYPE,
    _Bound,
    _and,
    _bind_pattern,
    _can_emit,
    _constant_term,
    _invert,
    _nodes_filter,
    _template_invariant,
)


@dataclass(frozen=True)
class _Render:
    """A term that ``term_map`` renders from the row of scan ``alias``."""

    term_map: TermMap
    alias: int


@dataclass(frozen=True)
class _Built:
    """A term already built, in column ``name`` of frame item ``item``.
    A variable is represented by a _Render, a _Built or a constant term."""

    item: int
    name: str


class _Col(NamedTuple):
    """A raw column of scan ``alias``."""

    alias: int
    column: str


class _Branch(NamedTuple):
    """One branch of a bound triples map: its constant predicate and its
    object — a class IRI, an object map, or a RefObjectMap."""

    tm: TriplesMap
    pred: str
    obj: object


@dataclass
class _Scan:
    """One scan of a logical source (:meth:`_Translator.source`), with
    the filters (over its columns) that every row it contributes
    passes."""

    table: tuple[str, ...]
    raw: DataFrame
    keys: tuple[tuple[str, ...], ...]
    filters: list[Column] = field(default_factory=list)
    keyed: bool = False  # a constant's key filter reaches the scan


@dataclass
class _Frame:
    """A built frame whose columns are variables, with the filters on
    them (columns are prefixed for the whole query at the join)."""

    df: DataFrame
    filters: list[Column] = field(default_factory=list)


# the pattern every triple matches: DESCRIBE binds whole maps
_ANY_TRIPLE = TriplePattern("?s", "?p", "?o")


def _column(ref: str) -> str | None:
    """The column a Column-formulation reference names, when it is a
    plain column."""
    msp = MixedSyntaxPath.parse(ref, "Column")
    return msp.referenced_column if msp.is_simple_column else None


def _columns(tm: TermMap) -> list[str] | None:
    """The source columns a scalar, natively compiled term map reads, in
    group order; None when the map is not one (a mixed-syntax path, an
    array-valued reference, a collection)."""
    if tm.kind == CONSTANT:
        return []
    if tm.is_collection:
        return None
    if tm.kind == COLUMN:
        return [tm.column]
    if tm.ref_formulation != "Column":
        return None
    refs = [tm.reference] if tm.kind == REFERENCE else get_template_groups(tm.template)
    cols = [_column(ref) for ref in refs]
    if None in cols or tm.kind == TEMPLATE and any(
        isinstance(p, str) and set(p) & set("{}\\") for p in template_parts(tm.template)
    ):
        return None
    return cols


def _renamed(tm: TermMap, prefix: str) -> TermMap:
    """``tm`` reading the columns of a scan renamed with ``prefix``."""
    if tm.kind == CONSTANT:
        return tm
    cols = _columns(tm)
    if tm.kind == TEMPLATE:
        text = "".join(
            p if isinstance(p, str) else "{" + prefix + cols[p] + "}"
            for p in template_parts(tm.template)
        )
        return replace(tm, template=text)
    if tm.kind == REFERENCE:
        return replace(tm, reference=prefix + cols[0])
    return replace(tm, column=prefix + tm.column)


def _vars(tp: TriplePattern) -> list[str]:
    return [t[1:] for t in (tp.s, tp.p, tp.o) if _is_var(t)]


def _names(node, out: set[str]) -> set[str]:
    """Every name a query part mentions, its '?' dropped (a superset of
    the variables it reads)."""
    if isinstance(node, FilterNode):
        _names(node.args, out)
    elif isinstance(node, (list, tuple)):
        for a in node:
            _names(a, out)
    elif isinstance(node, str):
        out.add(node[1:] if node.startswith("?") else node)
    return out


def _needed(q: SelectQuery) -> set[str] | None:
    """The variables whose terms the rest of the query reads; None =
    all of them (SELECT *, and CONSTRUCT, whose template blank nodes
    hash the whole solution)."""
    if q.form == "CONSTRUCT" or (q.form == "SELECT" and not q.variables):
        return None
    out = set(q.variables) | set(q.group_by)
    out |= {a.var for a in q.aggregates if a.var}
    parts = [f.expr for f in q.where.filters] + list(q.where.binds)
    parts += list(q.projections) + list(q.group_exprs) + [q.having, q.order_by]
    return _names(parts, out)


def _star_order(patterns: list[TriplePattern]) -> list[str]:
    """The column order the fragment path gives SELECT *: patterns
    joined left to right, each join putting its shared columns first."""
    cols: list[str] = []
    for tp in patterns:
        pc = _vars(tp)
        shared = [c for c in cols if c in pc]
        cols = shared + [c for c in cols if c not in shared] + [
            c for c in pc if c not in shared
        ]
    return cols


def _covered_query(q: SelectQuery) -> bool:
    """Does the query's WHERE hold only triple patterns, FILTER and BIND,
    over the default graph, with no variable repeated in a pattern?"""
    w = q.where
    if (
        q.form not in ("SELECT", "ASK", "CONSTRUCT", "DESCRIBE")
        or q.from_graphs or q.from_named
    ):
        return False
    if (
        w.optionals or w.unions or w.graphs or w.values or w.exists
        or w.minuses or w.subselects or not w.patterns
    ):
        return False
    for tp in w.patterns:
        if isinstance(tp.p, Path):
            return False
        vs = _vars(tp)
        if len(set(vs)) != len(vs):
            return False
    return True


class _Query:
    """A conjunctive query under construction: scans and built frames
    (the items), equalities between scan columns, and equalities between
    terms. :meth:`frame` merges the self-joins and builds it."""

    def __init__(self, tx: "_Translator"):
        self.tx = tx
        self.items: list[_Scan | _Frame] = []
        self.parent: dict[int, int] = {}
        # (alias, column, alias, column, how): how is 'eq', 'nullsafe'
        # or 'str' (differently typed columns compare as strings)
        self.eqs: list[tuple[int, str, int, str, str]] = []
        self.term_eqs: list[tuple[object, object]] = []
        self.empty = False
        self.single = False  # one item: its columns keep their names

    def find(self, i: int) -> int:
        while self.parent.get(i, i) != i:
            i = self.parent[i]
        return i

    def scan(self, tm: TriplesMap) -> int:
        table, frame = self.tx.source(tm)
        self.items.append(_Scan(table, frame, self.tx.compiler.unique_keys(tm)))
        return len(self.items) - 1

    def built(self, df: DataFrame) -> dict[str, _Built]:
        """Add a frame whose columns are variables; their representations."""
        self.items.append(_Frame(df))
        return {c: _Built(len(self.items) - 1, c) for c in df.columns}

    def rep(self, tm: TermMap, alias: int):
        if tm.kind == CONSTANT:
            return _constant_term(tm, self.tx.options)
        return _Render(tm, alias)

    def match(self, rep, consts: tuple[str, ...]) -> bool:
        """Restrict ``rep`` to the constants ``consts``; False when that
        provably keeps nothing."""
        if isinstance(rep, str):
            return rep in consts
        if isinstance(rep, _Built):
            self.items[rep.item].filters.append(_one_of(F.col(rep.name), consts))
            return True
        tm, scan = rep.term_map, self.items[rep.alias]
        consts = tuple(
            t for t in consts
            if _can_emit(tm, t, self.tx.options) and _invert(tm, t) is not _NOT_THIS
        )
        if not consts:
            return False
        pushed = _nodes_filter(RawSource(scan.table[1], scan.raw, None), tm, consts)
        if pushed is not None:
            scan.filters.append(pushed)
            scan.keyed = True
        scan.filters.append(_one_of(self.tx.term(tm, scan.raw).col, consts))
        return True

    def same_term(self, a, b) -> None:
        if isinstance(a, str) or isinstance(b, str):
            const, other = (a, b) if isinstance(a, str) else (b, a)
            self.empty = self.empty or not self.match(other, (const,))
        else:
            self.term_eqs.append((a, b))

    def _merge(self) -> None:
        """Self-join elimination: two scans of one table whose unique key
        columns are equated pairwise are the same row."""
        while True:
            equated: dict[tuple[int, int], set[str]] = {}
            for i, c, j, d, how in self.eqs:
                i, j = self.find(i), self.find(j)
                if i != j and c == d and how != "str" and self.items[i].table == self.items[j].table:
                    equated.setdefault((min(i, j), max(i, j)), set()).add(c)
            pair = next(
                (p for p, cols in equated.items()
                 if any(set(k) <= cols for k in self.items[p[0]].keys)),
                None,
            )
            if pair is None:
                return
            keep, gone = pair
            self.parent[gone] = keep
            self.items[keep].filters += self.items[gone].filters
            self.items[keep].keyed |= self.items[gone].keyed

    def _item(self, rep) -> int:
        return rep.item if isinstance(rep, _Built) else self.find(rep.alias)

    def _name(self, item: int, column: str) -> str:
        """A column of an item in the joined frame."""
        return column if self.single else f"a{item}_{column}"

    def _term(self, rep) -> Column:
        """The built term of ``rep`` (a raw column for a _Col) in the
        joined frame."""
        if isinstance(rep, str):
            return F.lit(rep)
        i = self._item(rep)
        if isinstance(rep, _Built):
            return F.col(self._name(i, rep.name))
        if isinstance(rep, _Col):
            return F.col(self._name(i, rep.column))
        return self.tx.term(rep.term_map, self.items[i].raw, self._name(i, "")).col

    def _cross(self) -> list[tuple[frozenset[int], object]]:
        """The conditions between two items; a condition within one item
        becomes a filter of it."""
        cross: list[tuple[frozenset[int], object]] = []
        for i, c, j, d, how in self.eqs:
            i, j = self.find(i), self.find(j)
            if i != j:
                cross.append((frozenset((i, j)), (i, c, j, d, how)))
            elif (cond := _col_eq(F.col(c), F.col(d), how, c == d)) is not None:
                self.items[i].filters.append(cond)
        for a, b in self.term_eqs:
            i, j = self._item(a), self._item(b)
            if i != j:
                cross.append((frozenset((i, j)), (a, b)))
            else:  # two renderings over one merged scan
                scan = self.items[i]
                scan.filters.append(
                    self.tx.term(a.term_map, scan.raw).col
                    == self.tx.term(b.term_map, scan.raw).col
                )
        return cross

    def frame(self, outputs: dict[str, object]) -> DataFrame:
        """The rows of the query, one column per output variable."""
        if self.empty:
            schema = ", ".join(f"`{v}` string" for v in outputs) or "__empty string"
            return self.tx.vg.spark.createDataFrame([], schema).select(*outputs)
        self._merge()
        cross = self._cross()
        roots = [i for i in range(len(self.items)) if self.find(i) == i]
        self.single = len(roots) == 1
        used: dict[int, set[str]] = {i: set() for i in roots}

        def use(rep) -> None:
            if isinstance(rep, _Built):
                used[rep.item].add(rep.name)
            elif isinstance(rep, _Col):
                used[self.find(rep.alias)].add(rep.column)
            elif isinstance(rep, _Render):
                used[self.find(rep.alias)].update(_columns(rep.term_map))

        for _items, cond in cross:
            if len(cond) == 5:
                used[cond[0]].add(cond[1])
                used[cond[2]].add(cond[3])
            else:
                use(cond[0])
                use(cond[1])
        for rep in outputs.values():
            use(rep)
        frames = {}
        for i in roots:
            item = self.items[i]
            if isinstance(item, _Scan):
                self.tx.keyed &= item.keyed
                df = item.raw
            else:
                df = item.df
            if item.filters:
                df = df.where(_and(item.filters))
            if not self.single:
                df = df.select(*[F.col(c).alias(self._name(i, c)) for c in sorted(used[i])])
            frames[i] = df

        def cond_col(cond) -> Column:
            if len(cond) == 5:
                i, c, j, d, how = cond
                return _col_eq(F.col(self._name(i, c)), F.col(self._name(j, d)), how, False)
            return self._term(cond[0]) == self._term(cond[1])

        out = frames[roots[0]]
        joined = {roots[0]}
        rest = roots[1:]
        while rest:
            nxt = next(
                (j for j in rest
                 if any(j in items and items <= joined | {j} for items, _c in cross)),
                rest[0],
            )
            rest.remove(nxt)
            now = [c for items, c in cross if nxt in items and items <= joined | {nxt}]
            joined.add(nxt)
            if now:
                out = out.join(frames[nxt], _and(cond_col(c) for c in now), "inner")
            else:
                out = out.crossJoin(frames[nxt])
        return out.select(*[self._term(r).alias(v) for v, r in outputs.items()])


def _one_of(col: Column, consts: tuple[str, ...]) -> Column:
    return col == F.lit(consts[0]) if len(consts) == 1 else col.isin(list(consts))


def _col_eq(a: Column, b: Column, how: str, same: bool) -> Column | None:
    """Equality of two key columns; for one column against itself, the
    test that equality holds (None: always)."""
    if same:
        return a.isNotNull() if how != "nullsafe" else None
    if how == "nullsafe":
        return a.eqNullSafe(b)
    if how == "str":
        return a.cast("string") == b.cast("string")
    return a == b


class _Translator:
    def __init__(self, vg):
        self.vg = vg
        self.doc = vg.doc
        self.catalog = vg.catalog
        self.options = vg.options
        # every scan reads only the rows a constant's key selects
        self.keyed = True
        self._sources: dict[str, tuple[tuple[str, ...], DataFrame] | None] = {}
        self._views: dict[str, TriplesMap | None] = {}

    @functools.cached_property
    def compiler(self) -> MappingCompiler:
        return MappingCompiler(self.vg.spark, self.doc, self.catalog, self.options)

    def term(self, tm: TermMap, raw: DataFrame, prefix: str = "") -> _TermExpr:
        """The compiler's term expression of ``tm`` over the columns of
        ``raw`` renamed with ``prefix``; compiled once per graph for a
        term map, prefix and column types."""
        cols = _columns(tm)
        key = (tm, prefix, tuple(raw.schema[c].dataType for c in cols))
        expr = self.vg._terms.get(key)
        if expr is None:
            frame = raw.select(*[F.col(c).alias(prefix + c) for c in cols])
            expr = self.compiler._compile_term_map(_renamed(tm, prefix), frame, None)
            self.vg._terms[key] = expr
        return expr

    def source(self, tm: TriplesMap) -> tuple[tuple[str, ...], DataFrame] | None:
        """The identity and the frame of the scan of ``tm``'s logical
        source: a registered Column-formulation table, or an
        iterator-free document source over a registered table, as
        :meth:`SourceCatalog.resolve` shapes it (find() predicate
        applied, proven JSONPath fields as typed columns); None for
        any other source."""
        if tm.name not in self._sources:
            ls = self.doc.triples_maps[tm.name].logical_source
            src = None if ls.iterator else self.catalog.raw_source(ls)
            out = None
            if src is not None and ls.formulation == "Column" and ls.kind == "table":
                out = (ls.kind, ls.value, ls.formulation), src.frame
            elif src is not None and ls.formulation == "JSONPath":
                paths, keys = self.compiler.json_paths(src.table)
                out = (ls.kind, ls.value, ls.formulation), self.catalog.resolve(
                    ls, paths, keys
                )[0]
            self._sources[tm.name] = out
        return self._sources[tm.name]

    def raw(self, tm: TriplesMap) -> DataFrame:
        return self.source(tm)[1]

    def typed(self, tm: TriplesMap, m: TermMap) -> TermMap:
        """Term map ``m`` of ``tm`` over the typed columns of its source
        (:func:`.compile.typed_term_map`)."""
        return typed_term_map(m, self.raw(tm))

    def view(self, tm: TriplesMap) -> TriplesMap | None:
        """``tm`` as the translator reads it: its subject map over typed
        columns, its unique references the typed ones, declared or
        proven (the subject's fields :meth:`SourceCatalog.typed_fields`
        proves unique); None when its source is not one :meth:`source`
        scans."""
        if tm.name not in self._views:
            view = None if self.source(tm) is None else tm
            ls = tm.logical_source
            if view is not None and ls.formulation == "JSONPath":
                # a uniqueness claim on an untyped field is dropped
                refs = [
                    self.typed(tm, TermMap(REFERENCE, "subject", reference=r,
                                           ref_formulation="JSONPath"))
                    for r in ls.unique_refs
                ]
                name = self.catalog.table_of(ls)
                proof = self.catalog.typed_fields(name, *self.compiler.json_paths(name))
                unique = sorted(
                    f for f in json_fields(tm.subject_map) or ()
                    if f in proof and proof[f].unique
                )
                ls = replace(ls, formulation="Column", unique_refs=tuple(
                    m.column for m in refs if m.kind == COLUMN
                ) + tuple(typed_column(f) for f in unique))
                view = replace(
                    tm, logical_source=ls, subject_map=self.typed(tm, tm.subject_map)
                )
            self._views[tm.name] = view
        return self._views[tm.name]

    # -- coverage -----------------------------------------------------------

    def _has(self, tm: TriplesMap, cols) -> bool:
        return None not in cols and set(cols) <= set(self.raw(tm).columns)

    def _scans_ok(self, tm: TriplesMap, term_maps) -> bool:
        """Is ``tm`` a :meth:`view`, with no slice or graph map, and are
        ``term_maps`` scalar maps of its columns?"""
        if (
            tm.name in self.options.limits or tm.name in self.options.offsets
            or tm.subject_map.graph_maps
        ):
            return False
        return all(_columns(m) is not None and self._has(tm, _columns(m)) for m in term_maps)

    def branches(self, tm: TriplesMap, bound, tp: TriplePattern) -> list[_Branch] | None:
        """The branches of a bound triples map that can match ``tp``;
        None when one of them is outside the covered shapes."""
        tm = self.view(tm)
        if tm is None or bound.cells or not self._scans_ok(tm, [tm.subject_map]):
            return None
        out = [_Branch(tm, _RDF_TYPE, terms.make_iri(c, False)) for c in bound.classes]
        for _i, pom in bound.poms:
            if pom.graph_maps or any(pm.kind != CONSTANT for pm in pom.predicate_maps):
                return None
            oms = [self.typed(tm, m) for m in pom.object_maps]
            if not self._scans_ok(tm, oms):
                return None
            for rom in pom.ref_object_maps:
                ptm = self.view(self.doc.triples_maps[rom.parent_triples_map])
                cols = [
                    (_column(jc.child_ref), _column(jc.parent_ref))
                    for jc in rom.join_conditions
                ]
                if (
                    not cols or ptm is None
                    or not self._scans_ok(ptm, [ptm.subject_map])
                    or not self._has(tm, [c for c, _p in cols])
                    or not self._has(ptm, [p for _c, p in cols])
                ):
                    return None
            for pm in pom.predicate_maps:
                pred = _constant_term(pm, self.options)
                if not _is_var(tp.p) and pred != tp.p:
                    continue
                out += [_Branch(tm, pred, m) for m in oms + list(pom.ref_object_maps)]
        return out

    # -- binding reduction --------------------------------------------------

    def _rendering(self, b: _Branch, pos: str):
        """What renders position 's'/'p'/'o' of branch ``b``: a constant
        term, a term map, or None (a collection head's blank node)."""
        if pos == "p":
            return b.pred
        if pos == "s":
            m = b.tm.subject_map
        elif isinstance(b.obj, str):
            return b.obj
        elif isinstance(b.obj, TermMap):
            m = b.obj
        elif b.obj.collection_term_type():
            return None
        else:
            m = self.view(self.doc.triples_maps[b.obj.parent_triples_map]).subject_map
        return _constant_term(m, self.options) if m.kind == CONSTANT else m

    def _disjoint(self, a, b) -> bool:
        """Provably no term is rendered by both ``a`` and ``b``."""
        if a is None or b is None:
            return False
        if isinstance(a, str) and isinstance(b, str):
            return a != b
        if isinstance(a, str) or isinstance(b, str):
            const, tm = (a, b) if isinstance(a, str) else (b, a)
            return not _can_emit(tm, const, self.options)
        if a.member_term_info()[0] != b.member_term_info()[0]:
            return True
        if not all(
            m.kind == TEMPLATE and m.infer_term_type() == terms.TERM_IRI
            and _template_invariant(m.template)
            for m in (a, b)
        ):
            return False
        pa, pb = template_parts(a.template), template_parts(b.template)

        def ends(parts, i):
            return parts[i] if isinstance(parts[i], str) else ""

        s1, s2 = ends(pa, 0), ends(pb, 0)
        e1, e2 = ends(pa, -1), ends(pb, -1)
        return not (s1.startswith(s2) or s2.startswith(s1)) or not (
            e1.endswith(e2) or e2.endswith(e1)
        )

    def _reduce(self, patterns: list[TriplePattern], branches: list[list[_Branch]]) -> None:
        """Drop every branch whose rendering of a shared variable is
        disjoint from all the renderings another pattern has for it,
        until none is dropped."""
        positions = [
            {t[1:]: pos for pos, t in zip("spo", (tp.s, tp.p, tp.o)) if _is_var(t)}
            for tp in patterns
        ]
        changed = True
        while changed:
            changed = False
            for i, j in itertools.permutations(range(len(patterns)), 2):
                for v in set(positions[i]) & set(positions[j]):
                    others = [self._rendering(c, positions[j][v]) for c in branches[j]]
                    keep = [
                        b for b in branches[i]
                        if any(not self._disjoint(self._rendering(b, positions[i][v]), o)
                               for o in others)
                    ]
                    if len(keep) < len(branches[i]):
                        branches[i] = keep
                        changed = True

    # -- atoms --------------------------------------------------------------

    def _distinct(self, b: _Branch) -> bool:
        """Do distinct rows of the branch's scan emit distinct triples,
        by the compiler's rules (:meth:`MappingCompiler.rows_distinct`,
        :meth:`MappingCompiler.joins_one_parent`)? A collection head is
        one row per subject and join key."""
        raw, c = self.raw(b.tm), self.compiler
        exprs = [self.term(b.tm.subject_map, raw)]
        if isinstance(b.obj, TermMap):
            exprs.append(self.term(b.obj, raw))
        if not c.rows_distinct(b.tm, *exprs):
            return False
        if isinstance(b.obj, RefObjectMap) and not b.obj.collection_term_type():
            ptm = self.view(self.doc.triples_maps[b.obj.parent_triples_map])
            return c.joins_one_parent(b.obj, self.term(ptm.subject_map, self.raw(ptm)))
        return True

    def _parent(self, q: _Query, a: int, rom: RefObjectMap):
        """Join the parent scan of ``rom`` to scan ``a`` on its join
        conditions; the representation of the parent's subject."""
        ptm = self.view(self.doc.triples_maps[rom.parent_triples_map])
        p = q.scan(ptm)
        child, parent = q.items[a].raw.schema, q.items[p].raw.schema
        for cc, pc, as_strings in self.compiler.join_columns(rom, child, parent):
            q.eqs.append((a, cc, p, pc, "str" if as_strings else "eq"))
        return q.rep(ptm.subject_map, p)

    def _defined(self, q: _Query, *reps) -> None:
        """A row whose term is NULL emits no triple."""
        for rep in reps:
            if isinstance(rep, _Render):
                scan = q.items[rep.alias]
                scan.filters.append(self.term(rep.term_map, scan.raw).defined)

    def _heads(self, b: _Branch, nodes: tuple[str, ...] | None) -> DataFrame | None:
        """(subj, pred, obj) rows: the heads of the RDF collections that branch
        ``b`` (a RefObjectMap with a collection term type) emits, for
        subjects among ``nodes`` (None: any). The child scan joins the
        parent scan, each child subject and join key groups its parents'
        subjects into one sorted member set, and the set is labelled as
        the compiler labels it (:mod:`..compiler.collections`); None
        when no subject can match."""
        q = _Query(self)
        a = q.scan(b.tm)
        subj = q.rep(b.tm.subject_map, a)
        member = self._parent(q, a, b.obj)
        self._defined(q, subj, member)
        if nodes is not None and not q.match(subj, nodes):
            return None
        keys = {
            f"k{i}": _Col(a, _column(jc.child_ref))
            for i, jc in enumerate(b.obj.join_conditions)
        }
        grouped = (
            q.frame({"subj": subj, "member": member, **keys})
            .groupBy("subj", *keys)
            .agg(F.sort_array(F.collect_set("member")).alias("members"))
            .select("subj", F.lit(b.pred).alias("pred"), "members")
        )
        return collection_heads(grouped, b.obj.collection_term_type())

    def atom(
        self, q: _Query, b: _Branch, match: dict[str, tuple[str, ...]]
    ) -> tuple | None:
        """Add branch ``b`` to ``q``, its position 's', 'p' or 'o'
        restricted to the terms ``match`` holds for it; the
        (subject, predicate, object) representations, or None when the
        branch provably matches nothing."""
        if isinstance(b.obj, RefObjectMap) and b.obj.collection_term_type():
            heads = self._heads(b, match.get("s"))
            if heads is None:
                return None
            built = q.built(heads)
            subj, obj = built["subj"], built["obj"]
            match = {pos: ts for pos, ts in match.items() if pos != "s"}
        else:
            a = q.scan(b.tm)
            subj = q.rep(b.tm.subject_map, a)
            if isinstance(b.obj, str):
                obj = b.obj
            elif isinstance(b.obj, TermMap):
                obj = q.rep(b.obj, a)
            else:
                obj = self._parent(q, a, b.obj)
            self._defined(q, subj, obj)
        reps = (subj, b.pred, obj)
        for pos, rep in zip("spo", reps):
            if pos in match and not q.match(rep, match[pos]):
                return None
        return reps

    def pattern(self, q: _Query, tp: TriplePattern, b: _Branch) -> dict[str, object] | None:
        """:meth:`atom` matched against ``tp``: the representation of
        each variable of the pattern."""
        spo = (tp.s, tp.p, tp.o)
        reps = self.atom(q, b, {pos: (t,) for pos, t in zip("spo", spo) if not _is_var(t)})
        if reps is None:
            return None
        return {t[1:]: rep for t, rep in zip(spo, reps) if _is_var(t)}

    def describe(
        self, tm: TriplesMap, pos: str, bound: _Bound, nodes: tuple[str, ...]
    ) -> list[tuple[_Branch, DataFrame]] | None:
        """The (subj, pred, obj) rows of ``tm`` with one of ``nodes`` at
        position ``pos`` ('s' or 'o'): the branches ``bound`` keeps
        there (:func:`.virtual._bind`), restricted at it to the nodes
        (the pattern ``<n> ?p ?o`` or ``?s ?p <n>``); each branch with
        its frame. None when a bound branch is outside the covered
        shapes."""
        bs = self.branches(tm, bound, _ANY_TRIPLE)
        if bs is None:
            return None
        out = []
        for b in bs:
            q = _Query(self)
            reps = self.atom(q, b, {pos: nodes})
            if reps is not None:
                out.append((b, q.frame(dict(zip(("subj", "pred", "obj"), reps)))))
        return out

    def union(self, tp: TriplePattern, bs: list[_Branch], keep: list[str]) -> DataFrame:
        """The pattern's atoms built and unioned, a set over the
        pattern's variables, projected to ``keep``."""
        preds = [b.pred for b in bs]
        distinct = len(set(preds)) == len(preds) and all(self._distinct(b) for b in bs)
        cols = keep if distinct else _vars(tp)
        frames = []
        for b in bs:
            q = _Query(self)
            reps = self.pattern(q, tp, b)
            if reps is not None:
                frames.append(q.frame({v: reps[v] for v in cols}))
        if not frames:
            q = _Query(self)
            q.empty = True
            return q.frame(dict.fromkeys(keep))
        out = functools.reduce(DataFrame.unionByName, frames)
        if not _vars(tp):  # a constant triple: there or not
            return out.limit(1)
        return out.select(*keep) if distinct else out.dropDuplicates().select(*keep)

    # -- joins ----------------------------------------------------------------

    def _signature(self, q: _Query, r: _Render):
        """What makes two renderings of a variable equal exactly when
        their source columns are, or None: the same template shape,
        term type, datatype, language and column types, and an
        injective rendering."""
        scan = q.items[r.alias]
        tm = r.term_map
        if not self.term(tm, scan.raw).injective:
            return None
        shape = (
            tuple(p if isinstance(p, str) else None for p in template_parts(tm.template))
            if tm.kind == TEMPLATE else ()
        )
        types = tuple(scan.raw.schema[c].dataType.simpleString() for c in _columns(tm))
        return shape, tm.member_term_info(), types

    def join(self, q: _Query, reps: list) -> object:
        """Equate every representation of one variable; the one that
        stands for them all."""
        heads: list = []
        groups: dict[object, _Render] = {}
        for r in reps:
            sig = self._signature(q, r) if isinstance(r, _Render) else None
            if sig is None or sig not in groups:
                if sig is not None:
                    groups[sig] = r
                heads.append(r)
                continue
            h = groups[sig]
            cols = list(zip(_columns(h.term_map), _columns(r.term_map)))
            how = "nullsafe" if len(cols) > 1 else "eq"
            q.eqs += [(h.alias, c, r.alias, d, how) for c, d in cols]
        for r in heads[1:]:
            q.same_term(heads[0], r)
        return heads[0]

    def bgp(self, q: SelectQuery) -> DataFrame | None:
        patterns = q.where.patterns
        branches: list[list[_Branch]] = []
        for tp in patterns:
            bs: list[_Branch] = []
            for tm in self.doc.triples_maps.values():
                bound = _bind_pattern(self.doc, tm, tp, self.options)
                if bound is None:
                    continue
                got = self.branches(tm, bound, tp)
                if got is None:
                    return None
                bs += got
            branches.append(bs)
        self._reduce(patterns, branches)
        every = _star_order(patterns)
        needed = _needed(q)
        outputs = every if needed is None else [v for v in every if v in needed]
        seen: dict[str, int] = {}
        for tp in patterns:
            for v in _vars(tp):
                seen[v] = seen.get(v, 0) + 1
        query = _Query(self)
        occurrences: dict[str, list] = {}
        for tp, bs in zip(patterns, branches):
            if not bs:
                query.empty = True
                continue
            if len(bs) == 1 and _vars(tp) and self._distinct(bs[0]):
                reps = self.pattern(query, tp, bs[0])
                if reps is None:
                    query.empty = True
                    continue
            else:
                keep = [v for v in _vars(tp) if v in outputs or seen[v] > 1]
                reps = query.built(self.union(tp, bs, keep))
            for v, r in reps.items():
                occurrences.setdefault(v, []).append(r)
        heads = {v: self.join(query, reps) for v, reps in occurrences.items()}
        out = query.frame({v: heads.get(v) for v in outputs})
        # ASK takes one row: over key-filtered scans, one task looks for
        # it, where a take over several files can run a job per attempt
        return out.coalesce(1) if q.form == "ASK" and self.keyed else out


def translate(vg, q: SelectQuery) -> DataFrame | None:
    """The solutions of the basic graph pattern of ``q`` over the mapped
    graph of ``vg`` (one column per variable the rest of the query
    reads), built as joins of source scans; None when the query or one
    of its bindings is outside the covered shapes."""
    if not _covered_query(q):
        return None
    return _Translator(vg).bgp(q)

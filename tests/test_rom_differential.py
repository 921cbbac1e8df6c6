"""Randomized differential for RefObjectMap joins (J1/J4/J5): the
compiled triples must equal a pure-Python evaluation of the xR2RML
semantics — string-compared value intersection over all (child, parent)
row pairs (childValues.map(_.toString), MorphRDBDataTranslator.scala
:170-180), rows with a nothing-valued reference joining nothing, null
subject components dropping the triple. Covers cross-table joins,
same-source joins with and without a uniqueness declaration, typed-key
mismatches (int child vs string parent), multi-condition joins, child
and parent tables registered unique or not, and the join wrapped as an
RDF list per child row. Every case runs through each consumer of the
compiler's one join: the keyed branch (``dedup=True``) and the pooled
branch (``dedup=False``); a list is always a collection branch."""

import pytest
from hypothesis import given, settings, strategies as st

from morph_xr2rml_spark.compiler import CompileOptions, MappingCompiler
from morph_xr2rml_spark.mapping import parse_mapping
from morph_xr2rml_spark.sources.catalog import SourceCatalog

EX = "http://example.org"

CROSS_TTL = """\
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix ex:  <http://example.org/> .

<#TMParent>
    xrr:logicalSource [ rr:tableName "par"; xrr:referenceFormulation xrr:Column ];
    rr:subjectMap [ rr:template "http://example.org/p/{pid}" ];
    .

<#TMChild>
    xrr:logicalSource [ rr:tableName "chi"; xrr:referenceFormulation xrr:Column ];
    rr:subjectMap [ rr:template "http://example.org/c/{cid}" ];
    rr:predicateObjectMap [
        rr:predicate ex:rel;
        rr:objectMap [
            rr:parentTriplesMap <#TMParent>;
            rr:joinCondition [ rr:child "k"; rr:parent "k" ];
            JC2 TT
        ];
    ];
    .
"""

SELF_TTL = """\
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix ex:  <http://example.org/> .

<#TMParent>
    xrr:logicalSource [ rr:tableName "chi"; xrr:referenceFormulation xrr:Column ];
    rr:subjectMap [ rr:template "http://example.org/p/{pid}" ];
    .

<#TMChild>
    xrr:logicalSource [ rr:tableName "chi"; xrr:referenceFormulation xrr:Column ];
    rr:subjectMap [ rr:template "http://example.org/c/{cid}" ];
    rr:predicateObjectMap [
        rr:predicate ex:rel;
        rr:objectMap [
            rr:parentTriplesMap <#TMParent>;
            rr:joinCondition [ rr:child "k"; rr:parent "k" ];
        ];
    ];
    .
"""


REL = "<http://example.org/rel>"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"


def _joined(children, parents, conds=1):
    """Pure-Python xR2RML ROM semantics over (cid, pid, k, k2) rows:
    (child subject, parent subjects it joins) per child row."""
    out = []
    for c in children:
        cid, _pid, ck, ck2 = c
        if cid is None:
            continue
        keys = [ck] + ([ck2] if conds == 2 else [])
        if any(k is None for k in keys):
            continue
        ps = set()
        for p in parents:
            _cid2, pid, pk, pk2 = p
            if pid is None:
                continue
            pkeys = [pk] + ([pk2] if conds == 2 else [])
            if any(k is None for k in pkeys):
                continue
            if all(str(a) == str(b) for a, b in zip(keys, pkeys)):
                ps.add(f"<{EX}/p/{pid}>")
        out.append((f"<{EX}/c/{cid}>", ps))
    return out


def _expected(children, parents, conds=1):
    return {(c, p) for c, ps in _joined(children, parents, conds) for p in ps}


def _expected_lists(children, parents, conds=1):
    """The member set of each child row's list (a row joining nothing
    has none)."""
    return {
        (c, frozenset(ps)) for c, ps in _joined(children, parents, conds) if ps
    }


def _compiled(spark, ttl, tables, unique_keys, dedup):
    doc = parse_mapping(ttl)
    catalog = SourceCatalog(spark)
    for name, df in tables.items():
        catalog.register(name, df, unique_key=unique_keys.get(name))
    comp = MappingCompiler(spark, doc, catalog, CompileOptions(dedup=dedup))
    try:
        return [tuple(r) for r in comp.triples().collect()]
    finally:
        comp.release()


def _pairs(triples):
    return {(s, o) for s, p, o in triples if p == REL}


def _lists(triples):
    """(subject, member set) of each list the subject heads under REL,
    read by walking its rdf:first / rdf:rest cells."""
    first = {s: o for s, p, o in triples if p == f"<{RDF}first>"}
    rest = {s: o for s, p, o in triples if p == f"<{RDF}rest>"}
    out = set()
    for s, p, cell in triples:
        if p != REL:
            continue
        members = []
        while cell != f"<{RDF}nil>":
            members.append(first[cell])
            cell = rest[cell]
        assert members == sorted(members)
        out.add((s, frozenset(members)))
    return out


def _got(spark, ttl, tables, unique_keys=None, read=_pairs):
    """``read`` of the compiled triples, the same for the keyed and
    the pooled consumer."""
    keyed, pooled = (
        read(_compiled(spark, ttl, tables, unique_keys or {}, dedup))
        for dedup in (True, False)
    )
    assert keyed == pooled
    return keyed


def _unique_on(rows, key):
    """``rows`` keeping the first of each value of ``key`` (a
    declaration the data violates is user error)."""
    seen, out = set(), []
    for r in rows:
        if key(r) not in seen:
            seen.add(key(r))
            out.append(r)
    return out


_ROW = st.tuples(
    st.one_of(st.none(), st.integers(min_value=0, max_value=4)),  # cid
    st.one_of(st.none(), st.integers(min_value=0, max_value=4)),  # pid
    st.one_of(st.none(), st.integers(min_value=0, max_value=3)),  # k
    st.one_of(st.none(), st.integers(min_value=0, max_value=2)),  # k2
)


@settings(max_examples=10, deadline=None)
@given(
    children=st.lists(_ROW, min_size=0, max_size=6),
    parents=st.lists(_ROW, min_size=0, max_size=6),
    two_conds=st.booleans(),
    typed_mismatch=st.booleans(),
    child_unique=st.booleans(),
    parent_unique=st.booleans(),
)
def _cross_table_rom_differential(
    spark, as_list, children, parents, two_conds, typed_mismatch,
    child_unique, parent_unique,
):
    ttl = CROSS_TTL.replace(
        "JC2",
        'rr:joinCondition [ rr:child "k2"; rr:parent "k2" ];'
        if two_conds
        else "",
    ).replace("TT", "rr:termType xrr:RdfList;" if as_list else "")
    pkey = ["k", "k2"] if two_conds else ["k"]
    unique_keys = {}
    if child_unique:
        children = _unique_on(children, lambda r: r[0])
        unique_keys["chi"] = ["cid"]
    if parent_unique:
        parents = _unique_on(parents, lambda r: r[2:4] if two_conds else r[2])
        unique_keys["par"] = pkey
    chi = spark.createDataFrame(
        children or [(None,) * 4], "cid int, pid int, k int, k2 int"
    )
    if not children:
        chi = chi.where("cid IS NOT NULL")
    # typed mismatch: the parent key columns are STRINGS of the same
    # digits — string-compared intersection must still join
    pschema = (
        "cid int, pid int, k string, k2 string"
        if typed_mismatch
        else "cid int, pid int, k int, k2 int"
    )
    prows = [
        (c, p, str(k) if typed_mismatch and k is not None else k,
         str(k2) if typed_mismatch and k2 is not None else k2)
        for c, p, k, k2 in parents
    ] or [(None,) * 4]
    par = spark.createDataFrame(prows, pschema)
    if not parents:
        par = par.where("cid IS NOT NULL")
    conds = 2 if two_conds else 1
    tables = {"chi": chi, "par": par}
    if as_list:
        got = _got(spark, ttl, tables, unique_keys, read=_lists)
        want = _expected_lists(children, parents, conds)
    else:
        got = _got(spark, ttl, tables, unique_keys)
        want = _expected(children, parents, conds)
    assert got == want, f"children={children} parents={parents} " \
        f"two_conds={two_conds} typed={typed_mismatch} " \
        f"unique={child_unique},{parent_unique}"


def test_differential_cross_table_rom(spark):
    _cross_table_rom_differential(spark, False)


def test_differential_cross_table_rom_list(spark):
    _cross_table_rom_differential(spark, True)


@settings(max_examples=10, deadline=None)
@given(
    rows=st.lists(_ROW, min_size=0, max_size=6),
    declare_unique=st.booleans(),
)
def _same_source_rom_differential(spark, rows, declare_unique):
    """Same-source ROM: with a unique-key declaration the data is made
    unique on k first (a declaration the data violates is user error),
    without one arbitrary key multiplicity must cross-join."""
    if declare_unique:
        seen: set[int] = set()
        uniq = []
        for r in rows:
            if r[2] is not None and r[2] in seen:
                continue
            if r[2] is not None:
                seen.add(r[2])
            uniq.append(r)
        rows = uniq
    chi = spark.createDataFrame(
        rows or [(None,) * 4], "cid int, pid int, k int, k2 int"
    )
    if not rows:
        chi = chi.where("cid IS NOT NULL")
    got = _got(
        spark, SELF_TTL, {"chi": chi},
        {"chi": ["k"]} if declare_unique else None,
    )
    want = _expected(rows, rows, conds=1)
    assert got == want, f"rows={rows} unique={declare_unique}"


def test_differential_same_source_rom(spark):
    _same_source_rom_differential(spark)

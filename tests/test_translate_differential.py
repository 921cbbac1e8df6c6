"""Differential property test of rewriting mode's translated path: a
basic graph pattern answered as joins of source scans
(``sparql/translate.py``) against the same query over the fragment
(``VirtualGraph.fragment``) and over the materialized graph
(``MappingCompiler.triples()``).

The generated tables hold duplicate rows and NULLs; ``visit`` has no
unique key and renders its object with a two-group template over a
string column, which no constant inverts and no source join may use;
``person.city`` is a RefObjectMap to ``city``. Queries are star and
chain BGPs with constant subjects and objects. Answers are compared as
bags: the translated path must keep the graph a set.
"""

from __future__ import annotations

from collections import Counter

import pytest
from hypothesis import given, settings, strategies as st

from morph_xr2rml_spark.compiler import MappingCompiler
from morph_xr2rml_spark.mapping import parse_mapping
from morph_xr2rml_spark.sources import SourceCatalog
from morph_xr2rml_spark.sparql import TripleTable, VirtualGraph, sparql_select
from morph_xr2rml_spark.sparql.parse import parse_sparql
from morph_xr2rml_spark.sparql.translate import translate

EX = "http://ex.org/"

TTL = """\
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix ex:  <http://ex.org/> .

<#TMPerson>
    xrr:logicalSource [ rr:tableName "person"; xrr:referenceFormulation xrr:Column ];
    rr:subjectMap [ rr:template "http://ex.org/p/{pid}"; rr:class ex:Person, ex:Agent ];
    rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rr:column "name" ] ];
    rr:predicateObjectMap [
        rr:predicate ex:livesIn;
        rr:objectMap [
            rr:parentTriplesMap <#TMCity>;
            rr:joinCondition [ rr:child "city"; rr:parent "cid" ];
        ];
    ];
    .

<#TMCity>
    xrr:logicalSource [ rr:tableName "city"; xrr:referenceFormulation xrr:Column ];
    rr:subjectMap [ rr:template "http://ex.org/c/{cid}" ];
    rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rr:column "cname" ] ];
    .

<#TMVisit>
    xrr:logicalSource [ rr:tableName "visit"; xrr:referenceFormulation xrr:Column ];
    rr:subjectMap [ rr:template "http://ex.org/p/{pid}"; rr:class ex:Agent ];
    rr:predicateObjectMap [
        rr:predicate ex:visited;
        rr:objectMap [ rr:template "http://ex.org/v/{pid}-{place}" ];
    ];
    rr:predicateObjectMap [ rr:predicate ex:note; rr:objectMap [ rr:column "place" ] ];
    .
"""

_IDS = st.integers(min_value=1, max_value=3)
_NAMES = st.sampled_from(["a", "b", "a b", None])
_PLACES = st.sampled_from(["x", "y z", "x_y", None])

person_st = st.lists(
    st.tuples(_IDS, _NAMES, st.one_of(_IDS, st.none())),
    max_size=4,
    unique_by=lambda r: r[0],
)
city_st = st.lists(st.tuples(_IDS, _NAMES), max_size=3, unique_by=lambda r: r[0])
visit_st = st.lists(st.tuples(st.one_of(_IDS, st.none()), _PLACES), max_size=5)


def _p(i: int) -> str:
    return f"<{EX}p/{i}>"


def _c(i: int) -> str:
    return f"<{EX}c/{i}>"


_SUBJ = st.sampled_from(["?s", _p(1), _p(2)])
_CITY = st.sampled_from(["?c", _c(1), _c(2)])
_NAME = st.sampled_from(["?n", '"a"', '"a b"'])
_VISIT = st.sampled_from(["?v", f"<{EX}v/1-x>", f"<{EX}v/2-y%20z>"])

# star and chain BGPs; each draws its constants from the strategies above
query_st = st.one_of(
    st.builds(lambda s, n, c: f"{s} <{EX}name> {n} . {s} <{EX}livesIn> {c}",
              _SUBJ, _NAME, _CITY),
    st.builds(lambda s, c, n: f"{s} <{EX}livesIn> {c} . {c} <{EX}name> {n}",
              _SUBJ, _CITY, _NAME),
    st.builds(lambda s, v: f"{s} a <{EX}Agent> . {s} <{EX}visited> {v}", _SUBJ, _VISIT),
    st.builds(lambda s, v, n: f"{s} <{EX}visited> {v} . {s} <{EX}name> {n}",
              _SUBJ, _VISIT, _NAME),
    st.builds(lambda s: f"{s} ?p ?o", st.sampled_from([_p(1), _p(3), _c(2)])),
    st.builds(lambda s, n: f"{s} <{EX}note> ?x . {s} <{EX}name> {n} . ?t <{EX}name> {n}",
              _SUBJ, _NAME),
)


def _graph(spark, person, city, visit):
    catalog = (
        SourceCatalog(spark)
        .register("person", spark.createDataFrame(person, "pid int, name string, city int"),
                  unique_key=["pid"])
        .register("city", spark.createDataFrame(city, "cid int, cname string"),
                  unique_key=["cid"])
        .register("visit", spark.createDataFrame(visit, "pid int, place string"))
    )
    doc = parse_mapping(TTL)
    return VirtualGraph(spark, doc, catalog), MappingCompiler(spark, doc, catalog)


def _bag(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


def _check(spark, person, city, visit, where: str) -> None:
    vg, comp = _graph(spark, person, city, visit)
    q = parse_sparql(f"SELECT * WHERE {{ {where} }}")
    try:
        assert translate(vg, q) is not None, where
        translated = _bag(vg.select(q))
        fragment = _bag(sparql_select(vg.fragment(q), q))
        materialized = _bag(TripleTable(comp.triples()).select(q))
        assert translated == fragment == materialized, where
    finally:
        vg.release()
        comp.release()


@settings(max_examples=8, deadline=None)
@given(person=person_st, city=city_st, visit=visit_st, where=query_st)
def _property(spark, person, city, visit, where):
    _check(spark, person, city, visit, where)


def test_translated_fragment_and_materialized_agree(spark):
    _property(spark)


@pytest.mark.parametrize(
    "where",
    [
        # duplicate source rows of a table with no unique key
        f"?s <{EX}visited> ?v",
        # two triples maps emit the same rdf:type triple
        f"?s a <{EX}Agent>",
    ],
)
def test_translated_answers_are_a_set(spark, where):
    person = [(1, "a", 1)]
    visit = [(1, "x"), (1, "x"), (2, "y z"), (2, "y z")]
    _check(spark, person, [(1, "a")], visit, where)

"""Self-join elimination soundness (round-5 wrong-answer fix).

A same-source RefObjectMap whose join conditions use the SAME reference
on both sides collapses to the child row itself ONLY when that
reference is provably unique across rows — the reference guards the
rewrite with xrr:uniqueRef (its normalized taxref mapping declares
uniqueRef on every logical source). The unguarded rewrite dropped
cross-row pairs for non-unique keys and kept rows whose reference
evaluates to nothing (which join nothing under the value-intersection
semantics)."""

import json

import pytest

from morph_xr2rml_spark.compiler import MappingCompiler
from morph_xr2rml_spark.mapping import parse_mapping
from morph_xr2rml_spark.sources.catalog import SourceCatalog

TTL = """\
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix ex:  <http://example.org/> .

<#TMB>
    xrr:logicalSource [ rr:tableName "t"; xrr:referenceFormulation xrr:Column ];
    rr:subjectMap [ rr:template "http://example.org/b/{b}" ];
    rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rr:column "b" ] ];
    .

<#TMA>
    xrr:logicalSource [ rr:tableName "t"; xrr:referenceFormulation xrr:Column ];
    rr:subjectMap [ rr:template "http://example.org/a/{a}" ];
    rr:predicateObjectMap [
        rr:predicate ex:rel;
        rr:objectMap [
            rr:parentTriplesMap <#TMB>;
            rr:joinCondition [ rr:child "x"; rr:parent "x" ];
        ];
    ];
    .
"""

A = "http://example.org/a"
B = "http://example.org/b"


def _rel_pairs(spark, doc, catalog):
    comp = MappingCompiler(spark, doc, catalog)
    try:
        return sorted(
            (s, o)
            for s, p, o in (tuple(r) for r in comp.triples().collect())
            if "rel" in p
        )
    finally:
        comp.release()


def test_non_unique_shared_ref_joins_across_rows(spark):
    """No uniqueness proof: rows sharing x=1 must CROSS-join (the
    reference's value-intersection joins all documents), and a NULL
    reference joins nothing."""
    doc = parse_mapping(TTL)
    t = spark.createDataFrame(
        [("a1", 1, "p"), ("a2", 1, "q"), ("a3", None, "r")],
        "a string, x int, b string",
    )
    got = _rel_pairs(spark, doc, SourceCatalog(spark).register("t", t))
    assert got == [
        (f"<{A}/a1>", f"<{B}/p>"),
        (f"<{A}/a1>", f"<{B}/q>"),
        (f"<{A}/a2>", f"<{B}/p>"),
        (f"<{A}/a2>", f"<{B}/q>"),
    ]


def test_unique_key_hint_eliminates_and_filters_null_refs(spark):
    """With the catalog's single-column unique-key hint the join
    collapses to the child row; rows whose reference is NULL still
    contribute no pair."""
    doc = parse_mapping(TTL)
    t = spark.createDataFrame(
        [("a1", 1, "p"), ("a2", 2, "q"), ("a3", None, "r")],
        "a string, x int, b string",
    )
    catalog = SourceCatalog(spark).register("t", t, unique_key=["x"])
    got = _rel_pairs(spark, doc, catalog)
    assert got == [(f"<{A}/a1>", f"<{B}/p>"), (f"<{A}/a2>", f"<{B}/q>")]


DOC_TTL = """\
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix ex:  <http://example.org/> .

<#TMB>
    xrr:logicalSource [ xrr:query "db.t.find({})"; xrr:uniqueRef "$.x" ];
    rr:subjectMap [ rr:template "http://example.org/b/{$.b}" ];
    .

<#TMA>
    xrr:logicalSource [ xrr:query "db.t.find({})"; xrr:uniqueRef "$.x" ];
    rr:subjectMap [ rr:template "http://example.org/a/{$.a}" ];
    rr:predicateObjectMap [
        rr:predicate ex:rel;
        rr:objectMap [
            rr:parentTriplesMap <#TMB>;
            rr:joinCondition [ rr:child "$.x"; rr:parent "$.x" ];
        ];
    ];
    .
"""


def test_declared_uniqueref_eliminates_on_document_source(spark):
    """xrr:uniqueRef (the taxref style) licenses the elimination on a
    find() document source; a document missing the reference joins
    nothing; and the answers equal the full-join semantics."""
    doc = parse_mapping(DOC_TTL, default_formulation="JSONPath")
    rows = [
        {"a": "a1", "x": 1, "b": "p"},
        {"a": "a2", "x": 2, "b": "q"},
        {"a": "a3", "b": "r"},  # no x: joins nothing
        {"a": "a4", "x": None, "b": "s"},  # JSON null x: joins nothing
    ]
    df = spark.createDataFrame([(json.dumps(d),) for d in rows], "doc string")
    catalog = SourceCatalog(spark).register("t", df, doc_column="doc")
    got = _rel_pairs(spark, doc, catalog)
    assert got == [(f"<{A}/a1>", f"<{B}/p>"), (f"<{A}/a2>", f"<{B}/q>")]


def test_undeclared_doc_source_falls_back_to_real_join(spark):
    """Without uniqueRef the same document mapping takes the real
    value-intersection join — cross-document pairs appear."""
    ttl = DOC_TTL.replace(' xrr:uniqueRef "$.x"', "")
    assert "uniqueRef" not in ttl
    doc = parse_mapping(ttl, default_formulation="JSONPath")
    rows = [
        {"a": "a1", "x": 1, "b": "p"},
        {"a": "a2", "x": 1, "b": "q"},
    ]
    df = spark.createDataFrame([(json.dumps(d),) for d in rows], "doc string")
    catalog = SourceCatalog(spark).register("t", df, doc_column="doc")
    got = _rel_pairs(spark, doc, catalog)
    assert got == [
        (f"<{A}/a1>", f"<{B}/p>"),
        (f"<{A}/a1>", f"<{B}/q>"),
        (f"<{A}/a2>", f"<{B}/p>"),
        (f"<{A}/a2>", f"<{B}/q>"),
    ]


NO_COND_TTL = """\
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix ex:  <http://example.org/> .

<#P>
    xrr:logicalSource [ rr:tableName "PARENT"; xrr:referenceFormulation xrr:Column ];
    rr:subjectMap [ rr:template "http://example.org/b/{b}" ];
    .

<#C>
    xrr:logicalSource [ rr:tableName "t"; xrr:referenceFormulation xrr:Column ];
    rr:subjectMap [ rr:template "http://example.org/a/{a}" ];
    rr:predicateObjectMap [
        rr:predicate ex:rel;
        rr:objectMap [ rr:parentTriplesMap <#P> ];
    ];
    .
"""

NO_COND_REL = "SELECT ?s ?o WHERE { ?s <http://example.org/rel> ?o }"


@pytest.mark.parametrize("dedup", [True, False])
def test_no_join_condition_builds_parent_subject_on_the_child_row(spark, dedup):
    """R2RML §8: a RefObjectMap with no rr:joinCondition over the same
    logical source takes the parent subject from the child row itself,
    with no join and no uniqueness proof (x repeats here)."""
    from morph_xr2rml_spark.compiler import CompileOptions
    from morph_xr2rml_spark.sparql.virtual import VirtualGraph

    doc = parse_mapping(NO_COND_TTL.replace('"PARENT"', '"t"'))
    t = spark.createDataFrame([("a1", 1, "p"), ("a2", 1, "q")], "a string, x int, b string")
    catalog = SourceCatalog(spark).register("t", t)
    want = [(f"<{A}/a1>", f"<{B}/p>"), (f"<{A}/a2>", f"<{B}/q>")]
    comp = MappingCompiler(spark, doc, catalog, CompileOptions(dedup=dedup))
    try:
        got = sorted((s, o) for s, p, o in (tuple(r) for r in comp.triples().collect()))
    finally:
        comp.release()
    assert got == want
    vg = VirtualGraph(spark, doc, catalog)
    try:
        assert sorted(tuple(r) for r in vg.select(NO_COND_REL).collect()) == want
    finally:
        vg.release()


def test_no_join_condition_over_another_source_is_rejected(spark):
    """Over a different logical source the mapping is invalid R2RML: both
    graphs raise a ValueError naming the triples map."""
    from morph_xr2rml_spark.sparql.virtual import VirtualGraph

    doc = parse_mapping(NO_COND_TTL.replace('"PARENT"', '"u"'))
    catalog = (
        SourceCatalog(spark)
        .register("t", spark.createDataFrame([("a1", 1)], "a string, x int"))
        .register("u", spark.createDataFrame([("p",)], "b string"))
    )
    comp = MappingCompiler(spark, doc, catalog)
    with pytest.raises(ValueError, match="C: a RefObjectMap with no rr:joinCondition"):
        comp.triples()
    vg = VirtualGraph(spark, doc, catalog)
    try:
        with pytest.raises(ValueError, match="C: a RefObjectMap with no rr:joinCondition"):
            vg.select(NO_COND_REL).collect()
    finally:
        vg.release()

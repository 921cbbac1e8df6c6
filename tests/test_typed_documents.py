"""JSONPath fields proven scalar read as typed columns.

``SourceCatalog.typed_fields`` proves, in one aggregate job per document
source, which simple JSONPath fields hold only non-empty strings or only
integers; the compiler and the rewriting-mode translator then read
those fields as ``variant_get`` columns with native term builders, and
every other field keeps the pure-Python evaluators. These tests compare
both against the evaluators themselves (``udfs.reference_evaluator`` /
``udfs.template_evaluator``) run on the driver, over documents with
every JSON value kind, and pin the proof's lifecycle in the catalog
(the types, and the fields no two documents share).
"""

from __future__ import annotations

import json
import random

import pytest

from morph_xr2rml_spark.compiler import MappingCompiler, udfs
from morph_xr2rml_spark.functions import terms
from morph_xr2rml_spark.mapping import parse_mapping
from morph_xr2rml_spark.mapping.model import TEMPLATE, TermMap
from morph_xr2rml_spark.sources import SourceCatalog
from morph_xr2rml_spark.sources.catalog import TypedField
from morph_xr2rml_spark.sparql import VirtualGraph, sparql_select

EX = "http://ex.org/"

_STRINGS = [
    "plain", "with space", "é漢字😀", 'quo"te', "back\\slash", "a/b?c#d",
    "tab\there", "line\nbreak", "cr\rret", "ctl\u0001\u001f\u007f", "100%",
    "-12", " lead", "trail ", "under_score", "[x]@y", "{brace}", "<angle>",
]


def _doc(rng: random.Random, i: int) -> dict:
    """One document: ``id`` is ``i``; ``s``/``i``/``o.k`` typed (strings
    with no empty one, integers, a nested string); every other field a
    kind the proof refuses, or null or missing."""
    d: dict = {"id": i}

    def maybe(key, value):
        r = rng.random()
        if r < 0.1:
            d[key] = None
        elif r < 0.2:
            pass  # missing
        else:
            d[key] = value

    maybe("s", rng.choice(_STRINGS))
    maybe("i", rng.choice([0, -1, 7, -(2**63), 2**63 - 1, 123456789012]))
    maybe("big", rng.choice([1, 2**63, 10**20, -(2**64)]))
    maybe("dec", rng.choice([1.5, -0.25, 1.0, 100.0]))
    maybe("dbl", rng.choice([1e5, 2.5e-3, -1e300]))
    maybe("b", rng.choice([True, False]))
    maybe("se", rng.choice(["", "x", "y z"]))
    maybe("obj", rng.choice([{"x": 1, "a": [1, 2]}, {}]))
    maybe("arr", rng.choice([[1, "a"], [], ["only"]]))
    maybe("mix", rng.choice([3, "three", 4, "4"]))
    maybe("n", None)
    maybe("o", {"k": rng.choice(_STRINGS)})
    return d


def _documents() -> tuple[list[str], list[str]]:
    """(clean, dirty) document texts. The clean collection parses
    strictly everywhere, and repeats a document and an ``id``, so that
    no field is a row key; the dirty one adds text ``json.loads``
    rejects or reads differently from Spark: invalid JSON, duplicate
    keys, NaN, trailing text after the value."""
    rng = random.Random(13)
    clean = [
        json.dumps(_doc(rng, i), ensure_ascii=bool(i % 2)) for i in range(1, 61)
    ]
    clean += [clean[0], json.dumps({"id": 2, "s": "other", "i": 5})]
    dirty = clean[:8] + [
        "not json",
        '{"id": 100, "s": "first", "s": "second"}',
        '{"id": 101, "s": NaN}',
        '{"id": 102, "s": "x"} trailing',
        '{"id": 103, "s": "y"}{"id": 104}',
        '{"id": 105, "s": "z"}\x00',
    ]
    return clean, dirty


_TTL = """
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex:  <http://ex.org/> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .

<#Docs>
    xrr:logicalSource [ xrr:query "db.docs.find({})";
                        xrr:referenceFormulation xrr:JSONPath ];
    rr:subjectMap [ rr:template "http://ex.org/d/{$.id}" ];
""" + "".join(
    f'    rr:predicateObjectMap [ rr:predicate ex:{f}; rr:objectMap [ xrr:reference "$.{f}" ] ];\n'
    for f in ("s", "i", "big", "dec", "dbl", "b", "se", "obj", "arr", "mix", "n", "o.k")
) + """
    rr:predicateObjectMap [ rr:predicate ex:sIri;
        rr:objectMap [ rr:template "http://ex.org/s/{$.s}" ] ];
    rr:predicateObjectMap [ rr:predicate ex:iIri;
        rr:objectMap [ rr:template "http://ex.org/i/{$.i}" ] ];
    rr:predicateObjectMap [ rr:predicate ex:bIri;
        rr:objectMap [ rr:template "http://ex.org/b/{$.b}" ] ];
    rr:predicateObjectMap [ rr:predicate ex:seIri;
        rr:objectMap [ rr:template "http://ex.org/se/{$.se}" ] ];
    rr:predicateObjectMap [ rr:predicate ex:pair;
        rr:objectMap [ rr:template "{$.s}|{$.i}"; rr:termType rr:Literal ] ];
    rr:predicateObjectMap [ rr:predicate ex:sLang;
        rr:objectMap [ xrr:reference "$.s"; rr:language "fr" ] ];
    rr:predicateObjectMap [ rr:predicate ex:iTyped;
        rr:objectMap [ xrr:reference "$.i"; rr:datatype xsd:long ] ];
    rr:predicateObjectMap [ rr:predicate ex:sNode;
        rr:objectMap [ rr:template "n{$.s}"; rr:termType rr:BlankNode ] ] .

<#Dirty>
    xrr:logicalSource [ xrr:query "db.dirty.find({})";
                        xrr:referenceFormulation xrr:JSONPath ];
    rr:subjectMap [ rr:template "http://ex.org/z/{$.id}" ];
    rr:predicateObjectMap [ rr:predicate ex:zs; rr:objectMap [ xrr:reference "$.s" ] ] .
"""


def _expected(doc, sources: dict[str, list[str]]) -> set[tuple[str, str, str]]:
    """The mapping's triples, every term built by the pure-Python
    evaluators on the driver."""

    def evaluator(tm: TermMap):
        if tm.kind == TEMPLATE:
            return udfs.template_evaluator(tm)[1]
        return udfs.reference_evaluator(tm)

    out = set()
    for name, tm in doc.triples_maps.items():
        texts = sources["docs" if name.endswith("Docs") else "dirty"]
        subj = evaluator(tm.subject_map)
        for pom in tm.predicate_object_maps:
            (pm,) = pom.predicate_maps
            pred = terms.make_iri(pm.constant, False)
            for om in pom.object_maps:
                obj = evaluator(om)
                for text in texts:
                    for s in subj(text):
                        out.update((s, pred, o) for o in obj(text))
    return out


@pytest.fixture(scope="module")
def typed_docs(spark, tmp_path_factory):
    clean, dirty = _documents()
    root = tmp_path_factory.mktemp("typed_docs")
    catalog = SourceCatalog(spark)
    for name, texts in (("docs", clean), ("dirty", dirty)):
        spark.createDataFrame([(t,) for t in texts], "doc string").coalesce(1) \
            .write.parquet(str(root / name))
        catalog.register(name, spark.read.parquet(str(root / name)), doc_column="doc")
    doc = parse_mapping(_TTL)
    expected = _expected(doc, {"docs": clean, "dirty": dirty})
    return doc, catalog, expected


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _types(proof: dict[str, TypedField]) -> dict[str, str]:
    return {p: f.type for p, f in proof.items()}


def test_proof_types_only_strict_scalar_fields(typed_docs):
    doc, catalog, _expected_triples = typed_docs
    comp = MappingCompiler(catalog.spark, doc, catalog)
    assert _types(catalog.typed_fields("docs", *comp.json_paths("docs"))) == {
        "id": "bigint", "s": "string", "i": "bigint", "n": "string",
        "o.k": "string",
    }
    # one rejected document leaves every field to the evaluators
    assert catalog.typed_fields("dirty", *comp.json_paths("dirty")) == {}
    # a repeated id is no row key
    assert catalog.typed_fields("docs", [], ["id"])["id"].unique is False


@pytest.mark.parametrize("text, typed", [
    ('{"a": "\\ud83d\\ude00"}', {"a": "string"}),  # a surrogate pair
    ('{"a": "\\ud800"}', {}),  # json.loads keeps it, Spark reads '?'
    ('{"a": "x\\udc00"}', {}),
])
def test_proof_refuses_lone_surrogates(spark, text, typed):
    catalog = SourceCatalog(spark).register(
        "t", spark.createDataFrame([(text,), ('{"a": "b"}',)], "doc string"),
        doc_column="doc",
    )
    assert _types(catalog.typed_fields("t", ["a"])) == typed


def test_triples_equal_the_python_evaluators(typed_docs, spark):
    doc, catalog, expected = typed_docs
    comp = MappingCompiler(spark, doc, catalog)
    try:
        got = comp.triples()
        rows = {tuple(r) for r in got.collect()}
        assert rows == expected
        # the refused fields keep their UDFs
        assert "ArrowEvalPython" in _plan(got)
    finally:
        comp.release()


_QUERIES = [
    "SELECT ?s ?o WHERE { ?s ex:s ?o }",
    "SELECT ?s ?o WHERE { ?s ex:i ?o }",
    "SELECT ?s ?o WHERE { ?s ex:sIri ?o }",
    "SELECT ?s ?o WHERE { ?s ex:pair ?o }",
    "SELECT ?s ?o WHERE { ?s ex:sLang ?o }",
    "SELECT ?s ?o WHERE { ?s ex:iTyped ?o }",
    "SELECT ?s ?o WHERE { ?s <http://ex.org/o.k> ?o }",
    "SELECT ?s ?x ?y WHERE { ?s ex:s ?x . ?s ex:iIri ?y }",
    'SELECT ?s WHERE { ?s ex:s "with space" }',
    "SELECT ?s WHERE { ?s ex:i 7 }",
    "SELECT ?o WHERE { <http://ex.org/d/3> ex:iIri ?o }",
    "SELECT ?s ?o WHERE { ?s ex:dec ?o }",
    "SELECT ?s ?o WHERE { ?s ex:b ?o }",
    "SELECT ?s ?o WHERE { ?s ex:bIri ?o }",
    "SELECT ?s ?o WHERE { ?s ex:seIri ?o }",
    "SELECT ?s ?o WHERE { ?s ex:mix ?o }",
    "SELECT ?s ?o WHERE { ?s ex:zs ?o }",
    "SELECT ?s ?x ?y WHERE { ?s ex:s ?x . ?s ex:b ?y }",
    "SELECT ?s ?p WHERE { ?s ?p <http://ex.org/i/7> }",
]


@pytest.mark.parametrize("query", _QUERIES)
def test_rewriting_answers_equal_the_python_evaluators(typed_docs, spark, query):
    """Typed fields answer on the translated path, the rest from the
    compiled fragment; both against the evaluators' graph."""
    doc, catalog, expected = typed_docs
    q = "PREFIX ex: <http://ex.org/>\n" + query
    graph = spark.createDataFrame(sorted(expected), "subj string, pred string, obj string")
    vg = VirtualGraph(spark, doc, catalog)
    try:
        got = sorted(tuple(r) for r in vg.select(q).collect())
        assert got == sorted(tuple(r) for r in sparql_select(graph, q).collect())
    finally:
        vg.release()


def test_boolean_template_group_renders_lowercase():
    """A JSON boolean in a template renders as Java prints it, like the
    reference path's ``"true"^^xsd:boolean``."""
    doc = parse_mapping(_TTL)
    pom = {
        p.predicate_maps[0].constant: p
        for p in doc.triples_maps["#Docs"].predicate_object_maps
    }
    iri = udfs.template_evaluator(pom[EX + "bIri"].object_maps[0])[1]
    assert iri('{"b": true}') == ["<http://ex.org/b/true>"]
    assert iri('{"b": false}') == ["<http://ex.org/b/false>"]
    tm = TermMap(
        TEMPLATE, "object", template="flag={$.b}", term_type=terms.TERM_LITERAL,
        ref_formulation="JSONPath",
    )
    assert udfs.template_evaluator(tm)[1]('{"b": true}') == ['"flag=true"']


def test_register_drops_the_proof_and_filtered_keeps_it(spark):
    from pyspark.sql import functions as F
    from test_job_counts import jobs_run

    def frame(texts):
        return spark.createDataFrame([(t,) for t in texts], "doc string")

    catalog = SourceCatalog(spark).register(
        "t", frame(['{"a": 1, "c": 1.5}', '{"a": 2, "c": 1.5}']), doc_column="doc"
    )
    assert _types(catalog.typed_fields("t", ["a", "c"])) == {"a": "bigint"}
    # asking the uniqueness of a typed field proves it again; of a field
    # that is no typed column (c, a double), runs nothing
    assert catalog.typed_fields("t", ["a"], ["a"]) == {"a": TypedField("bigint", True)}
    with jobs_run(spark) as jobs:
        assert catalog.typed_fields("t", [], ["c"]) == {}
    assert jobs == []
    # a filtered copy reads the proof of the whole table: no job
    part = catalog.filtered("t", F.col("doc").contains("2"))
    with jobs_run(spark) as jobs:
        assert part.typed_fields("t", ["a"], ["a"]) == {"a": TypedField("bigint", True)}
    assert jobs == []
    # a new field on the copy is proven over the whole table, and the
    # original catalog sees that proof too
    assert _types(part.typed_fields("t", ["a", "b"])) == {"a": "bigint", "b": "string"}
    with jobs_run(spark) as jobs:
        assert _types(catalog.typed_fields("t", ["b"])) == {"b": "string"}
    assert jobs == []
    # re-registering the name proves its new frame
    catalog.register("t", frame(['{"a": 1}', '{"a": "x"}']), doc_column="doc")
    assert catalog.typed_fields("t", ["a"]) == {}
    catalog.register("t", frame(['{"a": 1}', '{"a": 1}']), doc_column="doc")
    assert catalog.typed_fields("t", ["a"], ["a"]) == {"a": TypedField("bigint", False)}
    # the earlier copy keeps the proof of the frame it reads
    assert part.typed_fields("t", ["a"], ["a"]) == {"a": TypedField("bigint", True)}

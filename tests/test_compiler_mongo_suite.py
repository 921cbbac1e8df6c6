"""End-to-end replay of the reference's example_mongo mapping suite
(/root/reference/morph-xr2rml-dist/example_mongo/: mapping.ttl +
testdb_dump.json): document-shaped sources, rml:iterator explode,
JSONPath references with runtime datatype inference, language tags,
RdfList from a template, and a RefObjectMap join with a multi-valued
child reference assembled as an RdfList."""

import json
import pathlib

import pytest

from morph_xr2rml_spark.compiler import CompileOptions, MappingCompiler
from morph_xr2rml_spark.mapping import parse_mapping
from morph_xr2rml_spark.sources import SourceCatalog

MAPPING_PATH = pathlib.Path(
    "/root/reference/morph-xr2rml-dist/example_mongo/mapping.ttl"
)

EX = "http://example.com/"
RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
RDF_FIRST = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#first>"
RDF_REST = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#rest>"
RDF_NIL = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#nil>"
XSD = "http://www.w3.org/2001/XMLSchema#"

STUDENT_DOCS = [
    {
        "_id": {"$oid": "aaa0000000000000000000a1"},
        "FullName": {"FirstNames": ["Paul", "Jack"], "LastName": "Smith"},
        "Hobbies": [
            {"hobby": "Swimming", "place": "pool"},
            {"hobby": "Soccer", "place": "stadium"},
        ],
    },
    {
        "_id": {"$oid": "aaa0000000000000000000a2"},
        "FullName": {"FirstNames": ["Frank", "Francis"], "LastName": "Underwood"},
        "Hobbies": [
            {"hobby": "Hiking", "place": "Mountain"},
            {"hobby": "Basketball", "place": "street"},
        ],
    },
    {
        "_id": {"$oid": "aaa0000000000000000000a3"},
        "FullName": {"FirstNames": ["Weirdo", '#{[|`^@]"'], "LastName": "Foo"},
        "id": 13,
        "active": False,
    },
]

MOVIE_DOCS = [
    {
        "directors": [
            {"name": "Wong Kar-wai", "movies": ["2046", "In the Mood for Love", "The Grandmaster"]},
            {"name": "Woody Allen", "movies": ["Manhattan", "Annie Hall"]},
        ]
    },
    {
        "movies": [
            {"title": "Manhattan", "year": "1979"},
            {"title": "Annie Hall", "year": "1977"},
            {"title": "2046", "year": "2004"},
            {"title": "In the Mood for Love", "year": "2000"},
            {"title": "West Side Story", "year": "1962"},
        ]
    },
]


@pytest.fixture(scope="module")
def triples(spark, read_reference):
    students = spark.createDataFrame(
        [(json.dumps(d),) for d in STUDENT_DOCS], "doc string"
    )
    movies = spark.createDataFrame([(json.dumps(d),) for d in MOVIE_DOCS], "doc string")
    catalog = (
        SourceCatalog(spark)
        .register("students", students, doc_column="doc")
        .register("movies", movies, doc_column="doc")
    )
    # reference_formulation comes from the db config in the reference
    # (database.reference_formulation=JSONPath for MongoDB)
    doc = parse_mapping(read_reference(MAPPING_PATH), default_formulation="JSONPath")
    compiler = MappingCompiler(spark, doc, catalog, CompileOptions())
    df = compiler.triples()
    return {(r.subj, r.pred, r.obj) for r in df.collect()}


def _students(i):
    return f"<http://example.org/student/aaa0000000000000000000a{i}>"


def test_student_subjects_from_objectid(triples):
    got = {s for (s, p, o) in triples if p == RDF_TYPE and o == f"<{EX}Student>"}
    assert got == {_students(1), _students(2), _students(3)}


def test_runtime_datatype_inference(triples):
    # boolean and integer JSON values -> typed literals
    assert (_students(3), f"<{EX}isActive>", f'"false"^^<{XSD}boolean>') in triples
    assert (_students(3), f"<{EX}hasId>", f'"13"^^<{XSD}integer>') in triples


def test_language_tagged_multivalued(triples):
    got = {(s, o) for (s, p, o) in triples if p == f"<{EX}activity>"}
    assert got == {
        (_students(1), '"Swimming"@en'),
        (_students(1), '"Soccer"@en'),
        (_students(2), '"Hiking"@en'),
        (_students(2), '"Basketball"@en'),
    }


def _list_members(triples, subj, pred):
    heads = [o for (s, p, o) in triples if s == subj and p == pred]
    firsts = {s: o for (s, p, o) in triples if p == RDF_FIRST}
    rests = {s: o for (s, p, o) in triples if p == RDF_REST}
    out = []
    for head in heads:
        chain, node = [], head
        while node != RDF_NIL:
            chain.append(firsts[node])
            node = rests[node]
        out.append(chain)
    return out


def test_names_rdflist_with_weird_chars(triples):
    assert _list_members(triples, _students(1), f"<{EX}names>") == [
        [f'"Paul Smith"^^<{XSD}string>', f'"Jack Smith"^^<{XSD}string>']
    ]
    # raw literal semantics + N-Triples escaping: '"' -> \" in the term
    # string (the reference discards its encodeLiteral result and emits
    # the raw value — see terms.make_literal / the dblp replay)
    assert _list_members(triples, _students(3), f"<{EX}names>") == [
        [f'"Weirdo Foo"^^<{XSD}string>', f'"#{{[|`^@]\\" Foo"^^<{XSD}string>']
    ]


def test_movie_subjects_via_iterator(triples):
    got = {s for (s, p, o) in triples if p == RDF_TYPE and o == f"<{EX}Movie>"}
    assert got == {
        "<http://example.org/movies/Manhattan>",
        "<http://example.org/movies/Annie%20Hall>",
        "<http://example.org/movies/2046>",
        "<http://example.org/movies/In%20the%20Mood%20for%20Love>",
        "<http://example.org/movies/West%20Side%20Story>",
    }


def test_director_names(triples):
    got = {(s, o) for (s, p, o) in triples if p == f"<{EX}name>"}
    assert got == {
        ("<http://example.org/director/Wong%20Kar-wai>", '"Wong Kar-wai"'),
        ("<http://example.org/director/Woody%20Allen>", '"Woody Allen"'),
    }


def test_directed_join_as_rdflist(triples):
    # multi-valued child ref ($.movies.*) joined to parent title ($.title);
    # only titles that exist in the Movies TM appear; members sorted
    wong = _list_members(
        triples, "<http://example.org/director/Wong%20Kar-wai>", f"<{EX}directed>"
    )
    assert wong == [
        [
            "<http://example.org/movies/2046>",
            "<http://example.org/movies/In%20the%20Mood%20for%20Love>",
        ]
    ]
    woody = _list_members(
        triples, "<http://example.org/director/Woody%20Allen>", f"<{EX}directed>"
    )
    assert woody == [
        [
            "<http://example.org/movies/Annie%20Hall>",
            "<http://example.org/movies/Manhattan>",
        ]
    ]

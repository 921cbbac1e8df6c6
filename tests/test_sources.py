"""Source-operator tests: per-TM slice/offset (S5) and the MongoDB
find() predicate subset (S3)."""

from __future__ import annotations

import pytest

from morph_xr2rml_spark.compiler import CompileOptions, MappingCompiler
from morph_xr2rml_spark.mapping import parse_mapping
from morph_xr2rml_spark.mapping.model import LogicalSource
from morph_xr2rml_spark.sources import SourceCatalog

TTL = """\
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix ex:  <http://example.org/> .

<#TM>
    xrr:logicalSource [ rr:tableName "t"; xrr:referenceFormulation xrr:Column ];
    rr:subjectMap [ rr:template "http://example.org/s/{id}" ];
    rr:predicateObjectMap [
        rr:predicate ex:name;
        rr:objectMap [ rr:column "name" ];
    ];
    .
"""


def test_per_tm_limit_and_offset(spark):
    # single partition so LIMIT/OFFSET row selection is deterministic
    src = spark.createDataFrame(
        [(i, f"n{i}") for i in range(10)], "id long, name string"
    ).coalesce(1)
    catalog = SourceCatalog(spark).register("t", src)
    doc = parse_mapping(TTL)
    tm_name = next(iter(doc.triples_maps))
    opts = CompileOptions(limits={tm_name: 3}, offsets={tm_name: 4})
    out = MappingCompiler(spark, doc, catalog, opts).triples()
    subjects = {r["subj"] for r in out.collect()}
    assert subjects == {
        "<http://example.org/s/4>",
        "<http://example.org/s/5>",
        "<http://example.org/s/6>",
    }


@pytest.fixture(scope="module")
def people(spark):
    rows = [
        ('{"name": "ann", "age": 31, "tags": 1, "city": "nice"}',),
        ('{"name": "bob", "age": 17, "city": "oslo"}',),
        ('{"name": "cal", "age": 45, "tags": 2, "city": "nice"}',),
        ('{"name": "dan", "age": 20, "city": "rome"}',),
    ]
    return spark.createDataFrame(rows, "doc string")


def _find(spark, people, query):
    catalog = SourceCatalog(spark).register("people", people, doc_column="doc")
    ls = LogicalSource(
        kind="query", value=f"db.people.find({query})", formulation="JSONPath"
    )
    df, doc_col = catalog.resolve(ls)
    import json

    return {json.loads(r[doc_col])["name"] for r in df.collect()}


def test_find_eq_and_bare_equality(spark, people):
    assert _find(spark, people, "{name: 'ann'}") == {"ann"}
    assert _find(spark, people, "{name: {$eq: 'bob'}}") == {"bob"}


def test_find_comparisons(spark, people):
    assert _find(spark, people, "{age: {$gte: 20}}") == {"ann", "cal", "dan"}
    assert _find(spark, people, "{age: {$gt: 20, $lt: 45}}") == {"ann"}
    assert _find(spark, people, "{age: {$ne: 17}}") == {"ann", "cal", "dan"}


def test_find_in_exists_and(spark, people):
    assert _find(spark, people, "{city: {$in: ['nice', 'rome']}}") == {
        "ann", "cal", "dan"
    }
    assert _find(spark, people, "{tags: {$exists: true}}") == {"ann", "cal"}
    assert _find(spark, people, "{tags: {$exists: 0}}") == {"bob", "dan"}
    assert _find(
        spark, people, "{$and: [{city: 'nice'}, {age: {$lt: 40}}]}"
    ) == {"ann"}
    assert _find(
        spark, people, "{$or: [{name: 'bob'}, {age: {$gte: 45}}]}"
    ) == {"bob", "cal"}


def test_find_unsupported_raises(spark, people):
    with pytest.raises(ValueError):
        _find(spark, people, "{name: {$type: 2}}")


def test_find_regex_and_options(spark, people):
    # Mongo $regex is unanchored substring matching -> rlike
    assert _find(spark, people, "{name: {$regex: '^a'}}") == {"ann"}
    assert _find(spark, people, "{city: {$regex: 'o'}}") == {"bob", "dan"}
    # $options 'i' -> embedded (?i) flag
    assert _find(
        spark, people, "{name: {$regex: '^A', $options: 'i'}}"
    ) == {"ann"}
    with pytest.raises(ValueError):
        _find(spark, people, "{name: {$regex: 'a', $options: 'z'}}")


def test_find_not(spark, people):
    # $not matches documents where the field is MISSING too (Mongo
    # semantics; tags is absent for bob and dan)
    assert _find(spark, people, "{tags: {$not: {$gte: 2}}}") == {
        "ann", "bob", "dan"
    }
    assert _find(spark, people, "{name: {$not: {$regex: '^a'}}}") == {
        "bob", "cal", "dan"
    }


def test_find_projection_argument(spark, people):
    # reference-style find({query}, {projection}) parses; the
    # projection document is validated then left to column pruning
    assert _find(
        spark, people, "{city: 'nice'}, {name: 1, _id: 0}"
    ) == {"ann", "cal"}
    # a top-level comma inside the query document must not split args
    assert _find(
        spark, people, "{age: {$gt: 20, $lt: 45}}, {name: 1}"
    ) == {"ann"}
    with pytest.raises(ValueError):
        _find(spark, people, "{city: 'nice'}, {name: ")


@pytest.fixture(scope="module")
def movies(spark):
    # mirrors the reference dump's movies2 collection
    # (example_mongo_awards/testdb_dump.json: db.movies2.find(
    #  {actors: {$size: 2, $elemMatch: {$eq: "T. Leung"}}}))
    rows = [
        ('{"name": "2046", "actors": ["T. Leung", "G. Li"]}',),
        ('{"name": "Mood", "actors": ["M. Cheung"]}',),
        ('{"name": "Manhattan", "actors": ["Woody Allen", "Diane Keaton"]}',),
        ('{"name": "Int01", "actors": ["D. Keaton", "G. Page", "X"]}',),
    ]
    return spark.createDataFrame(rows, "doc string")


def _find_movies(spark, movies, query):
    catalog = SourceCatalog(spark).register("movies", movies, doc_column="doc")
    ls = LogicalSource(
        kind="query", value=f"db.movies.find({query})", formulation="JSONPath"
    )
    df, doc_col = catalog.resolve(ls)
    import json

    return {json.loads(r[doc_col])["name"] for r in df.collect()}


def test_find_size(spark, movies):
    assert _find_movies(spark, movies, "{actors: {$size: 2}}") == {
        "2046",
        "Manhattan",
    }
    assert _find_movies(spark, movies, "{actors: {$size: 1}}") == {"Mood"}


def test_find_elem_match(spark, movies):
    # the reference dump's exact query shape
    got = _find_movies(
        spark, movies, '{actors: {$size: 2, $elemMatch: {$eq: "T. Leung"}}}'
    )
    assert got == {"2046"}
    got = _find_movies(spark, movies, '{actors: {$elemMatch: {$gt: "W"}}}')
    assert got == {"Manhattan", "Int01"}  # "Woody Allen", "X" > "W"


def test_find_where_js_predicate(spark, people):
    # reference JavascriptToMongoTranslator subset: this.f == this.g
    rows = [
        ('{"a": 1, "b": 1, "name": "x"}',),
        ('{"a": 1, "b": 2, "name": "y"}',),
    ]
    df = spark.createDataFrame(rows, "doc string")
    catalog = SourceCatalog(spark).register("t", df, doc_column="doc")
    ls = LogicalSource(
        kind="query",
        value="db.t.find( { $where: 'this.a == this.b' } )",
        formulation="JSONPath",
    )
    out, doc_col = catalog.resolve(ls)
    import json

    assert {json.loads(r[doc_col])["name"] for r in out.collect()} == {"x"}


def test_taxref_real_mapping_compiles_end_to_end(spark, read_reference):
    """The reference's flagship real-world example (example_taxref,
    90 triples maps over a Mongo taxonomy with $where JS find
    predicates) compiles and emits through this engine on synthetic
    documents: reference names (codeTaxon == codeReference) become
    skos:Concepts, synonyms route to the alt-label TMs instead."""
    import json as _json

    from morph_xr2rml_spark.compiler import CompileOptions, MappingCompiler
    from morph_xr2rml_spark.mapping import parse_mapping

    docs = []
    for i in range(1, 6):
        docs.append({
            "codeTaxon": i,
            "codeReference": (i if i % 2 == 1 else 100),
            "codeParent": 1, "libelleNom": f"Nom {i}",
            "libelleAuteur": "Auth", "rang": "ES", "habitat": "1",
            "fr": "P", "gf": "", "guf": "", "cli": "", "epa": "", "gua": "",
        })
    df = spark.createDataFrame(
        [(_json.dumps(d),) for d in docs], "doc string"
    )
    catalog = SourceCatalog(spark).register("taxrefv9", df, doc_column="doc")
    text = read_reference(
        "/root/reference/morph-xr2rml-dist/example_taxref/xr2rml_taxref_v9.ttl"
    )
    mapping = parse_mapping(text, default_formulation="JSONPath")
    trip = MappingCompiler(spark, mapping, catalog, CompileOptions()).triples()
    got = {tuple(r) for r in trip.collect()}
    TAXON = "http://inpn.mnhn.fr/taxref/9.0/taxon"
    SKOS = "http://www.w3.org/2004/02/skos/core#"
    # odd codes are reference names -> skos:Concept + note
    assert (f"<{TAXON}/1>", f"<{SKOS}note>", '"Nom 1"') in got
    assert (
        f"<{TAXON}/1>",
        "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>",
        f"<{SKOS}Concept>",
    ) in got
    # even codes are synonyms ($where !=): no Concept typing for them,
    # and the alt-label TM attaches their label to the REFERENCE taxon
    assert not any(s == f"<{TAXON}/2>" and o == f"<{SKOS}Concept>" for s, _, o in got)
    assert any(s == f"<{TAXON}/100>" for s, _, o in got)
    assert len(got) > 100


def test_find_where_numeric_order_and_elem_null(spark):
    rows = [
        ('{"a": 9, "b": 10, "name": "num"}',),
        ('{"a": 10, "b": 9, "name": "rev"}',),
        ('{"arr": [1, null], "name": "withnull"}',),
        ('{"arr": [1, 2], "name": "nonull"}',),
    ]
    df = spark.createDataFrame(rows, "doc string")
    catalog = SourceCatalog(spark).register("t", df, doc_column="doc")
    import json

    def run(q):
        ls = LogicalSource(kind="query", value=f"db.t.find({q})",
                           formulation="JSONPath")
        out, doc_col = catalog.resolve(ls)
        return {json.loads(r[doc_col])["name"] for r in out.collect()}

    # 9 < 10 must be numeric, not lexicographic ('9' < '10' is false)
    assert run("{ $where: 'this.a < this.b' }") == {"num"}
    assert run("{ $where: 'this.a > this.b' }") == {"rev"}
    # $elemMatch {$eq: null} matches arrays containing null
    assert run("{arr: {$elemMatch: {$eq: null}}}") == {"withnull"}

"""Mapping parser tests against the reference's own example mapping files
(/root/reference/morph-xr2rml-dist/example_mysql/mapping.ttl and
example_mongo/mapping.ttl) — the parser must recover the exact model the
reference builds from them."""

import pathlib

from morph_xr2rml_spark.functions import terms
from morph_xr2rml_spark.mapping import parse_mapping
from morph_xr2rml_spark.mapping.model import (
    COLUMN,
    CONSTANT,
    REFERENCE,
    TEMPLATE,
)

EX_MYSQL = pathlib.Path("/root/reference/morph-xr2rml-dist/example_mysql/mapping.ttl")
EX_MONGO = pathlib.Path("/root/reference/morph-xr2rml-dist/example_mongo/mapping.ttl")


def test_parse_example_mysql(read_reference):
    doc = parse_mapping(read_reference(EX_MYSQL), base="")
    assert set(doc.triples_maps) == {"#TMStudent", "#TMSport"}

    student = doc.get("#TMStudent")
    assert student.logical_source.kind == "table"
    assert student.logical_source.value == "student"
    assert student.logical_source.formulation == "Column"
    # iterator must be ignored on row-based sources
    assert student.logical_source.iterator is None

    sm = student.subject_map
    assert sm.kind == TEMPLATE
    assert (
        sm.template
        == r"http://example.org/student/{id}-{Column(name)/XPath(\/\/LastName)}"
    )
    assert sm.class_uris == ("http://example.com/Student",)
    assert sm.infer_term_type() == terms.TERM_IRI

    poms = student.predicate_object_maps
    assert len(poms) == 4

    # hobbies: multi-valued reference, explicit Literal term type
    hob = poms[0]
    assert hob.predicate_maps[0].constant == "http://example.com/hobbies"
    assert hob.object_maps[0].kind == REFERENCE
    assert hob.object_maps[0].reference == "Column(comments)/JSONPath($.*.hobby)"
    assert hob.object_maps[0].infer_term_type() == terms.TERM_LITERAL

    # names: template -> RdfList with nested term map datatype
    names = poms[1]
    om = names.object_maps[0]
    assert om.kind == TEMPLATE
    assert om.infer_term_type() == terms.TERM_RDFLIST
    assert om.is_collection
    member_tt, member_dt, member_lang = om.member_term_info()
    assert member_tt == terms.TERM_LITERAL
    assert member_dt == terms.XSD_STRING

    # mainSport: plain-column RefObjectMap join
    main = poms[2]
    rom = main.ref_object_maps[0]
    assert rom.parent_triples_map == "#TMSport"
    assert rom.join_conditions[0].child_ref == "sport"
    assert rom.join_conditions[0].parent_ref == "id"

    # practiceInClub: JSONPath-valued child join condition
    club = poms[3]
    jc = club.ref_object_maps[0].join_conditions[0]
    assert jc.child_ref == "Column(comments)/JSONPath($.*.sportInClub.*)"
    assert jc.parent_ref == "id"

    sport = doc.get("#TMSport")
    assert sport.logical_source.kind == "query"
    assert sport.logical_source.value == "select * from sport"
    assert sport.subject_map.template == "http://example.org/sport/{id}-{name}"
    # code1 object: mixed CSV path, default Literal (reference term map)
    code1 = sport.predicate_object_maps[0].object_maps[0]
    assert code1.kind == REFERENCE
    assert code1.reference == "Column(code)/CSV(1)"
    assert code1.infer_term_type() == terms.TERM_LITERAL
    # colors: reference -> RdfList without nested term map
    colors = sport.predicate_object_maps[1].object_maps[0]
    assert colors.infer_term_type() == terms.TERM_RDFLIST
    assert colors.member_term_info()[0] == terms.TERM_LITERAL


def test_parse_example_mongo(read_reference):
    doc = parse_mapping(read_reference(EX_MONGO), base="")
    assert set(doc.triples_maps) == {"#Students", "#Movies", "#Directors"}

    students = doc.get("#Students")
    ls = students.logical_source
    assert ls.kind == "query"
    assert ls.value == "db.students.find( { 'FullName' : {$exists: 1} } )"
    # formulation defaults to Column unless declared; xrr:query sources in the
    # reference get JSONPath from the db config — here the mapping relies on
    # reference expressions, exercised in the compiler tests.
    assert students.subject_map.template == "http://example.org/student/{$._id.*}"

    # activity: language-tagged multi-valued reference
    activity = students.predicate_object_maps[2].object_maps[0]
    assert activity.reference == "$.Hobbies.*.hobby"
    assert activity.language == "en"
    assert activity.infer_term_type() == terms.TERM_LITERAL

    movies = doc.get("#Movies")
    assert movies.logical_source.iterator is None  # Column formulation drops it

    directors = doc.get("#Directors")
    directed = directors.predicate_object_maps[1].ref_object_maps[0]
    assert directed.parent_triples_map == "#Movies"
    assert directed.join_conditions[0].child_ref == "$.movies.*"
    assert directed.join_conditions[0].parent_ref == "$.title"
    assert directed.collection_term_type() == terms.TERM_RDFLIST


def test_shortcut_and_constant_forms():
    ttl = """
    @prefix rr: <http://www.w3.org/ns/r2rml#> .
    @prefix ex: <http://example.com/> .
    <#TM>
        rr:logicalTable [ rr:tableName "t" ];
        rr:subjectMap [ rr:template "http://ex.org/{id}" ];
        rr:predicateObjectMap [
            rr:predicate ex:p;
            rr:object "a literal value";
        ];
        rr:predicateObjectMap [
            rr:predicateMap [ rr:constant ex:q ];
            rr:objectMap [ rr:constant ex:O ];
        ];
        rr:predicateObjectMap [
            rr:predicate ex:r;
            rr:objectMap [ rr:column "name"; rr:language "fr" ];
        ].
    """
    doc = parse_mapping(ttl)
    tm = doc.get("#TM")
    p0 = tm.predicate_object_maps[0]
    assert p0.object_maps[0].kind == CONSTANT
    assert p0.object_maps[0].infer_term_type() == terms.TERM_LITERAL
    p1 = tm.predicate_object_maps[1]
    assert p1.predicate_maps[0].constant == "http://example.com/q"
    assert p1.object_maps[0].infer_term_type() == terms.TERM_IRI
    p2 = tm.predicate_object_maps[2]
    assert p2.object_maps[0].kind == COLUMN
    assert p2.object_maps[0].language == "fr"
    assert p2.object_maps[0].infer_term_type() == terms.TERM_LITERAL


def test_parse_taxref_real_world_mappings(read_reference):
    """The reference's hardest real mappings (example_taxref, 90 triples
    maps each): named shared SubjectMap resources referenced by IRI,
    triple-quoted find() queries with $where JS, dense prefix blocks
    without trailing spaces — all must parse, with shared subject maps
    resolved onto every referencing TriplesMap."""
    for v in ("v8", "v9"):
        text = read_reference(
            f"/root/reference/morph-xr2rml-dist/example_taxref/xr2rml_taxref_{v}.ttl"
        )
        doc = parse_mapping(text, default_formulation="JSONPath")
        assert len(doc.triples_maps) == 90
        tm = doc.triples_maps["#TM_Taxon"]
        major = v[1]
        assert (
            tm.subject_map.template
            == f"http://inpn.mnhn.fr/taxref/{major}.0/taxon/{{$.codeTaxon}}"
        )
        # the shared <#SM_Taxon> carries the class too
        assert any("skos" in c for c in tm.subject_map.class_uris)

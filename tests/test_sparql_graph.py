"""The one SPARQL front end: every query form is parsed once by
``parse_sparql`` and answered through the same Graph interface
(select / ask / construct / describe / release) by a materialized
table and by a virtual graph alike."""

import json
import sys
import time
import urllib.parse
import urllib.request

import pytest

from morph_xr2rml_spark.mapping.parser import parse_mapping
from morph_xr2rml_spark.sources.catalog import SourceCatalog
from morph_xr2rml_spark.sparql import TripleTable, VirtualGraph, bgp, sparql_select
from morph_xr2rml_spark.sparql.bgp import parse_sparql
from morph_xr2rml_spark.sparql.endpoint import SparqlEndpoint, evaluate

EX = "http://example.org/"

TTL = """\
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix ex:  <http://example.org/> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .

<#TMPerson>
    xrr:logicalSource [ rr:tableName "person"; xrr:referenceFormulation xrr:Column ];
    rr:subjectMap [ rr:template "http://example.org/{id}" ];
    rr:predicateObjectMap [
        rr:predicate ex:name;
        rr:objectMap [ rr:column "name" ];
    ];
    rr:predicateObjectMap [
        rr:predicate ex:knows;
        rr:objectMap [ rr:template "http://example.org/{friend}" ];
    ];
    .

<#TMThing>
    xrr:logicalSource [ rr:tableName "thing"; xrr:referenceFormulation xrr:Column ];
    rr:subjectMap [ rr:template "http://example.org/t/{id}" ];
    rr:predicateObjectMap [
        rr:predicate ex:label;
        rr:objectMap [ rr:column "label" ];
    ];
    rr:predicateObjectMap [
        rr:predicate ex:n;
        rr:objectMap [ rr:column "n" ];
    ];
    rr:predicateObjectMap [
        rr:predicate ex:flag;
        rr:objectMap [ rr:column "flag" ];
    ];
    rr:predicateObjectMap [
        rr:predicate ex:dec;
        rr:objectMap [ rr:column "dec"; rr:datatype xsd:decimal ];
    ];
    rr:predicateObjectMap [
        rr:predicate ex:dbl;
        rr:objectMap [ rr:column "dbl"; rr:datatype xsd:double ];
    ];
    .
"""

PERSON = [("a", "Ann", "b"), ("b", "Bob", "c"), ("c", "Cy", None)]
# literals that a scan of the raw query text misreads (quotes, '#', a
# newline), an integer and a boolean column, and lexical forms that the
# mapping types as xsd:decimal and xsd:double
THING = [
    ("1", "ab", 5, True, "5.5", "1e3"),
    ("2", "it's", -3, False, None, None),
    ("3", "a#b", None, None, None, None),
    ("4", "a\nb", None, None, None, None),
    ("5", "x7", None, None, None, None),
]

# the graph the mapping produces over PERSON, written out by hand: a
# name triple per row, a knows triple per row with a friend
A_NAME = f'<{EX}a> <{EX}name> "Ann" .'
A_KNOWS = f"<{EX}a> <{EX}knows> <{EX}b> ."
B_NAME = f'<{EX}b> <{EX}name> "Bob" .'
B_KNOWS = f"<{EX}b> <{EX}knows> <{EX}c> ."
C_NAME = f'<{EX}c> <{EX}name> "Cy" .'
# and over THING: one triple per non-NULL cell
XSD = "http://www.w3.org/2001/XMLSchema#"
T1, T2, T3, T4, T5 = (f"<{EX}t/{i}>" for i in "12345")
INT5 = f'"5"^^<{XSD}integer>'
INT_NEG3 = f'"-3"^^<{XSD}integer>'
THING_TRIPLES = [
    f'{T1} <{EX}label> "ab" .',
    f"{T1} <{EX}n> {INT5} .",
    f'{T1} <{EX}flag> "true"^^<{XSD}boolean> .',
    f'{T1} <{EX}dec> "5.5"^^<{XSD}decimal> .',
    f'{T1} <{EX}dbl> "1e3"^^<{XSD}double> .',
    f"{T2} <{EX}label> \"it's\" .",
    f"{T2} <{EX}n> {INT_NEG3} .",
    f'{T2} <{EX}flag> "false"^^<{XSD}boolean> .',
    f'{T3} <{EX}label> "a#b" .',
    f'{T4} <{EX}label> "a\\nb" .',
    f'{T5} <{EX}label> "x7" .',
]
TRIPLES = [A_NAME, A_KNOWS, B_NAME, B_KNOWS, C_NAME] + THING_TRIPLES


def _table(spark):
    return spark.createDataFrame(
        [tuple(t[:-2].split(" ", 2)) for t in TRIPLES],
        "subj string, pred string, obj string",
    )


def _virtual(spark):
    person = spark.createDataFrame(
        PERSON, "id string, name string, friend string"
    )
    thing = spark.createDataFrame(
        THING, "id string, label string, n int, flag boolean, dec string, dbl string"
    )
    catalog = (
        SourceCatalog(spark).register("person", person).register("thing", thing)
    )
    return VirtualGraph(spark, parse_mapping(TTL), catalog)


@pytest.fixture(params=["table", "virtual"])
def graph(request, spark):
    g = TripleTable(_table(spark)) if request.param == "table" else _virtual(spark)
    yield g
    g.release()


def _nt(body: str) -> set[str]:
    return {line for line in body.splitlines() if line.strip()}


def test_virtual_graph_is_the_hand_written_graph(spark):
    vg = _virtual(spark)
    try:
        got = vg.select("SELECT ?s ?p ?o WHERE { ?s ?p ?o }").collect()
        assert {f"{r.s} {r.p} {r.o} ." for r in got} == set(TRIPLES)
    finally:
        vg.release()


# one text per way a query form can be written that a scan of the raw
# text misreads: several terms, a prefixed name, a comment, BASE, and
# comments around and inside a CONSTRUCT template
PROBES = [
    # several DESCRIBE terms: each is described, not just the first
    (f"DESCRIBE <{EX}a> <{EX}b>", {A_NAME, A_KNOWS, B_NAME, B_KNOWS}),
    # a prefixed name
    (f"PREFIX ex: <{EX}>\nDESCRIBE ex:a", {A_NAME, A_KNOWS}),
    # a commented-out DESCRIBE is not the query
    (f"# was: DESCRIBE <{EX}c>\nDESCRIBE <{EX}a>", {A_NAME, A_KNOWS}),
    # a BASE-relative IRI
    (f"BASE <{EX}>\nDESCRIBE <a>", {A_NAME, A_KNOWS}),
    # a '}' inside a comment after the template does not end it
    (
        f"CONSTRUCT {{ ?y <{EX}knownBy> ?x }} # template }}\n"
        f"WHERE {{ ?x <{EX}knows> ?y }}",
        {f"<{EX}b> <{EX}knownBy> <{EX}a> .", f"<{EX}c> <{EX}knownBy> <{EX}b> ."},
    ),
    # a comment inside the template
    (
        f"CONSTRUCT {{ ?y <{EX}knownBy> ?x # inverse edge\n}}\n"
        f"WHERE {{ ?x <{EX}knows> ?y }}",
        {f"<{EX}b> <{EX}knownBy> <{EX}a> .", f"<{EX}c> <{EX}knownBy> <{EX}b> ."},
    ),
]


@pytest.mark.parametrize("query,want", PROBES)
def test_probe(graph, query, want):
    ctype, body = evaluate(graph, query)
    assert ctype == "application/n-triples"
    assert _nt(body) == want


def _label_filter(expr: str) -> str:
    return f"SELECT ?s WHERE {{ ?s <{EX}label> ?o FILTER({expr}) }}"


# one query per spelling of a constant that must equal its data term,
# with the answers written out by hand
LITERAL_PROBES = [
    (f"SELECT ?s WHERE {{ ?s <{EX}label> 'ab' }}", {(T1,)}),
    (f"SELECT ?s WHERE {{ ?s <{EX}label> 'it\\'s' }}", {(T2,)}),
    (f"SELECT ?s WHERE {{ ?s <{EX}label> 'a#b' }}", {(T3,)}),
    (f'SELECT ?s WHERE {{ ?s <{EX}label> """a\nb""" }}', {(T4,)}),
    (f"SELECT ?s WHERE {{ ?s <{EX}label> '''a\nb''' }}", {(T4,)}),
    (_label_filter("?o = 'ab'"), {(T1,)}),
    (f"SELECT ?s WHERE {{ ?s <{EX}label> ?o VALUES ?o {{ 'ab' }} }}", {(T1,)}),
    (f"SELECT ?s WHERE {{ ?s <{EX}n> 5 }}", {(T1,)}),
    (f"SELECT ?s WHERE {{ ?s <{EX}n> -3 }}", {(T2,)}),
    (f"SELECT ?s WHERE {{ ?s <{EX}dec> 5.5 }}", {(T1,)}),
    (f"SELECT ?s WHERE {{ ?s <{EX}dbl> 1e3 }}", {(T1,)}),
    (f"SELECT ?s WHERE {{ ?s <{EX}flag> true }}", {(T1,)}),
    # REGEX matches the lexical form, with or without STR(), under flags
    (_label_filter('REGEX(?o, "^a")'), {(T1,), (T3,), (T4,)}),
    (_label_filter('REGEX(?o, "b$")'), {(T1,), (T3,), (T4,)}),
    (_label_filter('REGEX(STR(?o), "^A", "i")'), {(T1,), (T3,), (T4,)}),
    # and reads it with its escapes decoded: "a\nb" holds a newline,
    # and the pattern "\\d" is the regex \d
    (_label_filter("STRLEN(?o) = 3"), {(T3,), (T4,)}),
    (_label_filter('REGEX(?o, "\\\\d")'), {(T5,)}),
    (_label_filter('STR(?o) = "a\\nb"'), {(T4,)}),
]


@pytest.mark.parametrize("query,want", LITERAL_PROBES)
def test_literal_probe(graph, query, want):
    assert {tuple(r) for r in graph.select(query).collect()} == want


ENCODED_TTL = """\
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix rr:  <http://www.w3.org/ns/r2rml#> .

<#TMEncoded>
    xrr:logicalSource [ rr:tableName "encoded"; xrr:referenceFormulation xrr:Column ];
    rr:subjectMap [ rr:template "http://ex.org/a?id={id}" ];
    rr:predicateObjectMap [
        rr:predicate <http://ex.org/name>;
        rr:objectMap [ rr:column "name" ];
    ];
    .
"""


def test_template_with_an_encoded_literal_part_answers_in_both_modes(spark):
    """The IRI encoding turns the template's '=' into %3D: the constant
    subject is that IRI, which rewriting mode must not prune."""
    from morph_xr2rml_spark.compiler import MappingCompiler

    table = spark.createDataFrame([(5, "x")], "id int, name string")
    catalog = SourceCatalog(spark).register("encoded", table, unique_key=["id"])
    doc = parse_mapping(ENCODED_TTL)
    q = "SELECT ?o WHERE { <http://ex.org/a?id%3D5> <http://ex.org/name> ?o }"
    comp = MappingCompiler(spark, doc, catalog)
    vg = VirtualGraph(spark, doc, catalog)
    try:
        assert [tuple(r) for r in TripleTable(comp.triples()).select(q).collect()] == [('"x"',)]
        assert [tuple(r) for r in vg.select(q).collect()] == [('"x"',)]
    finally:
        vg.release()
        comp.release()


CONTROL_TTL = """\
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix rr:  <http://www.w3.org/ns/r2rml#> .

<#TMControl>
    xrr:logicalSource [ rr:tableName "control"; xrr:referenceFormulation xrr:Column ];
    rr:subjectMap [ rr:template "http://ex.org/{id}" ];
    rr:predicateObjectMap [
        rr:predicate <http://ex.org/p>;
        rr:objectMap [ rr:column "v" ];
    ];
    .
"""


@pytest.mark.parametrize("unique_key", [None, ["id"]])
def test_key_with_control_characters_answers_in_both_modes(spark, unique_key):
    """The IRI chain drops the newline of the key '5\\n', so its row is
    the subject <http://ex.org/5>: a scan filter on the key must keep
    it, on the translated path, the fragment path and DESCRIBE."""
    from morph_xr2rml_spark.compiler import MappingCompiler

    table = spark.createDataFrame([("5\n", "x"), ("\t6", "y")], "id string, v string")
    catalog = SourceCatalog(spark).register("control", table, unique_key=unique_key)
    doc = parse_mapping(CONTROL_TTL)
    comp = MappingCompiler(spark, doc, catalog)
    vg = VirtualGraph(spark, doc, catalog)
    rows = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    try:
        materialized = TripleTable(comp.triples())
        for key, want in (("5", '"x"'), ("6", '"y"')):
            q = f"SELECT ?o WHERE {{ <http://ex.org/{key}> <http://ex.org/p> ?o }}"
            assert rows(materialized.select(q)) == [(want,)]
            assert rows(vg.select(q)) == [(want,)]
            assert rows(sparql_select(vg.fragment(q), q)) == [(want,)]
        q = "DESCRIBE <http://ex.org/5>"
        want = [("<http://ex.org/5>", "<http://ex.org/p>", '"x"')]
        assert rows(materialized.describe(q)) == want
        assert rows(vg.describe(q)) == want
        assert rows(bgp.Graph.describe(vg, q)) == want
    finally:
        vg.release()
        comp.release()


def test_blank_node_label_is_a_hidden_variable(graph):
    """A ``_:b`` label in a pattern is a variable that SELECT * does not
    project; the same label twice in one BGP joins."""
    out = graph.select(f"SELECT * WHERE {{ _:b <{EX}label> ?l . _:b <{EX}n> ?n }}")
    assert out.columns == ["l", "n"]
    assert {tuple(r) for r in out.collect()} == {
        ('"ab"', INT5),
        ("\"it's\"", INT_NEG3),
    }


@pytest.mark.parametrize(
    "template",
    [
        f"?s <{EX}q> [ <{EX}r> ?n ]",
        f"?s <{EX}q> _:m . _:m <{EX}r> ?n",
    ],
)
def test_construct_template_blank_node_per_solution(graph, template):
    """A blank node of a CONSTRUCT template is fresh per solution and
    shared by that solution's triples (SPARQL 1.1 §16.2): three
    solutions, three blank nodes, each linking its person to that
    person's name."""
    out = graph.construct(
        f"CONSTRUCT {{ {template} }} WHERE {{ ?s <{EX}name> ?n }}"
    ).collect()
    q_arcs = {r.subj: r.obj for r in out if r.pred == f"<{EX}q>"}
    r_arcs = {r.subj: r.obj for r in out if r.pred == f"<{EX}r>"}
    assert len(out) == 6
    assert set(q_arcs) == {f"<{EX}a>", f"<{EX}b>", f"<{EX}c>"}
    assert len(set(q_arcs.values())) == 3
    assert all(b.startswith("_:") for b in q_arcs.values())
    assert set(r_arcs) == set(q_arcs.values())
    assert {s: r_arcs[b] for s, b in q_arcs.items()} == {
        f"<{EX}a>": '"Ann"',
        f"<{EX}b>": '"Bob"',
        f"<{EX}c>": '"Cy"',
    }


def test_describe_iri_and_variable(graph):
    q = f"DESCRIBE <{EX}c> ?x WHERE {{ ?x <{EX}name> \"Ann\" }}"
    assert _nt(evaluate(graph, q)[1]) == {A_NAME, A_KNOWS, B_KNOWS, C_NAME}


def _count_parses(monkeypatch) -> list[str]:
    """Wrap parse_sparql wherever the package holds it; the returned
    list grows by one entry per call."""
    calls: list[str] = []
    original = bgp.parse_sparql

    def counted(text):
        calls.append(text)
        return original(text)

    for name, mod in list(sys.modules.items()):
        if name.startswith("morph_xr2rml_spark") and mod is not None:
            for attr, val in list(vars(mod).items()):
                if val is original:
                    monkeypatch.setattr(mod, attr, counted)
    return calls


@pytest.mark.parametrize(
    "query",
    [
        f"SELECT ?n WHERE {{ ?s <{EX}name> ?n }}",
        f"ASK {{ ?s <{EX}knows> <{EX}c> }}",
        f"CONSTRUCT {{ ?y <{EX}knownBy> ?x }} WHERE {{ ?x <{EX}knows> ?y }}",
        f"DESCRIBE <{EX}a>",
        f"DESCRIBE ?x WHERE {{ ?x <{EX}knows> <{EX}c> }}",
    ],
)
def test_each_request_parses_once(graph, monkeypatch, query):
    calls = _count_parses(monkeypatch)
    evaluate(graph, query)
    assert calls == [query]


def test_virtual_construct_stamps_now_once_per_query(spark):
    earlier = sparql_select(
        _table(spark), f"SELECT ?t WHERE {{ ?s <{EX}name> ?n BIND(NOW() AS ?t) }}"
    )
    earlier_now = {r.t for r in earlier.collect()}
    assert len(earlier_now) == 1
    time.sleep(0.01)
    vg = _virtual(spark)
    try:
        out = vg.construct(
            f"CONSTRUCT {{ ?s <{EX}at> ?t }} "
            f"WHERE {{ ?s <{EX}name> ?n BIND(NOW() AS ?t) }}"
        ).collect()
    finally:
        vg.release()
    assert {r.subj for r in out} == {f"<{EX}a>", f"<{EX}b>", f"<{EX}c>"}
    instants = {r.obj for r in out}
    assert len(instants) == 1
    assert instants != earlier_now


@pytest.mark.parametrize(
    "query",
    [
        "SELECT ?x (UCASE(?x) AS ?x) WHERE { ?x ?p ?o }",
        "SELECT (UCASE(?o) AS ?x) WHERE { ?x ?p ?o }",
        "SELECT (STR(?o) AS ?y) (UCASE(?o) AS ?y) WHERE { ?x ?p ?o }",
        "SELECT (COUNT(?o) AS ?p) WHERE { ?x ?p ?o }",
        "SELECT ?a WHERE { ?s ?p ?a } GROUP BY (FLOOR(?a) AS ?a)",
        "SELECT (COUNT(?s) AS ?b) WHERE { ?s ?p ?a } GROUP BY (FLOOR(?a) AS ?b)",
    ],
)
def test_alias_reusing_in_scope_variable_is_an_error(query):
    with pytest.raises(ValueError, match="already in scope"):
        parse_sparql(query)


def test_fresh_aliases_still_parse():
    q = parse_sparql(
        "SELECT ?b (COUNT(?s) AS ?n) (?n * 2 AS ?n2) WHERE { ?s ?p ?a } "
        "GROUP BY (FLOOR(?a) AS ?b)"
    )
    assert q.variables == ["b", "n", "n2"]


def test_endpoint_releases_virtual_graph_per_request(spark):
    vg = _virtual(spark)
    ep = SparqlEndpoint(vg).start()
    base = f"http://127.0.0.1:{ep.port}/sparql?query="

    def get(query: str) -> str:
        with urllib.request.urlopen(base + urllib.parse.quote(query), timeout=120) as r:
            return r.read().decode()

    try:
        names = get(f"SELECT ?n WHERE {{ ?s <{EX}name> ?n }}")
        assert {
            b["n"]["value"] for b in json.loads(names)["results"]["bindings"]
        } == {"Ann", "Bob", "Cy"}
        assert vg._compilers == []
        assert json.loads(get(f"ASK {{ <{EX}b> <{EX}knows> ?o }}"))["boolean"] is True
        assert vg._compilers == []
        assert _nt(get(f"DESCRIBE <{EX}c>")) == {B_KNOWS, C_NAME}
        assert vg._compilers == []
    finally:
        ep.stop()
        vg.release()

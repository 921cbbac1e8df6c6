"""End-to-end replay of the reference's REWRITING example suites
(/root/reference/morph-xr2rml-dist/example_mongo_rewriting/ and
example_mysql_rewriting/) through both evaluation modes.

These are the two example directories the reference ships specifically
for its query-rewriting entry point (morph.properties sets
query.file.path; MorphBaseRunner.runQuery:57-107 drives bindm/genCond
instead of materialization). The queries exercise exactly the corners
the rewriting mode must get right: rdf:Seq containers with rdf:_1
membership patterns, an rml:iterator triples map bound through
rewriting, JSONPath-valued join conditions, and multi-valued
references. Each query asserts virtual == materialize-then-query on
the reference's own test data (testdb_dump.json / testdb_dump.sql)."""

import json
import pathlib

import pytest

from morph_xr2rml_spark.compiler.compile import MappingCompiler
from morph_xr2rml_spark.mapping.parser import parse_mapping
from morph_xr2rml_spark.sources.catalog import SourceCatalog
from morph_xr2rml_spark.sparql import sparql_select
from morph_xr2rml_spark.sparql.virtual import VirtualGraph

_DIST = pathlib.Path("/root/reference/morph-xr2rml-dist")

PREFIXES = (
    "PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>\n"
    "PREFIX ex: <http://example.org/>\n"
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ---------------------------------------------------------------------------
# example_mongo_rewriting: rdf:Seq container + rdf:_N patterns + iterator
# (testdb_dump.json collections movies2 / directors2)
# ---------------------------------------------------------------------------

_DIRECTOR_DOCS = [
    {"name": "Woody Allen", "directed": ["Manhattan", "Annie Hall"]},
    {"name": "Wong Kar-wai", "directed": ["2046", "In the Mood for Love"]},
]
_MOVIE_DOCS = [
    {"name": "2046", "code": "m2046", "actors": ["T. Leung", "G. Li"]},
    {"name": "In the Mood for Love", "code": "Mood", "actors": ["M. Cheung"]},
    {"name": "Manhattan", "code": "Manh", "actors": ["Woody Allen", "Diane Keaton"]},
    {"name": "Interiors", "code": "Int01", "actors": ["D. Keaton", "G. Page"]},
]


@pytest.fixture(scope="module")
def mongo_rw(spark, read_reference):
    mapping = read_reference(_DIST / "example_mongo_rewriting" / "mapping.ttl")
    movies = spark.createDataFrame(
        [(json.dumps(d),) for d in _MOVIE_DOCS], "doc string"
    )
    directors = spark.createDataFrame(
        [(json.dumps(d),) for d in _DIRECTOR_DOCS], "doc string"
    )
    catalog = (
        SourceCatalog(spark)
        .register("movies2", movies, doc_column="doc")
        .register("directors2", directors, doc_column="doc")
    )
    doc = parse_mapping(mapping, default_formulation="JSONPath")
    triples = MappingCompiler(spark, doc, catalog).triples()
    return doc, catalog, triples


# the suite's query.sparql (active pattern + the commented variants it
# ships for the same mapping)
MONGO_RW_QUERIES = [
    # the uncommented query: join through the rdf:Seq container
    PREFIXES
    + """SELECT * WHERE {
        ?x ex:directed ?y .
        ?y ex:starringList ?z .
        ?z a rdf:Seq .
        ?z rdf:_1 ?actor1 .
    }""",
    # commented variant: optional second member
    PREFIXES
    + """SELECT * WHERE {
        ?x ex:directed ?y .
        ?y ex:starringList ?z .
        ?z a rdf:Seq .
        ?z rdf:_1 ?actor1 .
        OPTIONAL { ?z rdf:_2 ?actor2 . }
    }""",
    # commented variant: iterator-backed triples map (no matching data —
    # rewriting must still bind it and answer [] exactly)
    PREFIXES + "SELECT * WHERE { ?y ex:starringIter ?z . }",
    # commented variant: constant (percent-encoded) subject
    PREFIXES
    + "SELECT * WHERE { <http://example.org/dir/Wong%20Kar-wai> ex:directed ?x . }",
    # commented variant: constant object through the ref-object join
    PREFIXES
    + "SELECT * WHERE { ?x ex:directed <http://example.org/movie/Manh> . }",
    # plain multi-valued reference
    PREFIXES + "SELECT * WHERE { ?m ex:starring ?a . }",
]


@pytest.mark.parametrize("q", MONGO_RW_QUERIES)
def test_mongo_rewriting_virtual_equals_materialized(mongo_rw, spark, q):
    doc, catalog, triples = mongo_rw
    vg = VirtualGraph(spark, doc, catalog)
    try:
        assert _rows(vg.select(q)) == _rows(sparql_select(triples, q))
    finally:
        vg.release()


def test_mongo_rewriting_main_query_answers(mongo_rw, spark):
    """The shipped query's expected answer, derived from the dump: each
    director x directed-movie with its seq head's first actor. 'Annie
    Hall' has no movies2 document, so Woody Allen contributes only
    Manhattan."""
    doc, catalog, _t = mongo_rw
    vg = VirtualGraph(spark, doc, catalog)
    try:
        rows = vg.select(MONGO_RW_QUERIES[0]).collect()
        pairs = sorted((r.x, r.actor1) for r in rows)
        assert pairs == [
            ("<http://example.org/dir/Wong%20Kar-wai>", '"M. Cheung"'),
            ("<http://example.org/dir/Wong%20Kar-wai>", '"T. Leung"'),
            ("<http://example.org/dir/Woody%20Allen>", '"Woody Allen"'),
        ]
    finally:
        vg.release()


# ---------------------------------------------------------------------------
# example_mysql_rewriting: SQL-query source, iterator-to-ignore,
# JSONPath join conditions, RdfList + nested term map
# (testdb_dump.sql tables student / sport)
# ---------------------------------------------------------------------------

_B1_NAME = (
    '<?xml version="1.0"?>\n<FullName>\n<FirstNames><FirstName>Paul</FirstName>'
    "<FirstName>Jack</FirstName></FirstNames>\n<LastName>Smith</LastName>\n</FullName>"
)
_B2_NAME = (
    "<FullName>\n<FirstNames><FirstName>John</FirstName>"
    "<FirstName>Fitzgerald</FirstName></FirstNames>\n<LastName>Kennedy</LastName>\n</FullName>\n"
)
_B3_NAME = (
    "<FullName>\n<FirstNames><FirstName>Mike</FirstName></FirstNames>\n"
    "<LastName>Peterson</LastName>\n</FullName>\n"
)


@pytest.fixture(scope="module")
def mysql_rw(spark, read_reference):
    mapping = read_reference(_DIST / "example_mysql_rewriting" / "mapping.ttl")
    # the shipped file's rr:parentTriplesMap <#Sport> dangles (the map is
    # named <#TMSport>); normalize the reference's typo so both modes
    # compile the joins the example intends
    mapping = mapping.replace("rr:parentTriplesMap <#Sport>",
                              "rr:parentTriplesMap <#TMSport>")
    student = spark.createDataFrame(
        [
            ("B1", '[{"hobby": "Swimming","place": "sea"},{"hobby": "Soccer","place": "street"}]',
             _B1_NAME, 0, None, None),
            ("B2", '[{"hobby": "Hiking","place": "Mountain"},{"hobby": "Basketball","place": "street"},{"sportInClub": [100, 200, 300]}]',
             _B2_NAME, 100, None, "john@acd.edu"),
            ("B3", "", _B3_NAME, None, "www.george.edu", None),
            ("B4", '[{"sportInClub": [400, 500, 600]}]', None, 600, "www.starr.edu", "ringo@acd.edu"),
        ],
        "id string, comments string, name string, sport int, webpage string, email string",
    )
    sport = spark.createDataFrame(
        [
            (0, "BasketBall", "B, BSK, BK", '{"color1": "black","color2": "grey"}'),
            (100, "Tennis", "T, TN,TNS", ' ["blue", "red", "brown"]'),
            (200, "Chess", "CHS", ' {"color": "yellow"}'),
            (300, "Scuba diving", "SCB,DIV", None),
            (400, "Free diving", "FD,APNEA", None),
            (500, "Pool", "P,PL,POO", '{"color": "grey", "color": "orange"}'),
            (600, "Soccer", "SOC,SC", '{"color": "dark blue"}'),
        ],
        "id int, name string, code string, shirt_colors string",
    )
    catalog = (
        SourceCatalog(spark).register("student", student).register("sport", sport)
    )
    doc = parse_mapping(mapping)
    triples = MappingCompiler(spark, doc, catalog).triples()
    return doc, catalog, triples


EXC = "PREFIX ex: <http://example.com/>\n"

MYSQL_RW_QUERIES = [
    # the suite's query.sparql verbatim
    EXC + "SELECT ?s ?h WHERE { ?s a ex:Student ; ex:hobbies ?h . }",
    # join through the SQL-query-sourced parent map
    EXC + "SELECT ?s ?sp WHERE { ?s ex:mainSport ?sp . }",
    # JSONPath-valued join condition (child side is a JSONPath over the
    # comments column)
    EXC + "SELECT ?s ?c WHERE { ?s ex:practiceInClub ?c . }",
    # constant subject over the student template
    EXC + "SELECT ?h WHERE { <http://example.org/student/B1> ex:hobbies ?h . }",
]


@pytest.mark.parametrize("q", MYSQL_RW_QUERIES)
def test_mysql_rewriting_virtual_equals_materialized(mysql_rw, spark, q):
    doc, catalog, triples = mysql_rw
    vg = VirtualGraph(spark, doc, catalog)
    try:
        assert _rows(vg.select(q)) == _rows(sparql_select(triples, q))
    finally:
        vg.release()


def _lit(s: str) -> str:
    """N-Triples literal of a raw string value."""
    return '"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"'


def test_mysql_rewriting_main_query_answers(mysql_rw, spark):
    """query.sparql's expected bindings from testdb_dump.sql: unlike
    example_mysql (which extracts $.hobby through a mixed syntax path),
    this mapping's ex:hobbies is a PLAIN column reference to comments —
    each student yields one literal holding the whole comments string
    (B3's empty string included: an RDB column value of '' is a value,
    only NULL produces no term)."""
    doc, catalog, _t = mysql_rw
    vg = VirtualGraph(spark, doc, catalog)
    try:
        got = _rows(vg.select(MYSQL_RW_QUERIES[0]))
        s = "http://example.org/student/"
        assert got == [
            (f"<{s}B1>", _lit('[{"hobby": "Swimming","place": "sea"},{"hobby": "Soccer","place": "street"}]')),
            (f"<{s}B2>", _lit('[{"hobby": "Hiking","place": "Mountain"},{"hobby": "Basketball","place": "street"},{"sportInClub": [100, 200, 300]}]')),
            (f"<{s}B3>", '""'),
            (f"<{s}B4>", _lit('[{"sportInClub": [400, 500, 600]}]')),
        ]
    finally:
        vg.release()

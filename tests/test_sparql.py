"""SPARQL-BGP-over-triple-table tests (the DataFrame replacement for
the reference's query-rewriting engine, SURVEY §2.12/§3.2)."""

from __future__ import annotations

import pytest

from morph_xr2rml_spark.sparql import parse_sparql, sparql_select

EX = "http://example.org/"


@pytest.fixture(scope="module")
def triples(spark):
    rows = [
        # people
        (f"<{EX}p/1>", f"<{EX}name>", '"alice"'),
        (f"<{EX}p/2>", f"<{EX}name>", '"bob"'),
        (f"<{EX}p/3>", f"<{EX}name>", '"carol"'),
        (f"<{EX}p/1>", f"<{EX}age>", '"30"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        (f"<{EX}p/2>", f"<{EX}age>", '"17"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        # knows graph
        (f"<{EX}p/1>", f"<{EX}knows>", f"<{EX}p/2>"),
        (f"<{EX}p/2>", f"<{EX}knows>", f"<{EX}p/3>"),
        # types
        (f"<{EX}p/1>", "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>", f"<{EX}Person>"),
        (f"<{EX}p/2>", "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>", f"<{EX}Person>"),
    ]
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


def rows(df):
    return {tuple(r) for r in df.collect()}


def test_parse_basics():
    q = parse_sparql(
        """PREFIX ex: <http://example.org/>
        SELECT DISTINCT ?a ?b WHERE { ?a ex:knows ?b . ?b a ex:Person }
        ORDER BY DESC(?a) LIMIT 5 OFFSET 1"""
    )
    assert q.distinct and q.variables == ["a", "b"]
    assert len(q.where.patterns) == 2
    assert q.where.patterns[1].p.endswith("22-rdf-syntax-ns#type>")
    assert q.order_by == [("a", False)] and q.limit == 5 and q.offset == 1


@pytest.mark.parametrize(
    "literal", ['"a}b"', '"a{b"', '"a\\"}b"', "'a}b'", "'a{b'"]
)
def test_braces_inside_string_literals(literal):
    """A brace inside a string literal, double- or single-quoted and
    with escaped quotes, is text: it neither closes nor opens a group."""
    q = parse_sparql(
        f"SELECT ?x WHERE {{ ?x <http://e/p> {literal} . ?x <http://e/q> ?y }}"
    )
    # the term is the canonical N-Triples literal, double-quoted
    assert [(tp.s, tp.p, tp.o) for tp in q.where.patterns] == [
        ("?x", "<http://e/p>", '"' + literal[1:-1] + '"'),
        ("?x", "<http://e/q>", "?y"),
    ]


def test_apostrophe_inside_iri_opens_no_string():
    q = parse_sparql(
        "SELECT ?x WHERE { ?x <http://e/O'Neil> ?y . ?y <http://e/p> 'a}b' }"
    )
    assert [(tp.s, tp.p, tp.o) for tp in q.where.patterns] == [
        ("?x", "<http://e/O'Neil>", "?y"),
        ("?y", "<http://e/p>", '"a}b"'),
    ]


def test_brace_inside_literal_matches_data(spark):
    t = spark.createDataFrame(
        [("<http://e/s>", "<http://e/p>", '"a}b"'),
         ("<http://e/t>", "<http://e/p>", '"a{b"')],
        "subj string, pred string, obj string",
    )
    for lit, subj in (('"a}b"', "<http://e/s>"), ('"a{b"', "<http://e/t>")):
        got = rows(sparql_select(t, f"SELECT ?x WHERE {{ ?x <http://e/p> {lit} }}"))
        assert got == {(subj,)}


def test_bgp_join(triples):
    out = sparql_select(
        triples,
        """PREFIX ex: <http://example.org/>
        SELECT ?n1 ?n2 WHERE {
            ?x ex:knows ?y . ?x ex:name ?n1 . ?y ex:name ?n2 }""",
    )
    assert rows(out) == {('"alice"', '"bob"'), ('"bob"', '"carol"')}


def test_optional_and_bound(triples):
    out = sparql_select(
        triples,
        """PREFIX ex: <http://example.org/>
        SELECT ?n ?age WHERE {
            ?x ex:name ?n .
            OPTIONAL { ?x ex:age ?age } }""",
    )
    got = {r["n"]: r["age"] for r in out.collect()}
    assert got['"carol"'] is None
    assert got['"alice"'].startswith('"30"')

    unbound = sparql_select(
        triples,
        """PREFIX ex: <http://example.org/>
        SELECT ?n WHERE {
            ?x ex:name ?n .
            OPTIONAL { ?x ex:age ?age }
            FILTER (!BOUND(?age)) }""",
    )
    assert rows(unbound) == {('"carol"',)}


def test_filter_numeric_and_regex(triples):
    adults = sparql_select(
        triples,
        """PREFIX ex: <http://example.org/>
        SELECT ?n WHERE {
            ?x ex:name ?n . ?x ex:age ?age
            FILTER (?age >= 18) }""",
    )
    assert rows(adults) == {('"alice"',)}

    re_match = sparql_select(
        triples,
        """PREFIX ex: <http://example.org/>
        SELECT ?n WHERE { ?x ex:name ?n FILTER (REGEX(?n, "^[ab]")) }""",
    )
    assert rows(re_match) == {('"alice"',), ('"bob"',)}


def test_union(triples):
    out = sparql_select(
        triples,
        """PREFIX ex: <http://example.org/>
        SELECT ?v WHERE {
            { ?x ex:name ?v . FILTER (?v = "alice") }
            UNION
            { ?x ex:name ?v . FILTER (?v = "bob") } }""",
    )
    assert rows(out) == {('"alice"',), ('"bob"',)}


def test_same_var_twice(triples):
    # ?x knows ?x — nobody knows themselves
    out = sparql_select(
        triples,
        """PREFIX ex: <http://example.org/>
        SELECT ?x WHERE { ?x ex:knows ?x }""",
    )
    assert out.count() == 0


def test_order_limit(triples):
    out = sparql_select(
        triples,
        """PREFIX ex: <http://example.org/>
        SELECT ?n WHERE { ?x ex:name ?n } ORDER BY ?n LIMIT 2""",
    )
    assert [r["n"] for r in out.collect()] == ['"alice"', '"bob"']


def test_result_serialization(spark, triples):
    import json as _json

    from morph_xr2rml_spark.sparql import ask, to_sparql_json, to_sparql_xml

    df = sparql_select(
        triples,
        """PREFIX ex: <http://example.org/>
        SELECT ?x ?n ?age WHERE {
            ?x ex:name ?n OPTIONAL { ?x ex:age ?age } } ORDER BY ?n""",
    )
    doc = _json.loads(to_sparql_json(df))
    assert doc["head"]["vars"] == ["x", "n", "age"]
    b0 = doc["results"]["bindings"][0]
    assert b0["x"]["type"] == "uri" and b0["x"]["value"] == "http://example.org/p/1"
    assert b0["n"] == {"type": "literal", "value": "alice"}
    assert b0["age"]["datatype"].endswith("integer")
    # carol has no age -> var absent from her binding
    assert "age" not in doc["results"]["bindings"][2]

    xml = to_sparql_xml(df)
    assert '<variable name="n"/>' in xml
    assert "<uri>http://example.org/p/1</uri>" in xml
    assert 'datatype="http://www.w3.org/2001/XMLSchema#integer">30</literal>' in xml

    assert ask(df) is True
    assert ask(df.where("n = '\"nobody\"'")) is False


def test_result_csv_tsv(spark, triples, tmp_path):
    from morph_xr2rml_spark.sparql import write_csv, write_tsv

    df = sparql_select(
        triples,
        """PREFIX ex: <http://example.org/>
        SELECT ?x ?n WHERE { ?x ex:name ?n }""",
    )
    csv_dir = str(tmp_path / "csv")
    write_csv(df, csv_dir)
    back = spark.read.option("header", True).csv(csv_dir)
    vals = {(r["x"], r["n"]) for r in back.collect()}
    assert ("http://example.org/p/1", "alice") in vals

    tsv_dir = str(tmp_path / "tsv")
    write_tsv(df, tsv_dir)
    back2 = spark.read.option("header", True).option("sep", "\t").csv(tsv_dir)
    vals2 = {(r["x"], r["n"]) for r in back2.collect()}
    assert ("<http://example.org/p/1>", '"alice"') in vals2


def test_aggregates_group_by(spark, triples):
    out = sparql_select(
        triples,
        """PREFIX ex: <http://example.org/>
        SELECT ?x (COUNT(?y) AS ?n) WHERE { ?x ex:knows ?y } GROUP BY ?x""",
    )
    got = {r["x"]: r["n"] for r in out.collect()}
    assert got == {f"<{EX}p/1>": 1, f"<{EX}p/2>": 1}

    total = sparql_select(
        triples,
        """PREFIX ex: <http://example.org/>
        SELECT (COUNT(*) AS ?n) (AVG(?age) AS ?avg_age)
               (MAX(?age) AS ?max_age) WHERE { ?x ex:age ?age }""",
    ).collect()[0]
    assert total["n"] == 2
    assert total["avg_age"] == pytest.approx(23.5)
    assert total["max_age"] == 30.0


def test_construct(spark, triples):
    from morph_xr2rml_spark.sparql import sparql_construct

    out = sparql_construct(
        triples,
        """PREFIX ex: <http://example.org/>
        CONSTRUCT { ?y ex:knownBy ?x . ?y a ex:Known }
        WHERE { ?x ex:knows ?y }""",
    )
    got = {tuple(r) for r in out.collect()}
    assert (f"<{EX}p/2>", f"<{EX}knownBy>", f"<{EX}p/1>") in got
    assert (f"<{EX}p/3>",
            "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>",
            f"<{EX}Known>") in got
    assert len(got) == 4


def test_describe(spark, triples):
    from morph_xr2rml_spark.sparql import sparql_describe

    out = sparql_describe(triples, f"DESCRIBE <{EX}p/2>")
    got = {tuple(r) for r in out.collect()}
    assert (f"<{EX}p/1>", f"<{EX}knows>", f"<{EX}p/2>") in got
    assert (f"<{EX}p/2>", f"<{EX}name>", '"bob"') in got
    assert all(f"<{EX}p/2>" in (s, o) for s, _, o in got)


def test_serialize_sinks(spark, triples, tmp_path):
    from morph_xr2rml_spark.sinks import to_jsonld, to_turtle, write_ntriples

    nt_dir = str(tmp_path / "nt")
    write_ntriples(triples, nt_dir)
    lines = {r["value"] for r in spark.read.text(nt_dir).collect()}
    assert f'<{EX}p/1> <{EX}name> "alice" .' in lines
    assert len(lines) == triples.count()

    ttl = to_turtle(triples, prefixes={"ex": EX})
    assert "@prefix ex: <http://example.org/> ." in ttl
    assert 'ex:name "alice"' in ttl
    assert "a ex:Person" in ttl

    import json as _json

    doc = _json.loads(to_jsonld(triples))
    byid = {n["@id"]: n for n in doc}
    assert byid[f"{EX}p/1"]["@type"] == [f"{EX}Person"]
    assert {"@value": "alice"} in byid[f"{EX}p/1"][f"{EX}name"]


def test_write_nquads(spark, tmp_path):
    from morph_xr2rml_spark.sinks import write_nquads

    quads = spark.createDataFrame(
        [
            ("<s1>", "<p>", "<o>", "<g1>"),
            ("<s2>", "<p>", '"v"', None),
        ],
        "subj string, pred string, obj string, graph string",
    )
    out = str(tmp_path / "nq")
    write_nquads(quads, out)
    lines = {r["value"] for r in spark.read.text(out).collect()}
    assert lines == {"<s1> <p> <o> <g1> .", '<s2> <p> "v" .'}


def test_full_iri_in_where(triples):
    # regression: dots inside <IRI> tokens must not split statements
    out = sparql_select(
        triples,
        """SELECT ?n WHERE {
            ?x <http://example.org/knows> ?y .
            ?y <http://example.org/name> ?n .
        }""",
    )
    assert rows(out) == {('"bob"',), ('"carol"',)}


def test_optional_no_shared_vars_keeps_left(triples):
    # OPTIONAL group sharing no variables with the required side: SPARQL
    # leftjoin keeps every left solution even when the optional group
    # matches zero rows (a crossJoin would return zero rows)
    out = sparql_select(
        triples,
        """PREFIX ex: <http://example.org/>
        SELECT ?n ?z WHERE {
            ?x ex:name ?n .
            OPTIONAL { ?w ex:nosuchpredicate ?z }
        }""",
    )
    got = rows(out)
    assert got == {('"alice"', None), ('"bob"', None), ('"carol"', None)}


def test_filter_in_and_not_in(triples):
    out = sparql_select(
        triples,
        """PREFIX ex: <http://example.org/>
        SELECT ?n WHERE { ?x ex:name ?n FILTER (?n IN ("alice", "carol")) }""",
    )
    assert rows(out) == {('"alice"',), ('"carol"',)}
    out2 = sparql_select(
        triples,
        """PREFIX ex: <http://example.org/>
        SELECT ?n WHERE { ?x ex:name ?n FILTER (?n NOT IN ("alice", "carol")) }""",
    )
    assert rows(out2) == {('"bob"',)}


def test_filter_cast_and_arithmetic(triples):
    out = sparql_select(
        triples,
        """PREFIX ex: <http://example.org/>
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        SELECT ?n WHERE {
            ?x ex:name ?n . ?x ex:age ?age
            FILTER (xsd:integer(?age) * 2 >= 50 && xsd:integer(?age) - 10 < 30)
        }""",
    )
    assert rows(out) == {('"alice"',)}  # 30*2=60>=50, 30-10=20<30; bob 17*2<50


def test_filter_str_and_nested_parens(triples):
    out = sparql_select(
        triples,
        """PREFIX ex: <http://example.org/>
        SELECT ?n WHERE {
            ?x ex:name ?n FILTER (STR(?n) = "bob" || (STR(?n) = "carol" && ?n != "alice"))
        }""",
    )
    assert rows(out) == {('"bob"',), ('"carol"',)}


def test_graph_patterns(spark):
    quads = spark.createDataFrame(
        [
            ("<http://x/s1>", "<http://x/p>", '"a"', "<http://x/g1>"),
            ("<http://x/s2>", "<http://x/p>", '"b"', "<http://x/g2>"),
            ("<http://x/s3>", "<http://x/p>", '"c"', None),
        ],
        "subj string, pred string, obj string, graph string",
    )
    # GRAPH ?g ranges over named graphs only and binds ?g
    named = sparql_select(
        quads, "SELECT ?g ?o WHERE { GRAPH ?g { ?s <http://x/p> ?o } }"
    )
    assert rows(named) == {("<http://x/g1>", '"a"'), ("<http://x/g2>", '"b"')}
    # constant GRAPH restricts to one named graph
    one = sparql_select(
        quads, "SELECT ?o WHERE { GRAPH <http://x/g2> { ?s ?p ?o } }"
    )
    assert rows(one) == {('"b"',)}
    # patterns outside GRAPH match the default graph only
    dflt = sparql_select(quads, "SELECT ?o WHERE { ?s <http://x/p> ?o }")
    assert rows(dflt) == {('"c"',)}


def test_dataset_clauses(spark):
    """FROM / FROM NAMED (SPARQL 1.1 §13.2): FROM graphs merge (set
    union) into the queried default graph, FROM NAMED graphs are the
    only named graphs; either clause alone empties the other part."""
    quads = spark.createDataFrame(
        [
            ("<http://x/s1>", "<http://x/p>", '"a"', "<http://x/g1>"),
            ("<http://x/s2>", "<http://x/p>", '"b"', "<http://x/g2>"),
            # duplicate of g1's triple in g2: merge keeps ONE copy
            ("<http://x/s1>", "<http://x/p>", '"a"', "<http://x/g2>"),
            ("<http://x/s3>", "<http://x/p>", '"c"', None),
        ],
        "subj string, pred string, obj string, graph string",
    )
    # FROM: default graph = union of the listed graphs; the store's own
    # default graph is NOT part of the dataset
    out = sparql_select(
        quads,
        "SELECT ?s ?o FROM <http://x/g1> FROM <http://x/g2> "
        "WHERE { ?s <http://x/p> ?o }",
    )
    assert rows(out) == {
        ("<http://x/s1>", '"a"'),
        ("<http://x/s2>", '"b"'),
    }
    # the merge is a set union: non-DISTINCT COUNT sees the shared
    # triple once
    cnt = sparql_select(
        quads,
        "SELECT (COUNT(?s) AS ?n) FROM <http://x/g1> FROM <http://x/g2> "
        "WHERE { ?s ?p ?o }",
    ).collect()
    assert cnt[0]["n"] == 2
    # FROM NAMED restricts GRAPH ?g; with no FROM the default graph is
    # empty, so a default-position pattern matches nothing
    out = sparql_select(
        quads,
        "SELECT ?g ?o FROM NAMED <http://x/g2> "
        "WHERE { GRAPH ?g { ?s ?p ?o } }",
    )
    assert rows(out) == {("<http://x/g2>", '"b"'), ("<http://x/g2>", '"a"')}
    empty = sparql_select(
        quads,
        "SELECT ?o FROM NAMED <http://x/g2> WHERE { ?s <http://x/p> ?o }",
    )
    assert empty.count() == 0
    # both clauses; prefixed graph names expand; GRAPH <g> outside
    # FROM NAMED matches nothing
    out = sparql_select(
        quads,
        "PREFIX x: <http://x/> SELECT ?o ?v FROM x:g1 FROM NAMED x:g2 "
        "WHERE { ?s <http://x/p> ?o . GRAPH <http://x/g2> { ?t <http://x/p> ?v } }",
    )
    assert rows(out) == {('"a"', '"b"'), ('"a"', '"a"')}
    none = sparql_select(
        quads,
        "SELECT ?v FROM NAMED <http://x/g2> "
        "WHERE { GRAPH <http://x/g1> { ?t ?p ?v } }",
    )
    assert none.count() == 0


def test_construct_dataset_clause(spark):
    from morph_xr2rml_spark.sparql import sparql_construct

    quads = spark.createDataFrame(
        [
            ("<http://x/s1>", "<http://x/p>", '"a"', "<http://x/g1>"),
            ("<http://x/s2>", "<http://x/p>", '"b"', "<http://x/g2>"),
            ("<http://x/s3>", "<http://x/p>", '"c"', None),
        ],
        "subj string, pred string, obj string, graph string",
    )
    out = sparql_construct(
        quads,
        "CONSTRUCT { ?s <http://x/q> ?o } FROM <http://x/g1> "
        "WHERE { ?s <http://x/p> ?o }",
    )
    assert rows(out) == {("<http://x/s1>", "<http://x/q>", '"a"')}


def test_rdfxml_and_n3(spark, triples):
    from xml.dom import minidom

    from morph_xr2rml_spark.sinks.serialize import to_n3, to_rdfxml

    xml = to_rdfxml(triples)
    doc = minidom.parseString(xml)  # well-formed
    descs = doc.getElementsByTagName("rdf:Description")
    assert len(descs) == 3  # p/1 p/2 p/3
    assert 'rdf:about="http://example.org/p/1"' in xml
    assert 'rdf:datatype="http://www.w3.org/2001/XMLSchema#integer">30<' in xml
    assert 'rdf:resource="http://example.org/p/2"' in xml

    n3 = to_n3(triples, {"ex": "http://example.org/"})
    assert "@prefix ex: <http://example.org/> ." in n3
    assert 'ex:name "alice"' in n3


def test_sparql_endpoint(spark, triples):
    import json as _json
    import urllib.parse
    import urllib.request

    from morph_xr2rml_spark.sparql.endpoint import SparqlEndpoint

    ep = SparqlEndpoint(triples).start()
    base = f"http://127.0.0.1:{ep.port}/sparql"
    try:
        with urllib.request.urlopen(base + "/test") as r:
            assert b"up and running" in r.read()
        q = ('PREFIX ex: <http://example.org/> '
             'SELECT ?n WHERE { ?x ex:knows ?y . ?y ex:name ?n }')
        with urllib.request.urlopen(
            base + "?query=" + urllib.parse.quote(q)
        ) as r:
            assert r.headers.get_content_type() == "application/sparql-results+json"
            got = _json.loads(r.read())
        names = {b["n"]["value"] for b in got["results"]["bindings"]}
        assert names == {"bob", "carol"}
        # POST form-urlencoded + ASK + XML accept
        aq = 'PREFIX ex: <http://example.org/> ASK WHERE { ?x ex:name "alice" }'
        req = urllib.request.Request(
            base, data=urllib.parse.urlencode({"query": aq}).encode(),
            headers={"Accept": "application/sparql-results+xml"},
        )
        with urllib.request.urlopen(req) as r:
            assert b"<boolean>true</boolean>" in r.read()
        # CONSTRUCT via raw sparql-query POST -> N-Triples
        cq = ('PREFIX ex: <http://example.org/> '
              'CONSTRUCT { ?y ex:knownBy ?x } WHERE { ?x ex:knows ?y }')
        req = urllib.request.Request(
            base, data=cq.encode(),
            headers={"Content-Type": "application/sparql-query"},
        )
        with urllib.request.urlopen(req) as r:
            body = r.read().decode()
        assert "<http://example.org/p/2> <http://example.org/knownBy> "\
               "<http://example.org/p/1> ." in body
        # bad query -> 400
        try:
            urllib.request.urlopen(base + "?query=nonsense")
            raise AssertionError("expected HTTP 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
        # a malformed POST -> 400, not a dropped connection
        for length, body in (("abc", b"ASK {}"), ("-1", b"ASK {}"),
                             ("3", b"\xff\xfe\xfd")):
            status = _raw_post(ep.port, length, body).split(b"\r\n", 1)[0]
            assert status.split()[1:2] == [b"400"], (length, body, status)
    finally:
        ep.stop()


def _raw_post(port: int, length: str, body: bytes) -> bytes:
    """The whole reply to a raw sparql-query POST with the given
    ``Content-Length`` header and body; the request side is shut after
    the body, so a server that reads to the end sees it end."""
    import socket

    head = (
        "POST /sparql HTTP/1.1\r\nHost: localhost\r\n"
        "Content-Type: application/sparql-query\r\n"
        f"Content-Length: {length}\r\n\r\n"
    )
    with socket.create_connection(("127.0.0.1", port), timeout=30) as sock:
        sock.sendall(head.encode() + body)
        sock.shutdown(socket.SHUT_WR)
        reply = b""
        while chunk := sock.recv(4096):
            reply += chunk
    return reply


def test_bind_expression(triples):
    out = sparql_select(
        triples,
        """PREFIX ex: <http://example.org/>
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        SELECT ?x ?a2 WHERE {
            ?x ex:age ?a . BIND(xsd:integer(?a) * 2 + 1 AS ?a2)
            FILTER (?a2 > 40) }""",
    )
    assert rows(out) == {(f"<{EX}p/1>", 61.0)}


def test_bind_str(triples):
    out = sparql_select(
        triples,
        """PREFIX ex: <http://example.org/>
        SELECT ?x ?n WHERE { ?x ex:name ?raw . BIND(STR(?raw) AS ?n) }""",
    )
    assert rows(out) == {
        (f"<{EX}p/1>", "alice"),
        (f"<{EX}p/2>", "bob"),
        (f"<{EX}p/3>", "carol"),
    }


def test_values_single_var(triples):
    out = sparql_select(
        triples,
        """PREFIX ex: <http://example.org/>
        SELECT ?x ?n WHERE {
            ?x ex:name ?n . VALUES ?n { "alice" "carol" } }""",
    )
    assert rows(out) == {(f"<{EX}p/1>", '"alice"'), (f"<{EX}p/3>", '"carol"')}


def test_values_multi_var_undef(triples):
    out = sparql_select(
        triples,
        """PREFIX ex: <http://example.org/>
        SELECT ?x ?n ?tag WHERE {
            ?x ex:name ?n .
            VALUES (?x ?tag) { (<http://example.org/p/1> "first")
                               (<http://example.org/p/3> UNDEF) } }""",
    )
    assert rows(out) == {
        (f"<{EX}p/1>", '"alice"', '"first"'),
        (f"<{EX}p/3>", '"carol"', None),
    }


def test_values_numeric_literal(triples):
    out = sparql_select(
        triples,
        """PREFIX ex: <http://example.org/>
        SELECT ?x WHERE { ?x ex:age ?a . VALUES ?a { 30 } }""",
    )
    assert rows(out) == {(f"<{EX}p/1>",)}


def test_filter_exists(triples):
    out = sparql_select(
        triples,
        """PREFIX ex: <http://example.org/>
        SELECT ?x WHERE { ?x ex:name ?n .
            FILTER EXISTS { ?x ex:age ?a } }""",
    )
    assert rows(out) == {(f"<{EX}p/1>",), (f"<{EX}p/2>",)}


def test_filter_not_exists(triples):
    out = sparql_select(
        triples,
        """PREFIX ex: <http://example.org/>
        SELECT ?x WHERE { ?x ex:name ?n .
            FILTER NOT EXISTS { ?x ex:age ?a } }""",
    )
    assert rows(out) == {(f"<{EX}p/3>",)}


def test_filter_not_exists_with_constant(triples):
    # anti-join against a sub-pattern with a constant object
    out = sparql_select(
        triples,
        """PREFIX ex: <http://example.org/>
        SELECT ?x WHERE { ?x a ex:Person .
            FILTER NOT EXISTS { ?x ex:knows <http://example.org/p/2> } }""",
    )
    assert rows(out) == {(f"<{EX}p/2>",)}


# ---------------------------------------------------------------------------
# SPARQL 1.1 extensions: MINUS, HAVING, extra aggregates, term/string
# functions, property paths
# ---------------------------------------------------------------------------


def test_minus(triples):
    got = rows(
        sparql_select(
            triples,
            """PREFIX ex: <http://example.org/>
            SELECT ?s WHERE { ?s ex:name ?n . MINUS { ?s ex:age ?a } }""",
        )
    )
    assert got == {(f"<{EX}p/3>",)}  # only carol has no age


def test_minus_disjoint_removes_nothing(triples):
    got = rows(
        sparql_select(
            triples,
            """PREFIX ex: <http://example.org/>
            SELECT ?s WHERE { ?s ex:name ?n . MINUS { ?x ex:age ?a } }""",
        )
    )
    assert len(got) == 3  # no shared vars -> MINUS is a no-op


def test_having_and_group_concat(triples):
    df = sparql_select(
        triples,
        """PREFIX ex: <http://example.org/>
        SELECT ?s (COUNT(?o) AS ?n) (GROUP_CONCAT(?o; SEPARATOR="|") AS ?os)
        WHERE { ?s ?p ?o } GROUP BY ?s HAVING(COUNT(?o) > 2) ORDER BY ?s""",
    )
    out = df.collect()
    assert [r["s"] for r in out] == [f"<{EX}p/1>", f"<{EX}p/2>"]
    assert all(r["n"] == 4 for r in out)
    assert "|" in out[0]["os"] and out[0]["os"] == "|".join(sorted(out[0]["os"].split("|")))


def test_sample_and_count_distinct(triples):
    out = sparql_select(
        triples,
        """PREFIX ex: <http://example.org/>
        SELECT (SAMPLE(?n) AS ?one) (COUNT(DISTINCT ?s) AS ?np)
        WHERE { ?s ex:name ?n }""",
    ).collect()[0]
    assert out["one"] == '"alice"'  # deterministic min
    assert out["np"] == 3


def test_string_functions(triples):
    got = rows(
        sparql_select(
            triples,
            """PREFIX ex: <http://example.org/>
            SELECT ?n WHERE {
                ?s ex:name ?n .
                FILTER(STRSTARTS(STR(?n), "a") || CONTAINS(STR(?n), "aro"))
            }""",
        )
    )
    assert got == {('"alice"',), ('"carol"',)}
    out = sparql_select(
        triples,
        """PREFIX ex: <http://example.org/>
        SELECT ?u WHERE { <http://example.org/p/1> ex:name ?n .
            BIND(UCASE(CONCAT(STR(?n), "-", SUBSTR(STR(?n), 1, 2))) AS ?u) }""",
    ).collect()
    assert out[0]["u"] == "ALICE-AL"


def test_term_tests_and_datatype(triples):
    got = rows(
        sparql_select(
            triples,
            """PREFIX ex: <http://example.org/>
            PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
            SELECT ?s WHERE { ?s ex:age ?a .
                FILTER(ISLITERAL(?a) && !ISIRI(?a) && DATATYPE(?a) = xsd:integer)
            }""",
        )
    )
    assert len(got) == 2
    out = sparql_select(
        triples,
        """PREFIX ex: <http://example.org/>
        SELECT ?s WHERE { ?s ex:knows ?o . FILTER(ISIRI(?o)) }""",
    ).collect()
    assert len(out) == 2


def test_coalesce_if(triples):
    out = sparql_select(
        triples,
        """PREFIX ex: <http://example.org/>
        SELECT ?s ?c WHERE {
            ?s ex:name ?n . OPTIONAL { ?s ex:age ?a }
            BIND(COALESCE(?a, "none") AS ?c)
        } ORDER BY ?s""",
    ).collect()
    assert [r["c"] for r in out] == [
        '"30"^^<http://www.w3.org/2001/XMLSchema#integer>',
        '"17"^^<http://www.w3.org/2001/XMLSchema#integer>',
        '"none"',
    ]
    out = sparql_select(
        triples,
        """PREFIX ex: <http://example.org/>
        SELECT ?s ?k WHERE { ?s ex:age ?a .
            BIND(IF(?a >= 18, "adult", "minor") AS ?k) } ORDER BY ?s""",
    ).collect()
    assert [r["k"] for r in out] == ['"adult"', '"minor"']


def test_path_sequence_and_inverse(triples):
    got = rows(
        sparql_select(
            triples,
            """PREFIX ex: <http://example.org/>
            SELECT ?n WHERE { <http://example.org/p/1> ex:knows/ex:name ?n }""",
        )
    )
    assert got == {('"bob"',)}
    got = rows(
        sparql_select(
            triples,
            """PREFIX ex: <http://example.org/>
            SELECT ?s WHERE { ?s ^ex:knows <http://example.org/p/1> }""",
        )
    )
    # (?s, p1) in ^knows  <=>  p1 knows ?s  => s = p2
    assert got == {(f"<{EX}p/2>",)}


def test_path_alternation(triples):
    got = rows(
        sparql_select(
            triples,
            """PREFIX ex: <http://example.org/>
            SELECT DISTINCT ?v WHERE { <http://example.org/p/2> (ex:name|ex:age) ?v }""",
        )
    )
    assert got == {('"bob"',), ('"17"^^<http://www.w3.org/2001/XMLSchema#integer>',)}


def test_path_transitive_plus(spark):
    # chain with a cycle: closure must terminate and be complete
    E = "http://example.org/"
    rows_ = [
        (f"<{E}a>", f"<{E}r>", f"<{E}b>"),
        (f"<{E}b>", f"<{E}r>", f"<{E}c>"),
        (f"<{E}c>", f"<{E}r>", f"<{E}a>"),
    ]
    t = spark.createDataFrame(rows_, "subj string, pred string, obj string")
    got = rows(
        sparql_select(
            t,
            """PREFIX ex: <http://example.org/>
            SELECT ?x ?y WHERE { ?x ex:r+ ?y }""",
        )
    )
    assert len(got) == 9  # full 3x3 closure on the cycle
    got = rows(
        sparql_select(
            t,
            """PREFIX ex: <http://example.org/>
            SELECT ?y WHERE { <http://example.org/a> ex:r* ?y }""",
        )
    )
    assert got == {(f"<{E}a>",), (f"<{E}b>",), (f"<{E}c>",)}


def test_path_seq_of_plus(triples):
    got = rows(
        sparql_select(
            triples,
            """PREFIX ex: <http://example.org/>
            SELECT ?n WHERE { <http://example.org/p/1> (ex:knows+)/ex:name ?n }""",
        )
    )
    assert got == {('"bob"',), ('"carol"',)}


def test_subquery(triples):
    # inner subquery picks the people with an age; outer joins names
    got = rows(
        sparql_select(
            triples,
            """PREFIX ex: <http://example.org/>
            SELECT ?s ?n WHERE {
                ?s ex:name ?n .
                { SELECT ?s WHERE { ?s ex:age ?a . FILTER(?a >= 18) } }
            }""",
        )
    )
    assert got == {(f"<{EX}p/1>", '"alice"')}


def test_subquery_with_aggregate(triples):
    # classic pattern: aggregate in a subquery, join outward
    out = sparql_select(
        triples,
        """PREFIX ex: <http://example.org/>
        SELECT ?s ?n ?deg WHERE {
            ?s ex:name ?n .
            { SELECT ?s (COUNT(?o) AS ?deg) WHERE { ?s ex:knows ?o } GROUP BY ?s }
        } ORDER BY ?s""",
    ).collect()
    assert [(r["n"], r["deg"]) for r in out] == [('"alice"', 1), ('"bob"', 1)]


def test_path_negated_property_set(triples):
    got = rows(
        sparql_select(
            triples,
            """PREFIX ex: <http://example.org/>
            SELECT ?o WHERE { <http://example.org/p/1> !(ex:name|ex:age) ?o }""",
        )
    )
    # everything about p/1 except name and age: knows + rdf:type
    assert got == {(f"<{EX}p/2>",), (f"<{EX}Person>",)}
    got = rows(
        sparql_select(
            triples,
            """PREFIX ex: <http://example.org/>
            SELECT ?o WHERE { <http://example.org/p/3> !ex:missing ?o }""",
        )
    )
    assert got == {('"carol"',)}  # p/3's only edge is its name


@pytest.mark.parametrize(
    "path,subject,want",
    [
        # edges into p/2 whose predicate is not name, walked backwards:
        # only p/1 knows p/2
        ("!(^ex:name)", "p/2", {(f"<{EX}p/1>",)}),
        # forward edges of p/2 other than name (age, knows, type), and
        # no backward edge into p/2 other than knows
        (
            "!(^ex:knows|ex:name)",
            "p/2",
            {
                ('"17"^^<http://www.w3.org/2001/XMLSchema#integer>',),
                (f"<{EX}p/3>",),
                (f"<{EX}Person>",),
            },
        ),
        # p/3 is the object of p/2 knows p/3 only
        ("!^ex:name", "p/3", {(f"<{EX}p/2>",)}),
        ("!^ex:knows", "p/3", set()),
    ],
)
def test_path_negated_property_set_inverse_members(triples, path, subject, want):
    got = rows(
        sparql_select(
            triples,
            f"""PREFIX ex: <http://example.org/>
            SELECT ?o WHERE {{ <{EX}{subject}> {path} ?o }}""",
        )
    )
    assert got == want


def test_datetime_variables_order_by_value(spark):
    """?a < ?b over two xsd:dateTime bindings compares instants, also
    within one year."""
    dt = "http://www.w3.org/2001/XMLSchema#dateTime"
    jan = f'"2020-01-01T00:00:00Z"^^<{dt}>'
    jun = f'"2020-06-01T00:00:00Z"^^<{dt}>'
    df = spark.createDataFrame(
        [
            (f"<{EX}e/1>", f"<{EX}start>", jan),
            (f"<{EX}e/1>", f"<{EX}end>", jun),
            (f"<{EX}e/2>", f"<{EX}start>", jun),
            (f"<{EX}e/2>", f"<{EX}end>", jan),
        ],
        "subj string, pred string, obj string",
    )

    def events(op):
        return rows(
            sparql_select(
                df,
                f"""SELECT ?e WHERE {{ ?e <{EX}start> ?a . ?e <{EX}end> ?b
                    FILTER(?a {op} ?b) }}""",
            )
        )

    assert events("<") == {(f"<{EX}e/1>",)}
    assert events(">") == {(f"<{EX}e/2>",)}
    assert events("<=") == {(f"<{EX}e/1>",)}


def test_describe_where(triples):
    from morph_xr2rml_spark.sparql import sparql_describe

    out = sparql_describe(
        triples,
        """PREFIX ex: <http://example.org/>
        DESCRIBE ?x WHERE { ?x ex:age ?a . FILTER(?a >= 18) }""",
    )
    got = rows(out)
    # p/1 is the only adult: every triple with p/1 as subject or object
    assert (f"<{EX}p/1>", f"<{EX}name>", '"alice"') in got
    assert (f"<{EX}p/1>", f"<{EX}knows>", f"<{EX}p/2>") in got
    assert all(f"<{EX}p/1>" in (s, o) for s, _, o in got)
    assert len(got) == 4  # name, age, knows, rdf:type


def test_parser_whitespace_and_comment_invariance():
    """Property: inserting comments / varying inter-token whitespace
    does not change the parse (guards the tokenizer and parser
    against formatting sensitivity)."""
    from hypothesis import given, settings, strategies as st

    base = (
        "PREFIX ex: <http://example.org/>\n"
        "SELECT DISTINCT ?a ?b WHERE {\n"
        "?a ex:knows ?b .\n"
        "OPTIONAL { ?b ex:age ?g }\n"
        "FILTER(BOUND(?g) && ?g > 3)\n"
        "} ORDER BY ?a LIMIT 7"
    )
    want = parse_sparql(base)

    @settings(max_examples=60, deadline=None)
    @given(
        pad=st.lists(
            st.sampled_from([" ", "  ", "\n", "\t", "\n# a comment\n"]),
            min_size=6,
            max_size=6,
        )
    )
    def check(pad):
        q = (
            f"PREFIX ex: <http://example.org/>{pad[0]}"
            f"SELECT DISTINCT ?a ?b{pad[1]}WHERE {{{pad[2]}"
            f"?a ex:knows ?b .{pad[3]}"
            f"OPTIONAL {{ ?b ex:age ?g }}{pad[4]}"
            f"FILTER(BOUND(?g) && ?g > 3)\n"
            f"}}{pad[5]}ORDER BY ?a LIMIT 7"
        )
        assert parse_sparql(q) == want

    check()

    # the same under any quote spelling of a literal holding '#', braces,
    # '.', ',' and ')', a comment at every token boundary, and any
    # keyword case
    text = "a#b{c}d.e,f)g"
    spellings = [f'"{text}"', f"'{text}'", f'"""{text}"""', f"'''{text}'''"]
    keywords = {"PREFIX", "SELECT", "DISTINCT", "WHERE", "OPTIONAL", "FILTER",
                "BOUND", "VALUES", "ORDER", "BY", "DESC", "LIMIT"}
    tokens = (
        "PREFIX ex: <http://example.org/> SELECT DISTINCT ?a ?b WHERE { "
        "?a ex:knows ?b , ?c ; ex:name LIT . "
        "OPTIONAL { ?b ex:age ?g } "
        "FILTER ( BOUND ( ?g ) && ?g > 3 && ?n != LIT ) "
        "VALUES ?n { LIT } "
        "} ORDER BY DESC ( ?a ) LIMIT 7"
    ).split()
    want = parse_sparql(" ".join(spellings[0] if t == "LIT" else t for t in tokens))

    @settings(max_examples=60, deadline=None)
    @given(
        quote=st.sampled_from(spellings),
        pads=st.lists(
            st.sampled_from([" ", "\n", "\t", "# a comment\n", " #c}).,'\"\n"]),
            min_size=len(tokens),
            max_size=len(tokens),
        ),
        cases=st.lists(
            st.sampled_from([str.upper, str.lower, str.title]),
            min_size=len(tokens),
            max_size=len(tokens),
        ),
    )
    def check_literals(quote, pads, cases):
        q = "".join(
            (quote if t == "LIT" else case(t) if t in keywords else t) + pad
            for t, pad, case in zip(tokens, pads, cases)
        )
        assert parse_sparql(q) == want

    check_literals()


def test_construct_where_shorthand(triples):
    from morph_xr2rml_spark.sparql import sparql_construct

    out = sparql_construct(
        triples,
        """PREFIX ex: <http://example.org/>
        CONSTRUCT WHERE { ?x ex:knows ?y }""",
    )
    got = rows(out)
    assert got == {
        (f"<{EX}p/1>", f"<{EX}knows>", f"<{EX}p/2>"),
        (f"<{EX}p/2>", f"<{EX}knows>", f"<{EX}p/3>"),
    }


def test_endpoint_describe_var(spark, triples):
    import urllib.request

    from morph_xr2rml_spark.sparql.endpoint import SparqlEndpoint

    ep = SparqlEndpoint(triples).start()
    try:
        q = urllib.request.quote(
            "PREFIX ex: <http://example.org/> "
            "DESCRIBE ?x WHERE { ?x ex:age ?a . FILTER(?a >= 18) }"
        )
        with urllib.request.urlopen(
            f"http://127.0.0.1:{ep.port}/sparql?query={q}", timeout=60
        ) as resp:
            body = resp.read().decode()
            assert resp.headers["Content-Type"].startswith("application/n-triples")
    finally:
        ep.stop()
    lines = {l for l in body.splitlines() if l.strip()}
    assert f"<{EX}p/1> <{EX}name> \"alice\" ." in lines
    assert len(lines) == 4


def test_construct_rejects_path_template(triples):
    from morph_xr2rml_spark.sparql import sparql_construct

    with pytest.raises(ValueError, match="property paths"):
        sparql_construct(
            triples,
            """PREFIX ex: <http://example.org/>
            CONSTRUCT { ?x ex:a/ex:b ?y } WHERE { ?x ex:knows ?y }""",
        )


def test_predicate_object_lists(triples):
    # ';' predicate lists and ',' object lists (Turtle abbreviation)
    got = rows(
        sparql_select(
            triples,
            """PREFIX ex: <http://example.org/>
            SELECT ?n ?a WHERE { ?x ex:name ?n ; ex:age ?a }""",
        )
    )
    assert got == {
        ('"alice"', '"30"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        ('"bob"', '"17"^^<http://www.w3.org/2001/XMLSchema#integer>'),
    }
    got = rows(
        sparql_select(
            triples,
            """PREFIX ex: <http://example.org/>
            SELECT ?x WHERE { ?x ex:name "alice" , "bob" }""",
        )
    )
    assert got == set()  # object list = same subject has BOTH names
    got = rows(
        sparql_select(
            triples,
            """PREFIX ex: <http://example.org/>
            SELECT ?x WHERE { ?x a ex:Person ; ex:knows ?y . ?y ex:name ?n }""",
        )
    )
    assert got == {(f"<{EX}p/1>",), (f"<{EX}p/2>",)}


def test_union_with_subquery_branch(triples):
    got = rows(
        sparql_select(
            triples,
            """PREFIX ex: <http://example.org/>
            SELECT ?x WHERE {
                { SELECT ?x WHERE { ?x ex:age ?a . FILTER(?a >= 18) } }
                UNION
                { ?x ex:name "carol" }
            }""",
        )
    )
    assert got == {(f"<{EX}p/1>",), (f"<{EX}p/3>",)}


def test_langmatches_prefix_range(spark):
    t = spark.createDataFrame(
        [
            ("<e:a>", "<e:p>", '"color"@en-US'),
            ("<e:b>", "<e:p>", '"colour"@en'),
            ("<e:c>", "<e:p>", '"couleur"@fr'),
        ],
        "subj string, pred string, obj string",
    )
    got = rows(
        sparql_select(
            t,
            """SELECT ?s WHERE { ?s <e:p> ?o . FILTER(LANGMATCHES(LANG(?o), "en")) }""",
        )
    )
    assert got == {("<e:a>",), ("<e:b>",)}  # 'en' matches 'en-US' too


def test_variable_in_path_raises(triples):
    with pytest.raises(ValueError, match="property-path"):
        parse_sparql(
            """PREFIX ex: <http://example.org/>
            SELECT ?x ?y WHERE { ?x (?p)+ ?y }"""
        )
    with pytest.raises(ValueError, match="property-path"):
        parse_sparql(
            """PREFIX ex: <http://example.org/>
            SELECT ?x ?y WHERE { ?x ex:a/?p ?y }"""
        )


def test_blank_node_property_list(triples):
    # object position: ?x knows [ ex:name ?n ]
    got = rows(
        sparql_select(
            triples,
            """PREFIX ex: <http://example.org/>
            SELECT ?x ?n WHERE { ?x ex:knows [ ex:name ?n ] }""",
        )
    )
    assert got == {
        (f"<{EX}p/1>", '"bob"'),
        (f"<{EX}p/2>", '"carol"'),
    }
    # subject position with ';' inside the brackets
    got = rows(
        sparql_select(
            triples,
            """PREFIX ex: <http://example.org/>
            SELECT ?n WHERE { [ a ex:Person ; ex:name ?n ] ex:knows ?y }""",
        )
    )
    assert got == {('"alice"',), ('"bob"',)}
    # a bare property list is a complete triple pattern; SELECT * hides
    # the internal variable
    df = sparql_select(
        triples,
        """PREFIX ex: <http://example.org/>
        SELECT * WHERE { [ ex:name ?n ; ex:age ?a ] }""",
    )
    assert sorted(df.columns) == ["a", "n"]
    assert df.count() == 2


def test_blank_node_nested_and_empty(triples):
    # nested property lists
    got = rows(
        sparql_select(
            triples,
            """PREFIX ex: <http://example.org/>
            SELECT ?n2 WHERE { ?x ex:knows [ ex:knows [ ex:name ?n2 ] ] }""",
        )
    )
    assert got == {('"carol"',)}  # p1 knows p2 knows p3
    # [] = "any object" wildcard
    got = rows(
        sparql_select(
            triples,
            """PREFIX ex: <http://example.org/>
            SELECT ?x WHERE { ?x ex:knows [] }""",
        )
    )
    assert got == {(f"<{EX}p/1>",), (f"<{EX}p/2>",)}


def test_union_mismatched_variables(triples):
    # branches binding different variables: absent vars are unbound
    out = sparql_select(
        triples,
        """PREFIX ex: <http://example.org/>
        SELECT ?x ?n ?a WHERE {
            { ?x ex:name ?n . FILTER(?n = "carol") }
            UNION
            { ?x ex:age ?a . FILTER(?a > 20) }
        }""",
    ).collect()
    got = {(r["x"], r["n"], r["a"]) for r in out}
    assert got == {
        (f"<{EX}p/3>", '"carol"', None),
        (f"<{EX}p/1>", None, '"30"^^<http://www.w3.org/2001/XMLSchema#integer>'),
    }


# ---------------------------------------------------------------------------
# round 3: value-ordered ORDER BY, clause order, comment/WHERE-less
# parsing, SPARQL-compatible joins over maybe-unbound variables
# ---------------------------------------------------------------------------


def test_offset_before_limit(triples):
    # SPARQL LimitOffsetClauses allows 'OFFSET n LIMIT m' too; the old
    # tail regex silently dropped the OFFSET in that order
    q = parse_sparql(
        """PREFIX ex: <http://example.org/>
        SELECT ?n WHERE { ?x ex:name ?n } ORDER BY ?n OFFSET 1 LIMIT 1"""
    )
    assert q.limit == 1 and q.offset == 1
    out = sparql_select(
        triples,
        """PREFIX ex: <http://example.org/>
        SELECT ?n WHERE { ?x ex:name ?n } ORDER BY ?n OFFSET 1 LIMIT 1""",
    )
    assert rows(out) == {('"bob"',)}


def test_unparsed_tail_raises():
    with pytest.raises(ValueError, match="unparsed text"):
        parse_sparql("SELECT ?x WHERE { ?x ?p ?o } FROB 3")
    with pytest.raises(ValueError):
        parse_sparql("SELECT ?x WHERE { ?x ?p ?o } LIMIT 3 junk")


def test_order_by_numeric_value(spark):
    # typed numeric literals order by VALUE: 2 < 9 < 10 (lexical order
    # would put "10" before "2")
    xsd = "http://www.w3.org/2001/XMLSchema#integer"
    rws = [
        (f"<{EX}i/a>", f"<{EX}score>", f'"10"^^<{xsd}>'),
        (f"<{EX}i/b>", f"<{EX}score>", f'"2"^^<{xsd}>'),
        (f"<{EX}i/c>", f"<{EX}score>", f'"9"^^<{xsd}>'),
    ]
    t = spark.createDataFrame(rws, "subj string, pred string, obj string")
    asc = sparql_select(
        t,
        f"SELECT ?s WHERE {{ ?x <{EX}score> ?s }} ORDER BY ?s",
    ).collect()
    assert [r["s"].split('"')[1] for r in asc] == ["2", "9", "10"]
    desc = sparql_select(
        t,
        f"SELECT ?s WHERE {{ ?x <{EX}score> ?s }} ORDER BY DESC(?s) LIMIT 2",
    ).collect()
    assert [r["s"].split('"')[1] for r in desc] == ["10", "9"]


def test_order_by_aggregate_alias(triples):
    out = sparql_select(
        triples,
        """PREFIX ex: <http://example.org/>
        SELECT ?x (COUNT(?p) AS ?c) WHERE { ?x ?p ?o }
        GROUP BY ?x ORDER BY DESC(?c) ?x LIMIT 1""",
    ).collect()
    # p/1 has the most triples (name, age, knows, type)
    assert out[0]["x"] == f"<{EX}p/1>" and out[0]["c"] == 4


def test_order_by_expression(triples):
    out = sparql_select(
        triples,
        """PREFIX ex: <http://example.org/>
        SELECT ?n WHERE { ?x ex:name ?n } ORDER BY ASC(STRLEN(?n)) LIMIT 1""",
    ).collect()
    assert out[0]["n"] == '"bob"'  # the only 3-char name


def test_comment_after_less_than():
    # a '<' comparison must not open IRI mode and swallow the comment
    q = parse_sparql(
        """SELECT ?x WHERE {
            ?x <http://example.org/age> ?a .
            FILTER(?a < 5)   # drop adults
            ?x <http://example.org/name> ?n .  # another comment
        }"""
    )
    assert len(q.where.patterns) == 2 and len(q.where.filters) == 1


def test_where_less_select(triples):
    out = sparql_select(
        triples,
        """PREFIX ex: <http://example.org/>
        SELECT ?n { ?x ex:name ?n }""",
    )
    assert rows(out) == {('"alice"',), ('"bob"',), ('"carol"',)}


def test_where_less_ask_endpoint(spark, triples):
    # 'ASK { ... }' (WHERE omitted, as the grammar allows) must work
    # through the protocol endpoint's ASK -> SELECT * rewrite
    from morph_xr2rml_spark.sparql.endpoint import evaluate

    ctype, body = evaluate(triples, "ASK { ?s ?p ?o }")
    assert "true" in body and "json" in ctype
    ctype, body = evaluate(
        triples, 'ASK { ?s <http://example.org/nope> ?o }'
    )
    assert "false" in body


def test_union_unbound_shared_var_joins_compatibly(spark):
    # the ADVICE case: branch 2 leaves ?s unbound; SPARQL compatibility
    # says unbound matches anything, so its solutions must survive the
    # join with the outer ?s pattern
    rws = [
        (f"<{EX}s1>", f"<{EX}p>", '"o1"'),
        (f"<{EX}s2>", f"<{EX}p>", '"o2"'),
        (f"<{EX}s1>", f"<{EX}q>", '"z1"'),
        (f"<{EX}w1>", f"<{EX}r>", '"z2"'),
    ]
    t = spark.createDataFrame(rws, "subj string, pred string, obj string")
    out = sparql_select(
        t,
        f"""SELECT ?s ?o ?z WHERE {{
            ?s <{EX}p> ?o .
            {{ ?s <{EX}q> ?z }} UNION {{ ?w <{EX}r> ?z }}
        }}""",
    )
    got = rows(out)
    assert got == {
        # branch 1: ?s bound -> plain equi-join
        (f"<{EX}s1>", '"o1"', '"z1"'),
        # branch 2: ?s unbound -> compatible with BOTH outer solutions
        (f"<{EX}s1>", '"o1"', '"z2"'),
        (f"<{EX}s2>", '"o2"', '"z2"'),
    }


def test_values_undef_shared_var_joins_compatibly(spark, triples):
    # VALUES UNDEF in a shared variable matches any binding
    out = sparql_select(
        triples,
        """PREFIX ex: <http://example.org/>
        SELECT ?x ?n WHERE {
            ?x ex:name ?n .
            VALUES ?n { "alice" UNDEF }
        }""",
    )
    got = rows(out)
    assert got == {
        (f"<{EX}p/1>", '"alice"'),
        (f"<{EX}p/2>", '"bob"'),
        (f"<{EX}p/3>", '"carol"'),
    }


def test_optional_with_maybe_unbound_shared_var(spark):
    # OPTIONAL whose shared var may be unbound on the left: the
    # null-tolerant left join keeps unmatched rows and coalesces the
    # shared var from the optional side when the left was unbound
    rws = [
        (f"<{EX}a>", f"<{EX}q>", '"z1"'),
        (f"<{EX}b>", f"<{EX}r>", '"z2"'),
        (f"<{EX}a>", f"<{EX}n>", '"m-a"'),
    ]
    t = spark.createDataFrame(rws, "subj string, pred string, obj string")
    out = sparql_select(
        t,
        f"""SELECT ?z ?m WHERE {{
            {{ ?s <{EX}q> ?z }} UNION {{ ?w <{EX}r> ?z }}
            OPTIONAL {{ ?s <{EX}n> ?m }}
        }}""",
    )
    got = rows(out)
    assert got == {
        ('"z1"', '"m-a"'),  # ?s bound to <a>: matches its n triple
        ('"z2"', '"m-a"'),  # ?s unbound: compatible with the n solution
    }


def test_path_inside_graph_var(spark):
    """Property paths inside GRAPH ?g evaluate per named graph (the
    round-2 restriction lifted): closures must not leak edges across
    graphs, and ?g binds alongside the path endpoints."""
    quads = spark.createDataFrame(
        [
            # g1: a -> b -> c chain
            ("<http://x/a>", "<http://x/p>", "<http://x/b>", "<http://x/g1>"),
            ("<http://x/b>", "<http://x/p>", "<http://x/c>", "<http://x/g1>"),
            # g2: c -> d only — no cross-graph a->...->d path exists
            ("<http://x/c>", "<http://x/p>", "<http://x/d>", "<http://x/g2>"),
            # default graph: ignored inside GRAPH ?g
            ("<http://x/a>", "<http://x/p>", "<http://x/z>", None),
        ],
        "subj string, pred string, obj string, graph string",
    )
    out = sparql_select(
        quads,
        "SELECT ?g ?x ?y WHERE { GRAPH ?g { ?x <http://x/p>+ ?y } }",
    )
    got = rows(out)
    assert got == {
        ("<http://x/g1>", "<http://x/a>", "<http://x/b>"),
        ("<http://x/g1>", "<http://x/b>", "<http://x/c>"),
        ("<http://x/g1>", "<http://x/a>", "<http://x/c>"),
        ("<http://x/g2>", "<http://x/c>", "<http://x/d>"),
    }
    # seq + inverse inside GRAPH ?g: join keys include the graph
    seq = sparql_select(
        quads,
        "SELECT ?g ?x ?y WHERE { GRAPH ?g { ?x <http://x/p>/<http://x/p> ?y } }",
    )
    assert rows(seq) == {("<http://x/g1>", "<http://x/a>", "<http://x/c>")}
    # star: zero-length pairs are per-graph nodes
    star = sparql_select(
        quads,
        "SELECT ?g ?x ?y WHERE { GRAPH ?g { ?x <http://x/p>* ?y } "
        "  FILTER(?x = ?y) }",
    )
    star_nodes = rows(star)
    assert ("<http://x/g2>", "<http://x/c>", "<http://x/c>") in star_nodes
    assert ("<http://x/g1>", "<http://x/a>", "<http://x/a>") in star_nodes
    # a g2 node never self-pairs under g1
    assert ("<http://x/g1>", "<http://x/d>", "<http://x/d>") not in star_nodes


def test_many_risky_vars_single_null_tolerant_join(spark):
    """Joining two UNION groups that share FIVE maybe-unbound variables
    must not enumerate 2^5 x 2^5 null-pattern pieces (a planning-time
    blowup): above the 16-piece cap _join_compat emits ONE null-tolerant
    join, and the answers still follow SPARQL solution compatibility
    (unbound shared vars match anything, SPARQL 1.1 §18.3)."""
    EX = "http://example.org/"

    def iri(x):
        return f"<{EX}{x}>"

    rows = [
        (iri("s1"), iri("p1"), '"A"'),
        (iri("s1"), iri("q2"), '"B"'),
        (iri("s2"), iri("p1"), '"A"'),
        (iri("s2"), iri("q1"), '"A"'),
        (iri("s3"), iri("p1"), '"A"'),
        (iri("s3"), iri("q1"), '"X"'),
    ]
    trip = spark.createDataFrame(rows, "subj string, pred string, obj string")
    union1 = " UNION ".join(
        "{ ?s ex:p%d ?v%d }" % (i, i) for i in range(1, 6)
    )
    union2 = " UNION ".join(
        "{ ?s ex:q%d ?v%d }" % (i, i) for i in range(1, 6)
    )
    q = (
        f"PREFIX ex: <{EX}>\n"
        f"SELECT * WHERE {{ {{ {union1} }} {{ {union2} }} }}"
    )
    out = sparql_select(trip, q)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join") == 1
    got = {
        (d["s"], d["v1"], d["v2"], d["v3"], d["v4"], d["v5"])
        for d in (r.asDict() for r in out.collect())
    }
    assert got == {
        (iri("s1"), '"A"', '"B"', None, None, None),
        (iri("s2"), '"A"', None, None, None, None),
    }


def test_ask_keyword_anchored_past_prologue(spark, triples):
    """A prologue IRI containing a word-bounded 'ask' (e.g.
    <http://x/ask/>) must not be mistaken for the ASK keyword: the
    rewrite splices at the query-form position after PREFIX/BASE
    clauses (and after comments are stripped)."""
    from morph_xr2rml_spark.sparql.endpoint import evaluate

    q = (
        "PREFIX ask: <http://x/ask/>\n"
        "# a comment mentioning SELECT too\n"
        "ASK { ?s ?p ?o }"
    )
    ctype, body = evaluate(triples, q)
    assert '"boolean": true' in body

    import json

    ctype, body = evaluate(
        triples,
        "PREFIX ask: <http://x/ask/>\nASK { ?s <http://nope> ?o }",
    )
    assert json.loads(body)["boolean"] is False


def test_endpoint_releases_per_request_checkpoints(spark, triples):
    """A property-path closure answered over HTTP creates fixpoint
    checkpoints; the endpoint must release THEM once the response is
    serialized (long-lived-server disk hygiene) while leaving a
    pre-existing registered checkpoint — the caller's own triple frame
    here — intact and queryable."""
    import json as _json
    import os
    import urllib.parse
    import urllib.request

    from morph_xr2rml_spark.plans import caching
    from morph_xr2rml_spark.sparql.endpoint import SparqlEndpoint

    caching.release_caches()
    pinned = caching.checkpoint_parquet(triples, "endpoint_input_")
    before = caching.live_checkpoints()
    assert len(before) == 1

    ep = SparqlEndpoint(pinned).start()
    base = f"http://127.0.0.1:{ep.port}/sparql"
    q = ('PREFIX ex: <http://example.org/> '
         'SELECT ?n WHERE { <http://example.org/p/1> ex:knows+ ?y . ?y ex:name ?n }')
    try:
        for _ in range(2):  # second request proves the input survived
            with urllib.request.urlopen(
                base + "?query=" + urllib.parse.quote(q)
            ) as r:
                got = _json.loads(r.read())
            names = {b["n"]["value"] for b in got["results"]["bindings"]}
            assert names == {"bob", "carol"}
            assert caching.live_checkpoints() == before
            assert all(os.path.isdir(p) for p in before)
    finally:
        ep.stop()
        caching.release_caches()


def test_protocol_dataset_parameters(spark):
    """SPARQL protocol RDF-dataset parameters (default-graph-uri /
    named-graph-uri, protocol S2.1.4) act exactly like the equivalent
    FROM / FROM NAMED clauses for SELECT and ASK; supplying a dataset
    both ways, or on CONSTRUCT/DESCRIBE, is refused. The reference's
    service accepts these parameters but silently ignores them
    (SparqlRestService.scala:51-52,90-91) — honoring them is a
    deliberate superset."""
    import json as _json
    import urllib.parse
    import urllib.request

    import pytest as _pytest

    from morph_xr2rml_spark.sparql.endpoint import SparqlEndpoint, evaluate

    EXO = "http://example.org/"
    quads = spark.createDataFrame(
        [
            (f"<{EXO}n1>", f"<{EXO}name>", '"alpha"', f"<{EXO}g1>"),
            (f"<{EXO}n2>", f"<{EXO}name>", '"beta"', f"<{EXO}g2>"),
            (f"<{EXO}n3>", f"<{EXO}name>", '"gamma"', None),
        ],
        "subj string, pred string, obj string, graph string",
    )
    q = f"SELECT ?n WHERE {{ ?s <{EXO}name> ?n }}"

    def names(body: str) -> set[str]:
        return {
            b["n"]["value"]
            for b in _json.loads(body)["results"]["bindings"]
        }

    # protocol default graph == FROM
    _ct, body = evaluate(quads, q, default_graphs=(f"{EXO}g1",))
    assert names(body) == {"alpha"}
    _ct, body = evaluate(quads, q, default_graphs=(f"{EXO}g1", f"{EXO}g2"))
    assert names(body) == {"alpha", "beta"}
    # named graphs restrict GRAPH ?g
    gq = f"SELECT ?n WHERE {{ GRAPH ?g {{ ?s <{EXO}name> ?n }} }}"
    _ct, body = evaluate(quads, gq, named_graphs=(f"{EXO}g2",))
    assert names(body) == {"beta"}
    # ASK honors the dataset
    _ct, body = evaluate(
        quads, f"ASK {{ ?s <{EXO}name> ?n }}", default_graphs=(f"{EXO}g1",)
    )
    assert _json.loads(body)["boolean"] is True
    _ct, body = evaluate(
        quads,
        f'ASK {{ ?s <{EXO}name> "beta" }}',
        default_graphs=(f"{EXO}g1",),
    )
    assert _json.loads(body)["boolean"] is False
    # both in-query and protocol dataset -> refusal
    with _pytest.raises(ValueError, match="both"):
        evaluate(
            quads,
            f"SELECT ?n FROM <{EXO}g2> WHERE {{ ?s <{EXO}name> ?n }}",
            default_graphs=(f"{EXO}g1",),
        )
    # unsupported form -> refusal
    with _pytest.raises(ValueError, match="not supported"):
        evaluate(
            quads,
            f"DESCRIBE <{EXO}n1>",
            default_graphs=(f"{EXO}g1",),
        )

    # over HTTP: GET and urlencoded POST both carry the parameters
    ep = SparqlEndpoint(quads).start()
    base = f"http://127.0.0.1:{ep.port}/sparql"
    try:
        url = (
            base
            + "?query=" + urllib.parse.quote(q)
            + "&default-graph-uri=" + urllib.parse.quote(f"{EXO}g2")
        )
        with urllib.request.urlopen(url) as r:
            assert names(r.read().decode()) == {"beta"}
        data = urllib.parse.urlencode(
            {"query": q, "default-graph-uri": f"{EXO}g1"}
        ).encode()
        req = urllib.request.Request(base, data=data)
        with urllib.request.urlopen(req) as r:
            assert names(r.read().decode()) == {"alpha"}
    finally:
        ep.stop()


def test_prefix_name_with_interior_dot(triples):
    """PN_PREFIX permits interior dots (SPARQL 1.1 §19.8): both the
    prologue scanner and prefix expansion must accept ``PREFIX a.b:`` —
    previously the form scan raised 'not a SPARQL query form' because
    the prologue regex stopped at the dot."""
    q = f"PREFIX e.x: <{EX}>\nSELECT ?n WHERE {{ ?s e.x:name ?n }}"
    assert parse_sparql(q).form == "SELECT"
    assert rows(sparql_select(triples, q)) == {
        ('"alice"',), ('"bob"',), ('"carol"',)
    }


def test_describe_where_comment_between_vars_and_where(triples):
    """A '#' comment between the DESCRIBE variable list and WHERE made
    the SELECT rewrite a no-op (detection ran on comment-stripped text,
    the substitution on the raw query) so phase 1 crashed parsing the
    unmodified DESCRIBE string."""
    from morph_xr2rml_spark.sparql.bgp import sparql_describe

    commented = (
        f"PREFIX ex: <{EX}>\n"
        "DESCRIBE ?x  # the nodes to describe\n"
        "WHERE { ?x ex:knows ?y }"
    )
    plain = f"PREFIX ex: <{EX}>\nDESCRIBE ?x WHERE {{ ?x ex:knows ?y }}"
    got = rows(sparql_describe(triples, commented))
    assert got == rows(sparql_describe(triples, plain))
    assert (f"<{EX}p/1>", f"<{EX}name>", '"alice"') in got


def test_base_declaration_resolves_relative_iris(triples):
    """Prologue BASE: relative IRIREFs (and relative PREFIX IRIs)
    resolve per RFC 3986 before matching — the Jena-backed reference
    resolves them; leaving them verbatim silently matched nothing."""
    q_abs = (
        "PREFIX ex: <http://example.org/>\n"
        "SELECT ?a ?n WHERE { ?a ex:knows ?b . ?a ex:name ?n }"
    )
    want = rows(sparql_select(triples, q_abs))
    assert want
    q_base = (
        "BASE <http://example.org/>\n"
        "SELECT ?a ?n WHERE { ?a <knows> ?b . ?a <name> ?n }"
    )
    assert rows(sparql_select(triples, q_base)) == want
    # relative PREFIX IRI resolves against BASE too
    q_pref = (
        "BASE <http://example.org/x/y>\n"
        "PREFIX ex: <./>\n"
        "SELECT ?a ?n WHERE { ?a ex:knows ?b . ?a ex:name ?n }"
    )
    # <./> against http://example.org/x/y -> http://example.org/x/ ;
    # rebase so the terms land on the fixture's namespace instead
    q_pref = q_pref.replace("<http://example.org/x/y>", "<http://example.org/z>")
    # ./ against http://example.org/z -> http://example.org/
    assert rows(sparql_select(triples, q_pref)) == want
    # absolute IRIs are untouched by BASE
    q_mix = (
        "BASE <http://other.org/>\n"
        "SELECT ?a ?n WHERE { ?a <http://example.org/knows> ?b . "
        "?a <http://example.org/name> ?n }"
    )
    assert rows(sparql_select(triples, q_mix)) == want


def test_base_resolution_rfc3986_corners():
    """Dot segments, same-document fragments, and network-path
    references resolve per RFC 3986 §5 against the prologue BASE
    (Jena's resolver semantics)."""
    from morph_xr2rml_spark.sparql.bgp import parse_sparql

    q = parse_sparql(
        "BASE <http://ex.org/a/b/>\n"
        "SELECT ?s WHERE { ?s <../p> ?o . ?s <./q> ?x . "
        "?s <#f> ?y . ?s <//other.org/r> ?z }"
    )
    preds = [tp.p for tp in q.where.patterns]
    assert preds == [
        "<http://ex.org/a/p>",
        "<http://ex.org/a/b/q>",
        "<http://ex.org/a/b/#f>",
        "<http://other.org/r>",
    ]

"""End-to-end replay of the reference's example_mongo_dblp suite: the
active mapping (morph.properties selects dblp-mapping-authors.ttl)
parsed verbatim, checked against the recorded result.txt
(morph-xr2rml-dist/example_mongo_dblp/).

The dblp authors collection is not shipped (testdb_dump.json carries
the generic movie fixtures), so author documents are reconstructed from
result.txt's 1029 bindings: rows group by ?a into author docs
{_id, name, homepage, publications: {inproceedings: [{dblp_key, title,
year}, ...]}} — dblp_key percent-DECODED from the recorded
:inproceedings/conf%2Fpods%2F... subject, so the replay re-encodes it
through the template chain and must reproduce the exact recorded IRI.

Semantics exercised beyond the awards suite: rml:iterator over an
embedded array ("$.publications.inproceedings.*") shared by several
triples maps, bare-name JSONPath references inside templates
({dblp_key} under JSONPath formulation), template percent-encoding of
'/' in data values, and the creator TM whose subject iterates the
embedded array while its object template reads the document root
({_id}) — the multi-valued-template Cartesian case (SURVEY P5).
"""

import json
import pathlib
import urllib.parse
import xml.etree.ElementTree as ET

import pytest

from morph_xr2rml_spark.compiler import MappingCompiler
from morph_xr2rml_spark.mapping import parse_mapping
from morph_xr2rml_spark.sources import SourceCatalog
from morph_xr2rml_spark.sparql import sparql_select

DBLP = pathlib.Path("/root/reference/morph-xr2rml-dist/example_mongo_dblp")
_NS = {"s": "http://www.w3.org/2005/sparql-results#"}

# query.sparql's uncommented patterns, verbatim semantics
QUERY = """\
prefix : <http://dblp.l3s.de/d2r/>
prefix foaf: <http://xmlns.com/foaf/0.1/>
prefix dcterms: <http://purl.org/dc/terms/>
prefix dc: <http://purl.org/dc/elements/1.1/>
SELECT ?a ?name ?ah ?j ?t ?i WHERE {
    ?a a :Author .
    ?a a foaf:Agent .
    ?a foaf:name ?name .
    ?a foaf:homepage ?ah .
    ?j dc:creator ?a .
    ?j dc:title ?t .
    ?j dcterms:issued ?i .
}
"""

_XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"


def _expected_rows() -> set[tuple]:
    tree = ET.parse(DBLP / "result.txt")
    rows = set()
    for r in tree.findall(".//s:result", _NS):
        vals = {}
        for b in r.findall("s:binding", _NS):
            u = b.find("s:uri", _NS)
            lit = b.find("s:literal", _NS)
            if u is not None:
                vals[b.get("name")] = ("uri", u.text)
            else:
                vals[b.get("name")] = ("lit", lit.text, lit.get("datatype"))
        rows.add(tuple(vals[k] for k in ("a", "name", "ah", "j", "t", "i")))
    return rows


@pytest.fixture(scope="module")
def dblp_result(spark, read_reference):
    mapping_text = read_reference(DBLP / "dblp-mapping-authors.ttl")
    expected = _expected_rows()
    authors: dict[str, dict] = {}
    for a, name, ah, j, t, i in expected:
        aid = a[1].rsplit("/", 1)[1]
        doc = authors.setdefault(
            aid,
            {
                "_id": aid,
                "name": name[1],
                "homepage": ah[1],
                "publications": {"inproceedings": [], "article": []},
            },
        )
        # ?j is :inproceedings/<key> or :journals/<key> (the article TMs)
        kind, key_enc = j[1][1:].split("/", 1)
        key = urllib.parse.unquote(key_enc)
        arr = "inproceedings" if kind == "inproceedings" else "article"
        pubs = doc["publications"][arr]
        if not any(p["dblp_key"] == key for p in pubs):
            pubs.append({"dblp_key": key, "title": t[1], "year": int(i[1])})

    df = spark.createDataFrame(
        [(json.dumps(d),) for d in authors.values()], "doc string"
    )
    catalog = SourceCatalog(spark).register("authors", df, doc_column="doc")
    mapping = parse_mapping(mapping_text, default_formulation="JSONPath")
    triples = MappingCompiler(spark, mapping, catalog).triples()
    got = {
        (
            ("uri", r["a"][1:-1]),
            ("lit", _lex(r["name"]), None),
            ("lit", _lex(r["ah"]), None),
            ("uri", r["j"][1:-1]),
            ("lit", _lex(r["t"]), None),
            ("lit", _lex(r["i"]), _XSD_INT),
        )
        for r in sparql_select(triples, QUERY).collect()
    }
    return got, expected


def _lex(term: str) -> str:
    """N-Triples literal -> lexical form (tests reconstruct simple and
    typed literals only)."""
    assert term.startswith('"')
    end = term.rindex('"')
    return term[1:end].replace('\\"', '"').replace("\\\\", "\\")


def test_dblp_mapping_replays_recorded_result(spark, dblp_result):
    got, expected = dblp_result
    assert got == expected
    assert len(got) == 1029  # the recorded result set, exactly

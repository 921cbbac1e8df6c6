"""Replay of the reference's flagship rewriting suite
(morph-xr2rml-dist/example_taxref_rewriting/): the 150-triples-map
normalized TAXREF v9 mapping over a Mongo-style document collection,
driven through VirtualGraph with the workload shapes from the suite's
own query.sparql (constant-object scan, star query, condition
propagation, no-propagation join, OPTIONAL join, self-join +
self-union elimination over biogeographical statuses).

Every query asserts virtual == materialize-then-query over synthetic
taxref documents, and the binder-pruning assertion pins the rewriting
mode's structural win: a 2-predicate query compiles a handful of the
150 triples maps, not all of them."""

import json
import pathlib

import pytest

from morph_xr2rml_spark.compiler import CompileOptions, MappingCompiler
from morph_xr2rml_spark.mapping import parse_mapping
from morph_xr2rml_spark.sources.catalog import SourceCatalog
from morph_xr2rml_spark.sparql import sparql_select
from morph_xr2rml_spark.sparql.bgp import parse_sparql
from morph_xr2rml_spark.sparql.virtual import VirtualGraph, bind_patterns

MAPPING_PATH = pathlib.Path(
    "/root/reference/morph-xr2rml-dist/example_taxref_rewriting/"
    "xr2rml_taxrefv9-normalized.ttl"
)

PREFIXES = """\
prefix skos: <http://www.w3.org/2004/02/skos/core#>
prefix skosxl: <http://www.w3.org/2008/05/skos-xl#>
prefix dct: <http://purl.org/dc/elements/1.1/>
prefix dwc: <http://rs.tdwg.org/dwc/terms/>
prefix taxrefprop: <http://inpn.mnhn.fr/taxref/properties/>
prefix taxrefbgs: <http://inpn.mnhn.fr/taxref/bioGeoStatus#>
"""

TAXON = "http://inpn.mnhn.fr/taxref/9.0/taxon"
LABEL = "http://inpn.mnhn.fr/taxref/label"

# every territory field the LS_SBD_* sources probe; most stay empty
_TERRITORIES = (
    "fr", "gf", "mar", "gua", "sm", "sb", "spm", "may", "epa", "reu",
    "sa", "ta", "nc", "wf", "pf", "cli",
)


def _docs():
    """Deterministic synthetic TAXREF rows. Odd codes are reference
    names (codeTaxon == codeReference); even codes are synonyms —
    codes 2 and 4 both of taxon 1 (so the propagation query's
    ``?a != ?b`` pair exists), the rest of the previous odd code.
    Codes 1/5 carry a Saint-Pierre-et-Miquelon status (C / D), code 3
    one for Mayotte."""
    rows = []
    for i in range(1, 13):
        ref = i if i % 2 == 1 else (1 if i <= 4 else i - 1)
        d = {
            "codeTaxon": i,
            "codeReference": ref,
            "codeParent": max(1, ref - 2),
            "libelleNom": f"Nom {i}",
            "libelleAuteur": f"Auteur {i}",
            "nomVernaculaire": f"Vern {i}",
            "rang": {0: "ES", 1: "GN", 2: "FM", 3: "KD"}[i % 4],
            "habitat": str(i % 3),
        }
        for t in _TERRITORIES:
            d[t] = ""
        if i == 1:
            d["spm"] = "C"
        elif i == 5:
            d["spm"] = "D"
        elif i == 3:
            d["may"] = "C"
        rows.append(d)
    return rows


@pytest.fixture(scope="module")
def taxref(spark, read_reference):
    df = spark.createDataFrame(
        [(json.dumps(d),) for d in _docs()], "doc string"
    )
    catalog = SourceCatalog(spark).register("taxrefv9", df, doc_column="doc")
    doc = parse_mapping(read_reference(MAPPING_PATH), default_formulation="JSONPath")
    assert len(doc.triples_maps) == 150
    comp = MappingCompiler(spark, doc, catalog, CompileOptions())
    triples = comp.triples().persist()
    triples.count()
    yield doc, catalog, triples
    triples.unpersist()
    comp.release()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# the suite's own workload (query.sparql, uncommented one at a time)
WORKLOAD = [
    # constant object over the broader hierarchy (query.sparql:23)
    f"SELECT ?u WHERE {{ ?u skos:broader <{TAXON}/1> . }}",
    # star query on a constant subject (query.sparql:26)
    f"SELECT ?p ?x WHERE {{ <{TAXON}/1> ?p ?x . }}",
    # "Very big inner join but with propagation of conditions"
    # (query.sparql:36-41)
    f"""SELECT ?t ?a ?b WHERE {{
        ?t skosxl:prefLabel <{LABEL}/1> .
        ?t skosxl:altLabel ?a .
        ?t skosxl:altLabel ?b .
        FILTER (?a != ?b)
    }}""",
    # "Big inner join: no self-join elimination nor condition
    # propagation" (query.sparql:44-47)
    f"""SELECT ?t ?b WHERE {{
        ?t skosxl:altLabel <{LABEL}/2> .
        ?t skosxl:altLabel ?b .
        FILTER (?b != <{LABEL}/2>)
    }}""",
    # "Optional join" (query.sparql:50-55)
    f"""SELECT ?t ?b WHERE {{
        ?t skosxl:altLabel <{LABEL}/2> .
        OPTIONAL {{
            ?t skosxl:altLabel ?b .
            FILTER (?b != <{LABEL}/2>)
        }}
    }}""",
    # "Self-Join AND Self-Union elimination": taxa in
    # Saint-Pierre-et-Miquelon with status C or D (query.sparql:63-71)
    """SELECT ?t ?bgs WHERE {
        ?t taxrefprop:bioGeoStatusIn ?bgs .
        ?bgs dct:spatial <http://sws.geonames.org/3424932/> .
        { ?bgs dwc:occurrenceStatus taxrefbgs:C . }
        UNION
        { ?bgs dwc:occurrenceStatus taxrefbgs:D . }
    }""",
]


@pytest.mark.parametrize("qidx", range(len(WORKLOAD)))
def test_taxref_workload_virtual_equals_materialized(taxref, spark, qidx):
    doc, catalog, triples = taxref
    q = PREFIXES + WORKLOAD[qidx]
    vg = VirtualGraph(spark, doc, catalog)
    try:
        got = _rows(vg.select(q))
    finally:
        vg.release()
    want = _rows(sparql_select(triples, q))
    assert got == want
    assert got, f"workload query {qidx} must have answers on the fixture"


def test_taxref_workload_expected_answers(taxref, spark):
    """Spot-check the semantics, not just virtual==materialized: the
    propagation query returns the alt-label pairs of the taxon whose
    pref label is label/1, and the SPM union finds exactly codes 1
    (status C) and 5 (status D)."""
    doc, catalog, _t = taxref
    vg = VirtualGraph(spark, doc, catalog)
    try:
        prop_rows = _rows(vg.select(PREFIXES + WORKLOAD[2]))
        # taxon/1's synonym is code 2 only -> a single alt label, so the
        # a != b filter leaves nothing; widen: alt labels of taxon/1
        alts = _rows(
            vg.select(
                PREFIXES
                + f"SELECT ?a WHERE {{ <{TAXON}/1> skosxl:altLabel ?a . }}"
            )
        )
        spm = _rows(vg.select(PREFIXES + WORKLOAD[5]))
    finally:
        vg.release()
    assert prop_rows and all(r[0] == f"<{TAXON}/1>" for r in prop_rows)
    assert {r[1] for r in prop_rows} == {f"<{LABEL}/2>", f"<{LABEL}/4>"}
    assert alts == [(f"<{LABEL}/2>",), (f"<{LABEL}/4>",)]
    assert {r[0] for r in spm} == {f"<{TAXON}/1>", f"<{TAXON}/5>"}


def test_binder_prunes_at_mapping_width(taxref, spark):
    """The rewriting mode's structural win at realistic mapping width:
    a 2-predicate query binds a handful of the 150 triples maps, and
    the VirtualGraph compiles only those."""
    doc, catalog, _t = taxref
    q = parse_sparql(PREFIXES + WORKLOAD[2])
    bound = bind_patterns(doc, q)
    for i, pairs in bound.items():
        assert 0 < len(pairs) <= 4, (i, [tm.name for _tp, tm in pairs])
    vg = VirtualGraph(spark, doc, catalog)
    try:
        vg.select(PREFIXES + WORKLOAD[2]).collect()
        assert len(vg._compilers) <= 6, len(vg._compilers)
    finally:
        vg.release()


def test_taxref_propagation_reduces_both_sources(taxref, spark):
    """The propagation shape filters BOTH sides' document scans: the
    prefLabel constant inverts to codeTaxon == 1 on LS_Taxon, and the
    propagated constraint keys LS_AltLbl's scan on codeReference == 1
    (different reference, same template shape — exactly the reference's
    propagateConditionFromJoinedQuery example)."""
    doc, catalog, _t = taxref
    vg = VirtualGraph(spark, doc, catalog)
    try:
        frag = vg.fragment(PREFIXES + WORKLOAD[2])
        plan = frag._jdf.queryExecution().optimizedPlan().toString()
    finally:
        vg.release()
    # both the codeTaxon and the codeReference key filters reach a scan
    assert "codeTaxon" in plan
    assert "codeReference" in plan
    assert "1" in plan

"""Plans and compilations of rewriting-mode queries over the relational
RefObjectMap + RDF-list mapping (nation, customer, orders, lineitem).

The binder binds a pattern or a DESCRIBE node only to the triples-map
branches that can emit it: a class triple emits its class IRI, a
RefObjectMap its parent's subjects, a list its head (a blank node) and
its cells (blank-node subjects). These tests pin what that leaves in
the plan, on parquet sources so the pushed scan filters show.
"""

from __future__ import annotations

import re

import pytest

from morph_xr2rml_spark import driver_contract as dc
from morph_xr2rml_spark.compiler import MappingCompiler
from morph_xr2rml_spark.mapping import parse_mapping
from morph_xr2rml_spark.sources import SourceCatalog
from morph_xr2rml_spark.sources.catalog import TypedField
from morph_xr2rml_spark.sparql import VirtualGraph, sparql_select
from morph_xr2rml_spark.sparql.bgp import sparql_describe

ORDER = "<http://example.org/order/2>"

_NODE_RE = re.compile(r"^\((\d+)\) (\S+(?: \S+)?)", re.M)


@pytest.fixture(scope="module")
def relational(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("relational")
    tables = {
        "nation": spark.createDataFrame(
            [(0, "ALGERIA", 0), (1, "ARGENTINA", 1)],
            "n_nationkey int, n_name string, n_regionkey int",
        ),
        "customer": spark.createDataFrame(
            [(1, "Customer#1"), (2, "Customer#2")],
            "c_custkey int, c_name string",
        ),
        "orders": spark.createDataFrame(
            [(1, 1, "O"), (2, 2, "F"), (3, 1, "P")],
            "o_orderkey int, o_custkey int, o_orderstatus string",
        ),
        "lineitem": spark.createDataFrame(
            [(1, 1, "N"), (2, 1, "R"), (2, 2, "A"), (3, 1, "N")],
            "l_orderkey int, l_linenumber int, l_returnflag string",
        ),
    }
    keys = {"nation": ["n_nationkey"], "customer": ["c_custkey"],
            "orders": ["o_orderkey"], "lineitem": None}
    catalog = SourceCatalog(spark)
    for name, df in tables.items():
        df.write.parquet(str(root / name))
        catalog.register(name, spark.read.parquet(str(root / name)),
                         unique_key=keys[name])
    doc = parse_mapping(dc.NATION_TTL + dc.ORDERS_TTL + dc.LINEITEM_LIST_TTL)
    comp = MappingCompiler(spark, doc, catalog)
    yield doc, catalog, comp.triples()
    comp.release()


def _plan_scans(df) -> tuple[list[str], str]:
    """(the details block of every source scan, each once, and the
    whole formatted plan); planning runs no job."""
    jvm = df.sparkSession.sparkContext._jvm
    plan = jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    details = plan.split("\n\n", 1)[1]
    blocks = re.split(r"\n(?=\(\d+\) )", details)
    return [b for b in blocks if (m := _NODE_RE.match(b.strip()))
            and m.group(2).startswith("Scan ")], plan


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_describe_iri_plan_reads_only_key_filtered_subject_sources(spark, relational):
    doc, catalog, triples = relational
    vg = VirtualGraph(spark, doc, catalog)
    try:
        q = f"DESCRIBE {ORDER}"
        out = vg.describe(q)
        scans, plan = _plan_scans(out)
        locations = [re.search(r"Location: \S+ \[([^\]]*)\]", b).group(1)
                     for b in scans]
        orders = [b for b, loc in zip(scans, locations) if loc.endswith("/orders")]
        assert orders, plan
        for b in orders:
            pushed = re.search(r"PushedFilters: \[(.*)\]", b).group(1)
            assert re.search(r"(In|EqualTo)\(o_orderkey", pushed), b
        assert not any(loc.endswith("/nation") for loc in locations), plan
        # the orders x lineitem list aggregate: heads only, built once
        assert plan.count("partial_collect_set(") == 1, plan
        assert _rows(out) == _rows(sparql_describe(triples, q))
    finally:
        vg.release()


def test_constant_object_nobody_emits_compiles_nothing(spark, relational):
    doc, catalog, triples = relational
    vg = VirtualGraph(spark, doc, catalog)
    try:
        q = f"SELECT ?s ?p WHERE {{ ?s ?p {ORDER} }}"
        got = _rows(vg.select(q))
        assert vg._compilers == []
        assert got == _rows(sparql_select(triples, q)) == []
    finally:
        vg.release()


def test_constant_projection_lists_refobjectmap_list_predicates(spark, relational):
    """A RefObjectMap RDF list emits rdf:first/rdf:rest: the schema
    answer read from the mapping alone names them."""
    from morph_xr2rml_spark.compiler import CompileOptions

    doc, catalog, triples = relational
    vg = VirtualGraph(spark, doc, catalog, CompileOptions(constant_projection=True))
    try:
        q = "SELECT DISTINCT ?p WHERE { ?s ?p ?o }"
        got = _rows(vg.select(q))
        assert vg._compilers == []
        assert got == _rows(sparql_select(triples, q))
        assert ("<http://www.w3.org/1999/02/22-rdf-syntax-ns#first>",) in got
    finally:
        vg.release()


def test_constant_projection_of_list_cell_subjects(spark, relational):
    """List cells have blank-node subjects, so a constant subject map
    does not answer ``?s rdf:first ?m``: the query is evaluated."""
    from morph_xr2rml_spark.compiler import CompileOptions

    _doc, catalog, _t = relational
    doc = parse_mapping("""\
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix ex:  <http://example.org/ontology#> .

<#TMLine>
    xrr:logicalSource [ rr:tableName "lineitem"; xrr:referenceFormulation xrr:Column ];
    rr:subjectMap [ rr:template "http://example.org/line/{l_orderkey}/{l_linenumber}" ];
    .

<#TMAllLines>
    xrr:logicalSource [ rr:tableName "orders"; xrr:referenceFormulation xrr:Column ];
    rr:subjectMap [ rr:constant <http://example.org/all> ];
    rr:predicateObjectMap [
        rr:predicate ex:lines;
        rr:objectMap [
            rr:parentTriplesMap <#TMLine>;
            rr:joinCondition [ rr:child "o_orderkey"; rr:parent "l_orderkey" ];
            rr:termType xrr:RdfList;
        ];
    ];
    .
""")
    q = ("SELECT DISTINCT ?s WHERE "
         "{ ?s <http://www.w3.org/1999/02/22-rdf-syntax-ns#first> ?m }")
    vg = VirtualGraph(spark, doc, catalog, CompileOptions(constant_projection=True))
    comp = MappingCompiler(spark, doc, catalog)
    try:
        got = _rows(vg.select(q))
        assert got == _rows(sparql_select(comp.triples(), q))
        assert got and all(s.startswith("_:") for (s,) in got)
    finally:
        comp.release()
        vg.release()


# -- basic graph patterns as joins of source scans (sparql/translate.py) --

ONT = "PREFIX ex: <http://example.org/ontology#>\n"
POINT = "SELECT ?p ?o WHERE { <http://example.org/customer/1> ?p ?o }"
ASK = ONT + "ASK { <http://example.org/nation/1> ex:name ?n }"
ROM_2HOP = (ONT + "SELECT ?o ?st WHERE { ?o ex:customer ?c . "
            '?c ex:name "Customer#1" . ?o ex:status ?st }')
CONST_OBJECT = (ONT + "SELECT ?o ?st WHERE { "
                "?o ex:customer <http://example.org/customer/1> . ?o ex:status ?st }")


def _fragment_calls(vg) -> list:
    """Record each call of ``vg.fragment``."""
    calls: list = []
    original = vg.fragment
    vg.fragment = lambda q: calls.append(q) or original(q)
    return calls


@pytest.mark.parametrize(
    "query,most_jobs",
    [(POINT, 1), (ASK, 1), (ROM_2HOP, 3), (CONST_OBJECT, 3)],
)
def test_translated_queries_run_few_jobs(spark, relational, query, most_jobs):
    from test_job_counts import jobs_run

    doc, catalog, triples = relational
    vg = VirtualGraph(spark, doc, catalog)
    calls = _fragment_calls(vg)
    try:
        if query.startswith(ONT + "ASK"):
            with jobs_run(spark) as jobs:
                got = vg.ask(query)
            assert got is True
        else:
            with jobs_run(spark) as jobs:
                got = _rows(vg.select(query))
            assert got == _rows(sparql_select(triples, query))
            assert got
        assert 1 <= len(jobs) <= most_jobs
        assert calls == []
    finally:
        vg.release()


def test_describe_iri_is_translated_in_few_jobs(spark, relational):
    """DESCRIBE <order/2> answers from three key-filtered ``orders``
    atoms (the status, the customer join and the list head grouped
    over ``lineitem``): no map is compiled, no parent is cached, and
    the ``lineitem`` scan gets the order key inferred across the join."""
    from test_job_counts import jobs_run

    doc, catalog, triples = relational
    vg = VirtualGraph(spark, doc, catalog)
    try:
        q = f"DESCRIBE {ORDER}"
        out = vg.describe(q)
        scans, plan = _plan_scans(out)
        assert "InMemoryRelation" not in plan
        (lineitem,) = [b for b in scans if "/lineitem]" in b]
        pushed = re.search(r"PushedFilters: \[(.*)\]", lineitem).group(1)
        assert re.search(r"(In|EqualTo)\(l_orderkey", pushed), plan
        with jobs_run(spark) as jobs:
            got = _rows(out)
        assert got == _rows(sparql_describe(triples, q))
        assert 1 <= len(jobs) <= 5
        assert vg._compilers == []
    finally:
        vg.release()


def test_describe_compiles_only_the_refused_binding(spark, relational):
    """``<line/2/1>`` is an ``rdf:first`` member of order 2's list: the
    object binding of ``TMOrderLines`` needs the list cells, which the
    translator refuses, while its subject binding (the head of order 2's
    list) is translated. Only the refused binding is compiled, once."""
    doc, catalog, triples = relational
    vg = VirtualGraph(spark, doc, catalog)
    try:
        q = f"DESCRIBE {ORDER} <http://example.org/line/2/1>"
        got = _rows(vg.describe(q))
        assert got == _rows(sparql_describe(triples, q))
        assert len(vg._compilers) == 1
    finally:
        vg.release()


def test_two_phase_describe_where_is_translated(spark, relational):
    """The WHERE of ``DESCRIBE ?c WHERE {...}`` is a basic graph
    pattern: phase 1 answers it from joins of source scans, never the
    fragment path."""
    doc, catalog, triples = relational
    vg = VirtualGraph(spark, doc, catalog)
    calls = _fragment_calls(vg)
    try:
        q = ONT + 'DESCRIBE ?c WHERE { ?o ex:customer ?c . ?o ex:status "F" }'
        got = _rows(vg.describe(q))
        assert got == _rows(sparql_describe(triples, q))
        assert got
        assert calls == []
    finally:
        vg.release()


def test_list_head_pattern_is_translated(spark, relational):
    doc, catalog, triples = relational
    q = ONT + "SELECT ?l WHERE { <http://example.org/order/2> ex:lines ?l }"
    vg = VirtualGraph(spark, doc, catalog)
    calls = _fragment_calls(vg)
    try:
        got = _rows(vg.select(q))
        assert calls == []
        assert got == _rows(sparql_select(triples, q))
        assert len(got) == 1 and got[0][0].startswith("_:")
    finally:
        vg.release()


def test_endpoint_point_lookup_runs_one_job(spark, relational):
    """Under ``build_session``'s take setting, the bounded result
    collect reads both scans of the point lookup in its first job."""
    from test_job_counts import jobs_run

    from morph_xr2rml_spark.plans.session import TAKE_PARTITIONS
    from morph_xr2rml_spark.sparql.endpoint import evaluate

    doc, catalog, _triples = relational
    vg = VirtualGraph(spark, doc, catalog)
    spark.conf.set("spark.sql.limit.initialNumPartitions", str(TAKE_PARTITIONS))
    try:
        with jobs_run(spark) as jobs:
            _ctype, body = evaluate(vg, POINT)
        assert len(jobs) == 1
        assert "Customer#1" in body
    finally:
        spark.conf.unset("spark.sql.limit.initialNumPartitions")
        vg.release()


def test_rom_2hop_plan_scans_each_table_once(spark, relational):
    """The two ``orders`` patterns are one scan, and the RefObjectMap's
    parent side and ``?c ex:name`` are one ``customer`` scan, filtered
    on the name."""
    doc, catalog, _triples = relational
    vg = VirtualGraph(spark, doc, catalog)
    try:
        scans, plan = _plan_scans(vg.select(ROM_2HOP))
        locations = sorted(
            re.search(r"Location: \S+ \[([^\]]*)\]", b).group(1).rsplit("/", 1)[1]
            for b in scans
        )
        assert locations == ["customer", "orders"], plan
        (customer,) = [b for b in scans if "/customer]" in b]
        assert "EqualTo(c_name,Customer#1)" in customer, plan
        assert "InMemoryRelation" not in plan
    finally:
        vg.release()


def test_optional_takes_the_fragment_path(spark, relational):
    doc, catalog, triples = relational
    q = ONT + "SELECT ?o ?st WHERE { ?o ex:customer ?c OPTIONAL { ?o ex:status ?st } }"
    vg = VirtualGraph(spark, doc, catalog)
    calls = _fragment_calls(vg)
    try:
        assert _rows(vg.select(q)) == _rows(sparql_select(triples, q))
        assert len(calls) == 1
    finally:
        vg.release()


def _compiled_maps(vg) -> list[str]:
    """Record the triples-map name of each ``vg._compile_tm`` call."""
    names: list[str] = []
    original = vg._compile_tm
    vg._compile_tm = lambda tm, *a, **k: names.append(tm.name) or original(tm, *a, **k)
    return names


def test_union_of_constant_subjects_compiles_the_map_once(spark, relational):
    """Two UNION branches bind ``TMOrder`` with different constant
    subjects: one compile, over one ``orders`` scan filtered by the OR
    of both keys."""
    doc, catalog, triples = relational
    q = (ONT + "SELECT ?s WHERE { { <http://example.org/order/1> ex:status ?s } "
         "UNION { <http://example.org/order/2> ex:status ?s } }")
    vg = VirtualGraph(spark, doc, catalog)
    compiled = _compiled_maps(vg)
    try:
        out = vg.select(q)
        assert compiled == ["#TMOrder"]
        scans, plan = _plan_scans(out)
        (orders,) = [b for b in scans if "/orders]" in b]
        pushed = re.search(r"PushedFilters: \[(.*)\]", orders).group(1)
        assert re.search(r"o_orderkey,1\b", pushed), orders
        assert re.search(r"o_orderkey,2\b", pushed), orders
        got = _rows(out)
        assert got == _rows(sparql_select(triples, q))
        assert len(got) == 2
    finally:
        vg.release()


# -- document sources whose JSONPath fields are proven typed columns --

TXP = "PREFIX txp: <http://ex.org/txp/>\n"
_TAXA_TTL = """
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix txp: <http://ex.org/txp/> .
""" + "".join(f"""
<#TMWide{i}>
    xrr:logicalSource [ xrr:query "db.taxa.find({{}})";
                        xrr:referenceFormulation xrr:JSONPath ];
    rr:subjectMap [ rr:template "http://ex.org/taxon/m{i}/{{$.codeTaxon}}" ];
    rr:predicateObjectMap [
        rr:predicate txp:p{i}; rr:objectMap [ xrr:reference "$.f{i}" ] ];
    rr:predicateObjectMap [
        rr:predicate txp:taxon{i};
        rr:objectMap [ rr:template "http://ex.org/taxon/{{$.codeTaxon}}" ] ];
    rr:predicateObjectMap [
        rr:predicate txp:mixed{i}; rr:objectMap [ xrr:reference "$.mixed" ] ] .
""" for i in range(2))


@pytest.fixture(scope="module")
def taxa(spark, tmp_path_factory):
    """A taxref-shaped document collection: ``codeTaxon`` and ``f0``/
    ``f1`` are scalar everywhere, ``mixed`` holds numbers and strings."""
    import json

    path = str(tmp_path_factory.mktemp("taxa") / "taxa")
    docs = [
        json.dumps({"codeTaxon": t, "f0": f"a{t}", "f1": f"b{t}",
                    "mixed": t if t % 2 else f"s{t}"})
        for t in range(1, 41)
    ]
    spark.createDataFrame([(d,) for d in docs], "doc string").coalesce(1) \
        .write.parquet(path)
    catalog = SourceCatalog(spark).register("taxa", spark.read.parquet(path),
                                            doc_column="doc")
    doc = parse_mapping(_TAXA_TTL)
    comp = MappingCompiler(spark, doc, catalog)
    yield doc, catalog, comp.triples()
    comp.release()


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_typed_document_query_is_translated_without_python(spark, taxa):
    """``?t txp:p1 "v" . ?t txp:taxon1 ?x`` over typed fields: one
    key-filtered scan, the self-join on ``codeTaxon`` eliminated since
    the proof shows that no two documents share it, with no Python
    stage and no exchange; a second query over the same catalog proves
    nothing again."""
    from test_job_counts import jobs_run

    doc, catalog, triples = taxa
    taxa_df = catalog.tables["taxa"]
    paths, keys = MappingCompiler(spark, doc, catalog).json_paths("taxa")
    assert keys == {"codeTaxon"}
    with jobs_run(spark) as proof:
        probe = SourceCatalog(spark).register("taxa", taxa_df, doc_column="doc")
        # the translator proves the types, and the uniqueness of the
        # fields of the subject maps, in one aggregate
        proven = probe.typed_fields("taxa", paths, keys)
    assert proven["codeTaxon"] == TypedField("bigint", True)
    assert "mixed" not in proven
    # a catalog of its own, so that its first query proves the fields
    fresh = SourceCatalog(spark).register("taxa", taxa_df, doc_column="doc")
    vg = VirtualGraph(spark, doc, fresh)
    calls = _fragment_calls(vg)
    try:
        jobs = []
        for value in ("b7", "b8"):
            q = TXP + f'SELECT ?t ?x WHERE {{ ?t txp:p1 "{value}" . ?t txp:taxon1 ?x }}'
            with jobs_run(spark) as run:
                out = vg.select(q)
                got = _rows(out)
            jobs.append(len(run))
            assert got == _rows(sparql_select(triples, q))
            assert len(got) == 1
            plan = _executed(out)
            assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
            assert "Exchange" not in plan and plan.count("Scan ") == 1, plan
            # each document is parsed once, not once per typed column read
            assert plan.count("parseJson(") == 1, plan
        assert calls == []
        # the proof runs in the first query only (one action: the kinds'
        # aggregate joined to the uniqueness aggregate, whose exchanges
        # and broadcast adaptive execution runs as jobs of their own)
        assert 0 < len(proof) <= 5
        assert jobs[0] == jobs[1] + len(proof) and jobs[1] == 1, (jobs, proof)
    finally:
        vg.release()


def test_mixed_kind_path_keeps_its_udf(spark, taxa):
    doc, catalog, triples = taxa
    q = TXP + "SELECT ?t ?m WHERE { ?t txp:mixed0 ?m }"
    vg = VirtualGraph(spark, doc, catalog)
    calls = _fragment_calls(vg)
    try:
        out = vg.select(q)
        got = _rows(out)
        assert got == _rows(sparql_select(triples, q))
        assert len(got) == 40
        assert len(calls) == 1
        assert "ArrowEvalPython" in _executed(out)
    finally:
        vg.release()

"""Physical-plan hygiene: the properties that make these plans survive
a 100x scale-up, asserted against the actual optimized plans.

These are the checks SURVEY §4.3 calls 'built-in, no work' — they are
free ONLY if the plans are expressed so Catalyst can apply them; these
tests pin that down against regressions.
"""

from __future__ import annotations

import re
import uuid

import pytest

from morph_xr2rml_spark import driver_contract as dc

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_column_pruning_topk(spark):
    """A 2-column projection must not scan all 6 orders columns."""
    plan = plan_of(dc.q_topk_orders(spark, SF_DIR))
    schema = [ln for ln in plan.splitlines() if "ReadSchema:" in ln][0]
    assert "o_orderkey" in schema and "o_totalprice" in schema
    assert "o_orderdate" not in schema and "o_orderpriority" not in schema
    # top-k is TakeOrderedAndProject — no global sort of the table
    assert "TakeOrderedAndProject" in plan


def test_filter_pushdown_events(spark):
    """Constant predicates reach the parquet scan as PushedFilters."""
    plan = plan_of(dc.q_filter_events_json(spark, SF_DIR))
    assert "PushedFilters:" in plan
    assert "In(event_type" in plan or "EqualTo(event_type" in plan
    assert "IsNotNull(value)" in plan


def test_broadcast_dimension_join(spark):
    """The customer dimension joins broadcast — no shuffle of orders."""
    plan = plan_of(dc.q_join_revenue_by_segment(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_partial_aggregation(spark):
    """groupBy aggregates split into partial (map-side) + final."""
    plan = plan_of(dc.q_agg_pricing_summary(spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_codegen_in_term_projection(spark):
    """Native term-map compilation stays inside whole-stage codegen
    (no Python row processing in the nation mapping: constant/column/
    single-valued-template maps only)."""
    df = dc.q_xr2rml_nation(spark, SF_DIR)
    df.collect()  # run THIS plan, so AQE finalizes it with codegen ids
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    assert "*(" in plan  # whole-stage-codegen stage markers
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_mixed_path_uses_arrow_not_row_python(spark):
    """Mixed-syntax-path references run as Arrow-batched pandas UDFs,
    never row-at-a-time Python UDFs."""
    plan = plan_of(dc.q_xr2rml_mixed_path(spark, SF_DIR))
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_mention_dict_broadcast(spark):
    """The alias dictionary joins broadcast against the token stream."""
    from morph_xr2rml_spark.pipeline import extract, mentions, pages

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = pages.synthesize_pages(docs)
    ex = extract.extract_text(p).select("page_id", "extracted_text")
    m = mentions.detect_mentions(ex, mentions.build_alias_dict(docs))
    assert "BroadcastHashJoin" in plan_of(m)


def test_bucketed_triples_join_without_shuffle(spark, tmp_path):
    """write_bucketed_triples materializes subj-bucketed sorted
    buckets; a subject-keyed self-join of the table (the BGP join
    shape) must read them co-located: no Exchange on either side."""
    from morph_xr2rml_spark.sinks import (
        read_triples_table,
        write_bucketed_triples,
    )

    # unique name per run: even against a pre-existing warehouse, a
    # stale directory from a killed prior process can never collide
    table = f"bucketed_trip_test_{uuid.uuid4().hex[:12]}"
    rows = [(f"<e:s{i % 50}>", f"<e:p{i % 3}>", f'"v{i}"') for i in range(500)]
    trip = spark.createDataFrame(rows, "subj string, pred string, obj string")
    write_bucketed_triples(trip, table, buckets=4)
    try:
        t = read_triples_table(spark, table)
        a = t.where("pred = '<e:p0>'").select("subj", "obj")
        b = t.where("pred = '<e:p1>'").selectExpr("subj", "obj AS obj2")
        with_shuffle_off_broadcast = a.join(b.hint("merge"), "subj")
        plan = with_shuffle_off_broadcast._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucketing eliminated both shuffles
        # and the join is still correct
        n = with_shuffle_off_broadcast.count()
        assert n > 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_ivf_probe_side_broadcast(spark):
    """ivf_topk pins the query/probe side as the broadcast build side —
    size estimation over the UDF-derived plan must never pick the
    corpus (an OOM at scale)."""
    from morph_xr2rml_spark.ops import similarity

    corpus = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").selectExpr(
        "vec_id", "transform(embedding, x -> cast(x as double)) AS embedding"
    )
    queries = corpus.limit(3)
    df = similarity.ivf_topk(corpus, queries, dim=64)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan



def _plan_counts(plan: str) -> tuple[int, int]:
    """(source scans, exchanges) of a formatted plan, each node counted
    once by its id, so a cached relation read by several branches
    counts once (as perfbench counts them)."""
    nodes = dict(re.findall(r"^\((\d+)\) (\S+)", plan, re.M)).values()
    scans = sum(n in ("Scan", "BatchScan", "FileScan", "LocalTableScan") for n in nodes)
    return scans, sum(n in ("Exchange", "BroadcastExchange") for n in nodes)


def test_kg_mapping_plan_bound(spark, tmp_path):
    """The KG mapping compiled over three parquet tables: at most the 7
    scans and 6 exchanges it takes today (a compiler change that adds a
    scan or a shuffle fails here), and exactly the hand-written
    triples (duplicate mention rows collapse)."""
    import datetime

    from morph_xr2rml_spark.pipeline.run import emit_triples

    def parquet(name, rows, schema):
        spark.createDataFrame(rows, schema).write.parquet(str(tmp_path / name))
        return spark.read.parquet(str(tmp_path / name))

    ts = datetime.datetime(2024, 1, 2, 3, 4, 5)
    pages = parquet(
        "pages",
        [(1, "http://a.example/x", "en", ts), (2, "http://b.example/y", "fr", ts)],
        "page_id bigint, url string, lang string, warc_ts timestamp",
    )
    mentions = parquet(
        "mentions",
        [(1, "e1", 2), (1, "e1", 2), (1, "e2", 1), (2, "e1", 1)],
        "page_id bigint, entity_id string, n_occurrences bigint",
    )
    entities = parquet(
        "entities", [("e1", "Alpha"), ("e2", "Beta")], "entity_id string, label string"
    )
    triples = emit_triples(spark, pages, mentions, entities)
    scans, exchanges = _plan_counts(plan_of(triples))
    assert scans <= 7 and exchanges <= 6, (scans, exchanges)

    page, ent = "<http://kg.example.org/page/{}>", "<http://kg.example.org/entity/{}>"
    kg, schema = "<http://kg.example.org/ontology#{}>", "<http://schema.org/{}>"
    rdf_type = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
    label = "<http://www.w3.org/2000/01/rdf-schema#label>"
    integer = '"{}"^^<http://www.w3.org/2001/XMLSchema#integer>'
    # timestamps render as java.sql.Timestamp.toString does, as in the reference
    when = '"2024-01-02 03:04:05.0"^^<http://www.w3.org/2001/XMLSchema#dateTime>'
    want = []
    for pid, url, lang in ((1, "http://a.example/x", "en"), (2, "http://b.example/y", "fr")):
        want += [
            (page.format(pid), rdf_type, schema.format("WebPage")),
            (page.format(pid), schema.format("url"), f"<{url}>"),
            (page.format(pid), schema.format("inLanguage"), f'"{lang}"'),
            (page.format(pid), schema.format("dateModified"), when),
        ]
    for pid, eid in ((1, "e1"), (1, "e2"), (2, "e1")):
        want.append((page.format(pid), kg.format("mentions"), ent.format(eid)))
    for pid, n in ((1, 2), (1, 1), (2, 1)):
        want.append((page.format(pid), kg.format("mentionCount"), integer.format(n)))
    for eid, name in (("e1", "Alpha"), ("e2", "Beta")):
        want += [
            (ent.format(eid), rdf_type, kg.format("Entity")),
            (ent.format(eid), label, f'"{name}"'),
        ]
    assert sorted(map(tuple, triples.collect())) == sorted(want)

"""Predicate-disjoint dedup routing (compiler/compile.py _assemble /
_keyed_branch over a source scan or a RefObjectMap's _rom_pairs).

The set-semantic views triples()/quads() may deduplicate a
constant-predicate branch independently (with the dedup pushed below
term construction) only when no other branch can emit the same
predicate. These tests pin that the ROUTED plans produce exactly the
same triple set as the unrouted pool (CompileOptions(dedup=True) result
compared against a dropDuplicates over the dedup=False union), across
the routing-relevant cases:

  * duplicate source rows collapsing under pushdown (narrow pre-dedup)
  * the same predicate emitted by two triples maps (grouped dedup)
  * a non-constant predicate anywhere (everything falls back to pool)
  * named graphs: multi-graph POMs stay pooled; quads() keyed per graph
  * non-injective construction (timestamp literal) keeps the
    post-construction dedup
  * a catalog unique key or a declared xrr:uniqueRef eliding the dedup
  * RefObjectMap narrow-join pushdown vs the constructed join, with
    the J1 parent side never deduplicated and the join's dedup elided only
    when both sides are unique
"""

import pytest
from pyspark.sql import functions as F

from morph_xr2rml_spark.compiler import CompileOptions, MappingCompiler
from morph_xr2rml_spark.mapping import parse_mapping
from morph_xr2rml_spark.sources import SourceCatalog

PREFIX = """\
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix ex:  <http://example.org/> .
"""


def _triples(spark, ttl, tables, dedup=True, unique_keys=None):
    catalog = SourceCatalog(spark)
    for name, df in tables.items():
        catalog.register(name, df, unique_key=(unique_keys or {}).get(name))
    c = MappingCompiler(
        spark, parse_mapping(ttl), catalog, CompileOptions(dedup=dedup)
    )
    return c


def _routed_equals_pool(spark, ttl, tables, view="triples", unique_keys=None):
    """The dedup=True (routed) output must equal dropDuplicates over the
    dedup=False (raw union) output."""
    routed = getattr(
        _triples(spark, ttl, tables, dedup=True, unique_keys=unique_keys), view
    )()
    raw = getattr(_triples(spark, ttl, tables, dedup=False), view)()
    expected = raw.dropDuplicates(routed.columns)
    got = sorted(map(tuple, routed.collect()))
    want = sorted(map(tuple, expected.collect()))
    assert got == want
    return got


def test_pushdown_collapses_duplicate_source_rows(spark):
    # duplicate (id, v) rows -> one triple; distinct ids with equal v
    # -> distinct subjects (the narrow dedup keys on BOTH refs)
    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "a"), (3, None)], "id int, v string"
    )
    ttl = PREFIX + """
<#TM> xrr:logicalSource [ rr:tableName "t"; xrr:referenceFormulation xrr:Column ];
  rr:subjectMap [ rr:template "http://example.org/s/{id}" ];
  rr:predicateObjectMap [ rr:predicate ex:v; rr:objectMap [ rr:column "v" ] ] .
"""
    got = _routed_equals_pool(spark, ttl, {"t": df})
    assert len(got) == 2  # s/1-a, s/2-a; null v row emits nothing


def test_same_predicate_from_two_tms_grouped(spark):
    # both TMs emit ex:v with overlapping (subj, obj) -> grouped dedup
    # must remove the cross-TM duplicate
    a = spark.createDataFrame([(1, "x")], "id int, v string")
    b = spark.createDataFrame([(1, "x"), (2, "y")], "id int, v string")
    ttl = PREFIX + """
<#A> xrr:logicalSource [ rr:tableName "a"; xrr:referenceFormulation xrr:Column ];
  rr:subjectMap [ rr:template "http://example.org/s/{id}" ];
  rr:predicateObjectMap [ rr:predicate ex:v; rr:objectMap [ rr:column "v" ] ] .
<#B> xrr:logicalSource [ rr:tableName "b"; xrr:referenceFormulation xrr:Column ];
  rr:subjectMap [ rr:template "http://example.org/s/{id}" ];
  rr:predicateObjectMap [ rr:predicate ex:v; rr:objectMap [ rr:column "v" ] ] .
"""
    got = _routed_equals_pool(spark, ttl, {"a": a, "b": b})
    assert len(got) == 2


def test_nonconstant_pred_forces_pool(spark):
    # one predicate-template POM anywhere -> keyed branches rejoin the
    # pool; results still exact
    df = spark.createDataFrame([(1, "p1", "x"), (1, "v", "x")], "id int, p string, v string")
    ttl = PREFIX + """
<#TM> xrr:logicalSource [ rr:tableName "t"; xrr:referenceFormulation xrr:Column ];
  rr:subjectMap [ rr:template "http://example.org/s/{id}" ];
  rr:predicateObjectMap [
      rr:predicateMap [ rr:template "http://example.org/p/{p}"; rr:termType rr:IRI ];
      rr:objectMap [ rr:column "v" ] ];
  rr:predicateObjectMap [ rr:predicate ex:v; rr:objectMap [ rr:column "v" ] ] .
"""
    got = _routed_equals_pool(spark, ttl, {"t": df})
    # ex:v triple deduped across the two source rows
    assert sum(1 for s, p, o in got if p == "<http://example.org/v>") == 1


def test_multi_graph_pom_stays_exact(spark):
    df = spark.createDataFrame([(1, "x"), (1, "x")], "id int, v string")
    ttl = PREFIX + """
<#TM> xrr:logicalSource [ rr:tableName "t"; xrr:referenceFormulation xrr:Column ];
  rr:subjectMap [ rr:template "http://example.org/s/{id}" ];
  rr:predicateObjectMap [
      rr:predicate ex:v;
      rr:objectMap [ rr:column "v" ];
      rr:graphMap [ rr:constant ex:g1 ];
      rr:graphMap [ rr:constant ex:g2 ] ] .
"""
    quads = _routed_equals_pool(spark, ttl, {"t": df}, view="quads")
    assert len(quads) == 2  # one per graph
    trips = _routed_equals_pool(spark, ttl, {"t": df}, view="triples")
    assert len(trips) == 1  # graphs projected away -> one triple


def test_single_graph_pom_keyed_in_quads(spark):
    df = spark.createDataFrame([(1, "x"), (2, "y"), (2, "y")], "id int, v string")
    ttl = PREFIX + """
<#TM> xrr:logicalSource [ rr:tableName "t"; xrr:referenceFormulation xrr:Column ];
  rr:subjectMap [ rr:template "http://example.org/s/{id}" ];
  rr:predicateObjectMap [
      rr:predicate ex:v;
      rr:objectMap [ rr:column "v" ];
      rr:graphMap [ rr:constant ex:g1 ] ] .
"""
    quads = _routed_equals_pool(spark, ttl, {"t": df}, view="quads")
    assert len(quads) == 2
    assert all(g == "<http://example.org/g1>" for _, _, _, g in quads)


def test_timestamp_literal_keeps_constructed_dedup(spark):
    # two timestamps 40ms apart format to the SAME lexical form
    # ('...SS.0'); the branch must still emit ONE triple even though the
    # narrow source dedup sees two distinct values (injective=False path)
    df = spark.createDataFrame(
        [(1, "2020-01-01 00:00:00.010"), (1, "2020-01-01 00:00:00.050")],
        "id int, ts string",
    ).select("id", F.col("ts").cast("timestamp").alias("ts"))
    ttl = PREFIX + """
<#TM> xrr:logicalSource [ rr:tableName "t"; xrr:referenceFormulation xrr:Column ];
  rr:subjectMap [ rr:template "http://example.org/s/{id}" ];
  rr:predicateObjectMap [ rr:predicate ex:ts; rr:objectMap [ rr:column "ts" ] ] .
"""
    got = _routed_equals_pool(spark, ttl, {"t": df})
    assert len(got) == 1


def test_rom_narrow_join_pushdown(spark):
    # duplicate child rows and duplicate parent keys: the narrow-join
    # dedup must collapse equal (child subj, parent subj) pairs exactly
    # as the pooled dedup does
    child = spark.createDataFrame(
        [(1, 10), (1, 10), (2, 10), (3, 99)], "cid int, fk int"
    )
    parent = spark.createDataFrame(
        [(10, "p"), (10, "p"), (20, "q")], "pid int, label string"
    )
    ttl = PREFIX + """
<#P> xrr:logicalSource [ rr:tableName "parent"; xrr:referenceFormulation xrr:Column ];
  rr:subjectMap [ rr:template "http://example.org/p/{pid}" ] .
<#C> xrr:logicalSource [ rr:tableName "child"; xrr:referenceFormulation xrr:Column ];
  rr:subjectMap [ rr:template "http://example.org/c/{cid}" ];
  rr:predicateObjectMap [
      rr:predicate ex:ref;
      rr:objectMap [ rr:parentTriplesMap <#P>;
                     rr:joinCondition [ rr:child "fk"; rr:parent "pid" ] ] ] .
"""
    got = _routed_equals_pool(spark, ttl, {"child": child, "parent": parent})
    ref_triples = [(s, o) for s, p, o in got if p == "<http://example.org/ref>"]
    assert sorted(ref_triples) == [
        ("<http://example.org/c/1>", "<http://example.org/p/10>"),
        ("<http://example.org/c/2>", "<http://example.org/p/10>"),
    ]


def test_control_chars_in_string_template(spark):
    # 'a\tb' and 'ab' render to the SAME IRI (the reference-faithful
    # chain leaves \t for the IRI strip to delete), so a string-typed
    # template group must NOT skip the post-construction dedup — the
    # two source rows yield ONE triple
    df = spark.createDataFrame([("a\tb",), ("ab",)], "k string")
    ttl = PREFIX + """
<#TM> xrr:logicalSource [ rr:tableName "t"; xrr:referenceFormulation xrr:Column ];
  rr:subjectMap [ rr:template "http://example.org/s/x" ];
  rr:predicateObjectMap [
      rr:predicate ex:v;
      rr:objectMap [ rr:template "http://example.org/v/{k}"; rr:termType rr:IRI ] ] .
"""
    got = _routed_equals_pool(spark, ttl, {"t": df})
    assert got == [
        (
            "<http://example.org/s/x>",
            "<http://example.org/v>",
            "<http://example.org/v/ab>",
        )
    ]


def test_underscore_runs_stay_distinct_in_string_literal(spark):
    # raw literal semantics: 'a__b' and 'a_b' are DIFFERENT literals
    # (the reference's underscore-squeezing encodeLiteral result is
    # discarded at its materialization call site) — two triples, and
    # the now-injective string literal still dedups routed == pooled
    df = spark.createDataFrame([(1, "a__b"), (1, "a_b")], "id int, v string")
    ttl = PREFIX + """
<#TM> xrr:logicalSource [ rr:tableName "t"; xrr:referenceFormulation xrr:Column ];
  rr:subjectMap [ rr:template "http://example.org/s/{id}" ];
  rr:predicateObjectMap [ rr:predicate ex:v; rr:objectMap [ rr:column "v" ] ] .
"""
    got = _routed_equals_pool(spark, ttl, {"t": df})
    assert len(got) == 2


def test_unique_key_elides_all_dedup_shuffles(spark):
    """With a primary-key hint and an injective subject covering it,
    per-row branches are duplicate-free by construction: the plan has
    no dedup at all, and the output still equals the pooled dedup."""
    df = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, None)], "id int, v string"
    )
    ttl = PREFIX + """
<#TM> xrr:logicalSource [ rr:tableName "t"; xrr:referenceFormulation xrr:Column ];
  rr:subjectMap [ rr:template "http://example.org/s/{id}"; rr:class ex:T ];
  rr:predicateObjectMap [ rr:predicate ex:v; rr:objectMap [ rr:column "v" ] ] .
"""
    uk = {"t": ["id"]}
    got = _routed_equals_pool(spark, ttl, {"t": df}, unique_keys=uk)
    assert len(got) == 5  # 3 rdf:type + 2 ex:v (null v drops)
    plan = (
        _triples(spark, ttl, {"t": df}, unique_keys=uk)
        .triples()
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "Deduplicate" not in plan and "Aggregate" not in plan


def test_unique_ref_elides_dedup_like_a_catalog_key(spark):
    """A declared xrr:uniqueRef is a row key for elision, the same rule
    the rewriting-mode translator applies: no catalog key, and the
    branch still has no Aggregate."""
    df = spark.createDataFrame([(1, "x"), (2, "x"), (3, None)], "id int, v string")
    ttl = PREFIX + """
<#TM> xrr:logicalSource [ rr:tableName "t"; xrr:referenceFormulation xrr:Column;
                          xrr:uniqueRef "id" ];
  rr:subjectMap [ rr:template "http://example.org/s/{id}" ];
  rr:predicateObjectMap [ rr:predicate ex:v; rr:objectMap [ rr:column "v" ] ] .
"""
    got = _routed_equals_pool(spark, ttl, {"t": df})
    assert got == [
        ("<http://example.org/s/1>", "<http://example.org/v>", '"x"'),
        ("<http://example.org/s/2>", "<http://example.org/v>", '"x"'),
    ]
    total, _ = _aggregates(_triples(spark, ttl, {"t": df}).triples())
    assert total == 0


def test_unique_key_noninjective_subject_keeps_dedup(spark):
    # rows ARE unique on k, but the string-typed template can collide
    # ('a\tb' vs 'ab' under the C0 strip) — the dedup must survive the
    # hint and emit one triple
    df = spark.createDataFrame([("a\tb",), ("ab",)], "k string")
    ttl = PREFIX + """
<#TM> xrr:logicalSource [ rr:tableName "t"; xrr:referenceFormulation xrr:Column ];
  rr:subjectMap [ rr:template "http://example.org/s/{k}" ];
  rr:predicateObjectMap [ rr:predicate ex:c; rr:objectMap [ rr:constant ex:k ] ] .
"""
    got = _routed_equals_pool(spark, ttl, {"t": df}, unique_keys={"t": ["k"]})
    assert len(got) == 1


def test_multigroup_digit_template_injective(spark):
    # '/'-separated digit groups parse back uniquely: (1,23) and (12,3)
    # stay distinct, the composite-key hint elides the dedup
    df = spark.createDataFrame(
        [(1, 23, "a"), (12, 3, "a"), (1, 24, "b")], "oid int, line int, v string"
    )
    ttl = PREFIX + """
<#TM> xrr:logicalSource [ rr:tableName "t"; xrr:referenceFormulation xrr:Column ];
  rr:subjectMap [ rr:template "http://example.org/s/{oid}/{line}" ];
  rr:predicateObjectMap [ rr:predicate ex:v; rr:objectMap [ rr:column "v" ] ] .
"""
    uk = {"t": ["oid", "line"]}
    got = _routed_equals_pool(spark, ttl, {"t": df}, unique_keys=uk)
    assert len(got) == 3
    plan = (
        _triples(spark, ttl, {"t": df}, unique_keys=uk)
        .triples()
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "Deduplicate" not in plan and "Aggregate" not in plan


def test_adjacent_digit_groups_stay_deduped(spark):
    # '{a}{b}' with no separator is ambiguous ('1'+'23' == '12'+'3'):
    # the branch keeps its dedup and collapses the collision
    df = spark.createDataFrame([(1, 23), (12, 3)], "a int, b int")
    ttl = PREFIX + """
<#TM> xrr:logicalSource [ rr:tableName "t"; xrr:referenceFormulation xrr:Column ];
  rr:subjectMap [ rr:template "http://example.org/s/{a}{b}" ];
  rr:predicateObjectMap [ rr:predicate ex:c; rr:objectMap [ rr:constant ex:k ] ] .
"""
    got = _routed_equals_pool(spark, ttl, {"t": df}, unique_keys={"t": ["a", "b"]})
    assert len(got) == 1


def test_unique_key_elides_rom_join_dedup(spark):
    # child rows unique on cid and injective child subject: the
    # RefObjectMap join output needs no dedup; duplicate parent keys
    # still produce every distinct pair
    child = spark.createDataFrame([(1, 10), (2, 10), (3, 99)], "cid int, fk int")
    parent = spark.createDataFrame(
        [(10, "p"), (10, "p"), (20, "q")], "pid int, label string"
    )
    ttl = PREFIX + """
<#P> xrr:logicalSource [ rr:tableName "parent"; xrr:referenceFormulation xrr:Column ];
  rr:subjectMap [ rr:template "http://example.org/p/{pid}" ] .
<#C> xrr:logicalSource [ rr:tableName "child"; xrr:referenceFormulation xrr:Column ];
  rr:subjectMap [ rr:template "http://example.org/c/{cid}" ];
  rr:predicateObjectMap [
      rr:predicate ex:ref;
      rr:objectMap [ rr:parentTriplesMap <#P>;
                     rr:joinCondition [ rr:child "fk"; rr:parent "pid" ] ] ] .
"""
    got = _routed_equals_pool(
        spark, ttl, {"child": child, "parent": parent},
        unique_keys={"child": ["cid"]},
    )
    ref_triples = [(s, o) for s, p, o in got if p == "<http://example.org/ref>"]
    assert sorted(ref_triples) == [
        ("<http://example.org/c/1>", "<http://example.org/p/10>"),
        ("<http://example.org/c/2>", "<http://example.org/p/10>"),
    ]


ROM_TTL = PREFIX + """
<#P> xrr:logicalSource [ rr:tableName "parent"; xrr:referenceFormulation xrr:Column ];
  rr:subjectMap [ rr:template "http://example.org/p/{pid}" ] .
<#C> xrr:logicalSource [ rr:tableName "child"; xrr:referenceFormulation xrr:Column ];
  rr:subjectMap [ rr:template "http://example.org/c/{cid}" ];
  rr:predicateObjectMap [
      rr:predicate ex:ref;
      rr:objectMap [ rr:parentTriplesMap <#P>;
                     rr:joinCondition [ rr:child "fk"; rr:parent "pid" ] ] ] .
"""


def _plan_nodes(plan):
    yield plan
    children = plan.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def _aggregates(df) -> tuple[int, int]:
    """(Aggregates in the optimized plan, Aggregates on the parent side
    of a join — the side that outputs the parent subject)."""
    plan = df._jdf.queryExecution().optimizedPlan()
    total = sum(n.nodeName() == "Aggregate" for n in _plan_nodes(plan))
    parent = 0
    for n in _plan_nodes(plan):
        if n.nodeName() != "Join":
            continue
        for i in range(n.children().size()):
            side = n.children().apply(i)
            if "__psubj" in side.output().toString():
                parent += sum(
                    m.nodeName() == "Aggregate" for m in _plan_nodes(side)
                )
    return total, parent


def test_unique_parent_is_never_deduplicated(spark):
    # a parent registered unique on its join column needs no dedup of
    # its side; the duplicate child rows still collapse exactly
    child = spark.createDataFrame(
        [(1, 10), (1, 10), (2, 10), (3, 99)], "cid int, fk int"
    )
    parent = spark.createDataFrame([(10,), (20,)], "pid int")
    tables = {"child": child, "parent": parent}
    uk = {"parent": ["pid"]}
    got = _routed_equals_pool(spark, ROM_TTL, tables, unique_keys=uk)
    assert got == [
        ("<http://example.org/c/1>", "<http://example.org/ref>", "<http://example.org/p/10>"),
        ("<http://example.org/c/2>", "<http://example.org/ref>", "<http://example.org/p/10>"),
    ]
    total, on_parent = _aggregates(_triples(spark, ROM_TTL, tables, unique_keys=uk).triples())
    assert total == 1 and on_parent == 0  # the child side's narrow dedup


def test_unique_both_sides_elides_every_rom_dedup(spark):
    # child unique on cid under an injective subject, parent unique on
    # its join column: one parent subject per child row, so the join's
    # pairs are distinct and the branch has no Aggregate at all
    child = spark.createDataFrame([(1, 10), (2, 10), (3, 99)], "cid int, fk int")
    parent = spark.createDataFrame([(10,), (20,)], "pid int")
    tables = {"child": child, "parent": parent}
    uk = {"child": ["cid"], "parent": ["pid"]}
    got = _routed_equals_pool(spark, ROM_TTL, tables, unique_keys=uk)
    assert len(got) == 2
    total, _ = _aggregates(_triples(spark, ROM_TTL, tables, unique_keys=uk).triples())
    assert total == 0


def test_keyed_plan_shape(spark):
    """The keyed branch must not evaluate term construction below the
    narrow dedup: the pre-exchange side of the plan must not contain
    the %-encoding chain (spot-check: no 'replace' call appears under
    the first Exchange's child in the keyed branch plan)."""
    df = spark.createDataFrame([(1, 2)], "id int, n int")
    ttl = PREFIX + """
<#TM> xrr:logicalSource [ rr:tableName "t"; xrr:referenceFormulation xrr:Column ];
  rr:subjectMap [ rr:template "http://example.org/s/{id}" ];
  rr:predicateObjectMap [ rr:predicate ex:n; rr:objectMap [ rr:column "n" ] ] .
"""
    c = _triples(spark, ttl, {"t": df}, dedup=True)
    plan = c.triples()._jdf.queryExecution().optimizedPlan().toString()
    # the Aggregate (narrow dedup) groups on raw source columns, and the
    # filter below it is the cheap definedness predicate, not the
    # constructed-term isNotNull
    agg_pos = plan.find("Aggregate")
    assert agg_pos != -1
    below = plan[agg_pos:]
    assert "isnotnull(concat(" not in below

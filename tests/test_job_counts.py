"""Spark job counts of the KG pipeline's checkpoints and plan shapes of
its sources.

A checkpoint costs the one job that writes it: the read-back uses the
writer's schema and row counts come from parquet footers. A source scan
is not repartitioned. Jobs are counted by job group, after the listener
bus has delivered every job event.
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from morph_xr2rml_spark.compiler import CompileOptions, MappingCompiler
from morph_xr2rml_spark.mapping import parse_mapping
from morph_xr2rml_spark.pipeline import canonicalize
from morph_xr2rml_spark.pipeline.lineage import StageRunner
from morph_xr2rml_spark.plans import caching
from morph_xr2rml_spark.sources import SourceCatalog


@contextmanager
def jobs_run(spark):
    """Collects the ids of the Spark jobs started inside the block."""
    sc = spark.sparkContext
    group = f"test-jobs-{uuid.uuid4().hex}"
    outer = sc.getLocalProperty("spark.jobGroup.id")
    jobs: list[int] = []
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", outer)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))


def _frame(spark):
    # map-only plan; k is a digit string, so schema inference would
    # read the partition column back as an int
    return spark.range(0, 1000, 1, 4).select(
        "id",
        (F.col("id") % 3).cast("string").alias("k"),
        F.sha1(F.col("id").cast("string")).alias("h"),
    )


def test_map_only_stage_runs_one_job(spark, tmp_path):
    runner = StageRunner(spark, str(tmp_path), resume=False)
    with jobs_run(spark) as jobs:
        out = runner.stage("s", lambda: _frame(spark))
    assert len(jobs) == 1
    rec = runner.metrics()[-1]
    assert rec["rows"] == 1000
    assert sum(rec["partition_rows"]) == 1000
    assert rec["n_partitions"] == len(rec["partition_rows"]) == len(out.inputFiles())
    assert out.dtypes == _frame(spark).dtypes


def test_partition_counts_are_footer_rows_per_file(spark, tmp_path):
    runner = StageRunner(spark, str(tmp_path), resume=False)
    out = runner.stage("s", lambda: _frame(spark), partition_by=["k"])
    with jobs_run(spark) as jobs:
        counts = runner.partition_counts(out)
    assert jobs == []
    per_file = {
        r["f"]: r["n"]
        for r in out.groupBy(F.input_file_name().alias("f")).count()
        .withColumnRenamed("count", "n").collect()
    }
    assert counts == [per_file[f] for f in sorted(per_file)]
    assert sum(counts) == 1000


def test_resumed_stage_runs_no_job(spark, tmp_path):
    written = StageRunner(spark, str(tmp_path), resume=False).stage(
        "s", lambda: _frame(spark), partition_by=["k"]
    )
    runner = StageRunner(spark, str(tmp_path), resume=True)
    with jobs_run(spark) as jobs:
        out = runner.stage("s", lambda: pytest.fail("a resumed stage must not run"),
                           partition_by=["k"])
    assert jobs == []
    rec = runner.metrics()[-1]
    assert rec["resumed"] and rec["rows"] == 1000
    # the writer's schema, partition column type included
    assert out.schema == written.schema
    assert dict(out.dtypes)["k"] == "string"
    expected = _frame(spark).select(*out.columns).collect()
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, expected))


def test_checkpoint_without_schema_file_is_recomputed(spark, tmp_path):
    # a directory with _SUCCESS but no _schema.json (an older runner's
    # checkpoint, never checked by this one) is not resumed
    spark.range(3).write.parquet(str(tmp_path / "s"))
    runner = StageRunner(spark, str(tmp_path), resume=True)
    out = runner.stage("s", lambda: _frame(spark))
    rec = runner.metrics()[-1]
    assert not rec["resumed"] and rec["rows"] == 1000
    assert out.dtypes == _frame(spark).dtypes
    assert (tmp_path / "s" / "_schema.json").exists()


def test_checkpoint_parquet_read_back_runs_no_job(spark):
    df = _frame(spark)
    with jobs_run(spark) as jobs:
        out = caching.checkpoint_parquet(df, "test_")
    assert len(jobs) == 1  # the write
    assert out.dtypes == df.dtypes
    assert out.count() == 1000
    caching.release_caches()


def test_connected_components_runs_jobs_only_in_its_round_writes(spark, monkeypatch):
    """Each round costs its pinned write and nothing else: convergence
    is an Observation on that write, and round 1 aggregates straight
    from the edges (no identity-label pin)."""
    rounds = []
    pin = canonicalize.checkpoint_parquet

    def counted(df, *args, **kwargs):
        with jobs_run(spark) as jobs:
            out = pin(df, *args, **kwargs)
        rounds.append(jobs)
        return out

    monkeypatch.setattr(canonicalize, "checkpoint_parquet", counted)
    # 9-node path: labels after each round's jump are n(i-2), n(i-6),
    # n0; round 4 changes nothing
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i + 1}") for i in range(8)], "src string, dst string"
    )
    with jobs_run(spark) as outside:
        cc = canonicalize.connected_components(edges)
    assert outside == []
    assert len(rounds) == 4
    assert all(rounds)
    assert {r["component"] for r in cc.collect()} == {"n0"}
    caching.release_caches()


SMALL_MAP = """\
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix ex:  <http://example.org/> .

<#TM>
    xrr:logicalSource [ rr:tableName "t"; xrr:referenceFormulation xrr:Column ];
    rr:subjectMap [ rr:template "http://example.org/s/{id}" ];
    rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rr:column "name" ] ];
    rr:predicateObjectMap [ rr:predicate ex:age; rr:objectMap [ rr:column "age" ] ];
    .
"""


def _compiled_plan(spark, path):
    catalog = SourceCatalog(spark).register("t", spark.read.parquet(path))
    out = MappingCompiler(spark, parse_mapping(SMALL_MAP), catalog, CompileOptions()).triples()
    return out._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def small_source(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("small") / "t.parquet")
    spark.createDataFrame(
        [(i, f"n{i}", i % 90) for i in range(200)], "id long, name string, age int"
    ).coalesce(1).write.parquet(path)
    assert spark.sparkContext.defaultParallelism >= 4  # a narrow single-file scan
    return path


def test_source_scan_is_not_repartitioned(spark, small_source):
    # a narrow scan stays as Spark split it: no shuffle of the raw source
    assert "RoundRobinPartitioning" not in _compiled_plan(spark, small_source)


def _rewritten(spark):
    kg = "http://kg.example.org/entity/"
    triples = spark.createDataFrame(
        [(f"<{kg}a{i}>", "<p>", f"<{kg}b{i % 7}>") for i in range(50)],
        "subj string, pred string, obj string",
    )
    cmap = spark.createDataFrame(
        [(f"a{i}", f"a{i % 5}") for i in range(20)] + [(f"b{i}", "b0") for i in range(7)],
        "entity_id string, canonical_id string",
    )
    out = canonicalize.rewrite_triples(triples, cmap)
    rows = sorted(map(tuple, out.collect()))
    return rows, out._jdf.queryExecution().executedPlan().toString()


def test_entity_map_broadcast_is_size_gated(spark):
    default_rows, default_plan = _rewritten(spark)
    assert "BroadcastHashJoin" in default_plan
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        rows, plan = _rewritten(spark)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert "BroadcastHashJoin" not in plan
    assert rows == default_rows
    kg = "http://kg.example.org/entity/"
    canon = {i: i % 5 if i < 20 else i for i in range(50)}
    assert rows == sorted({(f"<{kg}a{canon[i]}>", "<p>", f"<{kg}b0>") for i in range(50)})

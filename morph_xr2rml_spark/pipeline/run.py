"""Pipeline orchestrator: documents parquet -> canonicalized KG triples.

The triple-emission stage is NOT hand-written: it is the xR2RML mapping
below compiled by mapping.compiler.MappingCompiler — the same engine
that replays the reference's own example suites — over the pages /
mentions / entities tables. The reference's single-threaded
materialization loop (MorphBaseDataTranslator.translateData_
Materialization, SURVEY §3.1) becomes a Catalyst plan with one scan per
logical source and an equi-join for the RefObjectMap.

Run under spark-submit with:
    scripts/submit_pipeline.sh  (builds the --py-files zip)
or in-process:
    from morph_xr2rml_spark.pipeline import run_pipeline
"""

from __future__ import annotations

import argparse

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..compiler import CompileOptions, MappingCompiler
from ..mapping import parse_mapping
from ..sources import SourceCatalog
from . import canonicalize, extract, mentions, pages
from .lineage import StageRunner

KG_MAPPING_TTL = """\
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix kg:  <http://kg.example.org/ontology#> .
@prefix schema: <http://schema.org/> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .

<#TMPage>
    xrr:logicalSource [ rr:tableName "pages"; xrr:referenceFormulation xrr:Column ];
    rr:subjectMap [
        rr:template "http://kg.example.org/page/{page_id}";
        rr:class schema:WebPage;
    ];
    rr:predicateObjectMap [
        rr:predicate schema:url;
        rr:objectMap [ rr:column "url"; rr:termType rr:IRI ];
    ];
    rr:predicateObjectMap [
        rr:predicate schema:inLanguage;
        rr:objectMap [ rr:column "lang" ];
    ];
    rr:predicateObjectMap [
        rr:predicate schema:dateModified;
        rr:objectMap [ rr:column "warc_ts" ];
    ];
    .

<#TMMention>
    xrr:logicalSource [ rr:tableName "mentions"; xrr:referenceFormulation xrr:Column ];
    rr:subjectMap [ rr:template "http://kg.example.org/page/{page_id}" ];
    rr:predicateObjectMap [
        rr:predicate kg:mentions;
        rr:objectMap [
            rr:parentTriplesMap <#TMEntity>;
            rr:joinCondition [ rr:child "entity_id"; rr:parent "entity_id" ];
        ];
    ];
    rr:predicateObjectMap [
        rr:predicate kg:mentionCount;
        rr:objectMap [ rr:column "n_occurrences" ];
    ];
    .

<#TMEntity>
    xrr:logicalSource [ rr:tableName "entities"; xrr:referenceFormulation xrr:Column ];
    rr:subjectMap [
        rr:template "http://kg.example.org/entity/{entity_id}";
        rr:class kg:Entity;
    ];
    rr:predicateObjectMap [
        rr:predicate rdfs:label;
        rr:objectMap [ rr:column "label" ];
    ];
    .
"""


def emit_triples(
    spark: SparkSession,
    pages_df: DataFrame,
    mentions_df: DataFrame,
    entities_df: DataFrame,
) -> DataFrame:
    # pages is one row per page_id (the synthesized Common-Crawl-style
    # table's key, i.e. an RDB primary key); entities is the groupBy
    # output keyed on entity_id. mentions is NOT unique on
    # (page_id, entity_id) — two surfaces on a page can link to the
    # same entity — so it carries no hint and keeps its dedups.
    catalog = (
        SourceCatalog(spark)
        .register("pages", pages_df, unique_key=["page_id"])
        .register("mentions", mentions_df)
        .register("entities", entities_df, unique_key=["entity_id"])
    )
    doc = parse_mapping(KG_MAPPING_TTL)
    compiler = MappingCompiler(spark, doc, catalog, CompileOptions())
    return compiler.triples()


def pred_dir(col: Column) -> Column:
    """Filesystem-safe predicate partition value (partition pruning by
    predicate on the materialized table)."""
    return F.regexp_replace(F.regexp_replace(col, "[<>]", ""), "[^A-Za-z0-9]+", "_")


def run_pipeline(
    spark: SparkSession,
    documents: DataFrame,
    out_dir: str,
    resume: bool = True,
) -> dict:
    """Full KG construction with per-stage checkpoints under out_dir.

    Returns {"triples": DataFrame, "metrics": [...], "mismatches": int};
    a page whose extracted text is not byte-identical to its text fails
    the run instead, so ``mismatches`` is 0 on return.
    """
    runner = StageRunner(spark, out_dir, resume=resume)

    pages_df = runner.stage("pages", lambda: pages.synthesize_pages(documents))

    # byte-identical per-url invariant (BASELINE.json input_hint),
    # checked inside the write: a violating page fails the stage, so a
    # completed extracted checkpoint, written or resumed, has none
    extracted = runner.stage(
        "extracted",
        lambda: extract.enforce_byte_identity(
            extract.extract_text(pages_df).select(
                "page_id", "url", "extracted_text", "text"
            )
        ),
    )
    runner._record({"stage": "extract_invariant", "mismatches": 0})

    aliases = runner.stage("aliases", lambda: mentions.build_alias_dict(documents))
    mentions_df = runner.stage(
        "mentions",
        lambda: mentions.detect_mentions(
            extracted.select("page_id", "extracted_text"), aliases
        ),
    )
    entities_df = runner.stage(
        "entities", lambda: mentions.entities_from_aliases(aliases)
    )

    raw_triples = runner.stage(
        "triples_raw",
        lambda: emit_triples(spark, pages_df, mentions_df, entities_df),
    )

    sameas = runner.stage("sameas", lambda: pages.synthesize_sameas(documents))
    cmap = runner.stage("canonical_map", lambda: canonicalize.canonical_map(sameas))

    triples = runner.stage(
        "kg_triples",
        lambda: canonicalize.rewrite_triples(raw_triples, cmap).withColumn(
            "pred_dir", pred_dir(F.col("pred"))
        ),
        partition_by=["pred_dir"],
        sort_within=["subj"],
    )
    return {
        "triples": triples.select("subj", "pred", "obj"),
        "metrics": runner.metrics(),
        "mismatches": 0,
    }


def main() -> None:
    ap = argparse.ArgumentParser(description="KG construction pipeline")
    ap.add_argument("--documents", required=True, help="documents parquet path")
    ap.add_argument("--out", required=True, help="checkpoint/output dir")
    ap.add_argument("--no-resume", action="store_true")
    args = ap.parse_args()

    from ..plans.session import build_session

    spark = build_session("kg-pipeline")
    docs = spark.read.parquet(args.documents)
    result = run_pipeline(spark, docs, args.out, resume=not args.no_resume)
    n = result["triples"].count()
    print(f"pipeline complete: {n} triples, mismatches={result['mismatches']}")
    spark.stop()


if __name__ == "__main__":
    main()

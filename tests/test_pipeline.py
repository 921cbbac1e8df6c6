"""End-to-end + per-stage tests for the KG construction pipeline."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from morph_xr2rml_spark.pipeline import canonicalize, extract, mentions, pages, skew
from morph_xr2rml_spark.pipeline.run import run_pipeline

SF_DIR = "/root/testdata/sf0.001"

KG = "http://kg.example.org/"
RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(100).cache()


@pytest.fixture(scope="module")
def pages_df(documents):
    return pages.synthesize_pages(documents).cache()


def test_extraction_byte_identical(pages_df):
    assert extract.extraction_mismatches(pages_df).count() == 0


def test_extraction_handles_entities(spark):
    tricky = spark.createDataFrame(
        [(1, 'a < b & c > "d" && &amp; text', "en", "src0")],
        "doc_id long, text string, lang string, source string",
    )
    p = pages.synthesize_pages(tricky)
    assert extract.extraction_mismatches(p).count() == 0
    row = extract.extract_text(p).first()
    assert row["extracted_text"] == 'a < b & c > "d" && &amp; text'


def test_urls_have_reserved_char_subset(pages_df):
    weird = pages_df.where(F.col("url").contains("odd path (x)%/")).count()
    assert weird > 0


def test_mentions_best_candidate(spark):
    page = spark.createDataFrame(
        [(1, "alpha beta alpha gamma")], "page_id long, extracted_text string"
    )
    aliases = spark.createDataFrame(
        [
            ("alpha", "ent_alpha", 0.9),
            ("alpha", "ent_alpha2", 0.9),   # tie -> entity_id asc
            ("beta", "ent_beta_low", 0.2),
            ("beta", "ent_beta_high", 0.7),
        ],
        "alias string, entity_id string, score double",
    )
    out = {r["alias"]: r for r in mentions.detect_mentions(page, aliases).collect()}
    assert out["alpha"]["entity_id"] == "ent_alpha"
    assert out["alpha"]["n_occurrences"] == 2
    assert out["beta"]["entity_id"] == "ent_beta_high"
    assert "gamma" not in out


def test_salted_join_matches_plain_join(spark):
    fact = spark.range(0, 1000).select(
        (F.col("id") % 5).alias("k"), F.col("id").alias("v")
    )
    dim = spark.createDataFrame(
        [(i, f"d{i}") for i in range(5)], "k long, name string"
    )
    plain = {(r["k"], r["v"], r["name"]) for r in fact.join(dim, "k").collect()}
    salted = {
        (r["k"], r["v"], r["name"])
        for r in skew.salted_join(fact, dim, "k", n_salt=8).collect()
    }
    assert salted == plain


def test_connected_components(spark):
    edges = spark.createDataFrame(
        [
            ("b", "a"), ("c", "b"),            # chain -> a
            ("x", "y"),                        # pair -> x
            ("h1", "hub"), ("h2", "hub"), ("h3", "hub"),  # star -> h1? no: min
        ],
        "src string, dst string",
    )
    cc = {r["node"]: r["component"]
          for r in canonicalize.connected_components(edges).collect()}
    assert cc["a"] == cc["b"] == cc["c"] == "a"
    assert cc["x"] == cc["y"] == "x"
    assert cc["hub"] == cc["h1"] == cc["h2"] == cc["h3"] == "h1"


def test_connected_components_deep_chain(spark):
    """A path graph far deeper than max_iter: pointer jumping
    (label-to-label composition each round) converges in O(log d)
    rounds, so a 300-hop chain resolves inside the default 25-round
    budget — plain propagation would exit unconverged at round 25."""
    n = 300
    edges = spark.createDataFrame(
        [(f"n{i:04d}", f"n{i + 1:04d}") for i in range(n)],
        "src string, dst string",
    )
    cc = canonicalize.connected_components(edges)
    comps = [r["component"] for r in cc.collect()]
    assert len(comps) == n + 1
    assert set(comps) == {"n0000"}


def test_connected_components_random_differential(spark):
    """Randomized differential: pointer-jumped min-label propagation vs
    a pure-Python union-find oracle over random graphs mixing isolated
    edges, chains, stars, and dense blobs — the shapes that stress
    round count, label monotonicity, and the folded convergence check
    differently."""
    import random

    rng = random.Random(0xC0C0)
    for trial in range(4):
        n = rng.randint(10, 60)
        nodes = [f"v{i:03d}" for i in range(n)]
        edges = []
        for _ in range(rng.randint(5, 2 * n)):
            a, b = rng.choice(nodes), rng.choice(nodes)
            if a != b:
                edges.append((a, b))
        if not edges:
            continue
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {x for e in edges for x in e}
        expected = {x: find(x) for x in touched}
        got = {
            r["node"]: r["component"]
            for r in canonicalize.connected_components(
                spark.createDataFrame(edges, "src string, dst string")
            ).collect()
        }
        assert got == expected, f"trial {trial} diverged"


def test_rewrite_triples(spark):
    triples = spark.createDataFrame(
        [
            (f"<{KG}page/1>", f"<{KG}ontology#mentions>", f"<{KG}entity/alt1_x>"),
            (f"<{KG}entity/alt1_x>", RDF_TYPE, f"<{KG}ontology#Entity>"),
            (f"<{KG}page/1>", f"<{KG}ontology#mentions>", f"<{KG}entity/ent_x>"),
        ],
        "subj string, pred string, obj string",
    )
    cmap = spark.createDataFrame(
        [("alt1_x", "ent_x"), ("ent_x", "ent_x")],
        "entity_id string, canonical_id string",
    )
    out = {(r["subj"], r["pred"], r["obj"])
           for r in canonicalize.rewrite_triples(triples, cmap).collect()}
    assert out == {
        (f"<{KG}page/1>", f"<{KG}ontology#mentions>", f"<{KG}entity/ent_x>"),
        (f"<{KG}entity/ent_x>", RDF_TYPE, f"<{KG}ontology#Entity>"),
    }


def test_full_pipeline_and_resume(spark, documents, tmp_path_factory):
    out_dir = str(tmp_path_factory.mktemp("kg"))
    result = run_pipeline(spark, documents, out_dir, resume=False)
    triples = result["triples"].cache()
    n1 = triples.count()
    assert n1 > 0
    assert result["mismatches"] == 0

    preds = {r["pred"] for r in triples.select("pred").distinct().collect()}
    assert f"<{KG}ontology#mentions>" in preds
    assert RDF_TYPE in preds
    assert "<http://schema.org/url>" in preds

    # canonicalization: no alt*_ entities survive in any position
    leftovers = triples.where(
        F.col("subj").contains("/entity/alt") | F.col("obj").contains("/entity/alt")
    ).count()
    assert leftovers == 0

    # every mentions-object entity has a type triple (RefObjectMap parity)
    objs = triples.where(F.col("pred") == f"<{KG}ontology#mentions>").select(
        F.col("obj").alias("subj")
    ).distinct()
    typed = triples.where(
        (F.col("pred") == RDF_TYPE) & (F.col("obj") == f"<{KG}ontology#Entity>")
    ).select("subj").distinct()
    assert objs.join(typed, "subj", "left_anti").count() == 0

    # lineage metrics recorded for every stage
    stages = {m["stage"] for m in result["metrics"]}
    assert {"pages", "extracted", "mentions", "triples_raw",
            "canonical_map", "kg_triples"} <= stages

    # resume: second run must reuse checkpoints and produce identical output
    result2 = run_pipeline(spark, documents, out_dir, resume=True)
    assert result2["triples"].count() == n1
    resumed = [m for m in result2["metrics"] if m.get("resumed")]
    assert len(resumed) >= 6
    triples.unpersist()


def test_extract_invariant_fails_the_extracted_write(
    spark, documents, tmp_path, monkeypatch
):
    """One planted mismatching page fails the extracted write (no job of
    its own counts mismatches): the error names the page and the stage
    never gets its _SUCCESS marker."""
    real = extract.extract_text
    bad = {}

    def planted(pages_df, *args):
        out = real(pages_df, *args)
        bad["id"] = pages_df.orderBy("page_id").first()["page_id"]
        return out.withColumn(
            "extracted_text",
            F.when(F.col("page_id") == bad["id"], F.concat("extracted_text", F.lit(" ")))
            .otherwise(F.col("extracted_text")),
        )

    monkeypatch.setattr(extract, "extract_text", planted)
    with pytest.raises(Exception) as err:
        run_pipeline(spark, documents, str(tmp_path), resume=False)
    message = f"page_id {bad['id']} violates the byte-identical extraction invariant"
    assert message in str(err.value)
    assert os.path.exists(tmp_path / "pages" / "_SUCCESS")
    assert not os.path.exists(tmp_path / "extracted" / "_SUCCESS")


def test_connected_components_aqe_shuffle_input(spark, tmp_path):
    """Regression: the fixpoint must survive an edge set that comes out
    of an AQE-finalized shuffle over a parquet-backed input — the shape
    that made Spark 4's localCheckpoint throw 'key not found: <attr>#N'
    (see spark4 localCheckpoint/AQE note in canonicalize.py; fixed by
    the persist+count barrier)."""
    import pyspark.sql.functions as F

    # small diameter: the localCheckpoint crash fired on the FIRST
    # round, so the shape (parquet -> exchange -> distinct) is what
    # matters, not the iteration depth (whose lineage cost is bounded
    # separately by max_iter)
    rows = [(f"n{i}", f"n{(i + 1) % 8}") for i in range(8)] + [
        (f"m{i}", f"m{i + 1}") for i in range(6)
    ]
    df = spark.createDataFrame(rows, "src string, dst string")
    path = str(tmp_path / "edges.parquet")
    df.write.parquet(path)
    # force a real exchange + distinct (the AQE-finalized shuffle shape)
    edges = (
        spark.read.parquet(path)
        .repartition(8, "src")
        .groupBy("src", "dst")
        .agg(F.count("*").alias("c"))
        .select("src", "dst")
    )
    cc = canonicalize.connected_components(edges)
    comps = {r["node"]: r["component"] for r in cc.collect()}
    # the n-cycle is one component, the m-chain another
    assert len({comps[f"n{i}"] for i in range(8)}) == 1
    assert len({comps[f"m{i}"] for i in range(7)}) == 1
    assert comps["n0"] != comps["m0"]


def test_checkpoint_lifecycle_bounded_disk(spark):
    """A fixpoint whose rounds supersede each other retires superseded
    checkpoint files eagerly (peak on disk ~2 rounds, not one per
    round), and release_caches() reclaims the survivors at the job
    boundary — the unbounded-tmp-disk leak a long-lived session would
    otherwise hit."""
    import os

    from morph_xr2rml_spark.plans import caching

    caching.release_caches()
    # a 12-deep chain: min-label propagation needs many rounds, so an
    # unretired scope would leave many cc_labels_* dirs behind
    edges = spark.createDataFrame(
        [(f"c{i}", f"c{i+1}") for i in range(12)], "src string, dst string"
    )
    cc = canonicalize.connected_components(edges)
    comps = {r["node"]: r["component"] for r in cc.collect()}
    assert len(set(comps.values())) == 1
    live = caching.live_checkpoints()
    assert len(live) <= 2, live  # superseded rounds already deleted
    assert all(os.path.isdir(p) for p in live)
    caching.release_caches()
    assert caching.live_checkpoints() == []
    assert all(not os.path.exists(p) for p in live)

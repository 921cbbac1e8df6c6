"""Entity canonicalization: connected components over sameAs edges,
then subj/obj rewrite of the triple table through the canonical map.

Algorithm: iterative min-label propagation with pointer jumping (the
GraphFrames-free fallback SURVEY §7 calls for — GraphFrames is not in
this environment). Each round: every node takes the min label among
itself and its neighbors (one join of the edge table, which pairs each
node with itself too, and one partial-aggregated groupBy), then labels
compose once through a label-to-label self-join (path shortcutting a
la Shiloach-Vishkin), so the distance a min label covers doubles per
round — O(log diameter) rounds instead of O(diameter), without the
constant-factor-heavy large-star/small-star edge rewriting.

Round 1's min-aggregation reads the edge table directly (a node's
first label is the min of itself and its neighbors), so no pass writes
identity labels. Each round pins its aggregate with a
parquet-checkpoint lineage cut (plans.caching.checkpoint_parquet), and
the pointer jump is composed from that pinned table inside the next
round's plan, so each aggregate is computed once. persist alone would
leave the logical plan doubling per round (the jump references the
previous round twice), and Spark 4's localCheckpoint throws ``key not
found: <attr>#<id>`` on AQE-finalized shuffle plans such as the
union+distinct ``und`` edge set here. Convergence rides the pinned
write itself: each node's previous label (the one its self-pair
carries) goes through the aggregation as a side column, and an
Observation on the write counts the nodes whose label changed — no
separate job checks convergence. A round that changes no label also
makes its pointer jump a no-op, so its pinned aggregate is the answer.

Skew note: a hub component funnels its whole frontier into one groupBy
key per round. The groupBy is a min-aggregate — partial aggregation
map-side collapses each partition's contribution to one row per key, so
hot components cost one row per partition, not one per edge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..plans.caching import CheckpointScope, cache, checkpoint_parquet


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) with component = min node id (lexicographic)
    reachable in the undirected graph."""
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    # every node also pairs with itself, so one join brings a node its
    # own label along with its neighbors' (and names its previous label)
    und = und.unionByName(und.select("a", F.col("a").alias("b")).distinct())
    # the edge table is re-read every round: keep it in memory (its
    # lineage is fixed, so persist is safe and cheaper than re-scanning);
    # round 1's write fills the cache
    und = cache(und)
    # each round's aggregate supersedes the previous one — retire the
    # older checkpoint files once the newer round is written, so a long
    # propagation holds ~2 rounds of files on disk, not max_iter
    scope = CheckpointScope()
    agg = und.groupBy("a").agg(F.min("b").alias("component")).select(
        F.col("a").alias("node"), "component", F.col("a").alias("__old")
    )
    for _ in range(max_iter):
        changed = Observation()
        agg = checkpoint_parquet(
            agg.observe(
                changed, F.count_if(F.col("component") != F.col("__old")).alias("n")
            ),
            "cc_labels_",
            scope,
        )
        scope.retire(keep=1)
        if changed.get["n"] == 0:
            return agg.select("node", "component")
        # pointer jump: compose each label through its own row
        # (component-of-component), doubling the distance covered per
        # round; min labels only ever decrease, so coalesce suffices
        hop = agg.select(
            F.col("node").alias("component"), F.col("component").alias("__cc")
        )
        labels = agg.join(hop, "component", "left").select(
            F.col("node").alias("a"),
            F.coalesce("__cc", "component").alias("component"),
        )
        # labels flow along edges (and self-pairs) to the min-aggregate;
        # the self-pair's label rides along as __old
        own = F.when(F.col("a") == F.col("b"), F.col("component"))
        agg = (
            und.join(labels, "a")
            .groupBy(F.col("b").alias("node"))
            .agg(F.min("component").alias("component"), F.min(own).alias("__old"))
        )
    return labels.withColumnRenamed("a", "node")


def canonical_map(edges: DataFrame, prefer_prefix: str = "ent_") -> DataFrame:
    """(entity_id, canonical_id) for every node appearing in sameAs
    edges; entities absent from the edge set are their own canonical.

    Representative selection: within each component, prefer ids with
    ``prefer_prefix`` (real KB entities over surface-form alt ids),
    lexicographic min within each class — the component label from the
    min-propagation is only an internal grouping key, not the output
    canonical id.
    """
    cc = connected_components(edges)
    tagged = F.when(
        F.col("node").startswith(prefer_prefix), F.concat(F.lit("0"), F.col("node"))
    ).otherwise(F.concat(F.lit("1"), F.col("node")))
    reps = (
        cc.groupBy("component")
        .agg(F.min(tagged).alias("__rep"))
        .select("component", F.expr("substring(__rep, 2)").alias("canonical_id"))
    )
    return cc.join(reps, "component").select(
        F.col("node").alias("entity_id"), "canonical_id"
    )


def rewrite_triples(
    triples: DataFrame,
    mapping: DataFrame,
    iri_template: str = "http://kg.example.org/entity/{}",
) -> DataFrame:
    """Rewrite subj/obj IRIs of canonicalized entities.

    The mapping (entity ids -> canonical ids) is entity-dimension-sized,
    orders of magnitude smaller than the triple table, so Spark's
    size-based join selection broadcasts it (zero shuffle of the triple
    table) while it is under ``spark.sql.autoBroadcastJoinThreshold``,
    and shuffle-joins a map too big to broadcast.
    """
    prefix, suffix = iri_template.split("{}")
    iri_map = mapping.where(F.col("entity_id") != F.col("canonical_id")).select(
        F.concat(F.lit("<"), F.lit(prefix), "entity_id", F.lit(suffix), F.lit(">")).alias(
            "__from"
        ),
        F.concat(
            F.lit("<"), F.lit(prefix), "canonical_id", F.lit(suffix), F.lit(">")
        ).alias("__to"),
    )
    out = (
        triples.join(iri_map.withColumnRenamed("__from", "subj"), "subj", "left")
        .withColumn("subj", F.coalesce(F.col("__to"), F.col("subj")))
        .drop("__to")
    )
    out = (
        out.join(iri_map.withColumnRenamed("__from", "obj"), "obj", "left")
        .withColumn("obj", F.coalesce(F.col("__to"), F.col("obj")))
        .drop("__to")
    )
    return out.select("subj", "pred", "obj").dropDuplicates(["subj", "pred", "obj"])

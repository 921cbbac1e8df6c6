"""RDF collection/container expansion.

The reference wraps multi-valued term lists as Jena list/bag/seq/alt
resources with fresh driver-side blank nodes
(MorphBaseDataTranslator.createCollection:284-300; materialization + the
structural dedup of equal lists in MorphBaseMaterializer.materializeQuad
:77-152 / GeneralUtility.compareRdfList:204-224).

Distributed expansion cannot mint driver-sequential blank nodes, so blank
node labels are *content-derived*: md5 of (subj, pred, members) — md5 so
the DuckDB oracle can reproduce the labels exactly.
Structurally equal collections on the same (subj, pred) therefore collapse
to the same blank nodes — which is exactly the reference's structural-dedup
semantics — and the expansion is deterministic under any partitioning.

Input: DataFrame(subj: string, pred: string, members: array<string>) with
non-empty members (empty collections emit nothing, createCollection:291).
Output: DataFrame(subj, pred, obj) N-Triples rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import terms

_FIRST = f"<{terms.RDF_FIRST}>"
_REST = f"<{terms.RDF_REST}>"
_NIL = f"<{terms.RDF_NIL}>"
_TYPE = f"<{terms.RDF_TYPE}>"

_CONTAINER_CLASS = {
    terms.TERM_RDFBAG: f"<{terms.RDF_NS}Bag>",
    terms.TERM_RDFSEQ: f"<{terms.RDF_NS}Seq>",
    terms.TERM_RDFALT: f"<{terms.RDF_NS}Alt>",
}


def _bnode_base() -> F.Column:
    """Content-derived blank-node base label for a (subj, pred, members) row."""
    return F.format_string(
        "_:c%s",
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "\x00", F.col("subj"), F.col("pred"), F.to_json(F.col("members"))
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ),
    )


def with_bnode_base(grouped: DataFrame) -> DataFrame:
    """Attach the content-derived blank-node base column ``b``.

    ``b`` determines the expanded triples completely (every chain
    subject is ``b_<pos>`` and the labeling already collides exactly
    when (subj, pred, members) hash-collide), so structural dedup of
    equal collections can shuffle this one narrow string instead of the
    whole members array."""
    return grouped.withColumn("b", _bnode_base())


def dedup_collections(grouped: DataFrame) -> DataFrame:
    """Structural dedup of equal collections on the same (subj, pred) —
    the reference's compareRdfList semantics — by the 60-bit bnode base
    (narrow-key shuffle, not an array-key shuffle)."""
    return with_bnode_base(grouped).dropDuplicates(["b"])


def expand_collections(grouped: DataFrame, collection_term_type: str) -> DataFrame:
    """Expand (subj, pred, members) rows into RDF list or container triples."""
    head, tail = expand_collections_split(grouped, collection_term_type)
    return head.unionByName(tail)


def expand_collections_split(
    grouped: DataFrame, collection_term_type: str
) -> tuple[DataFrame, DataFrame]:
    """Like :func:`expand_collections` but returns (head, chain) parts.

    ``head`` rows attach the collection to its (subj, pred) — they live
    in the ordinary triple space and must join the global dedup.
    ``chain`` rows (rdf:first/rest cells, container type + membership)
    have blank-node subjects derived from the deduped ``b`` base, so
    after :func:`dedup_collections` they are unique by construction and
    can skip the global triple dedup — at scale that dedup shuffle of
    the exploded chains dominates the whole query. (Assumes no other
    term map forges ``_:c<digits>_<pos>`` labels.)
    """
    if collection_term_type == terms.TERM_RDFLIST:
        return _expand_list(grouped)
    if collection_term_type in _CONTAINER_CLASS:
        return _expand_container(grouped, _CONTAINER_CLASS[collection_term_type])
    raise ValueError(f"not a collection term type: {collection_term_type}")


def collection_heads(grouped: DataFrame, collection_term_type: str) -> DataFrame:
    """The ``head`` part of :func:`expand_collections_split` alone."""
    return _heads(_with_base(grouped), collection_term_type == terms.TERM_RDFLIST)


def _with_base(grouped: DataFrame) -> DataFrame:
    base = grouped if "b" in grouped.columns else with_bnode_base(grouped)
    return base.where(F.size("members") > 0)


def _heads(base: DataFrame, is_list: bool) -> DataFrame:
    """(subj, pred, first blank node): a list's first cell, or the
    container itself."""
    first = F.concat(F.col("b"), F.lit("_0")) if is_list else F.col("b")
    return base.select(F.col("subj"), F.col("pred"), first.alias("obj"))


def _expand_list(grouped: DataFrame) -> tuple[DataFrame, DataFrame]:
    base = _with_base(grouped).select(
        "subj", "pred", "members", "b", F.size("members").alias("n")
    )
    head = _heads(base, True)
    cells = base.select(
        "b", "n", F.posexplode("members").alias("pos", "member")
    )
    firsts = cells.select(
        F.concat(F.col("b"), F.lit("_"), F.col("pos")).alias("subj"),
        F.lit(_FIRST).alias("pred"),
        F.col("member").alias("obj"),
    )
    rests = cells.select(
        F.concat(F.col("b"), F.lit("_"), F.col("pos")).alias("subj"),
        F.lit(_REST).alias("pred"),
        F.when(F.col("pos") == F.col("n") - 1, F.lit(_NIL))
        .otherwise(F.concat(F.col("b"), F.lit("_"), F.col("pos") + 1))
        .alias("obj"),
    )
    return head, firsts.unionByName(rests)


def _expand_container(
    grouped: DataFrame, container_class: str
) -> tuple[DataFrame, DataFrame]:
    base = _with_base(grouped).select("subj", "pred", "members", "b")
    head = _heads(base, False)
    typ = base.select(
        F.col("b").alias("subj"),
        F.lit(_TYPE).alias("pred"),
        F.lit(container_class).alias("obj"),
    )
    # members via rdf:_1, rdf:_2, ... (1-based)
    items = base.select("b", F.posexplode("members").alias("pos", "member")).select(
        F.col("b").alias("subj"),
        F.format_string("<%s_%d>", F.lit(terms.RDF_NS), F.col("pos") + 1).alias("pred"),
        F.col("member").alias("obj"),
    )
    return head, typ.unionByName(items)

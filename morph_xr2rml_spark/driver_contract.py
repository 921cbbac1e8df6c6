"""Driver-contract registry: named (Spark query, DuckDB oracle SQL) pairs.

Every operator claimed in SURVEY.md §2 (plus the training-data ops) is
exposed here twice: as a PySpark DataFrame program and as independent
ANSI SQL the driver runs on DuckDB over the same parquet tables. The
driver compares row-count + schema + order-insensitive value-hash, so:

  * every computed column is aliased identically on both sides;
  * float-summing aggregates are re-expressed over per-row
    ``floor(x*100)`` cents / ``floor(x*10000)`` basis-point bigints so
    both engines sum exact integers (double summation order is
    engine-dependent, integer sums are not);
  * all content hashes are md5-derived (ops/hashing.py) so DuckDB
    reproduces them bit-for-bit;
  * dot products / cosines are strictly left-to-right double folds on
    both sides (F.aggregate with 0.0 init == list_reduce), giving
    bit-identical IEEE results.

The xR2RML queries run real mapping documents through the full
parse -> compile -> Catalyst pipeline; their oracles rebuild the
expected N-Triples strings in pure SQL (the encoding chains are
generated from the very same replacement tables in
functions/encoding.py, so Spark and SQL cannot drift apart).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .compiler import MappingCompiler
from .mapping import parse_mapping
from .ops import dedup, multimodal, similarity
from .ops import text as text_ops
from .ops.hashing import md5_long_seeded_sql, md5_long_sql
from .functions.encoding import _ENCODE_URL_PAIRS
from .pipeline import canonicalize, extract, mentions, pages
from .plans import caching
from .pipeline.pages import WARC_EPOCH
from .pipeline.run import emit_triples
from .sources import SourceCatalog
from .sparql import sparql_select

# ---------------------------------------------------------------------------
# shared constants / SQL fragment builders
# ---------------------------------------------------------------------------

EX = "http://example.org/"
ONT = EX + "ontology#"
KG = "http://kg.example.org/"
RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"
XSD_DT = "http://www.w3.org/2001/XMLSchema#dateTime"


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _sql_replace_chain(expr: str, pairs: list[tuple[str, str]]) -> str:
    for src, dst in pairs:
        s = src.replace("'", "''")
        d = dst.replace("'", "''")
        expr = f"replace({expr}, '{s}', '{d}')"
    return expr


def _sql_encode_url(expr: str) -> str:
    """DuckDB equivalent of encoding.encode_url_col (template-unsafe chars)."""
    return _sql_replace_chain(expr, _ENCODE_URL_PAIRS)


def _sql_norm_text(expr: str) -> str:
    """DuckDB equivalent of text.normalized_text."""
    return f"trim(regexp_replace(lower({expr}), '[^a-z0-9]+', ' ', 'g'))"


def _sql_iri(expr: str) -> str:
    return f"('<' || {_sql_encode_url(f'trim({expr})')} || '>')"


# ---------------------------------------------------------------------------
# 1. xR2RML: template + class + column term maps (P2/P3/P5/P7/P8, S1, U1, S8)
# ---------------------------------------------------------------------------

NATION_TTL = """\
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix ex:  <http://example.org/ontology#> .

<#TMNation>
    xrr:logicalSource [ rr:tableName "nation"; xrr:referenceFormulation xrr:Column ];
    rr:subjectMap [
        rr:template "http://example.org/nation/{n_nationkey}";
        rr:class ex:Nation;
    ];
    rr:predicateObjectMap [
        rr:predicate ex:name;
        rr:objectMap [ rr:column "n_name" ];
    ];
    rr:predicateObjectMap [
        rr:predicate ex:regionkey;
        rr:objectMap [ rr:column "n_regionkey" ];
    ];
    .
"""


def q_xr2rml_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    catalog = SourceCatalog(spark).register(
        "nation", _load(spark, sf_dir, "nation"), unique_key=["n_nationkey"]
    )
    return MappingCompiler(spark, parse_mapping(NATION_TTL), catalog).triples()


SQL_XR2RML_NATION = f"""
WITH n AS (SELECT '<{EX}nation/' || n_nationkey || '>' AS s, * FROM nation)
SELECT DISTINCT subj, pred, obj FROM (
    SELECT s AS subj, '{RDF_TYPE}' AS pred, '<{ONT}Nation>' AS obj FROM n
    UNION ALL
    SELECT s, '<{ONT}name>', '"' || n_name || '"' FROM n
    UNION ALL
    SELECT s, '<{ONT}regionkey>',
           '"' || n_regionkey || '"^^<{XSD_INT}>' FROM n
) t
"""


# ---------------------------------------------------------------------------
# 2. xR2RML: RefObjectMap equi-join (J1, S6)
# ---------------------------------------------------------------------------

ORDERS_TTL = """\
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix ex:  <http://example.org/ontology#> .

<#TMCustomer>
    xrr:logicalSource [ rr:tableName "customer"; xrr:referenceFormulation xrr:Column ];
    rr:subjectMap [
        rr:template "http://example.org/customer/{c_custkey}";
        rr:class ex:Customer;
    ];
    rr:predicateObjectMap [
        rr:predicate ex:name;
        rr:objectMap [ rr:column "c_name" ];
    ];
    .

<#TMOrder>
    xrr:logicalSource [ rr:tableName "orders"; xrr:referenceFormulation xrr:Column ];
    rr:subjectMap [ rr:template "http://example.org/order/{o_orderkey}" ];
    rr:predicateObjectMap [
        rr:predicate ex:status;
        rr:objectMap [ rr:column "o_orderstatus" ];
    ];
    rr:predicateObjectMap [
        rr:predicate ex:customer;
        rr:objectMap [
            rr:parentTriplesMap <#TMCustomer>;
            rr:joinCondition [ rr:child "o_custkey"; rr:parent "c_custkey" ];
        ];
    ];
    .
"""


def q_xr2rml_refobjectmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    catalog = (
        SourceCatalog(spark)
        .register("customer", _load(spark, sf_dir, "customer"), unique_key=["c_custkey"])
        .register("orders", _load(spark, sf_dir, "orders"), unique_key=["o_orderkey"])
    )
    return MappingCompiler(spark, parse_mapping(ORDERS_TTL), catalog).triples()


SQL_XR2RML_REFOBJECTMAP = f"""
WITH c AS (SELECT '<{EX}customer/' || c_custkey || '>' AS s, * FROM customer),
     o AS (SELECT '<{EX}order/' || o_orderkey || '>' AS s, * FROM orders)
SELECT DISTINCT subj, pred, obj FROM (
    SELECT s AS subj, '{RDF_TYPE}' AS pred, '<{ONT}Customer>' AS obj FROM c
    UNION ALL
    SELECT s, '<{ONT}name>', '"' || c_name || '"' FROM c
    UNION ALL
    SELECT s, '<{ONT}status>', '"' || o_orderstatus || '"' FROM o
    UNION ALL
    SELECT o.s, '<{ONT}customer>', c.s
    FROM o JOIN c ON o.o_custkey = c.c_custkey
) t
"""


# ---------------------------------------------------------------------------
# 3. xR2RML: mixed-syntax-path reference (P4, §1.2) — Column(...)/JSONPath(...)
# ---------------------------------------------------------------------------

EVENTS_TTL = """\
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix ex:  <http://example.org/ontology#> .

<#TMEvent>
    xrr:logicalSource [ rr:tableName "events"; xrr:referenceFormulation xrr:Column ];
    rr:subjectMap [ rr:template "http://example.org/event/{event_id}" ];
    rr:predicateObjectMap [
        rr:predicate ex:etype;
        rr:objectMap [ rr:column "event_type" ];
    ];
    rr:predicateObjectMap [
        rr:predicate ex:k;
        rr:objectMap [ xrr:reference "Column(props)/JSONPath($.k)" ];
    ];
    .
"""


def q_xr2rml_mixed_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    catalog = SourceCatalog(spark).register(
        "events", _load(spark, sf_dir, "events"), unique_key=["event_id"]
    )
    return MappingCompiler(spark, parse_mapping(EVENTS_TTL), catalog).triples()


SQL_XR2RML_MIXED_PATH = f"""
WITH e AS (SELECT '<{EX}event/' || event_id || '>' AS s, * FROM events)
SELECT DISTINCT subj, pred, obj FROM (
    SELECT s AS subj, '<{ONT}etype>' AS pred, '"' || event_type || '"' AS obj FROM e
    UNION ALL
    SELECT s, '<{ONT}k>',
           '"' || json_extract_string(props, '$.k') || '"^^<{XSD_INT}>'
    FROM e WHERE json_extract_string(props, '$.k') IS NOT NULL
) t
"""


# ---------------------------------------------------------------------------
# 4. xR2RML: RefObjectMap -> RDF list (P9/J5; rows-only check: blank-node
#    labels are content-derived and SQL-reproducible in principle, but the
#    rdf:first/rest chain explosion is left to the pytest golden tests)
# ---------------------------------------------------------------------------

LINEITEM_LIST_TTL = """\
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix ex:  <http://example.org/ontology#> .

<#TMLine>
    xrr:logicalSource [ rr:tableName "lineitem"; xrr:referenceFormulation xrr:Column ];
    rr:subjectMap [ rr:template "http://example.org/line/{l_orderkey}/{l_linenumber}" ];
    rr:predicateObjectMap [
        rr:predicate ex:flag;
        rr:objectMap [ rr:column "l_returnflag" ];
    ];
    .

<#TMOrderLines>
    xrr:logicalSource [ rr:tableName "orders"; xrr:referenceFormulation xrr:Column ];
    rr:subjectMap [ rr:template "http://example.org/order/{o_orderkey}" ];
    rr:predicateObjectMap [
        rr:predicate ex:lines;
        rr:objectMap [
            rr:parentTriplesMap <#TMLine>;
            rr:joinCondition [ rr:child "o_orderkey"; rr:parent "l_orderkey" ];
            rr:termType xrr:RdfList;
        ];
    ];
    .
"""


def q_xr2rml_rdf_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    catalog = (
        SourceCatalog(spark)
        .register("orders", _load(spark, sf_dir, "orders"), unique_key=["o_orderkey"])
        # the synthetic lineitem is NOT unique on (l_orderkey,
        # l_linenumber) (unlike real TPC-H) — no hint, dedup stays
        .register("lineitem", _load(spark, sf_dir, "lineitem"))
    )
    return MappingCompiler(spark, parse_mapping(LINEITEM_LIST_TTL), catalog).triples()


# The rdf:first/rest chain blank nodes are content-derived
# (compiler/collections.py _bnode_base: '_:c' + dec(md5(subj NUL pred NUL
# to_json(members))[:15])), so the whole list expansion is reproducible
# in SQL: rebuild the sorted-distinct member lists per order, hash them
# the same way, and unnest positions.
_RDF_FIRST = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#first>"
_RDF_REST = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#rest>"
_RDF_NIL = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#nil>"

SQL_XR2RML_RDF_LIST = f"""
WITH li AS (
    SELECT '<{EX}line/' || l_orderkey || '/' || l_linenumber || '>' AS s,
           l_orderkey, l_returnflag
    FROM lineitem
),
grp AS (
    SELECT '<{EX}order/' || o.o_orderkey || '>' AS subj,
           '<{ONT}lines>' AS pred,
           list_sort(list_distinct(list(li.s))) AS members
    FROM orders o JOIN li ON o.o_orderkey = li.l_orderkey
    GROUP BY o.o_orderkey
),
b AS (
    SELECT subj, pred, members, len(members) AS n,
           '_:c' || CAST(('0x' || substr(md5(subj || chr(0) || pred || chr(0)
               || '["' || array_to_string(members, '","') || '"]'), 1, 15))::BIGINT
               AS VARCHAR) AS bb
    FROM grp
),
cells AS (
    SELECT bb, n, unnest(members) AS member, unnest(range(0, n)) AS pos FROM b
)
SELECT DISTINCT subj, pred, obj FROM (
    SELECT s AS subj, '<{ONT}flag>' AS pred, '"' || l_returnflag || '"' AS obj FROM li
    UNION ALL
    SELECT subj, pred, bb || '_0' FROM b
    UNION ALL
    SELECT bb || '_' || pos, '{_RDF_FIRST}', member FROM cells
    UNION ALL
    SELECT bb || '_' || pos, '{_RDF_REST}',
           CASE WHEN pos = n - 1 THEN '{_RDF_NIL}' ELSE bb || '_' || (pos + 1) END
    FROM cells
) t
"""


# ---------------------------------------------------------------------------
# 5. Aggregation (A1/A2/A3): TPC-H Q1-shaped pricing summary.
#    Money/quantity summed as per-row floor-cents bigints: exact in both
#    engines regardless of summation order.
# ---------------------------------------------------------------------------


def q_agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _load(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.floor(F.col("l_quantity")).cast("long")).alias("sum_qty"),
            F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long")).alias(
                "sum_base_cents"
            ),
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("long")
            ).alias("sum_disc_cents"),
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_AGG_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# 6. Join + aggregation (J1-analogue on relational side; broadcast dim)
# ---------------------------------------------------------------------------


def q_join_revenue_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _load(spark, sf_dir, "orders")
    customer = _load(spark, sf_dir, "customer")
    return (
        orders.join(
            F.broadcast(customer), orders.o_custkey == customer.c_custkey
        )
        .groupBy("c_mktsegment")
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
                "revenue_cents"
            ),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


SQL_JOIN_REVENUE_BY_SEGMENT = """
SELECT c_mktsegment,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# 7. Sort + limit (O1/O2) with a full deterministic ordering
# ---------------------------------------------------------------------------


def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _load(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select(
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("total_cents"),
        )
    )


SQL_TOPK_ORDERS = """
SELECT o_orderkey, CAST(floor(o_totalprice * 100) AS BIGINT) AS total_cents
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
"""


# ---------------------------------------------------------------------------
# 8. Window function (§2.6): top-3 orders per market segment
# ---------------------------------------------------------------------------


def q_window_top_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _load(spark, sf_dir, "orders")
    customer = _load(spark, sf_dir, "customer")
    joined = orders.join(
        F.broadcast(customer), orders.o_custkey == customer.c_custkey
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        joined.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select(
            "c_mktsegment",
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("total_cents"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


SQL_WINDOW_TOP_ORDERS = """
SELECT c_mktsegment, o_orderkey,
       CAST(floor(o_totalprice * 100) AS BIGINT) AS total_cents,
       CAST(rnk AS BIGINT) AS rnk
FROM (
    SELECT c_mktsegment, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY c_mktsegment
                              ORDER BY o_totalprice DESC, o_orderkey) AS rnk
    FROM orders JOIN customer ON o_custkey = c_custkey
) t
WHERE rnk <= 3
"""


# ---------------------------------------------------------------------------
# 9. Set operation (U1/U2): union + distinct
# ---------------------------------------------------------------------------


def q_union_nationkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = _load(spark, sf_dir, "supplier")
    customer = _load(spark, sf_dir, "customer")
    a = supplier.select(
        F.col("s_nationkey").cast("long").alias("nationkey"),
        F.lit("supplier").alias("side"),
    )
    b = customer.select(
        F.col("c_nationkey").cast("long").alias("nationkey"),
        F.lit("customer").alias("side"),
    )
    return a.unionByName(b).distinct()


SQL_UNION_NATIONKEYS = """
SELECT CAST(s_nationkey AS BIGINT) AS nationkey, 'supplier' AS side FROM supplier
UNION
SELECT CAST(c_nationkey AS BIGINT) AS nationkey, 'customer' AS side FROM customer
"""


# ---------------------------------------------------------------------------
# 10. Filters incl. JSON predicate (F1/F2/F3 + S4-adjacent JSON access)
# ---------------------------------------------------------------------------


def q_filter_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _load(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        events.where(
            F.col("event_type").isin("click", "view")
            & F.col("value").isNotNull()
            & (k > 50)
        )
        .select("event_id", "event_type", k.alias("k"))
    )


SQL_FILTER_EVENTS_JSON = """
SELECT event_id, event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
FROM events
WHERE event_type IN ('click', 'view')
  AND value IS NOT NULL
  AND CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
"""


# ---------------------------------------------------------------------------
# 11. Exact dedup (hash-groupBy; no pairs materialized)
# ---------------------------------------------------------------------------


def q_dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup_groups(_load(spark, sf_dir, "documents"))


SQL_DEDUP_EXACT_GROUPS = f"""
SELECT content_hash,
       CAST(min(doc_id) AS BIGINT) AS keep_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM (SELECT {md5_long_sql("text")} AS content_hash, doc_id FROM documents) t
GROUP BY content_hash
"""


# ---------------------------------------------------------------------------
# 12. n-gram Jaccard near-dup (shingle explode + equi-join; never a cross join)
# ---------------------------------------------------------------------------

# Shingle width 3: on this small-vocabulary corpus k=2 bigrams are almost
# all stop-shingles (posting-list join fan-out 73M rows at sf0.1 and real
# near-dups drowned); trigrams cut the join to ~2.8M rows and find the
# same pairs. The max_df cap stays as the web-scale backstop.
_JK = 3
_JTHRESH = 0.2
# stop-shingle posting-list cap — mandatory at web scale; scales with the
# corpus (5%, floored at 64) so small corpora keep their full shingle set
_JMAXDF_FLOOR = 64
_JMAXDF_FRAC = 20  # cap = max(floor, n_docs // frac)


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    max_df = max(_JMAXDF_FLOOR, docs.count() // _JMAXDF_FRAC)
    df = dedup.ngram_jaccard_pairs(
        docs, k=_JK, threshold=_JTHRESH, max_df=max_df
    )
    return df.select(
        "id_a", "id_b", F.col("n_inter").cast("long").alias("n_inter"), "jaccard_bp"
    )


def _sql_shingles(k: int) -> str:
    """CTEs: documents -> (doc_id, n_shingles, shingle) exploded pairs."""
    norm = _sql_norm_text("text")
    return f"""
tok AS (SELECT doc_id, str_split({norm}, ' ') AS toks FROM documents),
sh AS (SELECT doc_id,
              list_distinct(
                CASE WHEN len(toks) >= {k}
                     THEN [array_to_string(toks[i:i+{k - 1}], ' ')
                           FOR i IN range(1, len(toks) - {k} + 2)]
                     ELSE [array_to_string(toks, ' ')] END) AS shset
       FROM tok),
ex AS (SELECT doc_id, len(shset) AS n_shingles, unnest(shset) AS shingle FROM sh)
"""


SQL_DEDUP_NGRAM_JACCARD = f"""
WITH {_sql_shingles(_JK)},
rare AS (SELECT shingle FROM ex GROUP BY shingle
         HAVING count(*) <= greatest({_JMAXDF_FLOOR},
                                     (SELECT count(*) FROM documents) // {_JMAXDF_FRAC})),
exf AS (SELECT ex.* FROM ex JOIN rare USING (shingle))
SELECT id_a, id_b, CAST(n_inter AS BIGINT) AS n_inter,
       CAST(floor(jac * 10000.0) AS BIGINT) AS jaccard_bp
FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           count(*) AS n_inter,
           CAST(count(*) AS DOUBLE)
             / CAST(a.n_shingles + b.n_shingles - count(*) AS DOUBLE) AS jac
    FROM exf a JOIN exf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id, a.n_shingles, b.n_shingles
) p
WHERE jac >= {_JTHRESH}
"""


# ---------------------------------------------------------------------------
# 13. MinHash + banded LSH near-dup
# ---------------------------------------------------------------------------

_MH_N = 16
_MH_ROWS = 2
_MH_THRESH = 0.3


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = dedup.minhash_lsh_pairs(
        _load(spark, sf_dir, "documents"),
        k=_JK,
        num_hashes=_MH_N,
        rows_per_band=_MH_ROWS,
        threshold=_MH_THRESH,
    )
    return df.select(
        "id_a",
        "id_b",
        F.col("sig_agree").cast("long").alias("sig_agree"),
        "est_jaccard_bp",
    )


def _sql_minhash_lsh() -> str:
    mins = ",\n              ".join(
        f"min({md5_long_seeded_sql('shingle', i)}) AS mh{i}" for i in range(_MH_N)
    )
    n_bands = _MH_N // _MH_ROWS
    band_keys = ", ".join(
        "'{b}:' || CAST(mh{i0} AS VARCHAR) || ':' || CAST(mh{i1} AS VARCHAR)".format(
            b=b, i0=b * _MH_ROWS, i1=b * _MH_ROWS + 1
        )
        for b in range(n_bands)
    )
    sig_list = ", ".join(f"mh{i}" for i in range(_MH_N))
    return f"""
WITH {_sql_shingles(_JK)},
sig AS (SELECT doc_id,
              {mins}
        FROM ex GROUP BY doc_id),
banded AS (SELECT doc_id, [{sig_list}] AS sig,
                  unnest([{band_keys}]) AS bucket
           FROM sig),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                a.sig AS sig_a, b.sig AS sig_b
         FROM banded a JOIN banded b
           ON a.bucket = b.bucket AND a.doc_id < b.doc_id),
scored AS (SELECT id_a, id_b,
                  len([i FOR i IN range(1, {_MH_N} + 1) IF sig_a[i] = sig_b[i]]) AS agree
           FROM cand)
SELECT id_a, id_b, CAST(agree AS BIGINT) AS sig_agree,
       CAST(floor(CAST(agree AS DOUBLE) / {float(_MH_N)} * 10000.0) AS BIGINT) AS est_jaccard_bp
FROM scored
WHERE CAST(agree AS DOUBLE) / {float(_MH_N)} >= {_MH_THRESH}
"""


SQL_DEDUP_MINHASH_LSH = _sql_minhash_lsh()


# ---------------------------------------------------------------------------
# 14. SimHash sketch (60-bit, token-frequency weighted)
# ---------------------------------------------------------------------------


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(_load(spark, sf_dir, "documents"))


def _sql_simhash() -> str:
    norm = _sql_norm_text("text")
    h = md5_long_sql("tok")
    sums = ",\n           ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(dedup.SIMHASH_BITS)
    )
    assemble = " + ".join(
        f"CASE WHEN b{b} > 0 THEN (CAST(1 AS BIGINT) << {b}) ELSE CAST(0 AS BIGINT) END"
        for b in range(dedup.SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
    SELECT doc_id, {h} AS h
    FROM (SELECT doc_id, unnest(str_split({norm}, ' ')) AS tok FROM documents) t
    WHERE tok <> ''
),
sums AS (
    SELECT doc_id,
           {sums}
    FROM toks GROUP BY doc_id
)
SELECT doc_id, CAST({assemble} AS BIGINT) AS simhash FROM sums
"""


SQL_DEDUP_SIMHASH = _sql_simhash()


# ---------------------------------------------------------------------------
# 15. Embedding cosine near-dup (brute pairwise — the oracle path)
# ---------------------------------------------------------------------------

_ND_THRESH = 0.4  # synthetic embeddings' planted near-dups sit around 0.4-0.6

_SQL_VEC = "[CAST(x AS DOUBLE) FOR x IN embedding]"


def _sql_dot(a: str, b: str) -> str:
    """Left-to-right double fold == Spark F.aggregate(zip_with(...), 0.0, +)."""
    return (
        f"list_reduce([{a}[i] * {b}[i] FOR i IN range(1, len({a}) + 1)],"
        f" (acc, x) -> acc + x)"
    )


def q_dedup_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.embedding_neardup_pairs(
        _load(spark, sf_dir, "embeddings"), threshold=_ND_THRESH, dim=64
    )


SQL_DEDUP_EMBEDDING_NEARDUP = f"""
WITH e AS (SELECT vec_id, {_SQL_VEC} AS v FROM embeddings),
n1 AS (SELECT vec_id, v, sqrt({_sql_dot('v', 'v')}) AS nrm FROM e),
nv AS (SELECT vec_id, [x / nrm FOR x IN v] AS u FROM n1),
d AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             {_sql_dot('a.u', 'b.u')} AS cos
      FROM nv a JOIN nv b ON a.vec_id < b.vec_id)
SELECT id_a, id_b,
       CAST(floor(cos * 10000.0) AS BIGINT) AS cos_bp
FROM d
WHERE CAST(floor(cos * 10000.0) AS BIGINT) >= {int(_ND_THRESH * 10000)}
"""


# ---------------------------------------------------------------------------
# 16. Similarity search: exact brute-force cosine top-k
# ---------------------------------------------------------------------------

_TOPK_K = 5
_TOPK_NQ = 8  # queries = vec_id < 8


def q_sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < _TOPK_NQ)
    df = similarity.cosine_topk(emb, queries, k=_TOPK_K)
    return df.select(
        "query_id", "neighbor_id", "cos_bp", F.col("rank").cast("long").alias("rank")
    )


SQL_SIM_COSINE_TOPK = f"""
WITH e AS (SELECT vec_id, {_SQL_VEC} AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {_TOPK_NQ}),
c AS (SELECT vec_id AS neighbor_id, v AS cv FROM e),
scored AS (
    SELECT query_id, neighbor_id,
           CAST(floor({_sql_dot('qv', 'cv')}
                      / sqrt({_sql_dot('qv', 'qv')} * {_sql_dot('cv', 'cv')})
                      * 10000.0) AS BIGINT) AS cos_bp
    FROM c JOIN q ON query_id <> neighbor_id
),
ranked AS (
    SELECT query_id, neighbor_id, cos_bp,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_bp DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, cos_bp, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {_TOPK_K}
"""


# ---------------------------------------------------------------------------
# 17. Similarity search: LSH ANN. The hyperplanes are deterministic
#     md5-seeded floats (similarity._hyperplane), so the oracle inlines
#     them as literals and reproduces buckets + exact re-rank in SQL —
#     the approximate path is still hash-checked bit-for-bit.
# ---------------------------------------------------------------------------

_LSH_TABLES, _LSH_BITS, _LSH_DIM = 8, 4, 64


def q_sim_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < _TOPK_NQ)
    df = similarity.lsh_ann_topk(
        emb, queries, k=_TOPK_K, tables=_LSH_TABLES, bits=_LSH_BITS, dim=_LSH_DIM
    )
    return df.select(
        "query_id", "neighbor_id", "cos_bp", F.col("rank").cast("long").alias("rank")
    )


def _sql_lsh_ann() -> str:
    hp_rows = ",\n        ".join(
        f"({t}, {b}, [{', '.join(repr(x) for x in similarity._hyperplane(t, b, _LSH_DIM))}])"
        for t in range(_LSH_TABLES)
        for b in range(_LSH_BITS)
    )
    # per-table bucket string == Spark concat_ws(':', table, bit0..bitN);
    # the dot is a left fold of v[i]*h[i], == F.aggregate's 0.0-seeded fold
    return f"""
WITH e AS (SELECT vec_id, {_SQL_VEC} AS v FROM embeddings),
hp(tbl, bit, h) AS (VALUES
        {hp_rows}),
bits AS (
    SELECT e.vec_id, hp.tbl, hp.bit,
           CASE WHEN list_reduce([e.v[i] * hp.h[i] FOR i IN range(1, {_LSH_DIM} + 1)],
                                 (a, x) -> a + x) > 0
                THEN '1' ELSE '0' END AS bt
    FROM e, hp
),
bkt AS (
    SELECT vec_id, CAST(tbl AS VARCHAR) || ':' || string_agg(bt, ':' ORDER BY bit) AS bucket
    FROM bits GROUP BY vec_id, tbl
),
cand AS (
    SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
    FROM (SELECT * FROM bkt WHERE vec_id < {_TOPK_NQ}) q
    JOIN bkt c ON q.bucket = c.bucket
    WHERE q.vec_id <> c.vec_id
),
scored AS (
    SELECT query_id, neighbor_id,
           CAST(floor({_sql_dot('qe.v', 'ce.v')}
                      / sqrt({_sql_dot('qe.v', 'qe.v')} * {_sql_dot('ce.v', 'ce.v')})
                      * 10000.0) AS BIGINT) AS cos_bp
    FROM cand
    JOIN e qe ON qe.vec_id = cand.query_id
    JOIN e ce ON ce.vec_id = cand.neighbor_id
),
ranked AS (
    SELECT query_id, neighbor_id, cos_bp,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_bp DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, cos_bp, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {_TOPK_K}
"""


SQL_SIM_LSH_ANN_TOPK = _sql_lsh_ann()


# ---------------------------------------------------------------------------
# 17b. Similarity search: IVF ANN. The coarse codebook is deterministic
#      md5-seeded (similarity.ivf_centroids), |c|^2 is accumulated
#      left-to-right at compile time, and the L2 ranking score
#      |c|^2 - 2<v,c> is a left-fold double expression — so the oracle
#      inlines the same literals and reproduces inverted-list
#      assignment, probing, and exact re-rank bit-for-bit.
# ---------------------------------------------------------------------------

_IVF_CLUSTERS, _IVF_NPROBE = 16, 4


def q_sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < _TOPK_NQ)
    df = similarity.ivf_topk(
        emb, queries, k=_TOPK_K, n_clusters=_IVF_CLUSTERS,
        nprobe=_IVF_NPROBE, dim=_LSH_DIM,
    )
    return df.select(
        "query_id", "neighbor_id", "cos_bp", F.col("rank").cast("long").alias("rank")
    )


def _sql_ivf() -> str:
    cent_rows = []
    for j, c in enumerate(similarity.ivf_centroids(_IVF_CLUSTERS, _LSH_DIM)):
        c2 = 0.0
        for x in c:  # same left-to-right accumulation as _centroid_scores
            c2 = c2 + x * x
        cent_rows.append(
            f"({j}, [{', '.join(repr(x) for x in c)}], {c2!r})"
        )
    cents = ",\n        ".join(cent_rows)
    return f"""
WITH e AS (SELECT vec_id, {_SQL_VEC} AS v FROM embeddings),
cent(j, c, c2) AS (VALUES
        {cents}),
scored_c AS (
    SELECT e.vec_id, cent.j,
           cent.c2 - 2.0 * list_reduce([e.v[i] * cent.c[i]
                                        FOR i IN range(1, {_LSH_DIM} + 1)],
                                       (a, x) -> a + x) AS s
    FROM e, cent
),
assign AS (
    SELECT vec_id, j AS cluster,
           row_number() OVER (PARTITION BY vec_id ORDER BY s, j) AS rk
    FROM scored_c
),
c_assign AS (SELECT vec_id, cluster FROM assign WHERE rk = 1),
q_assign AS (
    SELECT vec_id, cluster FROM assign
    WHERE rk <= {_IVF_NPROBE} AND vec_id < {_TOPK_NQ}
),
cand AS (
    SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
    FROM q_assign q JOIN c_assign c USING (cluster)
    WHERE q.vec_id <> c.vec_id
),
scored AS (
    SELECT query_id, neighbor_id,
           CAST(floor({_sql_dot('qe.v', 'ce.v')}
                      / sqrt({_sql_dot('qe.v', 'qe.v')} * {_sql_dot('ce.v', 'ce.v')})
                      * 10000.0) AS BIGINT) AS cos_bp
    FROM cand
    JOIN e qe ON qe.vec_id = cand.query_id
    JOIN e ce ON ce.vec_id = cand.neighbor_id
),
ranked AS (
    SELECT query_id, neighbor_id, cos_bp,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_bp DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, cos_bp, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {_TOPK_K}
"""


SQL_SIM_IVF_TOPK = _sql_ivf()


# ---------------------------------------------------------------------------
# 18. Text analysis: language-ID, quality, token counts, fingerprint
# ---------------------------------------------------------------------------


def q_text_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.analyze(_load(spark, sf_dir, "documents"))


def _sql_text_analysis() -> str:
    score_exprs = {
        lang: f"len(regexp_extract_all(lower(text), '{pat}'))"
        for lang, pat in text_ops.LANG_STOPWORDS.items()
    }
    best = "greatest(" + ", ".join(f"s_{L}" for L in text_ops.LANG_ORDER) + ")"
    lang_case = "CASE " + " ".join(
        f"WHEN {best} > 0 AND s_{L} = {best} THEN '{L}'" for L in text_ops.LANG_ORDER
    ) + " ELSE 'und' END"
    token_re = text_ops.TOKEN_RE
    norm = _sql_norm_text("text")
    return f"""
WITH raw AS (
    SELECT doc_id, text,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS ws_tokens,
           len(regexp_extract_all(text, '{token_re}')) AS re_tokens,
           {", ".join(f"{expr} AS s_{lang}" for lang, expr in score_exprs.items())},
           CAST(length(text) AS DOUBLE) AS n,
           CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
           CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS punct,
           CAST(len(regexp_extract_all(lower(text), '{text_ops.EN_STOPWORD_RE}')) AS DOUBLE) AS stops,
           CAST(length(text) - length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) AS spaces
    FROM documents
),
d AS (
    SELECT *,
           CAST(ws_tokens AS DOUBLE) AS words,
           CASE WHEN n > 0 THEN n ELSE 1.0::DOUBLE END AS safe_n,
           CASE WHEN ws_tokens > 0 THEN CAST(ws_tokens AS DOUBLE) ELSE 1.0::DOUBLE END AS safe_w
    FROM raw
),
r AS (
    SELECT *,
           alpha / safe_n AS alpha_ratio,
           punct / safe_n AS punct_ratio,
           stops / safe_w AS stop_ratio,
           (n - spaces) / safe_w AS mwl
    FROM d
)
SELECT doc_id,
       {lang_case} AS lang_pred,
       CAST(ws_tokens AS BIGINT) AS ws_tokens,
       CAST(re_tokens AS BIGINT) AS re_tokens,
       CAST(floor(alpha_ratio * 10000.0) AS BIGINT) AS alpha_bp,
       CAST(floor(punct_ratio * 10000.0) AS BIGINT) AS punct_bp,
       CAST(floor(stop_ratio * 10000.0) AS BIGINT) AS stop_bp,
       CAST(floor(mwl * 10000.0) AS BIGINT) AS mwl_bp,
       CAST(floor((0.4::DOUBLE * alpha_ratio
                   + 0.3::DOUBLE * least(stop_ratio * 5.0::DOUBLE, 1.0::DOUBLE)
                   + 0.3::DOUBLE * greatest(1.0::DOUBLE - abs(mwl - 5.0::DOUBLE) / 10.0::DOUBLE,
                                            0.0::DOUBLE)) * 10000.0) AS BIGINT) AS score_bp,
       {md5_long_sql(norm)} AS fingerprint
FROM r
"""


SQL_TEXT_ANALYSIS = _sql_text_analysis()


# ---------------------------------------------------------------------------
# 18b. Winnowing fingerprints (rolling-hash document fingerprinting):
#      k-token shingle hashes, min per sliding window of w (MOSS).
# ---------------------------------------------------------------------------

_WIN_K, _WIN_W = 3, 4


def q_text_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.winnow_fingerprints(
        _load(spark, sf_dir, "documents"), k=_WIN_K, w=_WIN_W
    )


def _sql_winnow() -> str:
    norm = _sql_norm_text("text")
    h = "(('0x' || substr(md5(g), 1, 15))::bigint)"
    # text IS NOT NULL: the Spark UDF returns [] for NULL text (row
    # dropped by explode); without the guard DuckDB's NULL propagation
    # would instead emit a (doc_id, NULL) fingerprint row
    return f"""
WITH tok AS (SELECT doc_id, str_split({norm}, ' ') AS toks
             FROM documents WHERE text IS NOT NULL),
g AS (SELECT doc_id,
             CASE WHEN len(toks) >= {_WIN_K}
                  THEN [array_to_string(toks[i:i+{_WIN_K - 1}], ' ')
                        FOR i IN range(1, len(toks) - {_WIN_K} + 2)]
                  ELSE [array_to_string(toks, ' ')] END AS grams
      FROM tok),
h AS (SELECT doc_id, [{h} FOR g IN grams] AS hs FROM g),
win AS (SELECT doc_id,
               CASE WHEN len(hs) <= {_WIN_W} THEN [list_min(hs)]
                    ELSE [list_min(hs[j:j+{_WIN_W - 1}])
                          FOR j IN range(1, len(hs) - {_WIN_W} + 2)] END AS fps
        FROM h)
SELECT DISTINCT doc_id, unnest(fps) AS fp FROM win
"""


SQL_TEXT_WINNOW = _sql_winnow()


# ---------------------------------------------------------------------------
# 18b'. Top-k vocabulary (heavy hitters: explode -> partial-agg count ->
#       TakeOrderedAndProject)
# ---------------------------------------------------------------------------

_VOCAB_K = 50


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.vocab_topk(_load(spark, sf_dir, "documents"), k=_VOCAB_K)


def _sql_vocab_topk() -> str:
    norm = _sql_norm_text("text")
    return f"""
SELECT token, CAST(count(*) AS BIGINT) AS n
FROM (SELECT unnest(str_split({norm}, ' ')) AS token FROM documents) t
WHERE token <> ''
GROUP BY token
ORDER BY n DESC, token
LIMIT {_VOCAB_K}
"""


SQL_VOCAB_TOPK = _sql_vocab_topk()


# ---------------------------------------------------------------------------
# 18c. Deterministic corpus sampling (hash-bucketed; rand()-free so the
#      oracle reproduces the exact row set)
# ---------------------------------------------------------------------------

_STRAT_FRACS = {"en": 0.5, "fr": 0.25}
_STRAT_DEFAULT = 0.1
_SPLIT_WEIGHTS = [0.8, 0.1, 0.1]


def _sql_sample_bucket(salt: str) -> str:
    salted = f"'{salt}#' || CAST(doc_id AS VARCHAR)"
    return f"({md5_long_sql(salted)} % 10000)"


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ops import sample as sample_ops

    docs = _load(spark, sf_dir, "documents")
    return sample_ops.stratified_sample(
        docs, _STRAT_FRACS, strata_col="lang",
        default_fraction=_STRAT_DEFAULT,
    ).select("doc_id", "lang")


SQL_SAMPLE_STRATIFIED = f"""
SELECT doc_id, lang FROM documents
WHERE {_sql_sample_bucket("stratified")} <
      CASE lang WHEN 'en' THEN {int(_STRAT_FRACS["en"] * 10000)}
                WHEN 'fr' THEN {int(_STRAT_FRACS["fr"] * 10000)}
                ELSE {int(_STRAT_DEFAULT * 10000)} END
"""


def q_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ops import sample as sample_ops

    docs = _load(spark, sf_dir, "documents")
    return sample_ops.split(docs, _SPLIT_WEIGHTS).select(
        "doc_id", F.col("split_id").cast("long").alias("split_id")
    )


SQL_SAMPLE_SPLIT = f"""
SELECT doc_id,
       CAST(CASE WHEN b < 8000 THEN 0 WHEN b < 9000 THEN 1 ELSE 2 END
            AS BIGINT) AS split_id
FROM (SELECT doc_id, {_sql_sample_bucket("split")} AS b FROM documents) t
"""


# ---------------------------------------------------------------------------
# 19-25. KG construction pipeline stages (pages -> extract -> mentions ->
#        entities -> triples -> canonicalize)
# ---------------------------------------------------------------------------

_SQL_TAIL = (
    "CASE WHEN doc_id % 20 = 0 THEN 'odd path (x)%/' || CAST(doc_id AS VARCHAR) "
    "ELSE CAST(doc_id AS VARCHAR) END"
)
_SQL_URL = f"('https://' || source || '.example.org/page/' || {_SQL_TAIL})"
_SQL_TS = "make_timestamp((1577836800 + doc_id) * 1000000)"


def _sql_escape_html(expr: str) -> str:
    return _sql_replace_chain(
        expr, [("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"), ('"', "&quot;")]
    )


_SQL_TITLE = "('Page ' || CAST(doc_id AS VARCHAR))"
_SQL_HTML = (
    "('<html><head><title>' || "
    + _sql_escape_html(_SQL_TITLE)
    + " || '</title><script>var skip=1;</script><style>p{margin:0}</style>"
    "</head><body><h1>' || "
    + _sql_escape_html(_SQL_TITLE)
    + " || '</h1><p>' || "
    + _sql_escape_html("text")
    + " || '</p><!-- comment --></body></html>')"
)


def q_kg_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    p = pages.synthesize_pages(docs)
    return p.select(
        "page_id",
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("warc_ts_s"),
        "lang",
        "text",
        F.length("html").cast("long").alias("html_len"),
    )


SQL_KG_PAGES = f"""
SELECT doc_id AS page_id,
       {_SQL_URL} AS url,
       strftime({_SQL_TS}, '%Y-%m-%d %H:%M:%S') AS warc_ts_s,
       lang,
       text,
       CAST(octet_length(encode({_SQL_HTML})) AS BIGINT) AS html_len
FROM documents
"""


def q_kg_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    p = pages.synthesize_pages(docs)
    return extract.extract_text(p).select("page_id", "url", "extracted_text")


SQL_KG_EXTRACT_TEXT = f"""
SELECT doc_id AS page_id, {_SQL_URL} AS url, text AS extracted_text
FROM documents
"""


# alias dictionary + mentions CTEs shared by several oracles
def _sql_dict_ctes() -> str:
    return f"""
toks0 AS (
    SELECT DISTINCT tok FROM (
        SELECT unnest(regexp_split_to_array(text, '\\s+')) AS tok FROM documents
    ) t WHERE length(tok) >= 3
),
dict AS (
    SELECT tok AS alias, 'ent_' || tok AS entity_id, 0.9::DOUBLE AS score FROM toks0
    UNION ALL
    SELECT upper(substr(tok, 1, 1)) || substr(tok, 2), 'ent_' || tok, 0.8::DOUBLE FROM toks0
    UNION ALL
    SELECT tok, 'alt1_' || tok, 0.6::DOUBLE FROM toks0
    WHERE {md5_long_sql("tok")} % 5 = 0
),
ptoks AS (
    SELECT doc_id AS page_id, surface, CAST(count(*) AS BIGINT) AS n_occurrences
    FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS surface
          FROM documents) t
    WHERE surface <> ''
    GROUP BY doc_id, surface
),
ment AS (
    SELECT page_id, alias, entity_id, score, n_occurrences
    FROM (
        SELECT page_id, d.alias, d.entity_id, d.score, n_occurrences,
               row_number() OVER (PARTITION BY page_id, surface
                                  ORDER BY score DESC, entity_id) AS rk
        FROM ptoks
        JOIN (SELECT lower(alias) AS surface, alias, entity_id, score FROM dict) d
          USING (surface)
    ) x WHERE rk = 1
)
"""


def _mention_frames(spark: SparkSession, sf_dir: str):
    docs = _load(spark, sf_dir, "documents")
    p = pages.synthesize_pages(docs)
    extracted = extract.extract_text(p).select("page_id", "extracted_text")
    aliases = mentions.build_alias_dict(docs)
    m = mentions.detect_mentions(extracted, aliases)
    ents = mentions.entities_from_aliases(aliases)
    return docs, p, m, ents


def q_kg_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, _, m, _ = _mention_frames(spark, sf_dir)
    return m


SQL_KG_MENTIONS = f"""
WITH {_sql_dict_ctes()}
SELECT page_id, alias, entity_id, score, n_occurrences FROM ment
"""


def q_kg_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    return mentions.entities_from_aliases(mentions.build_alias_dict(docs))


SQL_KG_ENTITIES = f"""
WITH {_sql_dict_ctes()}
SELECT entity_id, min(alias) AS label FROM dict GROUP BY entity_id
"""


def q_kg_triples_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _kg_trip(spark, sf_dir)


def _sql_kg_triples_core() -> str:
    """UNION ALL of every branch of the compiled KG mapping (pre-dedup)."""
    url_iri = _sql_iri(_SQL_URL)
    # raw literal semantics (terms.make_literal): the java-Timestamp
    # space-separated lexical form is emitted as-is, no 'T' conversion
    dt_lit = (
        f"('\"' || strftime({_SQL_TS}, '%Y-%m-%d %H:%M:%S') || '.0'"
        f" || '\"^^<{XSD_DT}>')"
    )
    return f"""
SELECT '<{KG}page/' || doc_id || '>' AS subj, '{RDF_TYPE}' AS pred,
       '<http://schema.org/WebPage>' AS obj FROM documents
UNION ALL
SELECT '<{KG}page/' || doc_id || '>', '<http://schema.org/url>', {url_iri}
FROM documents
UNION ALL
SELECT '<{KG}page/' || doc_id || '>', '<http://schema.org/inLanguage>',
       '"' || lang || '"' FROM documents
UNION ALL
SELECT '<{KG}page/' || doc_id || '>', '<http://schema.org/dateModified>', {dt_lit}
FROM documents
UNION ALL
SELECT '<{KG}page/' || page_id || '>', '<{KG}ontology#mentionCount>',
       '"' || CAST(n_occurrences AS VARCHAR) || '"^^<{XSD_INT}>' FROM ment
UNION ALL
SELECT '<{KG}page/' || page_id || '>', '<{KG}ontology#mentions>',
       '<{KG}entity/' || entity_id || '>' FROM ment
UNION ALL
SELECT '<{KG}entity/' || entity_id || '>', '{RDF_TYPE}', '<{KG}ontology#Entity>'
FROM (SELECT DISTINCT entity_id FROM dict) e
UNION ALL
SELECT '<{KG}entity/' || entity_id || '>',
       '<http://www.w3.org/2000/01/rdf-schema#label>', '"' || label || '"'
FROM (SELECT entity_id, min(alias) AS label FROM dict GROUP BY entity_id) e
"""


SQL_KG_TRIPLES_RAW = f"""
WITH {_sql_dict_ctes()}
SELECT DISTINCT subj, pred, obj FROM ({_sql_kg_triples_core()}) t
"""


def q_kg_canonical_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    return canonicalize.canonical_map(pages.synthesize_sameas(docs))


def _sql_canonical_ctes() -> str:
    """Recursive connected components == iterative min-label propagation."""
    return f"""
vt AS (
    SELECT DISTINCT tok FROM (
        SELECT unnest(regexp_split_to_array(text, '\\s+')) AS tok FROM documents
    ) t WHERE tok <> ''
),
edges0 AS (
    SELECT 'alt1_' || tok AS src, 'ent_' || tok AS dst FROM vt
    UNION ALL
    SELECT 'alt2_' || tok, 'alt1_' || tok FROM vt
    UNION ALL
    SELECT 'ent_' || tok, 'ent_hub' FROM vt WHERE {md5_long_sql("tok")} % 7 = 0
),
und AS (
    SELECT src AS a, dst AS b FROM edges0 WHERE src <> dst
    UNION
    SELECT dst, src FROM edges0 WHERE src <> dst
),
reach AS (
    SELECT a AS node, a AS r FROM und
    UNION
    SELECT reach.node, und.b FROM reach JOIN und ON reach.r = und.a
),
comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
reps AS (
    SELECT component,
           substr(min(CASE WHEN starts_with(node, 'ent_') THEN '0' || node
                           ELSE '1' || node END), 2) AS canonical_id
    FROM comp GROUP BY component
),
cmap AS (
    SELECT comp.node AS entity_id, reps.canonical_id
    FROM comp JOIN reps USING (component)
)
"""


SQL_KG_CANONICAL_MAP = f"""
WITH RECURSIVE {_sql_canonical_ctes()}
SELECT entity_id, canonical_id FROM cmap
"""


def q_kg_triples_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    # the raw graph is the same materialized-once triple table the
    # SPARQL queries read (materialize-then-query)
    raw = _kg_trip(spark, sf_dir)
    cmap = canonicalize.canonical_map(pages.synthesize_sameas(docs))
    return canonicalize.rewrite_triples(raw, cmap)


SQL_KG_TRIPLES_CANONICAL = f"""
WITH RECURSIVE {_sql_dict_ctes()},
{_sql_canonical_ctes().lstrip()},
iri_map AS (
    SELECT '<{KG}entity/' || entity_id || '>' AS f,
           '<{KG}entity/' || canonical_id || '>' AS t
    FROM cmap WHERE entity_id <> canonical_id
),
raw AS ({_sql_kg_triples_core()})
SELECT DISTINCT coalesce(ms.t, raw.subj) AS subj,
                raw.pred AS pred,
                coalesce(mo.t, raw.obj) AS obj
FROM raw
LEFT JOIN iri_map ms ON raw.subj = ms.f
LEFT JOIN iri_map mo ON raw.obj = mo.f
"""


# ---------------------------------------------------------------------------
# xR2RML: blank-node subject + rr:language + explicit rr:datatype
# override (P7 term typing/tagging paths)
# ---------------------------------------------------------------------------

DOCS_TTL = """\
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix ex:  <http://example.org/ontology#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .

<#TMDoc>
    xrr:logicalSource [ rr:tableName "documents"; xrr:referenceFormulation xrr:Column ];
    rr:subjectMap [ rr:template "doc{doc_id}"; rr:termType rr:BlankNode ];
    rr:predicateObjectMap [
        rr:predicate ex:text;
        rr:objectMap [ rr:column "text"; rr:language "en" ];
    ];
    rr:predicateObjectMap [
        rr:predicate ex:nchars;
        rr:objectMap [ rr:column "n_chars"; rr:datatype xsd:long ];
    ];
    .
"""


def q_xr2rml_lang_datatype_bnode(spark: SparkSession, sf_dir: str) -> DataFrame:
    catalog = SourceCatalog(spark).register(
        "documents", _load(spark, sf_dir, "documents")
    )
    return MappingCompiler(spark, parse_mapping(DOCS_TTL), catalog).triples()


SQL_XR2RML_LANG_DT_BNODE = f"""
WITH d AS (SELECT '_:doc' || doc_id AS s, * FROM documents)
SELECT DISTINCT subj, pred, obj FROM (
    SELECT s AS subj, '<{ONT}text>' AS pred, '"' || text || '"@en' AS obj FROM d
    UNION ALL
    SELECT s, '<{ONT}nchars>',
           '"' || n_chars || '"^^<http://www.w3.org/2001/XMLSchema#long>' FROM d
) t
"""


# ---------------------------------------------------------------------------
# Multimodal plumbing: binary payload -> mapInPandas feature extraction
# (deterministic fake decoder; real codecs are a one-function swap).
# The fake decode is a 16-bin byte histogram, so the oracle recomputes
# it from the UTF-8 bytes (the corpus is ASCII: ascii(char) == byte).
# ---------------------------------------------------------------------------


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # posexplode the feature vector to (doc_id, bin, value_bp) rows: the
    # driver's oracle canonicalizer hashes scalar cells only, so the
    # array<long> shape of round 1 could never be compared
    docs = _load(spark, sf_dir, "documents")
    mm = multimodal.attach_fake_payload(docs)
    feats = multimodal.extract_features(mm, fake=True)
    return feats.select(
        "doc_id",
        F.posexplode(
            F.transform(
                "features",
                lambda x: F.floor(x.cast("double") * F.lit(10000.0)).cast("long"),
            )
        ).alias("bin", "value_bp"),
        "n_bytes",
    ).withColumn("bin", F.col("bin").cast("long"))


def _sql_multimodal() -> str:
    # numpy computes hist/total in float64, casts to float32, Spark
    # re-widens to double; the REAL round-trip below reproduces that
    value = (
        "CAST(floor(CAST(CAST("
        "CAST(len([y FOR y IN bytes IF y >= i * 16 AND y < i * 16 + 16]) AS DOUBLE)"
        " / greatest(len(bytes), 1) AS REAL) AS DOUBLE) * 10000.0) AS BIGINT)"
    )
    return f"""
WITH b AS (
    SELECT doc_id,
           [ascii(x) FOR x IN split(text, '')] AS bytes,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents
)
SELECT doc_id, CAST(i AS BIGINT) AS bin, {value} AS value_bp, n_bytes
FROM b, range(0, {multimodal.FEATURE_DIM}) t(i)
"""


SQL_MULTIMODAL_FEATURES = _sql_multimodal()


def _decode_features(spark: SparkSession, sf_dir: str, parity: int) -> DataFrame:
    """REAL decode path: synthesize well-formed media payloads (even
    doc_ids -> 8x8 P6 pixmaps, odd -> 64-sample PCM16 WAVE) with pure
    Column expressions, decode them with the pure-Python Netpbm/WAVE
    decoders inside the Arrow mapInPandas stage (fake=False — a parse
    failure would throw, so green means the decoders ran), featurize,
    posexplode to scalar rows."""
    docs = _load(spark, sf_dir, "documents").where(
        F.col("doc_id") % 2 == parity
    )
    mm = multimodal.attach_real_payload(docs)
    feats = multimodal.extract_features(mm, fake=False)
    return feats.select(
        "doc_id",
        F.posexplode(
            F.transform(
                "features",
                lambda x: F.floor(x.cast("double") * F.lit(10000.0)).cast("long"),
            )
        ).alias("bin", "value_bp"),
        "n_bytes",
    ).withColumn("bin", F.col("bin").cast("long"))


def q_multimodal_decode_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _decode_features(spark, sf_dir, parity=0)


def q_multimodal_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _decode_features(spark, sf_dir, parity=1)


# the image payload is an 11-byte "P6\n8 8\n255\n" header + 192 pixel
# bytes = repeat(md5(text), 6); decoded pixels are exactly those bytes,
# so the expected histogram is computable from md5(text) analytically
SQL_MULTIMODAL_DECODE_PPM = f"""
WITH b AS (
    SELECT doc_id, [ascii(x) FOR x IN split(repeat(md5(text), 6), '')] AS bytes
    FROM documents WHERE doc_id % 2 = 0
)
SELECT doc_id, CAST(i AS BIGINT) AS bin,
       CAST(floor(CAST(CAST(
           CAST(len([y FOR y IN bytes IF y >= i * 16 AND y < i * 16 + 16]) AS DOUBLE)
           / 192.0 AS REAL) AS DOUBLE) * 10000.0) AS BIGINT) AS value_bp,
       CAST(203 AS BIGINT) AS n_bytes
FROM b, range(0, {multimodal.FEATURE_DIM}) t(i)
"""

# the audio payload is a constant 44-byte PCM16 header + 128 data bytes
# = repeat(md5(text), 4); wave yields 64 little-endian int16 samples
# (lo byte first), normalized /32768 into [-1, 1) — reproduced below
# from the hex text (1-indexed: hx[2i+1] is the low byte of sample i)
SQL_MULTIMODAL_DECODE_WAV = f"""
WITH h AS (
    SELECT doc_id, repeat(md5(text), 4) AS hx
    FROM documents WHERE doc_id % 2 = 1
), s AS (
    SELECT doc_id,
           [(ascii(hx[2*i+1]) + 256 * ascii(hx[2*i+2])) / 32768.0
            FOR i IN generate_series(0, 63)] AS samples
    FROM h
)
SELECT doc_id, CAST(i AS BIGINT) AS bin,
       CAST(floor(CAST(CAST(
           CAST(len([v FOR v IN samples
                     IF v >= i / 8.0 - 1 AND v < (i + 1) / 8.0 - 1]) AS DOUBLE)
           / 64.0 AS REAL) AS DOUBLE) * 10000.0) AS BIGINT) AS value_bp,
       CAST(172 AS BIGINT) AS n_bytes
FROM s, range(0, {multimodal.FEATURE_DIM}) t(i)
"""


# ---------------------------------------------------------------------------
# 26-28. SPARQL SELECT over the materialized triple table (§2.12 — the
#        DataFrame replacement for the reference's query rewriting).
#        Oracles evaluate the same algebra as SQL self-joins over the
#        same triples CTE.
# ---------------------------------------------------------------------------


# Materialize-then-query (SURVEY §2.12): the engine's SPARQL answers
# come from ONE materialized graph, exactly as the reference
# materializes the Jena model once and serves queries from it. The
# graph is checkpointed to parquet ONCE per sf_dir (the StageRunner
# pattern — on a cluster this is the Iceberg triple-table stage) and
# every SPARQL query reads the compact columnar file back: each
# triple-pattern scan gets parquet predicate pushdown on `pred`, no
# pandas-UDF lineage is re-planned per query, and the stage survives
# session-cache eviction and release_caches() — unlike the previous
# persist()-memo, whose blocks the first SPARQL queries were observed
# re-materializing in the round-2 bench (sparql_bgp_join 21s vs the
# same query at 8s warm).
_KG_TRIP_PATH: dict[str, str] = {}


def _kg_trip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _KG_TRIP_PATH.get(sf_dir)
    if path is None:
        import atexit
        import shutil
        import tempfile

        root = tempfile.mkdtemp(prefix="morph-kgtrip-")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        path = f"{root}/triples"
        _, p, m, ents = _mention_frames(spark, sf_dir)
        emit_triples(spark, p, m, ents).write.parquet(path)
        caching.release_caches()  # compiler parent-scan persists
        _KG_TRIP_PATH[sf_dir] = path
    return spark.read.parquet(path)


# The customer/orders graph backs FOUR sparql entries (optional_filter,
# construct, describe, and the ROM goldens); materialize-then-query
# memoizes it per (session, sf_dir) exactly like the KG triple table —
# one compiled materialization, many queries against it.
_ROM_TRIP_MEMO: dict[tuple[int, str], DataFrame] = {}


def _rom_trip(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (id(spark), sf_dir)
    df = _ROM_TRIP_MEMO.get(key)
    if df is not None:
        try:
            if df.storageLevel.useMemory or df.storageLevel.useDisk:
                return df
        except Exception:  # noqa: BLE001 — stale session
            pass
    df = q_xr2rml_refobjectmap(spark, sf_dir).persist()
    df.count()  # materialization barrier before branching per pattern
    _ROM_TRIP_MEMO[key] = df
    return df


SPARQL_BGP_JOIN = """
PREFIX kg: <http://kg.example.org/ontology#>
PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
SELECT DISTINCT ?page ?label WHERE {
    ?page kg:mentions ?ent .
    ?ent rdfs:label ?label .
}
"""


def q_sparql_bgp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sparql_select(_kg_trip(spark, sf_dir), SPARQL_BGP_JOIN)


SQL_SPARQL_BGP_JOIN = f"""
WITH {_sql_dict_ctes()},
trip AS (SELECT DISTINCT subj, pred, obj FROM ({_sql_kg_triples_core()}) t)
SELECT DISTINCT t1.subj AS page, t2.obj AS label
FROM trip t1 JOIN trip t2 ON t1.obj = t2.subj
WHERE t1.pred = '<{KG}ontology#mentions>'
  AND t2.pred = '<http://www.w3.org/2000/01/rdf-schema#label>'
"""


SPARQL_OPTIONAL_FILTER = """
PREFIX ex: <http://example.org/ontology#>
SELECT ?ord ?cust WHERE {
    ?ord ex:status ?status .
    OPTIONAL { ?ord ex:customer ?cust }
    FILTER (?status = "O")
}
"""


def q_sparql_optional_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sparql_select(_rom_trip(spark, sf_dir), SPARQL_OPTIONAL_FILTER)


SQL_SPARQL_OPTIONAL_FILTER = f"""
WITH c AS (SELECT '<{EX}customer/' || c_custkey || '>' AS s, * FROM customer),
     o AS (SELECT '<{EX}order/' || o_orderkey || '>' AS s, * FROM orders),
trip AS (
    SELECT DISTINCT subj, pred, obj FROM (
        SELECT s AS subj, '{RDF_TYPE}' AS pred, '<{ONT}Customer>' AS obj FROM c
        UNION ALL SELECT s, '<{ONT}name>', '"' || c_name || '"' FROM c
        UNION ALL SELECT s, '<{ONT}status>', '"' || o_orderstatus || '"' FROM o
        UNION ALL SELECT o.s, '<{ONT}customer>', c.s
                  FROM o JOIN c ON o.o_custkey = c.c_custkey
    ) t
)
SELECT t1.subj AS ord, t2.obj AS cust
FROM trip t1
LEFT JOIN (SELECT subj, obj FROM trip WHERE pred = '<{ONT}customer>') t2
       ON t1.subj = t2.subj
WHERE t1.pred = '<{ONT}status>' AND t1.obj = '"O"'
"""


SPARQL_NUMERIC_FILTER = """
PREFIX kg: <http://kg.example.org/ontology#>
SELECT ?page ?n WHERE {
    ?page kg:mentionCount ?n
    FILTER (?n >= 10)
}
"""


def q_sparql_numeric_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sparql_select(_kg_trip(spark, sf_dir), SPARQL_NUMERIC_FILTER)


SQL_SPARQL_NUMERIC_FILTER = f"""
WITH {_sql_dict_ctes()},
trip AS (SELECT DISTINCT subj, pred, obj FROM ({_sql_kg_triples_core()}) t)
SELECT subj AS page, obj AS n
FROM trip
WHERE pred = '<{KG}ontology#mentionCount>'
  AND CAST(regexp_extract(obj, '^"?([-+]?[0-9]+(\\.[0-9]+)?)', 1) AS DOUBLE) >= 10
"""


SPARQL_GROUP_COUNT = """
PREFIX kg: <http://kg.example.org/ontology#>
SELECT ?ent (COUNT(?page) AS ?n_pages) WHERE {
    ?page kg:mentions ?ent .
} GROUP BY ?ent
"""


def q_sparql_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = sparql_select(_kg_trip(spark, sf_dir), SPARQL_GROUP_COUNT)
    return df.select("ent", F.col("n_pages").cast("long").alias("n_pages"))


SQL_SPARQL_GROUP_COUNT = f"""
WITH {_sql_dict_ctes()},
trip AS (SELECT DISTINCT subj, pred, obj FROM ({_sql_kg_triples_core()}) t)
SELECT obj AS ent, CAST(count(*) AS BIGINT) AS n_pages
FROM trip WHERE pred = '<{KG}ontology#mentions>'
GROUP BY obj
"""


# Value-ordered ORDER BY over typed numeric literals: the top pages by
# mention count, DESC. Ordering must be by numeric VALUE ("9" before
# "10" ascending), not lexical — the reference gets value order from
# Jena ARQ's re-evaluation (MorphMongoQueryProcessor.process:45-150);
# the engine compiles each lexical sort key to a composite
# (numeric value, lexical form) key (sparql/bgp.py _order_cols). The
# LIMIT makes the ordering observable in the (order-insensitive)
# value-hash: picking the boundary rows lexically would select a
# different set.
SPARQL_ORDER_NUMERIC = """
PREFIX kg: <http://kg.example.org/ontology#>
SELECT ?page ?n WHERE {
    ?page kg:mentionCount ?n
} ORDER BY DESC(?n) ?page LIMIT 20
"""


def q_sparql_order_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sparql_select(_kg_trip(spark, sf_dir), SPARQL_ORDER_NUMERIC)


SQL_SPARQL_ORDER_NUMERIC = f"""
WITH {_sql_dict_ctes()},
trip AS (SELECT DISTINCT subj, pred, obj FROM ({_sql_kg_triples_core()}) t)
SELECT subj AS page, obj AS n
FROM trip
WHERE pred = '<{KG}ontology#mentionCount>'
ORDER BY CAST(regexp_extract(obj, '^"?([-+]?[0-9]+(\\.[0-9]+)?)', 1) AS DOUBLE) DESC,
         obj DESC, page ASC
LIMIT 20
"""


# E-notation numeric literals (round-3 verdict finding #1): Spark's
# double→string cast (and Java Double.toString) emit exponent notation
# for |x| ≥ 1e7, so FILTER / ORDER BY over such literals must parse
# "12.5E6"^^xsd:double as 12 500 000, not 12.5 (the reference gets
# value comparison from ARQ, MorphMongoQueryProcessor.process:45-150).
# The synthesized scores span 0.5E6..19.5E6: the broken prefix parser
# reads every value < 20, so FILTER(?n > 8000000) returns 0 rows and
# the entry goes red; the LIMIT'd DESC ordering additionally pins the
# boundary rows by value.
SPARQL_NUMERIC_EXPONENT = """
PREFIX kg: <http://kg.example.org/ontology#>
SELECT ?page ?n WHERE {
    ?page kg:score ?n
    FILTER (?n > 8000000)
} ORDER BY DESC(?n) ?page LIMIT 25
"""

XSD_DBL = "http://www.w3.org/2001/XMLSchema#double"


def _exp_trip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    return docs.select(
        F.concat(
            F.lit(f"<{KG}page/"), F.col("doc_id").cast("string"), F.lit(">")
        ).alias("subj"),
        F.lit(f"<{KG}ontology#score>").alias("pred"),
        F.concat(
            F.lit('"'),
            (F.col("doc_id") % 20).cast("string"),
            F.lit(f'.5E6"^^<{XSD_DBL}>'),
        ).alias("obj"),
    )


def q_sparql_numeric_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sparql_select(_exp_trip(spark, sf_dir), SPARQL_NUMERIC_EXPONENT)


SQL_SPARQL_NUMERIC_EXPONENT = f"""
WITH trip AS (
    SELECT DISTINCT
        '<{KG}page/' || doc_id || '>' AS subj,
        '"' || (doc_id % 20) || '.5E6"^^<{XSD_DBL}>' AS obj
    FROM documents
)
SELECT subj AS page, obj AS n
FROM trip
WHERE CAST(regexp_extract(obj,
        '^"?([-+]?([0-9]+\\.?[0-9]*|\\.[0-9]+)([eE][-+]?[0-9]+)?)', 1)
      AS DOUBLE) > 8000000
ORDER BY CAST(regexp_extract(obj,
        '^"?([-+]?([0-9]+\\.?[0-9]*|\\.[0-9]+)([eE][-+]?[0-9]+)?)', 1)
      AS DOUBLE) DESC, obj DESC, page ASC
LIMIT 25
"""


# SELECT expression projections (SPARQL 1.1 §18.4 Extend) plus the
# round-5 built-in additions — STRAFTER/STRBEFORE/REPLACE, MD5,
# ROUND/ABS/FLOOR — in one entry. Every computed value is
# binary-exact on both engines: the decimals are x.5 halves (exact in
# IEEE double), fn:round is floor(x+0.5) on both sides, and MD5 hex is
# canonical, so the repr()-based float hash matches bit-for-bit. The
# reference evaluates SPARQL through Jena ARQ post-materialization
# (MorphMongoQueryProcessor.process:45-150), where all of these are
# ARQ built-ins.
XSD_DEC = "http://www.w3.org/2001/XMLSchema#decimal"

SPARQL_EXPR_FUNCTIONS = """
PREFIX kg: <http://kg.example.org/ontology#>
SELECT ?page (STRAFTER(STR(?page), "/page/") AS ?pid)
       (MD5(STRAFTER(STR(?page), "/page/")) AS ?h)
       (ROUND(?v) AS ?r)
       (ABS(?v - 3) AS ?a)
       (REPLACE(STRBEFORE(STR(?v), "."), "[0-9]", "#") AS ?m)
WHERE {
    ?page kg:value ?v .
    FILTER (FLOOR(?v) >= 1)
}
"""


def _dec_trip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    return docs.select(
        F.concat(
            F.lit(f"<{KG}page/"), F.col("doc_id").cast("string"), F.lit(">")
        ).alias("subj"),
        F.lit(f"<{KG}ontology#value>").alias("pred"),
        F.concat(
            F.lit('"'),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(f'.5"^^<{XSD_DEC}>'),
        ).alias("obj"),
    )


def q_sparql_expr_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sparql_select(_dec_trip(spark, sf_dir), SPARQL_EXPR_FUNCTIONS)


SQL_SPARQL_EXPR_FUNCTIONS = f"""
WITH trip AS (
    SELECT DISTINCT
        '<{KG}page/' || doc_id || '>' AS page,
        CAST(doc_id AS VARCHAR) AS pid,
        (doc_id % 7) + 0.5 AS v,
        CAST(doc_id % 7 AS VARCHAR) AS ipart
    FROM documents
)
SELECT page, pid, md5(pid) AS h,
       CAST(floor(v + 0.5) AS DOUBLE) AS r,
       CAST(abs(v - 3) AS DOUBLE) AS a,
       regexp_replace(ipart, '[0-9]', '#', 'g') AS m
FROM trip
WHERE floor(v) >= 1
"""


# Aggregates over expressions (SUM(?v * 2), MAX(?v * ?v), AVG(?v - 1))
# grouped by a BIND-computed key. All inputs are x.5 halves, so every
# product/sum is an exact dyadic rational far below 2^53: Spark's
# partition-order-dependent double summation and DuckDB's both produce
# the identical exact value, keeping the repr()-float hash stable.
SPARQL_AGG_EXPR = """
PREFIX kg: <http://kg.example.org/ontology#>
SELECT ?b (SUM(?v * 2) AS ?s2) (AVG(?v - 1) AS ?am)
       (MAX(?v * ?v) AS ?mx) (COUNT(?v) AS ?n)
WHERE {
    ?page kg:value ?v .
    BIND(FLOOR(?v) AS ?b)
} GROUP BY ?b
"""


def q_sparql_agg_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = sparql_select(_dec_trip(spark, sf_dir), SPARQL_AGG_EXPR)
    return df.select(
        "b", "s2", "am", "mx", F.col("n").cast("long").alias("n")
    )


SQL_SPARQL_AGG_EXPR = f"""
WITH trip AS (
    SELECT DISTINCT
        '<{KG}page/' || doc_id || '>' AS page,
        (doc_id % 7) + 0.5 AS v
    FROM documents
)
SELECT CAST(floor(v) AS DOUBLE) AS b,
       CAST(sum(v * 2) AS DOUBLE) AS s2,
       CAST(avg(v - 1) AS DOUBLE) AS am,
       CAST(max(v * v) AS DOUBLE) AS mx,
       CAST(count(v) AS BIGINT) AS n
FROM trip
GROUP BY 1
"""


# Date/time accessors + term constructors (round-5 additions, tranche
# 2): YEAR/MONTH/DAY/HOURS read the xsd:dateTime LEXICAL form (regexp
# groups — no session-timezone dependence), IRI()/STRLANG() build
# terms, isNUMERIC() gates the filter. The dateTime literals come from
# events.ts via date_format, which was probed byte-identical to
# DuckDB's strftime on this data (both truncate sub-second micros).
SPARQL_DATETIME_TERMS = """
PREFIX kg: <http://kg.example.org/ontology#>
SELECT ?e (YEAR(?t) AS ?y) (MONTH(?t) AS ?mo) (DAY(?t) AS ?d)
       (HOURS(?t) AS ?h)
       (IRI(CONCAT(STR(?e), "#t")) AS ?anchor)
       (STRLANG(STRAFTER(STR(?e), "/ev/"), "en") AS ?lbl)
WHERE {
    ?e kg:at ?t .
    FILTER (isNUMERIC(MINUTES(?t)) && HOURS(?t) >= 12)
}
"""

XSD_DT = "http://www.w3.org/2001/XMLSchema#dateTime"


def _dt_trip(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _load(spark, sf_dir, "events")
    return events.select(
        F.concat(
            F.lit(f"<{KG}ev/"), F.col("event_id").cast("string"), F.lit(">")
        ).alias("subj"),
        F.lit(f"<{KG}ontology#at>").alias("pred"),
        F.concat(
            F.lit('"'),
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"),
            F.lit(f'"^^<{XSD_DT}>'),
        ).alias("obj"),
    )


def q_sparql_datetime_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sparql_select(_dt_trip(spark, sf_dir), SPARQL_DATETIME_TERMS)


SQL_SPARQL_DATETIME_TERMS = f"""
WITH trip AS (
    SELECT DISTINCT
        '<{KG}ev/' || event_id || '>' AS e,
        CAST(event_id AS VARCHAR) AS eid,
        ts
    FROM events
)
SELECT e,
       CAST(year(ts) AS DOUBLE) AS y,
       CAST(month(ts) AS DOUBLE) AS mo,
       CAST(day(ts) AS DOUBLE) AS d,
       CAST(hour(ts) AS DOUBLE) AS h,
       '<{KG}ev/' || eid || '#t>' AS anchor,
       '"' || eid || '"@en' AS lbl
FROM trip
WHERE hour(ts) >= 12
"""


# Property path: inverse step composed with a sequence step
# ((^kg:mentions)/schema:inLanguage — "languages of the pages that
# mention this entity"), joined with a plain pattern. Paths evaluate as
# join/union/swap plan composition (sparql/bgp.py _path_pairs).
SPARQL_PATH_SEQ = """
PREFIX kg: <http://kg.example.org/ontology#>
PREFIX schema: <http://schema.org/>
PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
SELECT DISTINCT ?label ?lang WHERE {
    ?ent (^kg:mentions)/schema:inLanguage ?lang .
    ?ent rdfs:label ?label .
}
"""


def q_sparql_path_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sparql_select(_kg_trip(spark, sf_dir), SPARQL_PATH_SEQ)


SQL_SPARQL_PATH_SEQ = f"""
WITH {_sql_dict_ctes()},
trip AS (SELECT DISTINCT subj, pred, obj FROM ({_sql_kg_triples_core()}) t)
SELECT DISTINCT t2.obj AS label, t3.obj AS lang
FROM trip t1
JOIN trip t2 ON t1.obj = t2.subj
JOIN trip t3 ON t1.subj = t3.subj
WHERE t1.pred = '<{KG}ontology#mentions>'
  AND t2.pred = '<http://www.w3.org/2000/01/rdf-schema#label>'
  AND t3.pred = '<http://schema.org/inLanguage>'
"""


# Transitive property path (kg:sameAs+) over the synthesized sameAs
# graph: evaluated as a distributed semi-naive fixpoint (one shuffle
# join per round, O(diameter) rounds); the oracle replays it with a
# recursive CTE.
SPARQL_PATH_CLOSURE = """
PREFIX kg: <http://kg.example.org/ontology#>
SELECT DISTINCT ?x ?y WHERE { ?x kg:sameAs+ ?y }
"""


def q_sparql_path_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    e = pages.synthesize_sameas(docs)
    trip = e.select(
        F.concat(F.lit(f"<{KG}entity/"), F.col("src"), F.lit(">")).alias("subj"),
        F.lit(f"<{KG}ontology#sameAs>").alias("pred"),
        F.concat(F.lit(f"<{KG}entity/"), F.col("dst"), F.lit(">")).alias("obj"),
    )
    return sparql_select(trip, SPARQL_PATH_CLOSURE)


SQL_SPARQL_PATH_CLOSURE = f"""
WITH RECURSIVE vt AS (
    SELECT DISTINCT tok FROM (
        SELECT unnest(regexp_split_to_array(text, '\\s+')) AS tok FROM documents
    ) t WHERE tok <> ''
),
edges0 AS (
    SELECT 'alt1_' || tok AS src, 'ent_' || tok AS dst FROM vt
    UNION ALL
    SELECT 'alt2_' || tok, 'alt1_' || tok FROM vt
    UNION ALL
    SELECT 'ent_' || tok, 'ent_hub' FROM vt WHERE {md5_long_sql("tok")} % 7 = 0
),
e AS (SELECT DISTINCT src, dst FROM edges0),
tc AS (
    SELECT src, dst FROM e
    UNION
    SELECT tc.src, e.dst FROM tc JOIN e ON tc.dst = e.src
)
SELECT DISTINCT '<{KG}entity/' || src || '>' AS x,
                '<{KG}entity/' || dst || '>' AS y
FROM tc
"""


# Subquery: per-entity mention degree aggregated in an inner
# { SELECT ... GROUP BY }, joined outward to the label pattern.
SPARQL_SUBQUERY = """
PREFIX kg: <http://kg.example.org/ontology#>
PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
SELECT ?label ?deg WHERE {
    ?ent rdfs:label ?label .
    { SELECT ?ent (COUNT(?page) AS ?deg)
      WHERE { ?page kg:mentions ?ent } GROUP BY ?ent }
}
"""


def q_sparql_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = sparql_select(_kg_trip(spark, sf_dir), SPARQL_SUBQUERY)
    return df.select("label", F.col("deg").cast("long").alias("deg"))


SQL_SPARQL_SUBQUERY = f"""
WITH {_sql_dict_ctes()},
trip AS (SELECT DISTINCT subj, pred, obj FROM ({_sql_kg_triples_core()}) t),
deg AS (
    SELECT obj AS ent, CAST(count(*) AS BIGINT) AS deg
    FROM trip WHERE pred = '<{KG}ontology#mentions>' GROUP BY obj
)
SELECT t.obj AS label, deg.deg
FROM trip t JOIN deg ON t.subj = deg.ent
WHERE t.pred = '<http://www.w3.org/2000/01/rdf-schema#label>'
"""


# MINUS + HAVING + GROUP_CONCAT(DISTINCT) + STRSTARTS/STR in one
# query: pages-per-entity excluding entities whose label starts with
# 'a', keeping entities mentioned on more than 3 pages.
SPARQL_MINUS_HAVING = """
PREFIX kg: <http://kg.example.org/ontology#>
PREFIX schema: <http://schema.org/>
PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
SELECT ?ent (COUNT(?page) AS ?n_pages)
       (GROUP_CONCAT(DISTINCT ?lang; SEPARATOR=",") AS ?langs)
WHERE {
    ?page kg:mentions ?ent .
    ?page schema:inLanguage ?lang .
    MINUS { ?ent rdfs:label ?l . FILTER(STRSTARTS(STR(?l), "a")) }
} GROUP BY ?ent HAVING(COUNT(?page) > 3)
"""


def q_sparql_minus_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = sparql_select(_kg_trip(spark, sf_dir), SPARQL_MINUS_HAVING)
    return df.select(
        "ent", F.col("n_pages").cast("long").alias("n_pages"), "langs"
    )


SQL_SPARQL_MINUS_HAVING = f"""
WITH {_sql_dict_ctes()},
trip AS (SELECT DISTINCT subj, pred, obj FROM ({_sql_kg_triples_core()}) t),
m AS (
    SELECT t1.subj AS page, t1.obj AS ent, t3.obj AS lang
    FROM trip t1 JOIN trip t3 ON t1.subj = t3.subj
    WHERE t1.pred = '<{KG}ontology#mentions>'
      AND t3.pred = '<http://schema.org/inLanguage>'
),
excl AS (
    SELECT DISTINCT subj AS ent FROM trip
    WHERE pred = '<http://www.w3.org/2000/01/rdf-schema#label>'
      AND starts_with(regexp_extract(obj, '^"([^"]*)"', 1), 'a')
),
f AS (SELECT * FROM m WHERE ent NOT IN (SELECT ent FROM excl)),
g AS (SELECT ent, CAST(count(*) AS BIGINT) AS n_pages
      FROM f GROUP BY ent HAVING count(*) > 3),
l AS (SELECT ent, string_agg(lang, ',' ORDER BY lang) AS langs
      FROM (SELECT DISTINCT ent, lang FROM f) d GROUP BY ent)
SELECT g.ent, g.n_pages, l.langs FROM g JOIN l USING (ent)
"""


# GRAPH patterns over the quad table (named-graph semantics per
# materializeQuad, MorphBaseMaterializer.scala:77-152)

NATION_GRAPHS_TTL = """\
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix ex:  <http://example.org/ontology#> .

<#TMNationG>
    xrr:logicalSource [ rr:tableName "nation"; xrr:referenceFormulation xrr:Column ];
    rr:subjectMap [ rr:template "http://example.org/nation/{n_nationkey}" ];
    rr:predicateObjectMap [
        rr:predicate ex:name;
        rr:objectMap [ rr:column "n_name" ];
        rr:graph ex:gNames;
    ];
    rr:predicateObjectMap [
        rr:predicate ex:regionkey;
        rr:objectMap [ rr:column "n_regionkey" ];
        rr:graph ex:gKeys;
    ];
    .
"""

SPARQL_GRAPH_QUADS = """
PREFIX ex: <http://example.org/ontology#>
SELECT ?g ?n ?v WHERE { GRAPH ?g { ?n ?p ?v } }
"""


def q_sparql_graph_quads(spark: SparkSession, sf_dir: str) -> DataFrame:
    catalog = SourceCatalog(spark).register(
        "nation", _load(spark, sf_dir, "nation"), unique_key=["n_nationkey"]
    )
    quads = MappingCompiler(spark, parse_mapping(NATION_GRAPHS_TTL), catalog).quads()
    return sparql_select(quads, SPARQL_GRAPH_QUADS)


SQL_SPARQL_GRAPH_QUADS = f"""
SELECT '<{ONT}gNames>' AS g, '<{EX}nation/' || n_nationkey || '>' AS n,
       '"' || n_name || '"' AS v
FROM nation
UNION
SELECT '<{ONT}gKeys>', '<{EX}nation/' || n_nationkey || '>',
       '"' || n_regionkey || '"^^<{XSD_INT}>'
FROM nation
"""


# FILTER breadth: IN + xsd cast + arithmetic (the reference's E_OneOf /
# transFunction set, MorphRDBQueryTranslator.scala:988-1187)

ORDERS_FILTER_TTL = """\
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix ex:  <http://example.org/ontology#> .

<#TMOrderF>
    xrr:logicalSource [ rr:tableName "orders"; xrr:referenceFormulation xrr:Column ];
    rr:subjectMap [ rr:template "http://example.org/order/{o_orderkey}" ];
    rr:predicateObjectMap [
        rr:predicate ex:status;
        rr:objectMap [ rr:column "o_orderstatus" ];
    ];
    rr:predicateObjectMap [
        rr:predicate ex:custkey;
        rr:objectMap [ rr:column "o_custkey" ];
    ];
    .
"""

SPARQL_IN_CAST = """
PREFIX ex: <http://example.org/ontology#>
PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
SELECT ?ord ?ck WHERE {
    ?ord ex:status ?st .
    ?ord ex:custkey ?ck .
    FILTER (?st IN ("O", "F") && xsd:integer(?ck) * 2 + 5 >= 205)
}
"""


def q_sparql_in_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    catalog = SourceCatalog(spark).register(
        "orders", _load(spark, sf_dir, "orders"), unique_key=["o_orderkey"]
    )
    trip = MappingCompiler(spark, parse_mapping(ORDERS_FILTER_TTL), catalog).triples()
    return sparql_select(trip, SPARQL_IN_CAST)


SQL_SPARQL_IN_CAST = f"""
SELECT DISTINCT '<{EX}order/' || o_orderkey || '>' AS ord,
       '"' || o_custkey || '"^^<{XSD_INT}>' AS ck
FROM orders
WHERE o_orderstatus IN ('O', 'F') AND o_custkey * 2 + 5 >= 205
"""


# SPARQL 1.1 group-pattern breadth beyond the reference's algebra:
# VALUES inline data (broadcast join), BIND computed variable,
# FILTER NOT EXISTS anti-join — one entry pinning all three against an
# independent SQL rendering.

SPARQL_BIND_VALUES_EXISTS = """
PREFIX ex: <http://example.org/ontology#>
PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
SELECT ?ord ?ck2 WHERE {
    ?ord ex:status ?st .
    ?ord ex:custkey ?ck .
    VALUES ?st { "O" "F" }
    BIND(xsd:integer(?ck) * 3 + 1 AS ?ck2)
    FILTER NOT EXISTS { ?ord ex:status "F" }
}
"""


def q_sparql_bind_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    catalog = SourceCatalog(spark).register(
        "orders", _load(spark, sf_dir, "orders"), unique_key=["o_orderkey"]
    )
    trip = MappingCompiler(spark, parse_mapping(ORDERS_FILTER_TTL), catalog).triples()
    return sparql_select(trip, SPARQL_BIND_VALUES_EXISTS)


# statuses are one-per-order, so VALUES {O,F} minus NOT-EXISTS(F) = O;
# BIND's xsd:integer cast yields a double column on both engines
SQL_SPARQL_BIND_VALUES = f"""
SELECT '<{EX}order/' || o_orderkey || '>' AS ord,
       CAST(o_custkey * 3 + 1 AS DOUBLE) AS ck2
FROM orders
WHERE o_orderstatus = 'O'
"""


# ASK -> LIMIT-1 existence (O3). The contract shape is one boolean row
# so the driver can hash it; two probes: one satisfiable, one not.


def q_sparql_ask(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sparql.results import ask

    catalog = SourceCatalog(spark).register(
        "orders", _load(spark, sf_dir, "orders"), unique_key=["o_orderkey"]
    )
    trip = MappingCompiler(spark, parse_mapping(ORDERS_FILTER_TTL), catalog).triples()
    hit = ask(
        sparql_select(
            trip,
            'PREFIX ex: <http://example.org/ontology#>\n'
            'SELECT ?o WHERE { ?o ex:status "O" }',
        )
    )
    miss = ask(
        sparql_select(
            trip,
            'PREFIX ex: <http://example.org/ontology#>\n'
            'SELECT ?o WHERE { ?o ex:status "ZZ" }',
        )
    )
    return spark.createDataFrame(
        [("has_open_order", hit), ("has_zz_status", miss)],
        "probe string, answer boolean",
    )


SQL_SPARQL_ASK = """
SELECT 'has_open_order' AS probe,
       EXISTS (SELECT 1 FROM orders WHERE o_orderstatus = 'O') AS answer
UNION ALL
SELECT 'has_zz_status',
       EXISTS (SELECT 1 FROM orders WHERE o_orderstatus = 'ZZ')
"""


# DESCRIBE <iri>: every triple with the resource as subject or object
# (the reference expands DESCRIBE identically).


def q_sparql_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sparql import sparql_describe

    return sparql_describe(_rom_trip(spark, sf_dir), f"DESCRIBE <{EX}customer/1>")


SQL_SPARQL_DESCRIBE = f"""
WITH c AS (SELECT '<{EX}customer/' || c_custkey || '>' AS s, * FROM customer),
     o AS (SELECT '<{EX}order/' || o_orderkey || '>' AS s, * FROM orders),
trip AS (
    SELECT DISTINCT subj, pred, obj FROM (
        SELECT s AS subj, '{RDF_TYPE}' AS pred, '<{ONT}Customer>' AS obj FROM c
        UNION ALL SELECT s, '<{ONT}name>', '"' || c_name || '"' FROM c
        UNION ALL SELECT s, '<{ONT}status>', '"' || o_orderstatus || '"' FROM o
        UNION ALL SELECT o.s, '<{ONT}customer>', c.s
                  FROM o JOIN c ON o.o_custkey = c.c_custkey
    ) t
)
SELECT subj, pred, obj FROM trip
WHERE subj = '<{EX}customer/1>' OR obj = '<{EX}customer/1>'
"""


SPARQL_CONSTRUCT_INVERSE = """
PREFIX ex: <http://example.org/ontology#>
CONSTRUCT { ?cust ex:hasOrder ?ord . ?cust a ex:Buyer }
WHERE { ?ord ex:customer ?cust }
"""


def q_sparql_construct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sparql import sparql_construct

    return sparql_construct(_rom_trip(spark, sf_dir), SPARQL_CONSTRUCT_INVERSE)


SQL_SPARQL_CONSTRUCT = f"""
WITH pairs AS (
    SELECT DISTINCT '<{EX}order/' || o_orderkey || '>' AS ord,
                    '<{EX}customer/' || c_custkey || '>' AS cust
    FROM orders JOIN customer ON o_custkey = c_custkey
)
SELECT DISTINCT subj, pred, obj FROM (
    SELECT cust AS subj, '<{ONT}hasOrder>' AS pred, ord AS obj FROM pairs
    UNION ALL
    SELECT cust, '{RDF_TYPE}', '<{ONT}Buyer>' FROM pairs
) t
"""


# ---------------------------------------------------------------------------
# SPARQL — virtual (late) evaluation: the query runs against the mapped
# sources directly, no full-graph materialization (the reference's
# rewriting mode, MorphBaseRunner.runQuery:57-107 / bindm / genCond /
# MorphMongoQueryProcessor.process:45-150). The oracle is the rewritten
# relational query itself — SQL over the raw tables, no triple CTE.
# ---------------------------------------------------------------------------

SPARQL_VIRTUAL_JOIN = """
PREFIX ex: <http://example.org/ontology#>
SELECT ?ord ?cname WHERE {
    ?ord ex:status "F" .
    ?ord ex:customer ?c .
    ?c ex:name ?cname .
}
"""


def q_sparql_virtual_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sparql import VirtualGraph

    catalog = (
        SourceCatalog(spark)
        .register("customer", _load(spark, sf_dir, "customer"),
                  unique_key=["c_custkey"])
        .register("orders", _load(spark, sf_dir, "orders"),
                  unique_key=["o_orderkey"])
    )
    vg = VirtualGraph(spark, parse_mapping(ORDERS_TTL), catalog)
    return vg.select(SPARQL_VIRTUAL_JOIN)


SQL_SPARQL_VIRTUAL_JOIN = f"""
SELECT DISTINCT '<{EX}order/' || o_orderkey || '>' AS ord,
       '"' || c_name || '"' AS cname
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderstatus = 'F'
"""


SPARQL_VIRTUAL_CONST = """
PREFIX ex: <http://example.org/ontology#>
SELECT ?name ?rk WHERE {
    <http://example.org/nation/5> ex:name ?name ;
                                  ex:regionkey ?rk .
}
"""


def q_sparql_virtual_const(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sparql import VirtualGraph

    catalog = SourceCatalog(spark).register(
        "nation", _load(spark, sf_dir, "nation"), unique_key=["n_nationkey"]
    )
    vg = VirtualGraph(spark, parse_mapping(NATION_TTL), catalog)
    return vg.select(SPARQL_VIRTUAL_CONST)


SQL_SPARQL_VIRTUAL_CONST = f"""
SELECT DISTINCT '"' || n_name || '"' AS name,
       '"' || n_regionkey || '"^^<{XSD_INT}>' AS rk
FROM nation WHERE n_nationkey = 5
"""


SPARQL_FROM_NAMED = f"""
PREFIX ex: <{ONT}>
SELECT ?n ?v ?g FROM <{ONT}gNames> FROM NAMED <{ONT}gKeys>
WHERE {{ ?n ex:name ?v . GRAPH ?g {{ ?n ex:regionkey ?k }} }}
"""


def q_sparql_from_named(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset clauses (SPARQL 1.1 §13.2): FROM re-homes gNames as the
    queried default graph, FROM NAMED restricts GRAPH ?g to gKeys."""
    catalog = SourceCatalog(spark).register(
        "nation", _load(spark, sf_dir, "nation"), unique_key=["n_nationkey"]
    )
    quads = MappingCompiler(spark, parse_mapping(NATION_GRAPHS_TTL), catalog).quads()
    return sparql_select(quads, SPARQL_FROM_NAMED)


SQL_SPARQL_FROM_NAMED = f"""
SELECT '<{EX}nation/' || n_nationkey || '>' AS n,
       '"' || n_name || '"' AS v,
       '<{ONT}gKeys>' AS g
FROM nation
"""


# Rewriting mode over a DOCUMENT (MongoDB-style find()) source: the
# object constant pushes down as a get_json_object Catalyst filter on
# the raw document column — the Spark-native analogue of the reference
# compiling SPARQL constants into the Mongo query
# (JsonPathToMongoTranslator.scala:242-463, rules R0-R9) — composing
# with the find() predicate already at the scan.
EVENTS_DOCS_TTL = """\
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix ex:  <http://example.org/ontology#> .

<#TMEvent>
    xrr:logicalSource [ xrr:query "db.events_docs.find({'etype': {$exists: 1}})";
                        xrr:referenceFormulation xrr:JSONPath ];
    rr:subjectMap [ rr:template "http://example.org/event/{$.event_id}" ];
    rr:predicateObjectMap [
        rr:predicate ex:etype;
        rr:objectMap [ xrr:reference "$.etype" ];
    ];
    rr:predicateObjectMap [
        rr:predicate ex:user;
        rr:objectMap [ xrr:reference "$.user" ];
    ];
    .
"""

SPARQL_VIRTUAL_DOC = """
PREFIX ex: <http://example.org/ontology#>
SELECT ?e ?u WHERE {
    ?e ex:etype "purchase" .
    ?e ex:user ?u .
}
"""


def q_sparql_virtual_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sparql import VirtualGraph

    events = _load(spark, sf_dir, "events")
    docs = events.select(
        F.to_json(
            F.struct(
                F.col("event_id"),
                F.col("user_id").cast("string").alias("user"),
                F.col("event_type").alias("etype"),
            )
        ).alias("doc")
    )
    catalog = SourceCatalog(spark).register("events_docs", docs, doc_column="doc")
    vg = VirtualGraph(spark, parse_mapping(EVENTS_DOCS_TTL), catalog)
    return vg.select(SPARQL_VIRTUAL_DOC)


SQL_SPARQL_VIRTUAL_DOC = f"""
SELECT DISTINCT '<{EX}event/' || event_id || '>' AS e,
       '"' || user_id || '"' AS u
FROM events
WHERE event_type = 'purchase'
"""


SPARQL_VIRTUAL_DESCRIBE = """
PREFIX ex: <http://example.org/ontology#>
DESCRIBE ?c WHERE { ?o ex:customer ?c . ?o ex:status "F" }
"""


def q_sparql_virtual_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase virtual DESCRIBE (reference expandDescribe,
    MorphBaseQueryTranslator.scala:86-92): the WHERE evaluates in
    rewriting mode, the matched customer nodes are collected (bounded),
    and only mapping branches that can mention them compile — never the
    full materialized graph. The description covers every triple with a
    matched customer as subject (rdf:type, ex:name) or object (every
    order's ex:customer arc, regardless of status)."""
    from .sparql import VirtualGraph

    catalog = (
        SourceCatalog(spark)
        .register("customer", _load(spark, sf_dir, "customer"),
                  unique_key=["c_custkey"])
        .register("orders", _load(spark, sf_dir, "orders"),
                  unique_key=["o_orderkey"])
    )
    vg = VirtualGraph(spark, parse_mapping(ORDERS_TTL), catalog)
    return vg.describe(SPARQL_VIRTUAL_DESCRIBE)


SQL_SPARQL_VIRTUAL_DESCRIBE = f"""
WITH fcust AS (
    SELECT DISTINCT c_custkey, '<{EX}customer/' || c_custkey || '>' AS s,
           c_name
    FROM customer JOIN orders ON o_custkey = c_custkey
    WHERE o_orderstatus = 'F'
)
SELECT DISTINCT subj, pred, obj FROM (
    SELECT s AS subj, '{RDF_TYPE}' AS pred, '<{ONT}Customer>' AS obj FROM fcust
    UNION ALL SELECT s, '<{ONT}name>', '"' || c_name || '"' FROM fcust
    UNION ALL SELECT '<{EX}order/' || o_orderkey || '>', '<{ONT}customer>', s
              FROM orders JOIN fcust ON o_custkey = c_custkey
) t
"""


SPARQL_VIRTUAL_GRAPH = """
PREFIX ex: <http://example.org/ontology#>
SELECT ?n ?v WHERE { GRAPH ex:gNames { ?n ex:name ?v } }
"""


def q_sparql_virtual_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rewriting mode over named graphs: GRAPH <g> binds only the POMs
    whose graph maps can emit into <g> (the ex:regionkey/gKeys branch is
    never compiled), and the fragment is a quad frame the ordinary
    evaluator consumes."""
    from .sparql import VirtualGraph

    catalog = SourceCatalog(spark).register(
        "nation", _load(spark, sf_dir, "nation"), unique_key=["n_nationkey"]
    )
    vg = VirtualGraph(spark, parse_mapping(NATION_GRAPHS_TTL), catalog)
    return vg.select(SPARQL_VIRTUAL_GRAPH)


SQL_SPARQL_VIRTUAL_GRAPH = f"""
SELECT DISTINCT '<{EX}nation/' || n_nationkey || '>' AS n,
       '"' || n_name || '"' AS v
FROM nation
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

# name -> (spark callable, oracle SQL or None)
REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    "xr2rml_nation_tm": (q_xr2rml_nation, SQL_XR2RML_NATION),
    "xr2rml_refobjectmap_join": (q_xr2rml_refobjectmap, SQL_XR2RML_REFOBJECTMAP),
    "xr2rml_mixed_syntax_path": (q_xr2rml_mixed_path, SQL_XR2RML_MIXED_PATH),
    "xr2rml_rdf_list": (q_xr2rml_rdf_list, SQL_XR2RML_RDF_LIST),
    "xr2rml_lang_datatype_bnode": (
        q_xr2rml_lang_datatype_bnode,
        SQL_XR2RML_LANG_DT_BNODE,
    ),
    "agg_pricing_summary": (q_agg_pricing_summary, SQL_AGG_PRICING_SUMMARY),
    "join_revenue_by_segment": (q_join_revenue_by_segment, SQL_JOIN_REVENUE_BY_SEGMENT),
    "topk_orders": (q_topk_orders, SQL_TOPK_ORDERS),
    "window_top_orders_per_segment": (
        q_window_top_orders_per_segment,
        SQL_WINDOW_TOP_ORDERS,
    ),
    "union_nationkeys": (q_union_nationkeys, SQL_UNION_NATIONKEYS),
    "filter_events_json": (q_filter_events_json, SQL_FILTER_EVENTS_JSON),
    "dedup_exact_groups": (q_dedup_exact_groups, SQL_DEDUP_EXACT_GROUPS),
    "dedup_ngram_jaccard": (q_dedup_ngram_jaccard, SQL_DEDUP_NGRAM_JACCARD),
    "dedup_minhash_lsh": (q_dedup_minhash_lsh, SQL_DEDUP_MINHASH_LSH),
    "dedup_simhash": (q_dedup_simhash, SQL_DEDUP_SIMHASH),
    "dedup_embedding_neardup": (
        q_dedup_embedding_neardup,
        SQL_DEDUP_EMBEDDING_NEARDUP,
    ),
    "sim_cosine_topk": (q_sim_cosine_topk, SQL_SIM_COSINE_TOPK),
    "sim_lsh_ann_topk": (q_sim_lsh_ann_topk, SQL_SIM_LSH_ANN_TOPK),
    "sim_ivf_topk": (q_sim_ivf_topk, SQL_SIM_IVF_TOPK),
    "text_analysis": (q_text_analysis, SQL_TEXT_ANALYSIS),
    "text_winnow_fingerprints": (q_text_winnow, SQL_TEXT_WINNOW),
    "text_vocab_topk": (q_vocab_topk, SQL_VOCAB_TOPK),
    "sample_stratified": (q_sample_stratified, SQL_SAMPLE_STRATIFIED),
    "sample_split": (q_sample_split, SQL_SAMPLE_SPLIT),
    "kg_pages": (q_kg_pages, SQL_KG_PAGES),
    "kg_extract_text": (q_kg_extract_text, SQL_KG_EXTRACT_TEXT),
    "kg_mentions": (q_kg_mentions, SQL_KG_MENTIONS),
    "kg_entities": (q_kg_entities, SQL_KG_ENTITIES),
    "kg_triples_raw": (q_kg_triples_raw, SQL_KG_TRIPLES_RAW),
    "kg_canonical_map": (q_kg_canonical_map, SQL_KG_CANONICAL_MAP),
    "kg_triples_canonical": (q_kg_triples_canonical, SQL_KG_TRIPLES_CANONICAL),
    "multimodal_features": (q_multimodal_features, SQL_MULTIMODAL_FEATURES),
    "multimodal_decode_ppm": (q_multimodal_decode_ppm, SQL_MULTIMODAL_DECODE_PPM),
    "multimodal_decode_wav": (q_multimodal_decode_wav, SQL_MULTIMODAL_DECODE_WAV),
    "sparql_bgp_join": (q_sparql_bgp_join, SQL_SPARQL_BGP_JOIN),
    "sparql_optional_filter": (q_sparql_optional_filter, SQL_SPARQL_OPTIONAL_FILTER),
    "sparql_numeric_filter": (q_sparql_numeric_filter, SQL_SPARQL_NUMERIC_FILTER),
    "sparql_in_cast": (q_sparql_in_cast, SQL_SPARQL_IN_CAST),
    "sparql_bind_values_exists": (q_sparql_bind_values, SQL_SPARQL_BIND_VALUES),
    "sparql_ask": (q_sparql_ask, SQL_SPARQL_ASK),
    "sparql_describe": (q_sparql_describe, SQL_SPARQL_DESCRIBE),
    "sparql_graph_quads": (q_sparql_graph_quads, SQL_SPARQL_GRAPH_QUADS),
    "sparql_from_named": (q_sparql_from_named, SQL_SPARQL_FROM_NAMED),
    "sparql_group_count": (q_sparql_group_count, SQL_SPARQL_GROUP_COUNT),
    "sparql_order_numeric": (q_sparql_order_numeric, SQL_SPARQL_ORDER_NUMERIC),
    "sparql_numeric_exponent": (
        q_sparql_numeric_exponent,
        SQL_SPARQL_NUMERIC_EXPONENT,
    ),
    "sparql_expr_functions": (
        q_sparql_expr_functions,
        SQL_SPARQL_EXPR_FUNCTIONS,
    ),
    "sparql_datetime_terms": (
        q_sparql_datetime_terms,
        SQL_SPARQL_DATETIME_TERMS,
    ),
    "sparql_agg_expr": (q_sparql_agg_expr, SQL_SPARQL_AGG_EXPR),
    "sparql_path_seq": (q_sparql_path_seq, SQL_SPARQL_PATH_SEQ),
    "sparql_path_closure": (q_sparql_path_closure, SQL_SPARQL_PATH_CLOSURE),
    "sparql_minus_having": (q_sparql_minus_having, SQL_SPARQL_MINUS_HAVING),
    "sparql_subquery": (q_sparql_subquery, SQL_SPARQL_SUBQUERY),
    "sparql_construct": (q_sparql_construct, SQL_SPARQL_CONSTRUCT),
    "sparql_virtual_join": (q_sparql_virtual_join, SQL_SPARQL_VIRTUAL_JOIN),
    "sparql_virtual_const": (q_sparql_virtual_const, SQL_SPARQL_VIRTUAL_CONST),
    "sparql_virtual_graph": (q_sparql_virtual_graph, SQL_SPARQL_VIRTUAL_GRAPH),
    "sparql_virtual_describe": (
        q_sparql_virtual_describe, SQL_SPARQL_VIRTUAL_DESCRIBE,
    ),
    "sparql_virtual_doc": (q_sparql_virtual_doc, SQL_SPARQL_VIRTUAL_DOC),
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry callables, each releasing the previous query's
    registered caches on entry (the driver runs build -> collect ->
    next build strictly in sequence, so whatever is still registered
    belongs to an already-collected query)."""

    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            caching.release_caches()
            return fn(spark, sf_dir)

        run.__name__ = fn.__name__
        return run

    return {name: wrap(fn) for name, (fn, _sql) in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_fn, sql) in REGISTRY.items() if sql is not None}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full KG construction (synthesize -> extract -> mentions ->
    xR2RML triple emission -> canonicalization) on the sf0.001 corpus."""
    return q_kg_triples_canonical(spark, "/root/testdata/sf0.001")

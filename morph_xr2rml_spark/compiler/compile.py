"""Mapping compiler: xR2RML MappingDocument -> Spark DataFrame triple plans.

Replaces the reference's materialization dataflow (unfolder + data
translator + materializer, SURVEY §3.1) with per-triples-map DataFrame
stages:

    scan -> [iterator explode] -> term projection (native Column exprs where
    possible, Arrow-batched pandas UDFs otherwise) -> one Generate per map
    (explode of a combined (pred, obj) pair array) -> union -> dedup

Design notes for scale (the reference is a single-threaded driver loop —
MorphRDBDataTranslator.scala:85, MorphMongoDataTranslator.scala:82):

  * ONE scan per triples map: all term columns are computed in a single
    projection and the S x (P x O) Cartesian per row
    (MorphBaseMaterializer.materializeQuads:159-200) happens as one
    flatten/explode of an array-of-structs — no per-POM rescans.
  * Constant/column/single-valued-template maps compile to native Column
    expressions (whole-stage codegen); UDFs only for multi-valued paths.
  * RefObjectMap joins are real joins (never the reference's
    Cartesian-then-filter, MorphBaseMaterializer.scala:88-101):
    simple-column conditions -> equi-join (J1); mixed-syntax-path
    conditions -> explode both sides + equi-join + per-condition
    intersection (J2/J3/J4), all in one join (``_rom_pairs``) whatever
    consumes it. Parent scans are reused and persisted across
    RefObjectMaps (S6).
  * Self-join elimination (AbstractQueryAtomicMongo.mergeForInnerJoin
    :122-186 analogue): when child and parent share the logical source and
    every join condition is childRef == parentRef, the parent subject is
    computed on the child row — no join at all.
  * Blank nodes for collections are content-derived (collections.py), so
    the plan is deterministic under any partitioning.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass, field, replace

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import encoding as _encoding
from ..functions import terms
from ..functions.encoding import encode_reserved_chars_col
from ..functions.paths import MixedSyntaxPath, simple_json_field
from ..functions.templates import get_template_groups, template_parts
from ..mapping.model import (
    COLUMN,
    CONSTANT,
    REFERENCE,
    TEMPLATE,
    LogicalSource,
    MappingDocument,
    RefObjectMap,
    TermMap,
    TriplesMap,
)
from ..sources.catalog import SourceCatalog, typed_column
from . import udfs
from .collections import dedup_collections, expand_collections_split

TRIPLE_SCHEMA = T.StructType(
    [
        T.StructField("subj", T.StringType()),
        T.StructField("pred", T.StringType()),
        T.StructField("obj", T.StringType()),
    ]
)

QUAD_SCHEMA = T.StructType(
    TRIPLE_SCHEMA.fields + [T.StructField("graph", T.StringType())]
)


def _cross_constant_graphs(
    branch: DataFrame, graphs: list[str | None]
) -> list[DataFrame]:
    """Attach each constant graph term to a (subj,pred,obj) branch."""
    return [
        branch.withColumn("graph", F.lit(g).cast("string")) for g in graphs
    ]


@dataclass
class _PredBranch:
    """A branch with a compile-time-known constant predicate (and a single
    constant graph), carrying only (subj, obj) rows.

    Predicate-disjointness dedup routing: set-semantic dedup of the
    output only has to compare triples that can actually be equal, and
    triples with different predicates never are. When a branch's
    predicate constant is distinct from every other predicate the
    mapping can emit, the branch deduplicates independently on
    (subj, obj) — a narrower and (at scale) independently-parallel
    shuffle — instead of joining the pooled dropDuplicates over all
    constructed triples. The reference reaches the same output set via
    Jena's global model-set semantics (MorphBaseMaterializer
    .materializeQuad:77-152); the routing is a pure optimization."""

    pred: str
    graph: str | None
    df: DataFrame  # (subj, obj) rows
    distinct: bool = False  # True when df is already duplicate-free


def _control_free_lexical(dtype: T.DataType) -> bool:
    """True for source types whose lexical rendering can contain no
    character the encoding chains rewrite non-injectively (C0 controls,
    underscores, whitespace): integral, fractional (not timestamp —
    its format truncates), and date types."""
    return isinstance(
        dtype,
        (
            T.ByteType,
            T.ShortType,
            T.IntegerType,
            T.LongType,
            T.FloatType,
            T.DoubleType,
            T.DecimalType,
            T.DateType,
        ),
    )


def _digit_lexical(dtype: T.DataType) -> bool:
    """Types whose lexical rendering uses only the alphabet [0-9-]
    (integral renderings, ISO dates) — no char any encoding chain
    rewrites, and disjoint from the safe separator set below."""
    return isinstance(
        dtype,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.DateType),
    )


# separator first-chars that survive every encoding chain unchanged (or
# char-wise expanded, e.g. nothing here %-encodes away) and can never
# open a [0-9-] group rendering — the boundary between a group run and
# the following literal is therefore unambiguous
_SAFE_SEP_FIRST = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ/:#_"
)


def _separators_unambiguous(parts: list) -> bool:
    """True when every literal between two template groups is non-empty
    and opens with a safe separator char: the concatenation of digit
    renderings and these literals parses back uniquely (scan a maximal
    [0-9-] run per group, then match the fixed literal)."""
    prev_was_group = False
    for part in parts:
        if isinstance(part, int):
            if prev_was_group:
                return False  # adjacent groups: "1"+"23" vs "12"+"3"
            prev_was_group = True
        else:
            if prev_was_group and (not part or part[0] not in _SAFE_SEP_FIRST):
                return False
            prev_was_group = False
    return True


def json_fields(term_map: TermMap) -> list[str] | None:
    """The simple JSONPath fields (:func:`..functions.paths.simple_json_field`)
    a JSONPath reference or template reads, in group order; None when
    one of its references is not one, or for any other term map."""
    if term_map.ref_formulation != "JSONPath" or term_map.kind not in (
        REFERENCE, TEMPLATE,
    ):
        return None
    if term_map.kind == REFERENCE:
        refs = [term_map.reference]
    elif any(
        isinstance(p, str) and set(p) & set("{}\\")
        for p in template_parts(term_map.template)
    ):
        return None  # escaped braces: the template is not rebuilt from parts
    else:
        refs = get_template_groups(term_map.template)
    fields = [simple_json_field(udfs.rewrite_mongo_id(r)) for r in refs]
    return None if None in fields else fields


def typed_term_map(term_map: TermMap, df: DataFrame) -> TermMap:
    """``term_map`` reading the typed columns of its JSONPath fields
    (:func:`..sources.catalog.typed_column`) in Column formulation, when
    ``df`` has every one of them; else ``term_map`` itself. A
    reference becomes an ``rr:column``, a template's groups name the
    columns. The catalog adds a field's column only where its proof
    shows that the native term builders render it exactly as the
    pure-Python evaluators do (:meth:`SourceCatalog.typed_fields`), so
    this is the one rewrite from document maps to the column code: the
    compiler's native terms, and the translator's key filters, joins on
    source columns and self-join elimination."""
    fields = json_fields(term_map)
    if fields is None:
        return term_map
    cols = [typed_column(f) for f in fields]
    if not set(cols) <= set(df.columns):
        return term_map
    if term_map.kind == REFERENCE:
        return replace(
            term_map, kind=COLUMN, column=cols[0], reference=None,
            ref_formulation="Column",
        )
    text = "".join(
        p if isinstance(p, str) else "{" + cols[p] + "}"
        for p in template_parts(term_map.template)
    )
    return replace(term_map, template=text, ref_formulation="Column")


@dataclass
class CompileOptions:
    encode_unsafe_chars_in_uri: bool = True  # MorphProperties.scala:45
    encode_unsafe_chars_in_db_values: bool = True  # MorphProperties.scala:46
    dedup: bool = True  # Jena model set semantics (S8)
    # S5 per-TM slice/offset (mapDataTranslationLimits/Offsets,
    # MorphRDBUnfolder.scala:328-346; SQLQuery.setSlice/setOffset)
    limits: dict[str, int] = field(default_factory=dict)
    offsets: dict[str, int] = field(default_factory=dict)
    # §4.1 "Constant Projection" aka "Projection Pushing"
    # (MorphBaseQueryTranslator.allVarsProjectedAsConstantTermMaps
    # :398-470, part of querytranslator.sparql.optimize): a virtual-mode
    # SELECT DISTINCT whose projected variable is matched ONLY by
    # constant term maps answers from the MAPPING alone (a VALUES list)
    # — the schema-exploration query `SELECT DISTINCT ?p {?s ?p ?o}`
    # never touches the sources. Like the reference's rewrite, this
    # assumes every bound map's source is non-empty (a constant from an
    # empty-source map is still listed), so it is opt-in here while the
    # reference bundles it into its default-on optimizer flag.
    constant_projection: bool = False


@dataclass
class _TermExpr:
    col: Column
    is_array: bool
    # source columns the expression is a pure function of; None = unknown
    # (UDF-backed or document-column-based). Drives dedup pushdown: a
    # scalar term expr with known refs can be rebuilt on a pre-deduped
    # projection of just those columns.
    refs: tuple[str, ...] | None = None
    # cheap predicate over refs equivalent to `col IS NOT NULL` — used to
    # filter BEFORE dedup pushdown so the (expensive, ~60-op) term
    # construction expression is never evaluated on pre-dedup rows just
    # to test nullability
    defined: Column | None = None
    # True when the construction is provably injective on `refs` (equal
    # terms imply equal source tuples), letting the post-construction
    # (subj, obj) dedup be elided — the narrow source-level dedup is
    # then already exact
    injective: bool = False

    def as_array(self) -> Column:
        if self.is_array:
            return F.coalesce(self.col, F.array().cast("array<string>"))
        return F.when(self.col.isNotNull(), F.array(self.col)).otherwise(
            F.array().cast("array<string>")
        )


class MappingCompiler:
    def __init__(
        self,
        spark: SparkSession,
        doc: MappingDocument,
        catalog: SourceCatalog,
        options: CompileOptions | None = None,
    ):
        self.spark = spark
        self.doc = doc
        self.catalog = catalog
        self.options = options or CompileOptions()
        self._source_cache: dict[str, tuple[DataFrame, str | None]] = {}
        self._parent_cache: dict[str, tuple[DataFrame, str | None]] = {}
        self._persisted: list[DataFrame] = []
        # ship the package to executor Python workers so pandas-UDF
        # closures can be unpickled (spark-submit --py-files equivalent)
        from ..plans.session import attach_package

        attach_package(spark)

    # ------------------------------------------------------------------
    # public API
    # ------------------------------------------------------------------

    def triples(self) -> DataFrame:
        """Union of all triples maps (translateData_Materialization
        :49-65 analogue), deduplicated. Graph maps, if any, are
        projected away (the N-Triples view of the quad output).

        Collection chain triples (rdf:first/rest cells) skip the global
        dedup: their blank-node subjects derive from the already-deduped
        collection base, so they are unique by construction and the
        exploded chain set — the bulk of a list-heavy output — never
        pays the wide dedup shuffle."""
        return self._assemble(["subj", "pred", "obj"], TRIPLE_SCHEMA)

    def quads(self) -> DataFrame:
        """(subj, pred, obj, graph) union across triples maps; graph is
        NULL for the default graph (N-Quads view, S7/S8 with named
        graphs)."""
        return self._assemble(["subj", "pred", "obj", "graph"], QUAD_SCHEMA)

    def _assemble(self, cols: list[str], schema: T.StructType) -> DataFrame:
        with_graph = "graph" in cols
        plain: list[DataFrame] = []
        chains: list[DataFrame] = []
        keyed: list[_PredBranch] = []
        pool_preds: set[str] = set()
        has_unknown_pred = False
        for name in self.doc.triples_maps:
            p, c, k, preds, unk = self._tm_branches(
                name, collect_keyed=self.options.dedup
            )
            plain.extend(p)
            chains.extend(c)
            keyed.extend(k)
            pool_preds |= preds
            has_unknown_pred = has_unknown_pred or unk

        # Route constant-predicate branches: a branch whose predicate no
        # other branch can emit dedups independently on (subj, obj);
        # branches sharing a predicate (e.g. rdf:type across TMs) dedup
        # together per group. Any overlap with the pool (or a
        # non-constant predicate anywhere) sends the branch back to the
        # pooled global dedup — still with its narrow pre-dedup applied.
        groups: dict[object, list[_PredBranch]] = {}
        for kb in keyed:
            if has_unknown_pred or kb.pred in pool_preds:
                plain.append(
                    kb.df.select(
                        F.col("subj"),
                        F.lit(kb.pred).alias("pred"),
                        F.col("obj"),
                        F.lit(kb.graph).cast("string").alias("graph"),
                    )
                )
            else:
                key = (kb.pred, kb.graph) if with_graph else kb.pred
                groups.setdefault(key, []).append(kb)
        keyed_out: list[DataFrame] = []
        for members in groups.values():
            u = functools.reduce(
                DataFrame.unionByName, [m.df for m in members]
            )
            if len(members) > 1 or not members[0].distinct:
                u = u.dropDuplicates(["subj", "obj"])
            keyed_out.append(
                u.select(
                    F.col("subj"),
                    F.lit(members[0].pred).alias("pred"),
                    F.col("obj"),
                    F.lit(members[0].graph if with_graph else None)
                    .cast("string")
                    .alias("graph"),
                )
            )

        plain = [d.select(*cols) for d in plain]
        chains = [d.select(*cols) for d in chains]
        keyed_out = [d.select(*cols) for d in keyed_out]
        if not plain and not chains and not keyed_out:
            return self.spark.createDataFrame([], schema)
        out = functools.reduce(DataFrame.unionByName, plain) if plain else None
        if out is not None and self.options.dedup:
            out = out.dropDuplicates(cols)
        if chains:
            ch = functools.reduce(DataFrame.unionByName, chains)
            if len(chains) > 1 and self.options.dedup:
                # several collection branches could emit structurally
                # identical chains; dedup them among themselves (still
                # never against the main pool)
                ch = ch.dropDuplicates(cols)
            out = out.unionByName(ch) if out is not None else ch
        for k in keyed_out:
            out = out.unionByName(k) if out is not None else k
        return out

    def quads_for(self, tm_name: str, cells: bool = True) -> DataFrame:
        """(subj, pred, obj, graph) for one triples map; graph is NULL
        for the default graph (no dedup — use triples()/quads() for the
        set-semantic views). ``cells=False`` leaves out the collection
        cells (rdf:first/rest, container type and members) whose chain
        lands in one graph; the heads stay."""
        plain, chains, _keyed, _preds, _unk = self._tm_branches(tm_name)
        branches = plain + chains if cells else plain
        if not branches:
            return None
        return functools.reduce(DataFrame.unionByName, branches)

    def _tm_branches(
        self, tm_name: str, collect_keyed: bool = False
    ) -> tuple[
        list[DataFrame], list[DataFrame], list[_PredBranch], set[str], bool
    ]:
        """(plain branches, unique-by-construction chain branches,
        keyed constant-pred branches, pool predicate constants,
        pool-has-unknown-pred flag) for one triples map; graph is NULL
        for the default graph. Named-graph semantics follow
        materializeQuads' S x P x (O u RO) x G (MorphBaseMaterializer
        .scala:159-200): POM triples go into subjectMap graphs u POM
        graphs; rr:class triples into subjectMap graphs; no graphs =>
        default graph.

        Each branch (a class triple, an object map, a RefObjectMap or a
        collection) picks its consumer by one rule, ``route``. With
        ``collect_keyed`` (the set-semantic assembly path), a branch
        whose predicate is a constant under a single constant graph,
        with scalar subject and object terms of known source columns,
        is *keyed*: a `_PredBranch` built by :meth:`_keyed_branch` over
        the shared narrow base (or over its :meth:`_rom_pairs`), which
        dedups on the referenced source columns BEFORE term
        construction (dedup pushdown — the narrow projection shuffles
        instead of the constructed term strings). Otherwise it goes to
        the pooled explode, the routed RefObjectMap frame or the
        collection path."""
        tm = self.doc.triples_maps[tm_name]
        base, doc_col = self._resolved_base(tm)
        raw_base = base  # pre-projection view for dedup pushdown

        subj = self._compile_term_map(tm.subject_map, base, doc_col)
        if subj.is_array:
            base = base.withColumn("__subj", F.explode(subj.col))
        else:
            base = base.withColumn("__subj", subj.col).where(
                F.col("__subj").isNotNull()
            )

        branches: list[DataFrame] = []
        pair_arrays: list[Column] = []
        # Python-UDF-backed arrays cannot appear inside higher-order-function
        # lambdas (Spark UNSUPPORTED_FEATURE.LAMBDA_FUNCTION_WITH_PYTHON_UDF),
        # so every term expression is materialized as a named column first.
        mat_count = [0]

        def materialize(expr: _TermExpr) -> _TermExpr:
            nonlocal base
            name = f"__t{mat_count[0]}"
            mat_count[0] += 1
            base = base.withColumn(name, expr.col)
            return _TermExpr(F.col(name), expr.is_array)

        def graph_array(exprs: list[_TermExpr]) -> Column:
            """Graph-term array for a branch; [NULL] = default graph."""
            if not exprs:
                return F.array(F.lit(None).cast("string"))
            arrs = [e.as_array() for e in exprs]
            combined = F.flatten(F.array(*arrs)) if len(arrs) > 1 else arrs[0]
            return F.when(F.size(combined) > 0, combined).otherwise(
                F.array(F.lit(None).cast("string"))
            )

        subj_graphs = [
            materialize(self._compile_term_map(gm, base, doc_col))
            for gm in tm.subject_map.graph_maps
        ]

        def with_graphs(pairs: Column, graphs: Column) -> Column:
            """(p,o) struct array x graph array -> (p,o,g) struct array."""
            return F.flatten(
                F.transform(
                    graphs,
                    lambda g: F.transform(
                        pairs,
                        lambda po: F.struct(
                            po["p"].alias("p"), po["o"].alias("o"), g.alias("g")
                        ),
                    ),
                )
            )

        keyed: list[_PredBranch] = []
        # keyed branches as (pred, graph, object term, RefObjectMap or
        # None), built at the end of the method over the shared narrow
        # base, once every branch's column needs are known
        keyed_requests: list[
            tuple[str, str | None, _TermExpr, RefObjectMap | None]
        ] = []
        pool_preds: set[str] = set()
        has_unknown_pred = False

        def note_pool_pred(pm: TermMap) -> None:
            nonlocal has_unknown_pred
            v = self._constant_term_value(pm)
            if v is None:
                has_unknown_pred = True
            else:
                pool_preds.add(v)

        def route(
            pred: str | None, graphs: list | None, obj: _TermExpr,
            rom: RefObjectMap | None = None,
        ) -> bool:
            """The routing rule: record the branch as keyed and return
            True when its predicate is a constant, its graph a single
            constant, and both terms are scalar with known source
            columns, at least one (a constant/constant pair stays
            pooled)."""
            if not (
                collect_keyed
                and pred is not None
                and graphs is not None
                and len(graphs) == 1
                and not (subj.is_array or obj.is_array)
                and None not in (subj.refs, obj.refs)
                and (subj.refs or obj.refs)
            ):
                return False
            keyed_requests.append((pred, graphs[0], obj, rom))
            return True

        # rdf:type triples per rr:class (P8), into the subject graphs
        type_pred = f"<{terms.RDF_TYPE}>"
        subj_const_graphs = self._maybe_constant_graphs(tm.subject_map, None)
        for class_uri in tm.subject_map.class_uris:
            cls = self._constant_expr(terms.make_iri(class_uri, False))
            if route(type_pred, subj_const_graphs, cls):
                continue
            pool_preds.add(type_pred)
            pair_arrays.append(
                with_graphs(
                    F.array(
                        F.struct(F.lit(type_pred).alias("p"), cls.col.alias("o"))
                    ),
                    graph_array(subj_graphs),
                )
            )

        collection_jobs = []
        for pom in tm.predicate_object_maps:
            pom_const_graphs = self._maybe_constant_graphs(tm.subject_map, pom)
            # pooled-path columns, materialized on first use (only
            # branches that stay in the pool pay the column plumbing)
            pooled_graphs = functools.cache(
                lambda: graph_array(
                    subj_graphs
                    + [
                        materialize(self._compile_term_map(gm, base, doc_col))
                        for gm in pom.graph_maps
                    ]
                )
            )
            pooled_pred = functools.cache(
                lambda pm: materialize(self._compile_term_map(pm, base, doc_col))
            )
            for om in pom.object_maps:
                coll_tt = om.collection_term_type()
                if coll_tt:
                    const_graphs = self._constant_graph_terms(tm.subject_map, pom)
                    obj = materialize(self._compile_term_map(om, base, doc_col))
                    for pm in pom.predicate_maps:
                        note_pool_pred(pm)  # collection heads stay pooled
                        collection_jobs.append(
                            (pooled_pred(pm), obj, coll_tt, const_graphs)
                        )
                    continue
                obj_expr = self._compile_term_map(om, base, doc_col)
                pooled_obj = functools.cache(lambda e=obj_expr: materialize(e))
                for pm in pom.predicate_maps:
                    if route(self._constant_term_value(pm), pom_const_graphs, obj_expr):
                        continue
                    note_pool_pred(pm)
                    obj = pooled_obj()  # materialized before the predicate
                    pair_arrays.append(
                        with_graphs(
                            self._pairs(pooled_pred(pm), obj), pooled_graphs()
                        )
                    )

        chain_branches: list[DataFrame] = []

        def add_collection(head: DataFrame, chain: DataFrame, graphs):
            branches.extend(_cross_constant_graphs(head, graphs))
            crossed = _cross_constant_graphs(chain, graphs)
            if len(crossed) == 1:
                chain_branches.extend(crossed)
            else:
                # the same chain in several named graphs is no longer
                # unique once triples() projects the graph away — keep
                # it in the dedup pool
                branches.extend(crossed)

        for pe, obj, coll_tt, const_graphs in collection_jobs:
            head, chain = self._collection_branch(base, pe, obj, coll_tt)
            add_collection(head, chain, const_graphs)
        for pom in tm.predicate_object_maps:
            if not pom.ref_object_maps:
                continue
            const_graphs = self._constant_graph_terms(tm.subject_map, pom)
            pred_terms = self._rom_predicates(pom)
            routed = collect_keyed and len(const_graphs) == 1
            psubj = self._psubj_term()
            for rom in pom.ref_object_maps:
                coll_tt = rom.collection_term_type()
                pairs = None
                for p in pred_terms:
                    if not coll_tt and route(p, const_graphs, psubj, rom):
                        continue
                    if pairs is None:
                        pairs = self._rom_pairs(
                            tm, base, ["__row_id", "__subj"], rom
                        )
                    if coll_tt:
                        pool_preds.add(p)  # heads stay pooled
                        add_collection(
                            *self._rom_collection(pairs, p, coll_tt), const_graphs
                        )
                        continue
                    rb = pairs.select(
                        F.col("__subj").alias("subj"), F.col("__psubj").alias("obj")
                    )
                    if routed:
                        # constant predicate still routes the constructed
                        # join output to its own (subj, obj) dedup group
                        keyed.append(_PredBranch(p, const_graphs[0], rb))
                        continue
                    pool_preds.add(p)
                    full = rb.select(
                        F.col("subj"), F.lit(p).alias("pred"), F.col("obj")
                    )
                    branches.extend(_cross_constant_graphs(full, const_graphs))

        if pair_arrays:
            combined = (
                F.flatten(F.array(*pair_arrays))
                if len(pair_arrays) > 1
                else pair_arrays[0]
            )
            main = (
                base.select(F.col("__subj"), F.explode(combined).alias("po"))
                .select(
                    F.col("__subj").alias("subj"),
                    F.col("po.p").alias("pred"),
                    F.col("po.o").alias("obj"),
                    F.col("po.g").alias("graph"),
                )
            )
            branches.insert(0, main)

        # Source-materialization decision for the keyed branches: each
        # branch scans the source independently, which is the RIGHT
        # plan over a columnar file/table source (pruned scans are
        # cheap) but re-executes the whole upstream lineage when the
        # source is a derived in-memory frame (e.g. the extraction /
        # mention-detection pipeline). In that case persist ONE narrow
        # projection of the union of referenced columns — the in-memory
        # analogue of a checkpointed stage — and point every keyed
        # branch at it.
        if keyed_requests:
            keep = sorted(set(subj.refs))
            shared = raw_base
            if (
                len(keyed_requests) > 1
                and not self._source_already_cached(tm)
                and not self._cheap_rescan(raw_base)
            ):
                needed = set(keep)
                for _p, _g, obj, rom in keyed_requests:
                    needed |= set(
                        obj.refs if rom is None else self._rom_reads(tm, rom)
                    )
                from ..plans.caching import cache

                shared = cache(raw_base.select(*sorted(needed)))
                self._persisted.append(shared)
            for pred, graph, obj, rom in keyed_requests:
                rows, distinct = shared, self.rows_distinct(tm, subj, obj)
                if rom is not None:
                    rows = self._rom_pairs(tm, shared, keep, rom)
                    distinct = distinct and self.joins_one_parent(rom)
                keyed.append(
                    self._keyed_branch(rows, subj, obj, pred, graph, distinct)
                )

        return branches, chain_branches, keyed, pool_preds, has_unknown_pred

    def triples_for(self, tm_name: str) -> DataFrame:
        q = self.quads_for(tm_name)
        return q.select("subj", "pred", "obj") if q is not None else None

    def _constant_graph_terms(self, subject_map, pom) -> list[str | None]:
        """Graph IRIs for collection/RefObjectMap branches. These
        branches leave the source row behind (groupBy / join), so only
        constant graph maps are supported there — the common case; the
        main projection path supports all term-map kinds."""
        out = self._maybe_constant_graphs(subject_map, pom)
        if out is None:
            raise NotImplementedError(
                "non-constant graph maps on collection/RefObjectMap "
                "branches are not supported"
            )
        return out

    def _maybe_constant_graphs(self, subject_map, pom) -> list[str | None] | None:
        """Constant graph-term list for a POM (or subject map alone when
        ``pom`` is None); ``[None]`` = default graph; None = at least
        one non-constant graph map."""
        gms = list(subject_map.graph_maps) + (
            list(pom.graph_maps) if pom is not None else []
        )
        if not gms:
            return [None]
        out: list[str | None] = []
        for gm in gms:
            if gm.kind != CONSTANT:
                return None
            out.append(
                terms.make_iri(gm.constant, self.options.encode_unsafe_chars_in_uri)
            )
        return out

    def _constant_term_value(self, term_map: TermMap) -> str | None:
        """The N-Triples term a constant term map emits, or None."""
        if term_map.kind != CONSTANT:
            return None
        member_tt, datatype, language = term_map.member_term_info()
        return terms.make_term(
            term_map.constant,
            member_tt,
            datatype,
            language,
            self.options.encode_unsafe_chars_in_uri,
        )

    def unique_keys(self, tm: TriplesMap) -> tuple[tuple[str, ...], ...]:
        """The column sets ``tm``'s source rows are provably unique on:
        the catalog's unique key (a table source with no iterator, which
        would multiply rows) and each plain-column xrr:uniqueRef."""
        ls = tm.logical_source
        key = None
        if ls.kind == "table" and not ls.iterator:
            key = self.catalog.unique_keys.get(ls.value)
        return ((key,) if key else ()) + tuple(
            (c,) for r in ls.unique_refs if (c := self._plain_column(r, ls))
        )

    def rows_distinct(self, tm: TriplesMap, *exprs: _TermExpr) -> bool:
        """Do distinct rows of ``tm``'s source emit distinct tuples of
        the terms ``exprs``: does one injective term cover a column set
        the rows are unique on (:meth:`unique_keys`), or do all of them,
        injective, cover one together?"""
        refs = [set(e.refs or ()) for e in exprs]
        every = all(e.injective for e in exprs)
        return any(
            (every and set(k) <= set().union(*refs))
            or any(e.injective and set(k) <= r for e, r in zip(exprs, refs))
            for k in self.unique_keys(tm)
        )

    def _keyed_branch(
        self,
        rows: DataFrame,
        subj: _TermExpr,
        obj: _TermExpr,
        pred_value: str,
        graph: str | None,
        distinct: bool,
    ) -> _PredBranch:
        """Dedup-pushdown branch over ``rows`` (a source scan, or the
        :meth:`_rom_pairs` of a RefObjectMap, whose parent subject is
        the injective term ``__psubj``). One of three regimes:

        * elide: ``distinct`` rows emit distinct (subj, obj) pairs
          (:meth:`rows_distinct`) — no shuffle at all, the plan a
          per-key source table deserves;
        * narrow: both sides injective, so equal refs <=> equal terms
          and the dedup of the narrow refs projection IS the triple-set
          dedup, shuffling raw source values instead of term strings;
        * term: a non-injective construction dedups on the terms (a
          preceding refs dedup would be a second full shuffle of the
          same rows — measured one extra wide stage per branch)."""
        refs = sorted(set(subj.refs) | set(obj.refs))
        # definedness filter BEFORE the narrow dedup: it references only
        # raw columns, so it pushes to the scan; filtering on the
        # constructed term would drag the whole construction expression
        # below the dedup and evaluate it once per pre-dedup row
        for cond in (subj.defined, obj.defined):
            if cond is not None:
                rows = rows.where(cond)
        narrow = not distinct and subj.injective and obj.injective
        if narrow:
            rows = rows.select(*[F.col(c) for c in refs]).dropDuplicates(refs)
        built = rows.select(subj.col.alias("subj"), obj.col.alias("obj"))
        if subj.defined is None or obj.defined is None:
            built = built.where(F.col("subj").isNotNull() & F.col("obj").isNotNull())
        if not distinct and not narrow:
            built = built.dropDuplicates(["subj", "obj"])
        return _PredBranch(pred_value, graph, built, distinct=True)

    def _source_already_cached(self, tm: TriplesMap) -> bool:
        """True when the user registered an externally persisted frame
        for this TM's source: re-scans hit the block store, and a second
        compiler-level persist would only add memory pressure (observed
        cache-eviction churn at high replication factors)."""
        ls = tm.logical_source
        if ls.kind != "table":
            return False
        src = self.catalog.tables.get(ls.value)
        if src is None:
            return False
        try:
            lvl = src.storageLevel
            return bool(lvl.useMemory or lvl.useDisk)
        except Exception:  # noqa: BLE001
            return False

    _HEAVY_PLAN_MARKERS = (
        "ArrowEvalPython",
        "BatchEvalPython",
        "MapInPandas",
        "PythonUDF",
        "Aggregate",
        "Join",
        "Window",
        "Generate",
        "Sort",
    )

    def _cheap_rescan(self, df: DataFrame) -> bool:
        """True when re-scanning the frame is cheap (a pruned
        project/filter chain over a table scan); False when the lineage
        contains UDF stages, aggregates, joins or explodes whose
        re-execution per consuming branch would multiply real work."""
        try:
            plan = df._jdf.queryExecution().analyzed().toString()
        except Exception:  # noqa: BLE001
            return False
        return not any(m in plan for m in self._HEAVY_PLAN_MARKERS)

    # ------------------------------------------------------------------
    # source resolution
    # ------------------------------------------------------------------

    def json_paths(self, table: str | None) -> tuple[set[str], set[str]]:
        """The simple JSONPath fields that the term maps of the mapping's
        iterator-free JSONPath triples maps over ``table`` read, and
        those their subject maps read: the fields a compile asks the
        catalog to prove typed, and those the translator also asks to
        prove unique (:meth:`SourceCatalog.typed_fields`)."""
        paths: set[str] = set()
        keys: set[str] = set()
        for tm in self.doc.triples_maps.values():
            ls = tm.logical_source
            if (
                table is None or ls.formulation != "JSONPath" or ls.iterator
                or self.catalog.table_of(ls) != table
            ):
                continue
            sm = tm.subject_map
            keys.update(json_fields(sm) or ())
            maps = [sm, *sm.graph_maps]
            for pom in tm.predicate_object_maps:
                maps += [*pom.predicate_maps, *pom.object_maps, *pom.graph_maps]
            for m in maps:
                paths.update(json_fields(m) or ())
        return paths, keys

    def _resolved_base(self, tm: TriplesMap) -> tuple[DataFrame, str | None]:
        key = tm.name
        if key in self._source_cache:
            return self._source_cache[key]
        ls = tm.logical_source
        # below an iterator, references are read in the sub-documents
        paths = () if ls.iterator else self.json_paths(self.catalog.table_of(ls))[0]
        df, doc_col = self.catalog.resolve(ls, paths)
        if ls.iterator and doc_col is not None:
            it_udf = udfs.make_array_udf(
                udfs.iterator_evaluator(ls.iterator, ls.formulation)
            )
            df = df.withColumn(doc_col, F.explode(it_udf(F.col(doc_col))))
        # OFFSET before LIMIT, as in the generated 'LIMIT n OFFSET m'
        # (skip m rows, then take n). Like the reference's SQL without
        # ORDER BY, which rows are skipped is engine-determined.
        offset = self.options.offsets.get(tm.name)
        if offset is not None:
            df = df.offset(offset)
        limit = self.options.limits.get(tm.name)
        if limit is not None:
            df = df.limit(limit)
        # deterministic per-row id for join intersections / collection groups
        df = df.withColumn(
            "__row_id",
            F.xxhash64(*[F.col(c) for c in df.columns], F.lit(tm.name)),
        )
        self._source_cache[key] = (df, doc_col)
        return df, doc_col

    # ------------------------------------------------------------------
    # term-map compilation
    # ------------------------------------------------------------------

    def _compile_term_map(
        self, term_map: TermMap, df: DataFrame, doc_col: str | None
    ) -> _TermExpr:
        opts = self.options
        term_map = typed_term_map(term_map, df)
        member_tt, datatype, language = term_map.member_term_info()

        if term_map.kind == CONSTANT:
            return self._constant_expr(
                terms.make_term(
                    term_map.constant,
                    member_tt,
                    datatype,
                    language,
                    # constants are mapping-author IRIs: the reference passes
                    # them through translateSingleValue -> createIRI with the
                    # global flag
                    opts.encode_unsafe_chars_in_uri,
                )
            )

        if term_map.kind == COLUMN:
            return self._native_scalar(
                F.col(term_map.column),
                self._field_type(df, term_map.column),
                member_tt,
                datatype,
                language,
                refs=(term_map.column,),
            )

        if term_map.kind == REFERENCE:
            msp = MixedSyntaxPath.parse(term_map.reference, term_map.ref_formulation)
            if msp.is_simple_column:
                # plain column reference: behaves exactly like rr:column
                col = msp.referenced_column
                return self._native_scalar(
                    F.col(col), self._field_type(df, col), member_tt, datatype,
                    language, refs=(col,),
                )
            evaluator = udfs.reference_evaluator(term_map, opts.encode_unsafe_chars_in_uri)
            input_col = (
                F.col(doc_col)
                if term_map.ref_formulation != "Column"
                else F.col(msp.referenced_column)
            )
            return _TermExpr(
                udfs.make_array_udf(evaluator)(input_col), is_array=True
            )

        if term_map.kind == TEMPLATE:
            native = self._try_native_template(term_map, df, member_tt, datatype, language)
            if native is not None:
                return native
            input_cols, evaluator = udfs.template_evaluator(
                term_map,
                opts.encode_unsafe_chars_in_uri,
                opts.encode_unsafe_chars_in_db_values,
            )
            if term_map.ref_formulation == "Column":
                args = [F.col(c) for c in input_cols]
            else:
                args = [F.col(doc_col)]
            return _TermExpr(udfs.make_array_udf(evaluator)(*args), is_array=True)

        raise ValueError(f"unknown term map kind {term_map.kind}")

    @staticmethod
    def _constant_expr(value: str | None) -> _TermExpr:
        """The term ``value`` of a constant map: it reads no source
        column, so it is injective."""
        return _TermExpr(
            F.lit(value), is_array=False, refs=(),
            defined=F.lit(value is not None), injective=True,
        )

    def _field_type(self, df: DataFrame, column: str) -> T.DataType:
        for f in df.schema.fields:
            if f.name == column:
                return f.dataType
        raise ValueError(f"column {column!r} not in source schema {df.columns}")

    def _native_scalar(
        self,
        col: Column,
        dtype: T.DataType,
        member_tt: str,
        datatype: str | None,
        language: str | None,
        refs: tuple[str, ...] | None = None,
    ) -> _TermExpr:
        """rr:column / simple-reference fast path: JVM-side term build with
        compile-time datatype inference (DatatypeMapper analogue)."""
        lex = terms.lex_value_col(col, dtype)
        if member_tt == terms.TERM_LITERAL and datatype is None and language is None:
            datatype = terms.spark_type_to_xsd(dtype)
        term = terms.term_col(
            lex, member_tt, datatype, language, self.options.encode_unsafe_chars_in_uri
        )
        # Injectivity: literals now emit the RAW value + N-Triples
        # escaping (see terms.make_literal — the reference discards its
        # encodeLiteral/normalization results), and the escape map is
        # injective, so every source type qualifies EXCEPT timestamps,
        # whose lexical rendering truncates to 0.1s (lex_value_col).
        # IRIs still pass through the lossy encode chains and stay
        # non-injective here.
        injective = member_tt == terms.TERM_LITERAL and not isinstance(
            dtype, T.TimestampType
        )
        return _TermExpr(
            F.when(col.isNotNull(), term), is_array=False, refs=refs,
            defined=col.isNotNull(), injective=injective,
        )

    def _try_native_template(
        self,
        term_map: TermMap,
        df: DataFrame,
        member_tt: str,
        datatype: str | None,
        language: str | None,
    ) -> _TermExpr | None:
        """Single-valued template fast path: every group is a plain column
        of a row-shaped source -> pure Column concat (codegen'd).

        Semantics preserved from the template branch + cartesianProduct:
        null/empty-string group value contributes ''; all groups
        null/empty => no term.
        """
        if term_map.ref_formulation != "Column":
            return None
        groups = get_template_groups(term_map.template)
        cols: list[str] = []
        for g in groups:
            msp = MixedSyntaxPath.parse(g, "Column")
            if not msp.is_simple_column:
                return None
            cols.append(msp.referenced_column)

        group_empty = [
            F.col(c).isNull() | (F.col(c).cast("string") == F.lit("")) for c in cols
        ]
        # a groupless template is a constant (always defined)
        all_empty = (
            functools.reduce(lambda a, b: a & b, group_empty)
            if group_empty
            else F.lit(False)
        )

        # Chain elision: when every group renders from the digit
        # alphabet [0-9-] (invariant under every encoding chain — no
        # chain source char is a digit or '-') and every literal part
        # is a fixed point of the python reference chain, the whole
        # runtime encode pipeline (trim + ~28 char-class replaces) is
        # an identity and is skipped — both a codegen-size and a
        # per-row win on the hottest expression in the engine.
        # Verified per-part against the SAME python functions the
        # column chain mirrors, so the two can't drift apart.
        all_digit = all(
            _digit_lexical(self._field_type(df, c)) for c in cols
        )
        literal_parts = [
            p for p in template_parts(term_map.template) if isinstance(p, str)
        ]
        if member_tt == terms.TERM_IRI:
            chain_free = all_digit and all(
                p
                and min(p) > "\x20"
                and _encoding.encode_url(p) == p
                for p in literal_parts
            )
        elif member_tt == terms.TERM_BLANKNODE:
            chain_free = all_digit and all(
                _encoding.encode_url(p) == p for p in literal_parts
            )
        else:
            chain_free = False

        group_values: list[Column] = []
        for c, empty in zip(cols, group_empty):
            v = terms.lex_value_col(F.col(c), self._field_type(df, c))
            if (
                member_tt == terms.TERM_IRI
                and self.options.encode_unsafe_chars_in_db_values
                and not chain_free
            ):
                v = encode_reserved_chars_col(v)
            group_values.append(F.when(empty, F.lit("")).otherwise(v))

        parts: list[Column] = []
        for part in template_parts(term_map.template):
            if isinstance(part, int):
                parts.append(group_values[part])
            else:
                parts.append(F.lit(part))
        value = F.concat(*parts) if len(parts) > 1 else parts[0]
        if chain_free and member_tt == terms.TERM_IRI:
            term = F.concat(F.lit("<"), value, F.lit(">"))
        elif chain_free and member_tt == terms.TERM_BLANKNODE:
            term = F.concat(F.lit("_:"), value)
        else:
            term = terms.term_col(
                value,
                member_tt,
                datatype,
                language,
                self.options.encode_unsafe_chars_in_uri,
            )
        # Injectivity: string groups can collide through the encoding
        # chains (C0 strip, underscore squeeze — property-tested in
        # tests/test_encoding_properties.py), so only control-free
        # lexical types qualify. A single such group is unambiguous;
        # multiple groups additionally need digit-alphabet renderings
        # with parse-unambiguous separators ("a"+"xb" vs "ax"+"b"),
        # e.g. line/{l_orderkey}/{l_linenumber} over bigint columns.
        tt_ok = member_tt == terms.TERM_IRI or (
            member_tt == terms.TERM_LITERAL
            and datatype not in (terms.XSD_DATETIME, terms.XSD_BOOLEAN)
        )
        if len(cols) == 1:
            injective = tt_ok and _control_free_lexical(
                self._field_type(df, cols[0])
            )
        else:
            injective = (
                tt_ok
                and all(
                    _digit_lexical(self._field_type(df, c)) for c in cols
                )
                and _separators_unambiguous(template_parts(term_map.template))
            )
        return _TermExpr(
            F.when(~all_empty, term), is_array=False, refs=tuple(cols),
            defined=~all_empty, injective=injective,
        )

    # ------------------------------------------------------------------
    # pair / branch assembly
    # ------------------------------------------------------------------

    def _pairs(self, pred: _TermExpr, obj: _TermExpr) -> Column:
        """(pred x obj) struct pairs for one predicate/object map pair —
        the P x O slice of materializeQuads' S x P x (O u RO) x G."""
        parr = pred.as_array()
        oarr = obj.as_array()
        return F.flatten(
            F.transform(
                parr,
                lambda p: F.transform(
                    oarr, lambda o: F.struct(p.alias("p"), o.alias("o"))
                ),
            )
        )

    def _collection_branch(
        self, base: DataFrame, pred: _TermExpr, obj: _TermExpr, coll_tt: str
    ) -> tuple[DataFrame, DataFrame]:
        """Object map with an RDF collection/container term type (P9):
        the member array becomes one collection object per row.
        Returns (head triples, chain triples)."""
        if pred.is_array:
            pred_col = F.explode(pred.col)
        else:
            pred_col = pred.col
        grouped = (
            base.select(
                F.col("__subj").alias("subj"),
                pred_col.alias("pred"),
                obj.as_array().alias("members"),
            )
            .where(F.col("pred").isNotNull() & (F.size("members") > 0))
        )
        if self.options.dedup:
            # structural dedup of equal collections on (subj, pred) — S8;
            # keyed on the 60-bit bnode base, not the members array
            grouped = dedup_collections(grouped)
        return expand_collections_split(grouped, coll_tt)

    # ------------------------------------------------------------------
    # RefObjectMap joins (J1-J5)
    # ------------------------------------------------------------------

    def _rom_predicates(self, pom) -> list[str]:
        """The predicate terms of a POM with RefObjectMaps, which must
        all be constants."""
        out = [self._constant_term_value(pm) for pm in pom.predicate_maps]
        if any(p is None for p in out):
            raise NotImplementedError(
                "non-constant predicates on RefObjectMaps not supported"
            )
        return out

    def _rom_collection(
        self, pairs: DataFrame, pred_term: str, coll_tt: str
    ) -> tuple[DataFrame, DataFrame]:
        """J5: the join results of each child row wrapped as one
        collection -> (head triples, chain triples). Member order: the
        reference keeps parent-iteration order; a distributed engine has
        none, so members are sorted (deterministic; documented
        divergence)."""
        grouped = (
            pairs.groupBy("__row_id", "__subj")
            .agg(F.sort_array(F.collect_set("__psubj")).alias("members"))
            .select(
                F.col("__subj").alias("subj"),
                F.lit(pred_term).alias("pred"),
                F.col("members"),
            )
        )
        if self.options.dedup:
            grouped = dedup_collections(grouped)
        return expand_collections_split(grouped, coll_tt)

    def _parent_side(self, parent_tm: TriplesMap) -> tuple[DataFrame, str | None]:
        """The parent's source, persisted once and shared by every
        RefObjectMap of this compiler (S6)."""
        if parent_tm.name in self._parent_cache:
            return self._parent_cache[parent_tm.name]
        pdf, pdoc = self._resolved_base(parent_tm)
        from ..plans.caching import cache

        pdf = cache(pdf)
        self._persisted.append(pdf)
        self._parent_cache[parent_tm.name] = (pdf, pdoc)
        return pdf, pdoc

    def release(self) -> None:
        """Unpersist parent-side scans cached by this compiler (S6).
        Call after the consuming action; plans built from this compiler
        recompute those scans afterwards."""
        while self._persisted:
            self._persisted.pop().unpersist()

    @staticmethod
    def _psubj_term() -> _TermExpr:
        """The parent subject column of :meth:`_rom_pairs` as a term of
        its own: it is the term, so it is injective and, the pairs being
        non-null, defined."""
        return _TermExpr(
            F.col("__psubj"), False, ("__psubj",), defined=F.lit(True),
            injective=True,
        )

    def _rom_pairs(
        self, tm: TriplesMap, child: DataFrame, keep: list[str], rom: RefObjectMap
    ) -> DataFrame:
        """The compiler's one RefObjectMap join: the ``keep`` columns of
        each ``child`` row plus ``__psubj``, the subject of each parent
        row it joins. The keyed consumer keeps the child subject's
        source columns, the pooled and collection consumers
        ``[__row_id, __subj]``. Three ways to the pairs:

        * self-join elimination (AbstractQueryAtomicMongo
          .mergeForInnerJoin:122-186 analogue), under
          :meth:`_selfjoin_guards`: the parent subject is computed on
          the child row itself — always so with no join condition, which
          R2RML (§8) allows only when both read the same logical source
          (ValueError otherwise);
        * J1, plain-column conditions: an equi-join of the child's join
          columns with the narrow parent projection (join columns,
          subject) — SURVEY J1, child ⋈ parent.select(key, subject);
        * J2/J3/J4, mixed-syntax paths: per-condition value-intersection
          joins (explode both sides, never the Cartesian), intersected
          across conditions per child row.

        Keys of different types compare as strings (:meth:`join_columns`)."""
        parent_tm = self.doc.triples_maps[rom.parent_triples_map]
        ls, pls = tm.logical_source, parent_tm.logical_source
        conds = rom.join_conditions
        _, cdoc = self._resolved_base(tm)
        guards = self._selfjoin_guards(tm, rom)
        if guards is not None:
            for nn in guards:
                child = child.where(nn)
            psubj = self._compile_term_map(parent_tm.subject_map, child, cdoc)
            return self._subject_rows(child, psubj, keep)
        if not conds:
            raise ValueError(
                f"triples map {tm.name}: a RefObjectMap with no "
                f"rr:joinCondition must have a parent ({parent_tm.name}) "
                "that reads the same logical source"
            )

        pdf, pdoc = self._parent_side(parent_tm)
        psubj = self._compile_term_map(parent_tm.subject_map, pdf, pdoc)
        if self._simple_join(tm, rom):
            ckeys, pkeys, on = [], [], None
            cols = self.join_columns(rom, child.schema, pdf.schema)
            for i, (cc, pc, as_strings) in enumerate(cols):
                ck, pk = F.col(cc), F.col(pc)
                if as_strings:
                    ck, pk = ck.cast("string"), pk.cast("string")
                ckeys.append(ck.alias(f"__ck{i}"))
                pkeys.append(pk.alias(f"__pk{i}"))
                c = F.col(f"__ck{i}") == F.col(f"__pk{i}")
                on = c if on is None else (on & c)
            parent = self._subject_rows(pdf, psubj, pkeys)
            return (
                child.select(*keep, *ckeys)
                .join(parent, on, "inner")
                .select(*keep, "__psubj")
            )

        rows = list(dict.fromkeys(["__row_id", *keep]))
        parent = self._subject_rows(pdf, psubj, pdf.columns)
        out = None
        for jc in conds:
            cvals = self._ref_values(jc.child_ref, ls, child, cdoc)
            pvals = self._ref_values(jc.parent_ref, pls, parent, pdoc)
            child_side = child.select(*rows, F.explode(cvals).alias("__jv"))
            parent_side = parent.select(
                F.explode(pvals).alias("__jv"), "__psubj"
            ).dropDuplicates(["__jv", "__psubj"])
            pairs = (
                child_side.join(parent_side, "__jv", "inner")
                .select(*rows, "__psubj")
                .dropDuplicates([*rows, "__psubj"])
            )
            out = pairs if out is None else out.join(pairs, [*rows, "__psubj"])
        return out.select(*keep, "__psubj")

    @staticmethod
    def join_columns(
        rom: RefObjectMap, child: T.StructType, parent: T.StructType
    ) -> list[tuple[str, str, bool]]:
        """(child column, parent column, compare as strings) for each
        plain-column join condition of ``rom`` over these schemas. Keys
        of different types compare as strings (childValues.map(_.toString)
        intersection, MorphRDBDataTranslator.scala:170-180): a raw ==
        would make ANSI mode throw casting a non-numeric child value to
        the parent's numeric type."""
        out = []
        for jc in rom.join_conditions:
            cc = MixedSyntaxPath.parse(jc.child_ref, "Column").referenced_column
            pc = MixedSyntaxPath.parse(jc.parent_ref, "Column").referenced_column
            out.append((cc, pc, child[cc].dataType != parent[pc].dataType))
        return out

    @staticmethod
    def _subject_rows(df: DataFrame, subj: _TermExpr, keep) -> DataFrame:
        """``keep`` plus the non-null subject ``__psubj`` of each row of
        ``df``, one row per value of an array-valued subject."""
        if subj.is_array:
            return df.select(*keep, F.explode(subj.col).alias("__psubj"))
        if subj.defined is not None:
            return df.where(subj.defined).select(*keep, subj.col.alias("__psubj"))
        return df.select(*keep, subj.col.alias("__psubj")).where(
            F.col("__psubj").isNotNull()
        )

    def _rom_reads(self, tm: TriplesMap, rom: RefObjectMap) -> tuple[str, ...]:
        """The child columns :meth:`_rom_pairs` reads besides the kept
        ones: each join reference's input, plus the parent subject's
        columns when the self-join is eliminated (every column when
        they are not known) or the row id of a value-intersection
        join."""
        base, doc = self._resolved_base(tm)
        ls = tm.logical_source
        reads = tuple(
            MixedSyntaxPath.parse(jc.child_ref, "Column").referenced_column
            if ls.formulation == "Column"
            else doc
            for jc in rom.join_conditions
        )
        if self._selfjoin_guards(tm, rom) is not None:
            parent_tm = self.doc.triples_maps[rom.parent_triples_map]
            refs = self._compile_term_map(parent_tm.subject_map, base, doc).refs
            return reads + refs if refs is not None else tuple(base.columns)
        if not self._simple_join(tm, rom):
            return reads + ("__row_id",)
        return reads

    def joins_one_parent(
        self, rom: RefObjectMap, psubj: _TermExpr | None = None
    ) -> bool:
        """Does each child row join at most one parent subject: are the
        parent's rows unique on its join references (or is the parent
        row the child row, with no join condition), and is its subject
        ``psubj`` (compiled over the parent's source when not given)
        scalar?"""
        parent_tm = self.doc.triples_maps[rom.parent_triples_map]
        if psubj is None:
            pdf, pdoc = self._resolved_base(parent_tm)
            psubj = self._compile_term_map(parent_tm.subject_map, pdf, pdoc)
        conds = rom.join_conditions
        return not psubj.is_array and (
            not conds or self._unique_on(parent_tm, [jc.parent_ref for jc in conds])
        )

    @staticmethod
    def _plain_column(ref: str, ls: LogicalSource) -> str | None:
        """The column ``ref`` names when it is a plain column of a
        Column-formulation source."""
        if ls.formulation != "Column":
            return None
        msp = MixedSyntaxPath.parse(ref, "Column")
        return msp.referenced_column if msp.is_simple_column else None

    def _simple_join(self, tm: TriplesMap, rom: RefObjectMap) -> bool:
        """Are all join conditions plain columns on both sides (J1)?"""
        pls = self.doc.triples_maps[rom.parent_triples_map].logical_source
        return bool(rom.join_conditions) and all(
            self._plain_column(jc.child_ref, tm.logical_source)
            and self._plain_column(jc.parent_ref, pls)
            for jc in rom.join_conditions
        )

    def _selfjoin_guards(
        self, tm: TriplesMap, rom: RefObjectMap
    ) -> list[Column] | None:
        """The row filters under which a RefObjectMap join collapses to
        the child row itself, or None when it does not. With no join
        condition over a shared logical source it always does, with no
        filter (R2RML §8). Otherwise it is sound ONLY when child and
        parent share the logical source, every condition is
        childRef == parentRef, (a) the shared references are provably
        unique across source rows — the reference guards the same
        rewrite with xrr:uniqueRef (MorphBaseQueryOptimizer) — since
        otherwise two DIFFERENT rows with equal keys also join, and (b)
        every shared reference provably evaluates to a value on the row
        (a nothing-valued reference joins nothing in the
        value-intersection semantics): the returned filters. Anything
        not provable takes the real join — always correct, just
        uneliminated."""
        ls = tm.logical_source
        pls = self.doc.triples_maps[rom.parent_triples_map].logical_source
        conds = rom.join_conditions
        if ls == pls and not conds:
            return []
        if not (
            ls == pls
            and not ls.iterator
            and all(jc.child_ref == jc.parent_ref for jc in conds)
            and self._unique_on(tm, [jc.child_ref for jc in conds])
        ):
            return None
        _, doc = self._resolved_base(tm)
        guards = [self._ref_notnull(jc.child_ref, ls, doc) for jc in conds]
        return None if any(g is None for g in guards) else guards

    def _unique_on(self, tm: TriplesMap, refs: list[str]) -> bool:
        """Are ``tm``'s source rows provably unique on the references
        ``refs``: one of them declared (xrr:uniqueRef, in any reference
        syntax), or one of :meth:`unique_keys` covered by their plain
        columns?"""
        ls = tm.logical_source
        if any(r in ls.unique_refs for r in refs):
            return True
        cols = {self._plain_column(r, ls) for r in refs}
        return any(set(k) <= cols for k in self.unique_keys(tm))

    def _ref_notnull(self, ref: str, ls: LogicalSource, doc_col: str | None):
        """Column proving 'this reference evaluates to at least one
        value on the row' (matching _ref_values' None-dropping), or
        None when not cheaply expressible."""
        from ..functions.paths import simple_json_field

        col = self._plain_column(ref, ls)
        if col is not None:
            return F.col(col).isNotNull()
        if ls.formulation == "JSONPath" and doc_col is not None:
            field = simple_json_field(ref)
            if field is not None:
                return F.get_json_object(
                    F.col(doc_col), "$." + field
                ).isNotNull()
        return None

    def _ref_values(
        self, ref: str, ls: LogicalSource, df: DataFrame, doc_col: str | None
    ) -> Column:
        """Join-condition reference -> array<string> of raw values
        (string-compared, as in childValues.map(_.toString) intersection,
        MorphRDBDataTranslator.scala:170-180)."""
        msp = MixedSyntaxPath.parse(ref, ls.formulation)
        if msp.is_simple_column:
            col = F.col(msp.referenced_column).cast("string")
            return F.when(col.isNotNull(), F.array(col)).otherwise(
                F.array().cast("array<string>")
            )

        def evaluate(cell: object) -> list[str]:
            vals = msp.evaluate(udfs._py_value(cell))
            return [str(udfs._py_value(v)) for v in vals if v is not None]

        input_col = (
            F.col(doc_col) if ls.formulation != "Column" else F.col(msp.referenced_column)
        )
        return udfs.make_array_udf(evaluate)(input_col)

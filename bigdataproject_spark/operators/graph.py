"""Character/entity relation graph (SURVEY §3.2) — DataFrame-native.

Reference: relation_graph/danmaku_analysis_cluster.py:110-167 builds
  * nodes: explode(entities) → groupBy(Id).count() AS Size
  * edges: an RDD flatMap over ``itertools.combinations(sorted(set), 2)``
    followed by reduceByKey — a per-row Python pickling seam (§2.11 R1-R5).

Rebuild: pair generation happens inside the scan stage as a
double-explode codegen pipeline (see :func:`graph_edges` — the
higher-order `pair_combinations_expr` array build measured 6.3× the
CPU, r12), so the only shuffles are the final aggregations — all
map-side combined. The input is cached once and feeds both branches
(the reference does the same, M1 cache at :128).

Scale: pair explosion is C(n,2) per row in the number of *distinct
entities in one row* (tiny, ≤17 here), not in table size — safe at 100TB.
The aggregation key space is |entities|² — also tiny — so the final
shuffles are trivially broadcast-size.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdataproject_spark.functions.entities import extract_entities_expr


def _name_lookup(names: Sequence[str], code: Column) -> Column:
    """code → canonical name via a literal array index — evaluated only
    on aggregated output (≤ |entities|² rows), never per input row."""
    return F.element_at(F.array(*[F.lit(n) for n in names]), code + F.lit(1))


def extract_entity_table(
    df: DataFrame, text_col: str, alias_to_canonical: Mapping[str, str]
) -> DataFrame:
    """Append an ``entities`` array column; keep rows with ≥1 hit
    (danmaku_analysis_cluster.py:125-126)."""
    out = df.withColumn(
        "entities", extract_entities_expr(text_col, alias_to_canonical)
    )
    return out.filter(F.size("entities") > 0)


def _node_counts(
    entity_df: DataFrame, names: Sequence[str] | None = None
) -> DataFrame:
    """Unsorted (Id, Size) aggregate — the shared kernel of
    :func:`graph_nodes` and :func:`graph_topology` (both unsorted
    since the r12 optimization round: every consumer is
    order-insensitive, and a per-branch sort under the topology union
    would pay a wasted range exchange + sort).

    ``explode_outer`` + a post-Generate null filter, NOT plain
    ``explode`` (r13, guide §2.4/§7.2): a non-outer Generate lets
    Catalyst's InferFiltersFromGenerate derive ``size(entities) > 0``,
    rewrite it onto the extraction EXPRESSION, and push it below the
    fan_out/repartition exchange — re-running the whole 16-alias
    contains + HOF chain per row on the pre-exchange side (2× the
    extraction CPU in the scan stage at any scale; the r12 plan dumps
    show the full chain inside the pre-exchange Filter). The rule
    skips outer Generates, so extraction appears exactly once,
    post-exchange. Output identical: empty arrays explode_outer into
    one NULL element row, which the null filter drops, and extraction
    never emits null elements.

    ``names`` (r13, guide §2.3 narrower types): when given, the
    ``entities`` column carries INT CODES from
    :func:`~bigdataproject_spark.functions.entities.extract_entity_codes_expr`
    — the explode stream and the count aggregate's hash tables work on
    4-byte ints instead of strings, and the code → name map-back runs
    on the aggregated rows only (|entities| rows)."""
    agg = (
        entity_df.select(F.explode_outer("entities").alias("Id"))
        .filter(F.col("Id").isNotNull())
        .groupBy("Id")
        .agg(F.count(F.lit(1)).alias("Size"))
    )
    if names is None:
        return agg
    return agg.select(_name_lookup(names, F.col("Id")).alias("Id"), "Size")


def graph_nodes(
    entity_df: DataFrame, names: Sequence[str] | None = None
) -> DataFrame:
    """Node table (Id, Size): mention counts over exploded entities
    (danmaku_analysis_cluster.py:131-134). Unordered since the r12
    optimization round: consumers (driver value-hash, golden tests,
    pagerank/communities inputs) are all order-insensitive, and the
    presentation sort cost a range exchange + sort stage per call —
    writers that need the reference CSV ordering sort at the sink.
    ``names``: int-coded entities — see :func:`_node_counts`."""
    return _node_counts(entity_df, names)


def graph_edges(
    entity_df: DataFrame, names: Sequence[str] | None = None
) -> DataFrame:
    """Edge table (Source, Target, Weight): per-row C(n,2) sorted pairs,
    summed (danmaku_analysis_cluster.py:139-152) — no RDD, no self-join;
    Source < Target lexically (undirected canonical form).

    Pair generation is a DOUBLE EXPLODE with an ordering filter rather
    than the higher-order :func:`pair_combinations_expr` array build:
    Generate → Generate → Filter → partial agg is one whole-stage
    codegen pipeline, while the nested-lambda array construction runs
    INTERPRETED per row — a measured 6.3× CPU difference on the full
    sf100 corpus (1306–1393 vs 207–223 executorCpuTime seconds,
    output-identical; SCALING.md r12 graph-kernel receipt). The n²
    pre-filter intermediate (vs the expression's n²/2) never
    materializes — it streams through the fused filter. The expression
    form stays in functions/entities.py as the composable column API
    (and the property suite pins both generators equal on arbitrary
    inputs). Unordered since the r12 optimization round (see
    :func:`graph_nodes`). ``names``: int-coded entities — see
    :func:`_node_counts` (codes are lex-ordered, so Source < Target on
    codes is Source < Target on names)."""
    return _edge_counts(entity_df, names)


def _edge_counts(
    entity_df: DataFrame, names: Sequence[str] | None = None
) -> DataFrame:
    """Unsorted (Source, Target, Weight) aggregate via the codegen
    double-explode kernel (see :func:`graph_edges`); shared with
    :func:`graph_topology`, which must not inherit a per-branch
    sort.

    ``array_distinct`` is applied defensively: the extraction contract
    already delivers distinct per-row entity sets, but on a
    NON-distinct input a strict ``Target > Source`` filter and the
    index-pair expression would diverge (the expression emits a
    self-pair per duplicate; neither output is meaningful) — distinct
    first makes duplicate input behave as its set, pinned by
    tests/test_properties.py::test_edge_generators_agree on raw
    inputs."""
    sorted_ent = entity_df.select(
        F.array_sort(F.array_distinct("entities")).alias("se")
    )
    # explode_outer (r13): same InferFiltersFromGenerate story as
    # _node_counts — a plain explode here pushes an inferred
    # size(se) > 0 filter (the full extraction chain) below the
    # fan_out exchange. The strict Target > Source comparison is
    # null-rejecting, so the NULL rows outer-explode adds for empty
    # arrays drop exactly where the inferred filter used to drop them.
    pairs = sorted_ent.select(
        F.explode_outer("se").alias("Source"), F.col("se")
    ).select("Source", F.explode_outer("se").alias("Target")).filter(
        F.col("Target") > F.col("Source")
    )
    agg = pairs.groupBy("Source", "Target").agg(
        F.count(F.lit(1)).alias("Weight")
    )
    if names is None:
        return agg
    return agg.select(
        _name_lookup(names, F.col("Source")).alias("Source"),
        _name_lookup(names, F.col("Target")).alias("Target"),
        "Weight",
    )


def graph_topology(
    entity_df: DataFrame, names: Sequence[str] | None = None
) -> DataFrame:
    """Nodes AND edges from ONE corpus scan: (part, src, dst, weight)
    where part='node' rows are the :func:`graph_nodes` table (src=Id,
    dst='', weight=Size) and part='edge' rows the :func:`graph_edges`
    table (Source/Target/Weight).

    Shape — SHARED-EXCHANGE union, chosen on a measured three-way CPU
    receipt at sf100 (SCALING.md r12; executorCpuTime is far less
    co-tenant-sensitive than wall): the compact ``entities`` projection
    is repartitioned ONCE — both union branches hang off the same
    exchange RDD, so the scan+extraction executes exactly once and each
    branch is a pure codegen explode→map-side-combined count above the
    shared shuffle output.

      * naive union (branches share nothing — fan_out is identity on
        multi-split sources, so there is no exchange to reuse):
        TWO scans+extractions, 1330 CPU-s;
      * single-explode fusion (node+pair units built per row with
        higher-order ``transform``/``concat`` structs): one scan but
        the INTERPRETED struct-building costs ~2× a whole codegen
        scan+extract pass — 1780 CPU-s, the losing shape;
      * this: 1113 CPU-s, 35.7 MB exchange (the entity arrays are a
        few short canonical names per row — at 100 TB that exchange is
        a few % of corpus bytes, against a full second corpus scan
        saved), aggregate keys broadcast-sized as ever.
    """
    try:
        n_parts = int(
            entity_df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    except (TypeError, ValueError):
        # runtimes that set the conf to a non-numeric sentinel (e.g.
        # "auto" under vendor AQE auto-tuning) — fall back to cluster
        # parallelism rather than dying at plan-build time
        n_parts = entity_df.sparkSession.sparkContext.defaultParallelism
    shared = entity_df.select("entities").repartition(n_parts)
    nodes = _node_counts(shared, names).select(
        F.lit("node").alias("part"),
        F.col("Id").alias("src"),
        F.lit("").alias("dst"),
        F.col("Size").alias("weight"),
    )
    edges = _edge_counts(shared, names).select(
        F.lit("edge").alias("part"),
        F.col("Source").alias("src"),
        F.col("Target").alias("dst"),
        F.col("Weight").alias("weight"),
    )
    # no final orderBy (r12 optimization round): the union's global
    # sort was presentation-only — the driver value-hash sorts rows
    # itself — and cost the plan's only range exchange + sort.
    return nodes.unionByName(edges)

"""Bounding-box tile extract — the flagship query.

Re-expresses the reference's `GET /minLat,minLon,maxLat,maxLon.pbf`
pipeline (TileOSMSource.java:49-143) as ONE declarative DataFrame DAG
that extracts a whole batch of bboxes at once, the batch analog of the
concurrent extract server (VanillaExtract.java:102-148). A single
extract is a batch of one:

    bboxes → z12 tile ranges (y-inverted, TileOSMSource.java:43-45)
           → way_tiles envelope filter       (S5: pushed into the scan)
           → range join with the bbox table  (J2, keyed by bbox_id)
           → explode refs → nodes semi-join  (J1 + J6 dedup)
           → relation joins by node/way      (J3/J4, INTENDED semantics)
           → upward relation closure         (J5, precomputed table)
           → (bbox_id, entity_type, id) union

Documented deviations from the reference (SURVEY §5.4 — reference bugs,
we implement the intended semantics): the node→relation lookup keys on
nodeId (the reference accidentally uses wayId, TileOSMSource.java:87-89),
relations are emitted once (not once per pass), and the closure frontier
tests the discovered id (TileOSMSource.java:127).

Scale design: the envelope of the batch's tile ranges reaches the
way_tiles parquet scan (min/max row-group skipping via the
Hilbert-sorted layout); ref dedup and the node semi-join share one
exchange on ref_id; the relation closure is computed once per dataset
(``prepare_extract_context``), so each extract resolves it in one join.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_lib_spark.functions.tiles import bbox_tile_range
from osm_lib_spark.operators.indexes import build_way_tiles


def relation_closure_table(relations: DataFrame) -> DataFrame:
    """Transitive UPWARD closure of the relation-membership graph:
    (relation_id, ancestor_id) for every relation that is reachable by
    walking 'is member of' edges 0+ times (reflexive rows excluded).

    Computed ONCE per dataset by semi-naive iteration over the (small)
    relation→relation edge set (the relationsByRelation index,
    OSM.java:156-158); every bbox extract then resolves its closure
    with a single equi-join instead of an iterative per-query loop.
    Runs to its fixpoint, however deep the relation chains are.
    """
    edges = (
        relations.select(F.col("id").alias("relation_id"), F.explode("members").alias("m"))
        .where(F.col("m.type") == "RELATION")
        .select(
            F.col("m.member_id").alias("relation_id"),
            F.col("relation_id").alias("ancestor_id"),
        )
    ).localCheckpoint(eager=True)

    closure = edges
    frontier = edges
    # Terminates (cycles included): ``new`` is anti-joined against
    # ``closure``, so every round that continues adds at least one pair,
    # and there are at most N² pairs over the N relation ids in ``edges``.
    while True:
        # extend frontier paths by one parent hop
        step = (
            frontier.alias("f")
            .join(
                edges.alias("e"),
                F.col("f.ancestor_id") == F.col("e.relation_id"),
            )
            .select(
                F.col("f.relation_id").alias("relation_id"),
                F.col("e.ancestor_id").alias("ancestor_id"),
            )
            .distinct()
        )
        new = step.join(
            closure, ["relation_id", "ancestor_id"], "left_anti"
        ).localCheckpoint(eager=True)
        if new.isEmpty():
            break
        closure = closure.unionByName(new).localCheckpoint(eager=True)
        frontier = new
    return closure


@dataclass
class ExtractContext:
    """Cached per-dataset state shared by a batch of extracts: the three
    relation member indexes and the transitive closure table. Build once
    with ``prepare_extract_context``; each bbox extract is then a pure
    join DAG with no driver-side iteration."""

    rel_by_node: DataFrame
    rel_by_way: DataFrame
    rel_closure: DataFrame


def prepare_extract_context(relations: DataFrame) -> ExtractContext:
    from osm_lib_spark.operators.indexes import rel_member_indexes

    idx = rel_member_indexes(relations)
    return ExtractContext(
        rel_by_node=idx["node"].localCheckpoint(eager=True),
        rel_by_way=idx["way"].localCheckpoint(eager=True),
        rel_closure=relation_closure_table(relations),
    )


@dataclass
class Extract:
    """One bbox's extract: its (entity_type, id) frame, plus the entity
    tables it was computed over so the selected rows can be fetched."""

    entities: DataFrame
    node_table: DataFrame
    way_table: DataFrame
    relation_table: DataFrame

    def _rows(self, table: DataFrame, entity_type: str) -> DataFrame:
        ids = self.entities.where(F.col("entity_type") == entity_type).select("id")
        return table.join(ids, "id", "left_semi")

    @property
    def nodes(self) -> DataFrame:
        return self._rows(self.node_table, "node")

    @property
    def ways(self) -> DataFrame:
        return self._rows(self.way_table, "way")

    @property
    def relations(self) -> DataFrame:
        return self._rows(self.relation_table, "relation")

    def ids(self, ordered: bool = True) -> DataFrame:
        """(entity_type, id) in type-major order (O1,
        OSMEntitySource.java:10-13): nodes, then ways, then relations.
        ``ordered=False`` skips the global sort — use when the consumer
        only aggregates (a Sort below an Aggregate is pure waste)."""
        if not ordered:
            return self.entities
        type_rank = (
            F.when(F.col("entity_type") == "node", 0)
            .when(F.col("entity_type") == "way", 1)
            .otherwise(2)
        )
        return self.entities.orderBy(type_rank, "id")


def _tiles_in_range(
    way_tiles: DataFrame, tile_range: tuple[int, int, int, int]
) -> DataFrame:
    """Tile-range scan (S5, TileOSMSource.java:59-68): the way_tiles rows
    inside the inclusive (min_x, min_y, max_x, max_y) range.

    The between-predicates are plain column filters, so they push down
    into the parquet/Iceberg scan and prune row groups when way_tiles is
    stored Hilbert-sorted (write_way_tiles_partitioned).
    """
    min_x, min_y, max_x, max_y = tile_range
    return way_tiles.where(
        F.col("xtile").between(min_x, max_x) & F.col("ytile").between(min_y, max_y)
    )


def ways_in_bbox(
    way_tiles: DataFrame, bbox: tuple[float, float, float, float]
) -> DataFrame:
    """→ way_id frame of the way_tiles rows inside ``bbox``'s tile range."""
    return _tiles_in_range(way_tiles, bbox_tile_range(*bbox)).select("way_id")


def bbox_extract_batch(
    nodes: DataFrame,
    ways: DataFrame,
    relations: DataFrame,
    bboxes: list[tuple[float, float, float, float]],
    way_tiles: DataFrame | None = None,
    ctx: ExtractContext | None = None,
) -> DataFrame:
    """Many extracts as ONE DataFrame DAG → (bbox_id, entity_type, id).

    The batch analog of the reference's concurrent extract server
    (VanillaExtract.java:102-148): instead of one join chain per bbox,
    the bbox set becomes a broadcast dimension table joined against
    way_tiles with range predicates, and every downstream join carries
    bbox_id as part of the key. A batch of B extracts costs one set of
    shuffles (not B sets) — at cluster scale this is what turns many
    narrow queries into one wide, scalable job.
    """
    spark = nodes.sparkSession
    if way_tiles is None:
        way_tiles = build_way_tiles(ways, nodes)
    if ctx is None:
        ctx = prepare_extract_context(relations)

    ranges = [bbox_tile_range(*b) for b in bboxes]
    bbox_df = spark.createDataFrame(
        [(i,) + r for i, r in enumerate(ranges)],
        "bbox_id int, min_x int, min_y int, max_x int, max_y int",
    )
    # The envelope of the tile ranges holds every non-empty range, so
    # this filter drops no hit; it is what reaches a stored way_tiles
    # scan. (Taken over tile ranges, not lat/lon: bbox_tile_range is not
    # monotone at the poles.)
    min_xs, min_ys, max_xs, max_ys = zip(*ranges)
    envelope = (min(min_xs), min(min_ys), max(max_xs), max(max_ys))
    # lazy checkpoint: b_ways feeds THREE consumers (the ref explode,
    # the way→relation join, the way output branch); Spark plans union
    # branches as separate subtrees (no ReuseExchange matched here), so
    # without the barrier the BroadcastNestedLoopJoin over way_tiles
    # re-executes once per consumer (plan audit r06: the BNLJ subtree
    # appeared 3× in the physical plan).
    hits = (
        _tiles_in_range(way_tiles, envelope).join(
            F.broadcast(bbox_df),
            F.col("xtile").between(F.col("min_x"), F.col("max_x"))
            & F.col("ytile").between(F.col("min_y"), F.col("max_y")),
        )
        .select("bbox_id", "way_id")
        .localCheckpoint(eager=False)
    )

    b_ways = hits  # (bbox_id, way_id)
    # One exchange, keyed by ref_id only: hash(ref_id) satisfies the
    # distinct's ClusteredDistribution on (bbox_id, ref_id) — rows with
    # equal pairs share a ref_id — AND the downstream semi-join's
    # requirement on ref_id, so the dedup and the node join run off the
    # SAME shuffle (was: one exchange on the pair for distinct, then a
    # second full exchange of the deduped set on ref_id for the join).
    refs = (
        b_ways.join(ways.select(F.col("id").alias("way_id"), "node_ids"), "way_id")
        .select("bbox_id", F.explode("node_ids").alias("ref_id"))
        .repartition("ref_id")
        .distinct()
    )
    # lazy checkpoint: b_nodes feeds BOTH the node output and the
    # node→relation join (same re-execution hazard as b_ways)
    # SHUFFLE_HASH: at scale neither side broadcasts (refs is the
    # exploded batch, nodes the corpus); hash-building the node side
    # beats sort-merge — it skips sorting both multi-million-row sides
    # (same reasoning as the bench's way→node resolution join).
    b_nodes = (
        refs.join(
            nodes.select(F.col("id").alias("ref_id")).hint("SHUFFLE_HASH"),
            "ref_id",
            "left_semi",
        )
        .select("bbox_id", F.col("ref_id").alias("node_id"))
        .localCheckpoint(eager=False)
    )

    rel_n = ctx.rel_by_node.join(
        b_nodes.withColumnRenamed("node_id", "member_id"), "member_id"
    ).select("bbox_id", "relation_id")
    rel_w = ctx.rel_by_way.join(
        b_ways.withColumnRenamed("way_id", "member_id"), "member_id"
    ).select("bbox_id", "relation_id")
    # lazy checkpoint: seen feeds the direct relation output AND the
    # closure join (was computed twice); it is bounded by the relation
    # count, so broadcasting it into the closure join replaces the
    # SortMergeJoin (+2 exchanges) the stats-free RDD scan planned.
    seen = rel_n.unionByName(rel_w).distinct().localCheckpoint(eager=False)
    ancestors = F.broadcast(seen).join(ctx.rel_closure, "relation_id").select(
        "bbox_id", F.col("ancestor_id").alias("relation_id")
    )
    b_rels = seen.unionByName(ancestors).distinct()

    return (
        b_nodes.select("bbox_id", F.lit("node").alias("entity_type"), F.col("node_id").alias("id"))
        .unionByName(b_ways.select("bbox_id", F.lit("way").alias("entity_type"), F.col("way_id").alias("id")))
        .unionByName(b_rels.select("bbox_id", F.lit("relation").alias("entity_type"), F.col("relation_id").alias("id")))
    )


def bbox_extract(
    nodes: DataFrame,
    ways: DataFrame,
    relations: DataFrame,
    bbox: tuple[float, float, float, float],
    way_tiles: DataFrame | None = None,
    ctx: ExtractContext | None = None,
) -> Extract:
    """Full extract of one ``bbox`` = (min_lat, min_lon, max_lat, max_lon):
    ``bbox_extract_batch`` over a batch of one.

    ``way_tiles`` may be a pre-built (ideally Hilbert-partitioned) index
    table; if None it is derived on the fly. ``ctx`` (from
    ``prepare_extract_context``) is reused across extracts so the
    relation closure is computed once.
    """
    entities = bbox_extract_batch(
        nodes, ways, relations, [bbox], way_tiles=way_tiles, ctx=ctx
    ).drop("bbox_id")
    return Extract(entities, nodes, ways, relations)

"""Spatial operators vs the pure-pandas oracle (differential tests)."""

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_lib_spark.functions.tiles import (
    bbox_tile_range,
    np_tile_x,
    np_tile_y,
    tile_x_col,
    tile_y_col,
)
from osm_lib_spark.operators.extract import bbox_extract, relation_closure_table
from osm_lib_spark.operators.indexes import build_way_tiles, rel_member_indexes
from osm_lib_spark.operators.intersections import intersections
from osm_lib_spark.sources.span_codec import parse_nodes, parse_relations, parse_ways
from tests.conftest import assert_df_equal, golden


@pytest.fixture(scope="module")
def entities(docs_xs):
    nodes = parse_nodes(docs_xs).cache()
    ways = parse_ways(docs_xs).cache()
    relations = parse_relations(docs_xs).cache()
    return nodes, ways, relations


@pytest.fixture(scope="module")
def meta_xs(fixture_xs):
    with open(os.path.join(fixture_xs, "meta.json")) as f:
        return json.load(f)


def test_tile_math_column_vs_numpy(spark):
    """JVM Column tile math == numpy oracle math, incl. boundary coords."""
    lats = [0.0, 85.0511, -85.0511, 47.6062095, -33.8688, 1e-9, -1e-9, 60.0]
    lons = [0.0, -90.0, 179.9999999, -179.9999999, -122.332, 1e-9, -1e-9, 90.0]
    df = spark.createDataFrame(list(zip(lats, lons)), ["lat", "lon"])
    got = df.select(
        tile_x_col(F.col("lon")).alias("x"), tile_y_col(F.col("lat")).alias("y")
    ).toPandas()
    np.testing.assert_array_equal(got["x"].to_numpy(), np_tile_x(np.array(lons)))
    np.testing.assert_array_equal(got["y"].to_numpy(), np_tile_y(np.array(lats)))
    # exact-boundary checks: lon=-90 → xtile exactly 1024; lat=0 → ytile 2048
    assert int(np_tile_x(np.array([-90.0]))[0]) == 1024
    assert int(np_tile_y(np.array([0.0]))[0]) == 2048


def test_way_tiles_first_node_rule(entities, fixture_xs):
    nodes, ways, _ = entities
    wt = build_way_tiles(ways, nodes)
    assert_df_equal(
        wt.select("way_id", "xtile", "ytile"),
        golden(fixture_xs, "way_tiles"),
        sort_cols=["way_id"],
    )


def test_intersections(entities, fixture_xs):
    _, ways, _ = entities
    assert_df_equal(
        intersections(ways), golden(fixture_xs, "intersections"), sort_cols=["node_id"]
    )


def test_rel_member_indexes(entities, fixture_xs):
    _, _, relations = entities
    idx = rel_member_indexes(relations)
    for key in ("node", "way", "relation"):
        assert_df_equal(
            idx[key],
            golden(fixture_xs, f"rel_members_by_{key}"),
            sort_cols=["member_id", "relation_id"],
        )


@pytest.mark.parametrize("bbox_name", ["dense", "wide", "world", "empty", "equator"])
def test_bbox_extract(entities, fixture_xs, meta_xs, bbox_name):
    nodes, ways, relations = entities
    bbox = tuple(meta_xs["bboxes"][bbox_name])
    ext = bbox_extract(nodes, ways, relations, bbox)
    assert_df_equal(
        ext.ids(),
        golden(fixture_xs, f"extract_{bbox_name}"),
        sort_cols=["entity_type", "id"],
    )


def test_relation_closure_runs_to_fixpoint(spark):
    """A 60-deep chain (relation i is a member of relation i+1) needs 59
    rounds; every relation's ancestors are all those above it, so the
    closure holds exactly 60·59/2 pairs."""
    depth = 60
    relations = spark.createDataFrame(
        [(i, [("RELATION", i - 1, "")] if i else []) for i in range(depth)],
        "id long, members array<struct<type:string,member_id:long,role:string>>",
    )
    closure = relation_closure_table(relations)
    assert closure.count() == depth * (depth - 1) // 2
    assert closure.where(F.col("relation_id") >= F.col("ancestor_id")).isEmpty()


def test_bbox_y_inversion():
    """North latitude → smaller ytile (TileOSMSource.java:43-45)."""
    min_x, min_y, max_x, max_y = bbox_tile_range(-10.0, -10.0, 10.0, 10.0)
    assert min_y < max_y
    assert min_y == int(np_tile_y(np.array([10.0]))[0])
    assert max_y == int(np_tile_y(np.array([-10.0]))[0])


def test_extract_type_major_order(entities, meta_xs):
    """O1 ordering contract (OSMEntitySource.java:10-13)."""
    nodes, ways, relations = entities
    ext = bbox_extract(nodes, ways, relations, tuple(meta_xs["bboxes"]["dense"]))
    types = [r.entity_type for r in ext.ids().collect()]
    rank = {"node": 0, "way": 1, "relation": 2}
    assert types == sorted(types, key=lambda t: rank[t])


def test_hilbert_codegen_vs_numpy(spark):
    """hilbert_key_col (pure Column bit ops) must match np_hilbert_d
    bit-for-bit over random tiles + the grid corners."""
    import numpy as np
    from pyspark.sql import functions as F

    from osm_lib_spark.functions.tiles import NTILES, hilbert_key_col, np_hilbert_d

    rng = np.random.default_rng(11)
    xs = np.concatenate([rng.integers(0, NTILES, 500), [0, 0, NTILES - 1, NTILES - 1]])
    ys = np.concatenate([rng.integers(0, NTILES, 500), [0, NTILES - 1, 0, NTILES - 1]])
    expected = np_hilbert_d(xs, ys)
    df = spark.createDataFrame(
        [(int(x), int(y)) for x, y in zip(xs, ys)], "x int, y int"
    ).select("x", "y", hilbert_key_col(F.col("x"), F.col("y")).alias("d"))
    got = {(r.x, r.y): r.d for r in df.collect()}
    for x, y, e in zip(xs, ys, expected):
        assert got[(int(x), int(y))] == int(e)

"""bbox_extract_batch must equal per-bbox bbox_extract exactly."""

import json
import os

import pandas as pd
import pytest

from osm_lib_spark.operators.extract import (
    bbox_extract,
    bbox_extract_batch,
    prepare_extract_context,
)
from osm_lib_spark.sources.span_codec import parse_nodes, parse_relations, parse_ways
from tests.conftest import golden


@pytest.fixture(scope="module")
def meta_xs(fixture_xs):
    with open(os.path.join(fixture_xs, "meta.json")) as f:
        return json.load(f)


def test_batch_equals_per_bbox(spark, docs_xs, meta_xs):
    nodes = parse_nodes(docs_xs).cache()
    ways = parse_ways(docs_xs).cache()
    relations = parse_relations(docs_xs).cache()
    ctx = prepare_extract_context(relations)
    names = ["dense", "wide", "world", "empty", "equator"]
    boxes = [tuple(meta_xs["bboxes"][n]) for n in names]

    batch = (
        bbox_extract_batch(nodes, ways, relations, boxes, ctx=ctx)
        .toPandas()
        .sort_values(["bbox_id", "entity_type", "id"])
        .reset_index(drop=True)
    )
    singles = []
    for i, b in enumerate(boxes):
        df = bbox_extract(nodes, ways, relations, b, ctx=ctx).ids(ordered=False).toPandas()
        df.insert(0, "bbox_id", i)
        singles.append(df)
    expected = (
        pd.concat(singles, ignore_index=True)
        .sort_values(["bbox_id", "entity_type", "id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(batch, expected, check_dtype=False)


def test_batch_envelope_keeps_every_box(spark, docs_xs, meta_xs, fixture_xs):
    """A pole-touching box (its tile range is degenerate: the Mercator y
    of lat -90 is infinite) must not narrow the batch's way_tiles filter
    for the other boxes."""
    nodes, ways, relations = parse_nodes(docs_xs), parse_ways(docs_xs), parse_relations(docs_xs)
    boxes = [tuple(meta_xs["bboxes"]["dense"]), (-90.0, -180.0, 90.0, 180.0)]
    got = (
        bbox_extract_batch(nodes, ways, relations, boxes)
        .where("bbox_id = 0")
        .select("entity_type", "id")
        .toPandas()
        .sort_values(["entity_type", "id"])
        .reset_index(drop=True)
    )
    exp = (
        golden(fixture_xs, "extract_dense")
        .sort_values(["entity_type", "id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)

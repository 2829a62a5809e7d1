"""Intersection detection (reference A1, OSM.java:353-362,178-196).

A node is an intersection iff it is referenced ≥2 times by ways that do
NOT carry a `building` tag (key presence, OSM.java:354,184). Reference
counts raw ID occurrences at ingest: refs to unknown nodes count, and a
node repeated within one way (closed loop) counts twice.

Spark shape: filter → explode → groupBy(count) → filter. The groupBy
gets a map-side partial aggregate for free; the NodeTracker bitmap
(NodeTracker.java:27-83) is an implementation detail Spark replaces
with a shuffle hash aggregate, which — unlike the bitmap — scales past
one machine's RAM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_lib_spark.functions.tags import has_tag


def intersections(ways: DataFrame) -> DataFrame:
    """→ DataFrame(node_id) of intersection nodes."""
    return (
        ways.where(~has_tag(F.col("tags"), "building"))
        .select(F.explode("node_ids").alias("node_id"))
        .groupBy("node_id")
        .agg(F.count("*").alias("ref_count"))
        .where(F.col("ref_count") >= 2)
        .select("node_id")
    )

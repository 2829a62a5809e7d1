"""VEX byte-codec tests: the reference's PBF↔VEX round-trip contract
(RoundTripTest.java:12-89) reproduced on the REAL bangor fixture, plus
block-split delta-reset correctness.
"""

import os

import pandas as pd
import pytest

from osm_lib_spark.sources.pbf import pbf_nodes, pbf_relations, pbf_ways, read_pbf
from osm_lib_spark.sources.vex import (
    decode_vex_block,
    encode_vex_rows,
    read_vex,
    scan_vex_blocks,
    write_vex,
)

BANGOR = "/root/reference/src/test/resources/bangor_maine.osm.pbf"

needs_bangor = pytest.mark.skipif(
    not os.path.exists(BANGOR), reason="reference fixture not present"
)


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df["tags"] = df["tags"].map(
        lambda ts: tuple((t["key"], t["value"]) for t in ts) if ts is not None else ()
    )
    df["node_ids"] = df["node_ids"].map(lambda ns: tuple(ns) if ns is not None else ())
    df["members"] = df["members"].map(
        lambda ms: tuple((m["type"], m["member_id"], m["role"]) for m in ms)
        if ms is not None
        else ()
    )
    return df.sort_values(["entity_type", "id"]).reset_index(drop=True)


@pytest.fixture(scope="module")
def bangor_entities(spark):
    return read_pbf(spark, BANGOR).cache()


@needs_bangor
def test_pbf_to_vex_roundtrip_bangor(spark, tmp_path, bangor_entities):
    """PBF → VEX → entities: the reference's own cross-format
    round-trip oracle, entity-level equality."""
    out = str(tmp_path / "bangor.vex")
    n_blocks = write_vex(
        out,
        pbf_nodes(bangor_entities),
        pbf_ways(bangor_entities),
        pbf_relations(bangor_entities),
    )
    assert n_blocks >= 3  # at least one block per entity type
    kinds = {r[3] for r in scan_vex_blocks(out)}
    assert kinds == {"node", "way", "relation"}
    back = read_vex(spark, out)
    pd.testing.assert_frame_equal(
        _canon(bangor_entities.toPandas()), _canon(back.toPandas())
    )


def test_vex_block_split_delta_reset():
    """Tiny max_bytes forces many blocks; each block must decode
    standalone (delta state resets per block) and concatenation must
    reproduce the input exactly — including the way-ref accumulator
    that carries across entities WITHIN a block only."""
    rows = pd.DataFrame(
        {
            "id": [10, 25, 300, 301],
            "tags": [
                [{"key": "highway", "value": "residential"}],
                [],
                [{"key": "a", "value": "b"}, {"key": "c", "value": ""}],
                [],
            ],
            "node_ids": [[100, 105, 90], [90, 200], [1, 2, 3], [3, 2, 1]],
            "members": [None] * 4,
            "fixed_lat": [None] * 4,
            "fixed_lon": [None] * 4,
        }
    )
    blocks = list(encode_vex_rows("way", rows, max_bytes=10))
    assert len(blocks) >= 2  # actually split
    decoded = pd.concat(
        [
            decode_vex_block("way", _count_entities(blob), _inflate(blob))
            for _, blob in blocks
        ],
        ignore_index=True,
    )
    assert list(decoded["id"]) == [10, 25, 300, 301]
    assert [list(x) for x in decoded["node_ids"]] == [
        [100, 105, 90],
        [90, 200],
        [1, 2, 3],
        [3, 2, 1],
    ]
    assert decoded["tags"][0] == [{"key": "highway", "value": "residential"}]


def _count_entities(blob: bytes) -> int:
    import struct

    return struct.unpack(">i", blob[4:8])[0]


def _inflate(blob: bytes) -> bytes:
    import struct
    import zlib

    (n,) = struct.unpack(">i", blob[8:12])
    return zlib.decompress(blob[12 : 12 + n])


def test_vex_block_never_exceeds_inflated_cap():
    """Flush-before-append: with a tiny max_bytes, no block's INFLATED
    payload may exceed max_bytes + 0 (a block is flushed before the
    entity whose addition would cross it), except a block holding a
    single entity that alone is under the hard 1 MiB cap."""
    rows = pd.DataFrame(
        {
            "id": list(range(1, 21)),
            "tags": [[{"key": "k", "value": "v" * 30}]] * 20,
            "node_ids": [None] * 20,
            "members": [None] * 20,
            "fixed_lat": list(range(100, 120)),
            "fixed_lon": list(range(200, 220)),
        }
    )
    blocks = list(encode_vex_rows("node", rows, max_bytes=80))
    assert len(blocks) > 1
    for _, blob in blocks:
        n = _count_entities(blob)
        payload = _inflate(blob)
        # multi-entity blocks must respect the soft cap exactly
        if n > 1:
            assert len(payload) <= 80
    # concatenated decode reproduces every entity
    decoded = pd.concat(
        [
            decode_vex_block("node", _count_entities(blob), _inflate(blob))
            for _, blob in blocks
        ],
        ignore_index=True,
    )
    assert list(decoded["id"]) == list(range(1, 21))
    assert list(decoded["fixed_lat"]) == list(range(100, 120))


def test_vex_single_giant_entity_raises():
    """An entity that alone inflates past the 1 MiB reader buffer must
    be rejected (the reference's fixed-size inflate buffer would
    overflow)."""
    giant = pd.DataFrame(
        {
            "id": [1],
            "tags": [[{"key": "blob", "value": "x" * (2 << 20)}]],
            "node_ids": [None],
            "members": [None],
            "fixed_lat": [0],
            "fixed_lon": [0],
        }
    )
    with pytest.raises(ValueError, match="VEX block buffer"):
        list(encode_vex_rows("node", giant))


def test_write_vex_all_none_raises(tmp_path):
    with pytest.raises(ValueError, match="nothing to write"):
        write_vex(str(tmp_path / "e.vex"), None, None, None)


def test_write_pbf_all_none_raises(tmp_path):
    from osm_lib_spark.sources.pbf import write_pbf

    with pytest.raises(ValueError, match="nothing to write"):
        write_pbf(str(tmp_path / "e.pbf"), None, None, None)


def test_vectorized_encoder_bytes_identical_to_scalar():
    """The vectorized node/way encoder must emit byte-identical blocks
    to the scalar reference writer at every max_bytes (same splits,
    same wire bytes) — including multi-block splits where the chain
    resets."""
    import numpy as np

    from osm_lib_spark.sources.vex import _encode_vex_rows_scalar

    rng = np.random.default_rng(7)
    n = 500
    nodes = pd.DataFrame(
        {
            "id": np.cumsum(rng.integers(1, 1000, n)).astype(np.int64),
            "fixed_lat": rng.integers(-900000000, 900000000, n).astype(np.int64),
            "fixed_lon": rng.integers(-1800000000, 1800000000, n).astype(np.int64),
            "tags": [
                [{"key": "k%d" % (i % 5), "value": "v" * (i % 17)}] if i % 3 else []
                for i in range(n)
            ],
            "node_ids": [None] * n,
            "members": [None] * n,
        }
    )
    ways = pd.DataFrame(
        {
            "id": np.cumsum(rng.integers(1, 50, 80)).astype(np.int64),
            "fixed_lat": [None] * 80,
            "fixed_lon": [None] * 80,
            "tags": [[{"key": "highway", "value": "x"}] for _ in range(80)],
            "node_ids": [
                list(rng.integers(1, 10**9, rng.integers(0, 30)).tolist())
                for _ in range(80)
            ],
            "members": [None] * 80,
        }
    )
    for kind, frame in (("node", nodes), ("way", ways)):
        for mb in (200, 1500, 900_000):
            vec = list(encode_vex_rows(kind, frame, max_bytes=mb))
            ref = list(_encode_vex_rows_scalar(kind, frame, max_bytes=mb))
            assert [b for _, b in vec] == [b for _, b in ref], (kind, mb)
            assert [i for i, _ in vec] == [i for i, _ in ref], (kind, mb)

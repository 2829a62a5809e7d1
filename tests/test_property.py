"""Property-based tests (hypothesis) for the codec kernels — the
NodeTrackerTest.java-style differential testing of SURVEY §5.3, widened
to generated inputs. Spark column paths are exercised by batching all
generated cases into ONE DataFrame per test (keeps runtime sane)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from osm_lib_spark.functions.delta import zigzag_decode, zigzag_encode
from osm_lib_spark.functions.tags import parse_tags, render_tags
from osm_lib_spark.functions.tiles import np_tile_x, np_tile_y, tile_x_col, tile_y_col

# tag keys/values under the codec's constraints: no ';' (pair separator),
# keys also exclude '=' (first '=' splits), both non-empty-key, no
# control chars that would collide with canonical separators
_tag_key = st.text(
    alphabet=st.characters(blacklist_characters=";=\x1e\x1f", blacklist_categories=("Cs",)),
    min_size=1,
    max_size=12,
)
_tag_val = st.text(
    alphabet=st.characters(blacklist_characters=";\x1e\x1f", blacklist_categories=("Cs",)),
    max_size=16,
)
_tags = st.lists(st.tuples(_tag_key, _tag_val), max_size=6)


@settings(max_examples=30, deadline=None)
@given(st.lists(_tags, min_size=1, max_size=20))
def test_tag_render_parse_roundtrip(spark, tag_lists):
    """parse(render(tags)) == tags for any codec-legal ordered tag list
    (duplicates, unicode, '=' in values all allowed)."""
    rendered = [
        ";".join(f"{k}={v}" for k, v in tags) + (";" if tags else "") for tags in tag_lists
    ]
    df = spark.createDataFrame([(s,) for s in rendered], ["s"])
    out = df.select(
        F.col("s"), render_tags(parse_tags(F.col("s"))).alias("back")
    ).collect()
    for r in out:
        assert r.back == r.s


@settings(max_examples=20, deadline=None)
@given(st.lists(st.integers(min_value=-(2**62), max_value=2**62 - 1), min_size=1, max_size=50))
def test_zigzag_roundtrip_property(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "n long")
    out = df.select(
        "n",
        zigzag_encode(F.col("n")).alias("z"),
        zigzag_decode(zigzag_encode(F.col("n"))).alias("back"),
    ).collect()
    for r in out:
        assert r.back == r.n
        # zigzag maps small magnitudes to small non-negatives
        if -(2**31) < r.n < 2**31:
            assert r.z >= 0


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.floats(min_value=-85.0, max_value=85.0, allow_nan=False),
            st.floats(min_value=-179.999999, max_value=179.999999, allow_nan=False),
        ),
        min_size=1,
        max_size=50,
    )
)
def test_tile_math_jvm_equals_numpy_property(spark, coords):
    """The JVM Column tile formulas and the numpy oracle must agree on
    arbitrary coordinates (not just the fixture's)."""
    lats = np.array([c[0] for c in coords])
    lons = np.array([c[1] for c in coords])
    df = spark.createDataFrame(list(coords), "lat double, lon double")
    got = df.select(
        tile_x_col(F.col("lon")).alias("x"), tile_y_col(F.col("lat")).alias("y")
    ).toPandas()
    np.testing.assert_array_equal(np.sort(got["x"].to_numpy()), np.sort(np_tile_x(lons)))
    np.testing.assert_array_equal(np.sort(got["y"].to_numpy()), np.sort(np_tile_y(lats)))


# --- PBF block codec fuzz: entities → block bytes → entities ------------

_pbf_tag = st.tuples(
    st.text(st.characters(blacklist_categories=("Cs",)), min_size=1, max_size=10),
    st.text(st.characters(blacklist_categories=("Cs",)), max_size=12),
)
_pbf_id = st.integers(min_value=0, max_value=(1 << 62) - 1)


@settings(max_examples=25, deadline=None)
@given(
    nodes=st.lists(
        st.tuples(
            _pbf_id,
            st.integers(-900_000_000, 900_000_000),
            st.integers(-1_800_000_000, 1_800_000_000),
            st.lists(_pbf_tag, max_size=4),
        ),
        min_size=1,
        max_size=20,
        unique_by=lambda t: t[0],
    )
)
def test_pbf_node_block_roundtrip_property(nodes):
    """Arbitrary unicode tags (incl. empty values), extreme ids and
    coordinates survive the production node encoder → decode
    bit-for-bit, on BOTH decode paths (scalar dicts and vectorized
    Arrow)."""
    import pyarrow as pa

    from osm_lib_spark.sources.pbf import (
        _PA_TAGS,
        _encode_dense_block_arrow,
        decode_block_arrow,
        decode_primitive_block,
    )

    nodes = sorted(nodes, key=lambda t: t[0])
    batch = pa.RecordBatch.from_pydict(
        {
            "id": [n[0] for n in nodes],
            "fixed_lat": [n[1] for n in nodes],
            "fixed_lon": [n[2] for n in nodes],
            "tags": [[{"key": k, "value": v} for k, v in n[3]] for n in nodes],
        },
        schema=pa.schema(
            [("id", pa.int64()), ("fixed_lat", pa.int32()), ("fixed_lon", pa.int32()), ("tags", _PA_TAGS)]
        ),
    )
    block = _encode_dense_block_arrow(batch)
    dec = decode_primitive_block(block)
    assert list(dec["node_id"][0]) == [n[0] for n in nodes]
    assert list(dec["node_lat"][0]) == [n[1] for n in nodes]
    assert list(dec["node_lon"][0]) == [n[2] for n in nodes]
    assert dec["node_tags"] == [[(k, v) for k, v in n[3]] for n in nodes]
    (batch,) = decode_block_arrow(block)
    rows = batch.to_pylist()
    for row, n in zip(rows, nodes):
        assert row["id"] == n[0] and row["fixed_lat"] == n[1]
        assert row["tags"] == [{"key": k, "value": v} for k, v in n[3]]


# --- VEX block codec fuzz: entities → framed blocks → entities ----------


@settings(max_examples=25, deadline=None)
@given(
    nodes=st.lists(
        st.tuples(
            _pbf_id,
            st.integers(-900_000_000, 900_000_000),
            st.integers(-1_800_000_000, 1_800_000_000),
            st.lists(_pbf_tag, max_size=4),
        ),
        min_size=1,
        max_size=20,
        unique_by=lambda t: t[0],
    ),
    max_bytes=st.sampled_from([60, 400, 900_000]),
)
def test_vex_node_blocks_roundtrip_property(nodes, max_bytes):
    """Arbitrary unicode tags, extreme ids/coords, and adversarial
    block-split sizes: the vectorized encoder must (a) agree with the
    scalar writer byte-for-byte and (b) roundtrip through the
    vectorized decoder exactly."""
    import pandas as pd

    from osm_lib_spark.sources.vex import (
        _encode_vex_rows_scalar,
        decode_vex_block,
        encode_vex_rows,
    )

    nodes = sorted(nodes, key=lambda t: t[0])
    frame = pd.DataFrame(
        {
            "id": [n[0] for n in nodes],
            "fixed_lat": [n[1] for n in nodes],
            "fixed_lon": [n[2] for n in nodes],
            "tags": [[{"key": k, "value": v} for k, v in n[3]] for n in nodes],
            "node_ids": [None] * len(nodes),
            "members": [None] * len(nodes),
        }
    )
    vec = list(encode_vex_rows("node", frame, max_bytes=max_bytes))
    ref = list(_encode_vex_rows_scalar("node", frame, max_bytes=max_bytes))
    assert vec == ref
    back_ids, back_tags = [], []
    import struct as _struct
    import zlib as _zlib

    for _, blob in vec:
        n_ent, n_b = _struct.unpack(">ii", blob[4:12])
        df = decode_vex_block("node", n_ent, _zlib.decompress(blob[12 : 12 + n_b]))
        back_ids += list(df["id"])
        back_tags += [[(t["key"], t["value"]) for t in ts] for ts in df["tags"]]
    assert back_ids == [n[0] for n in nodes]
    assert back_tags == [list(n[3]) for n in nodes]


@settings(max_examples=15, deadline=None)
@given(
    ways=st.lists(
        st.tuples(
            _pbf_id,
            st.lists(st.integers(0, (1 << 60) - 1), max_size=8),
            st.lists(_pbf_tag, max_size=3),
        ),
        min_size=1,
        max_size=12,
        unique_by=lambda t: t[0],
    ),
    max_bytes=st.sampled_from([40, 900_000]),
)
def test_vex_way_blocks_roundtrip_property(ways, max_bytes):
    """Way ref chains (which carry ACROSS entities within a block and
    reset at splits) roundtrip exactly at adversarial split sizes, and
    the vectorized encoder matches the scalar writer."""
    import pandas as pd

    from osm_lib_spark.sources.vex import (
        _encode_vex_rows_scalar,
        decode_vex_block,
        encode_vex_rows,
    )

    ways = sorted(ways, key=lambda t: t[0])
    frame = pd.DataFrame(
        {
            "id": [w[0] for w in ways],
            "fixed_lat": [None] * len(ways),
            "fixed_lon": [None] * len(ways),
            "tags": [[{"key": k, "value": v} for k, v in w[2]] for w in ways],
            "node_ids": [list(w[1]) for w in ways],
            "members": [None] * len(ways),
        }
    )
    vec = list(encode_vex_rows("way", frame, max_bytes=max_bytes))
    assert vec == list(_encode_vex_rows_scalar("way", frame, max_bytes=max_bytes))
    import struct as _struct
    import zlib as _zlib

    back_ids, back_refs = [], []
    for _, blob in vec:
        n_ent, n_b = _struct.unpack(">ii", blob[4:12])
        df = decode_vex_block("way", n_ent, _zlib.decompress(blob[12 : 12 + n_b]))
        back_ids += list(df["id"])
        back_refs += [list(r) for r in df["node_ids"]]
    assert back_ids == [w[0] for w in ways]
    assert back_refs == [list(w[1]) for w in ways]


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=1, max_value=24),
    st.booleans(),
    st.integers(min_value=0, max_value=4),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_png_roundtrip_property(w, h, rgb, filter_type, seed):
    """png_decode(png_encode(img, ft)) == img for ANY uint8 image and
    every filter type."""
    from osm_lib_spark.functions.png import png_decode, png_encode

    rng = np.random.default_rng(seed)
    shape = (h, w, 3) if rgb else (h, w)
    img = rng.integers(0, 256, size=shape, dtype=np.uint8)
    back = png_decode(png_encode(img, filter_type=filter_type))
    assert back.shape == img.shape
    assert (back == img).all()


@settings(max_examples=80, deadline=None)
@given(st.binary(max_size=400))
def test_png_decode_rejects_garbage(data):
    """Arbitrary bytes must raise ValueError (or decode, if they happen
    to be a valid PNG) — never crash, hang, or return garbage silently."""
    from osm_lib_spark.functions.png import png_decode

    try:
        png_decode(data)
    except ValueError:
        pass
    except Exception as ex:  # zlib/struct errors from truncated chunks
        import struct
        import zlib

        assert isinstance(ex, (zlib.error, struct.error)), ex


@settings(max_examples=40, deadline=None)
@given(st.binary(min_size=0, max_size=200))
def test_png_decode_corrupted_tail(tail):
    """A valid PNG with appended/replaced tail bytes either still
    decodes to the SAME image (extra bytes after IEND are ignorable) or
    raises cleanly — it must never return different pixels."""
    from osm_lib_spark.functions.png import png_decode, png_encode

    img = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    good = png_encode(img)
    import struct
    import zlib

    try:
        back = png_decode(good + tail)
    except (ValueError, zlib.error, struct.error):
        return
    assert (back == img).all()


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=1, max_value=400),
    st.integers(min_value=1, max_value=4),
    st.integers(min_value=1, max_value=192000),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_wav_roundtrip_property(n, channels, rate, seed):
    """wav_decode(wav_encode(x)) == x for ANY int16 signal, channel
    count, and sample rate (odd byte counts exercise the RIFF pad)."""
    from osm_lib_spark.functions.wav import wav_decode, wav_encode

    rng = np.random.default_rng(seed)
    shape = (n,) if channels == 1 else (n, channels)
    samples = rng.integers(-32768, 32768, size=shape).astype(np.int16)
    back, back_rate = wav_decode(wav_encode(samples, rate))
    assert back_rate == rate
    assert back.shape == samples.shape
    assert (back == samples).all()


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=1, max_value=16),
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=1, max_value=12),
    st.booleans(),
    st.integers(min_value=0, max_value=4),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_apng_roundtrip_property(n_frames, h, w, rgb, ft, seed):
    """apng_decode(apng_encode(frames)) == frames for ANY uint8 frame
    stack, frame count, and row-filter type."""
    from osm_lib_spark.functions.apng import apng_decode, apng_encode, is_apng

    rng = np.random.default_rng(seed)
    shape = (h, w, 3) if rgb else (h, w)
    frames = [rng.integers(0, 256, size=shape).astype(np.uint8) for _ in range(n_frames)]
    enc = apng_encode(frames, filter_type=ft)
    assert is_apng(enc)
    back = apng_decode(enc)
    assert len(back) == n_frames
    for a, b in zip(frames, back):
        assert a.shape == b.shape and (a == b).all()


@settings(max_examples=80, deadline=None)
@given(st.binary(max_size=400))
def test_wav_decode_rejects_garbage(data):
    """Arbitrary bytes must raise ValueError (or decode, if they happen
    to be a valid WAV) — never crash, hang, or return garbage silently."""
    import struct

    from osm_lib_spark.functions.wav import wav_decode

    try:
        wav_decode(data)
    except ValueError:
        pass
    except struct.error:
        pass  # truncated fmt chunk

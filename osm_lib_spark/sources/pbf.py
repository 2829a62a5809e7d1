"""Byte-level OSM PBF source and sink (reference S1/K1).

From-scratch implementation of the public OSM PBF container format
(fileformat.proto / osmformat.proto wire layout): a stream of
[4-byte big-endian length][BlobHeader][Blob] records, where each Blob
holds a zlib-compressed (or raw) OSMHeader / OSMData block. OSMData is
a PrimitiveBlock: a per-block string table plus primitive groups of
dense nodes (delta-coded id/lat/lon + 0-terminated keys_vals), ways
(delta-coded refs), and relations (delta-coded memids).

Semantics mirrored from the reference (cited for parity, not copied —
this is a numpy wire codec, the reference drives the osmosis protobuf
library):

* dense-node delta decode + string-table tag lookup —
  PBFInput.java:88-121
* way ref delta decode — PBFInput.java:124-152
* relation memid delta decode + member types — PBFInput.java:155-195
* fixed-point conversion: degrees = 1e-9*(offset + granularity*raw),
  fixed = (int)(degrees * 1e7) truncating toward zero (osmosis
  BinaryParser.parseLat semantics + Node.java:26-29)
* sink block structure: ≤8000 entities per block, one primitive group
  per block, per-block string table with "" at index 0, type
  transitions force a new block, dense nodes always — that is, blocks
  are type-pure — PBFOutput.java:54-135
* zlib-deflate each block, store raw if deflate doesn't shrink it —
  PBFOutput.java:96-120,142-157

Spark-first dataflow:

PBF and VEX (sources/vex.py) are two block formats behind one Spark
scaffold, which lives here and which each codec feeds with its own
per-block decode and encode:

* READ (`read_blocks`): the driver indexes the file with a header-only
  scan (`scan_blobs` here: seek + skip over ~32-byte headers, no
  payload read) into (path, offset, size, ..., seq) rows. Blocks are
  the parallelism unit — one `mapInArrow` task per few blocks seeks
  into the file and hands each block's raw bytes to the codec's
  decode, so a planet file fans out across executors without ever
  landing whole on the driver. The PBF decode (`decode_block_arrow`)
  is block-wide numpy: packed varints decode once per COLUMN per block
  (`_batch_packed` concatenates every way's/relation's field payloads
  before one vectorized decode — per-entity numpy calls cost more in
  dispatch than decoding), dense-node tags assemble via
  zero-terminator arithmetic, and entity columns are built as Arrow
  arrays directly (never pandas object dicts). Per-entity arrays whose
  counts disagree (keys vs vals, memids vs types vs roles, odd
  keys_vals runs) raise instead of decoding shifted tags.
* WRITE (`write_blocks`): each entity kind is range-partitioned by id
  and id-sorted within partitions; one `mapInArrow` task per partition
  hands every Arrow batch to the codec's encode, which returns framed
  blocks (PBF blocks share no state — delta coding and string tables
  reset per block). The PBF encode slices a batch into ≤8k-entity
  blocks; the three block encoders share their kernels — list column
  → (flat, counts), one sorted-unique string table, per-entity-reset
  deltas, and per-entity byte spans of one varint pass per column
  (`_entity_messages`). The kind-major union goes to ONE parallel job
  that writes every partition's blocks as a part file
  (`compose_blob_frame`); the driver concatenates parts in partition
  order — multipart PUT + compose on an object store, O(1) driver
  memory, and the encode never serializes on driver round trips.

Measured at sf0.1 (2.9M entities, local[32]): decode ~2.6M entities/s,
encode ~0.74M entities/s — same order as the reference's single-node
osmosis stream, with the difference that this codec fans out per blob
and the sink's part-file compose keeps driver memory O(1).
"""

from __future__ import annotations

import os
import struct
import zlib
from typing import Iterator

import numpy as np

# ---------------------------------------------------------------------------
# protobuf wire primitives (numpy-vectorized for packed arrays)
# ---------------------------------------------------------------------------


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    """Scalar varint — for message framing only, never per-entity data."""
    result = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def np_decode_varints(buf: np.ndarray) -> np.ndarray:
    """Decode a packed varint byte array → uint64 values, vectorized.

    Varint boundaries are the bytes without the continuation bit; each
    byte contributes its 7-bit payload shifted by its offset within its
    varint. One pass of numpy ops, no Python loop over values.
    """
    if len(buf) == 0:
        return np.zeros(0, dtype=np.uint64)
    cont = (buf & 0x80) != 0
    ends = np.flatnonzero(~cont)
    starts = np.concatenate(([0], ends[:-1] + 1))
    idx = np.arange(len(buf), dtype=np.int64)
    gid = np.searchsorted(ends, idx)
    shift = ((idx - starts[gid]) * 7).astype(np.uint64)
    vals = (buf & 0x7F).astype(np.uint64) << shift
    out = np.zeros(len(ends), dtype=np.uint64)
    np.add.at(out, gid, vals)
    return out


def np_unzigzag(u: np.ndarray) -> np.ndarray:
    """uint64 zigzag → int64: (u >> 1) ^ -(u & 1)."""
    u = u.astype(np.uint64)
    return ((u >> np.uint64(1)) ^ (~(u & np.uint64(1)) + np.uint64(1))).astype(
        np.int64
    )


def np_zigzag(v: np.ndarray) -> np.ndarray:
    """int64 → uint64 zigzag: (v << 1) ^ (v >> 63)."""
    v = v.astype(np.int64)
    return ((v << np.int64(1)) ^ (v >> np.int64(63))).astype(np.uint64)


def np_encode_varints_with_lens(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """uint64 values → (packed varint bytes, per-value byte length),
    vectorized: per-value lengths first, then the i-th byte of every
    value scatters in ≤10 passes."""
    v = np.asarray(vals, dtype=np.uint64)
    if len(v) == 0:
        return np.zeros(0, dtype=np.uint8), np.zeros(0, dtype=np.int64)
    lens = np.ones(len(v), dtype=np.int64)
    tmp = v >> np.uint64(7)
    while (tmp != 0).any():
        lens += (tmp != 0).astype(np.int64)
        tmp = tmp >> np.uint64(7)
    offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
    out = np.zeros(int(lens.sum()), dtype=np.uint8)
    for i in range(int(lens.max())):
        sel = lens > i
        byte = ((v[sel] >> np.uint64(7 * i)) & np.uint64(0x7F)).astype(np.uint8)
        more = (lens[sel] - 1 > i).astype(np.uint8) << 7
        out[offs[sel] + i] = byte | more
    return out, lens


def np_encode_varints(vals: np.ndarray) -> np.ndarray:
    """uint64 values → packed varint bytes, vectorized."""
    return np_encode_varints_with_lens(vals)[0]


def _fields(data: bytes) -> Iterator[tuple[int, int, object]]:
    """Walk a protobuf message: yields (field_no, wire_type, value).

    wire 0 → int value; wire 2 → bytes; wire 1/5 → raw fixed bytes.
    """
    pos, n = 0, len(data)
    while pos < n:
        key, pos = _read_varint(data, pos)
        fno, wt = key >> 3, key & 7
        if wt == 0:
            val, pos = _read_varint(data, pos)
        elif wt == 2:
            ln, pos = _read_varint(data, pos)
            val = data[pos : pos + ln]
            pos += ln
        elif wt == 5:
            val = data[pos : pos + 4]
            pos += 4
        elif wt == 1:
            val = data[pos : pos + 8]
            pos += 8
        else:  # pragma: no cover — groups are not used by PBF
            raise ValueError(f"unsupported wire type {wt}")
        yield fno, wt, val


def _packed_u64(wt: int, val: object, out: list) -> None:
    """Accumulate a packed-or-single varint field occurrence."""
    if wt == 2:
        out.append(np_decode_varints(np.frombuffer(val, dtype=np.uint8)))
    else:
        out.append(np.array([val], dtype=np.uint64))


def _cat(parts: list, dtype=np.uint64) -> np.ndarray:
    if not parts:
        return np.zeros(0, dtype=dtype)
    return np.concatenate(parts).astype(dtype)


# ---------------------------------------------------------------------------
# encode helpers
# ---------------------------------------------------------------------------


def _enc_varint(n: int) -> bytes:
    out = bytearray()
    n &= (1 << 64) - 1
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _enc_field_varint(fno: int, val: int) -> bytes:
    return _enc_varint(fno << 3) + _enc_varint(val)


def _enc_field_bytes(fno: int, val: bytes) -> bytes:
    return _enc_varint((fno << 3) | 2) + _enc_varint(len(val)) + val


def _enc_packed(fno: int, vals: np.ndarray) -> bytes:
    """Packed repeated varint field (empty → omitted)."""
    if len(vals) == 0:
        return b""
    payload = np_encode_varints(vals).tobytes()
    return _enc_field_bytes(fno, payload)


# ---------------------------------------------------------------------------
# blob framing
# ---------------------------------------------------------------------------

_ACCEPTED_FEATURES = {"OsmSchema-V0.6", "DenseNodes"}


def scan_blobs(path: str) -> list[tuple[str, int, int, str, int]]:
    """Index a PBF file's blobs WITHOUT reading blob payloads.

    Reads each [len][BlobHeader], seeks past the datasize, and returns
    (path, payload_offset, payload_size, kind, seq) rows — the
    parallelism unit for the distributed read. I/O is O(#blobs · 32B).
    """
    rows = []
    seq = 0
    with open(path, "rb") as f:
        while True:
            head = f.read(4)
            if len(head) < 4:
                break
            (hlen,) = struct.unpack(">I", head)
            header = f.read(hlen)
            kind, datasize = "", 0
            for fno, wt, val in _fields(header):
                if fno == 1:
                    kind = val.decode("utf-8")
                elif fno == 3:
                    datasize = val
            offset = f.tell()
            rows.append((path, offset, datasize, kind, seq))
            seq += 1
            f.seek(offset + datasize)
    return rows


def _inflate_blob(data: bytes) -> bytes:
    """Blob → uncompressed block bytes (raw=1, zlib_data=3)."""
    raw, zdata = None, None
    for fno, wt, val in _fields(data):
        if fno == 1:
            raw = val
        elif fno == 3:
            zdata = val
    if raw is not None:
        return raw
    if zdata is not None:
        return zlib.decompress(zdata)
    raise ValueError("blob has neither raw nor zlib_data")


def check_header_block(data: bytes) -> None:
    """Raise on required features we do not implement (PBFInput
    HeaderBlock handling analog)."""
    for fno, wt, val in _fields(data):
        if fno == 4:  # required_features
            feat = val.decode("utf-8")
            if feat not in _ACCEPTED_FEATURES:
                raise ValueError(f"unsupported required PBF feature: {feat}")


# ---------------------------------------------------------------------------
# PrimitiveBlock decode → entity dicts
# ---------------------------------------------------------------------------


def _fixed_from_raw(raw: np.ndarray, granularity: int, offset: int) -> np.ndarray:
    """raw coordinate units → int32 fixed-point, bit-matching the
    reference's double math: trunc(1e-9*(offset + granularity*raw) * 1e7)
    (osmosis parseLat + Node.setLatLon truncation)."""
    nano = offset + granularity * raw.astype(np.int64)  # exact in int64
    deg = nano.astype(np.float64) * 1e-9
    return (deg * 1e7).astype(np.int64).astype(np.int32)


def decode_primitive_block(data: bytes) -> dict:
    """PrimitiveBlock bytes → columnar entity arrays.

    Returns {nodes: (ids, fixed_lat, fixed_lon, tags), ways: (ids,
    refs_list, tags), relations: (ids, members_list, tags)} with numpy
    arrays for all numeric columns; tags are python lists of
    (key, value) tuples (ragged), built from vectorized string-table
    takes.
    """
    strings: list[str] = []
    groups: list[bytes] = []
    granularity, lat_offset, lon_offset = 100, 0, 0
    for fno, wt, val in _fields(data):
        if fno == 1:  # stringtable
            strings = [s.decode("utf-8") for f2, w2, s in _fields(val) if f2 == 1]
        elif fno == 2:
            groups.append(val)
        elif fno == 17:
            granularity = val
        elif fno == 19:
            lat_offset = val
        elif fno == 20:
            lon_offset = val
    stab = np.array(strings, dtype=object) if strings else np.zeros(0, object)

    out = {
        "node_id": [], "node_lat": [], "node_lon": [], "node_tags": [],
        "way_id": [], "way_refs": [], "way_tags": [],
        "rel_id": [], "rel_members": [], "rel_tags": [],
    }

    def tags_from(keys: np.ndarray, vals: np.ndarray) -> list:
        if len(keys) == 0:
            return []
        return list(zip(stab[keys.astype(np.int64)], stab[vals.astype(np.int64)]))

    for group in groups:
        for fno, wt, val in _fields(group):
            if fno == 2:  # dense nodes
                ids_p, lats_p, lons_p, kv_p = [], [], [], []
                for f2, w2, v2 in _fields(val):
                    if f2 == 1:
                        _packed_u64(w2, v2, ids_p)
                    elif f2 == 8:
                        _packed_u64(w2, v2, lats_p)
                    elif f2 == 9:
                        _packed_u64(w2, v2, lons_p)
                    elif f2 == 10:
                        _packed_u64(w2, v2, kv_p)
                ids = np.cumsum(np_unzigzag(_cat(ids_p)))
                lats = np.cumsum(np_unzigzag(_cat(lats_p)))
                lons = np.cumsum(np_unzigzag(_cat(lons_p)))
                kv = _cat(kv_p).astype(np.int64)  # int32, plain varint
                # keys_vals: int32, 0-terminated runs of (key, val) pairs
                # per node (PBFInput.java:105-114); absent ⇒ no tags at all
                tags_per_node: list
                if len(kv) == 0:
                    tags_per_node = [[] for _ in range(len(ids))]
                else:
                    tags_per_node = []
                    pos = 0
                    for _ in range(len(ids)):
                        start = pos
                        while kv[pos] != 0:
                            pos += 2
                        pair_idx = kv[start:pos]
                        if len(pair_idx):
                            ks = stab[pair_idx[0::2]]
                            vs = stab[pair_idx[1::2]]
                            tags_per_node.append(list(zip(ks, vs)))
                        else:
                            tags_per_node.append([])
                        pos += 1
                out["node_id"].append(ids)
                out["node_lat"].append(_fixed_from_raw(lats, granularity, lat_offset))
                out["node_lon"].append(_fixed_from_raw(lons, granularity, lon_offset))
                out["node_tags"].extend(tags_per_node)
            elif fno == 1:  # non-dense nodes (rare; PBFInput.java:65-80)
                nid, nlat, nlon = 0, 0, 0
                keys = vals = np.zeros(0, np.uint64)
                kp, vp = [], []
                for f2, w2, v2 in _fields(val):
                    if f2 == 1:
                        nid = np_unzigzag(np.array([v2], np.uint64))[0]
                    elif f2 == 8:
                        nlat = np_unzigzag(np.array([v2], np.uint64))[0]
                    elif f2 == 9:
                        nlon = np_unzigzag(np.array([v2], np.uint64))[0]
                    elif f2 == 2:
                        _packed_u64(w2, v2, kp)
                    elif f2 == 3:
                        _packed_u64(w2, v2, vp)
                out["node_id"].append(np.array([nid], np.int64))
                out["node_lat"].append(
                    _fixed_from_raw(np.array([nlat], np.int64), granularity, lat_offset)
                )
                out["node_lon"].append(
                    _fixed_from_raw(np.array([nlon], np.int64), granularity, lon_offset)
                )
                out["node_tags"].append(tags_from(_cat(kp), _cat(vp)))
            elif fno == 3:  # way
                wid = 0
                kp, vp, rp = [], [], []
                for f2, w2, v2 in _fields(val):
                    if f2 == 1:
                        wid = v2
                    elif f2 == 2:
                        _packed_u64(w2, v2, kp)
                    elif f2 == 3:
                        _packed_u64(w2, v2, vp)
                    elif f2 == 8:
                        _packed_u64(w2, v2, rp)
                refs = np.cumsum(np_unzigzag(_cat(rp)))
                out["way_id"].append(wid)
                out["way_refs"].append(refs)
                out["way_tags"].append(tags_from(_cat(kp), _cat(vp)))
            elif fno == 4:  # relation
                rid = 0
                kp, vp, roles_p, mem_p, types_p = [], [], [], [], []
                for f2, w2, v2 in _fields(val):
                    if f2 == 1:
                        rid = v2
                    elif f2 == 2:
                        _packed_u64(w2, v2, kp)
                    elif f2 == 3:
                        _packed_u64(w2, v2, vp)
                    elif f2 == 8:
                        _packed_u64(w2, v2, roles_p)
                    elif f2 == 9:
                        _packed_u64(w2, v2, mem_p)
                    elif f2 == 10:
                        _packed_u64(w2, v2, types_p)
                memids = np.cumsum(np_unzigzag(_cat(mem_p)))
                roles = _cat(roles_p).astype(np.int64)
                types = _cat(types_p).astype(np.int64)
                tnames = np.array(["NODE", "WAY", "RELATION"], dtype=object)
                members = [
                    (str(tnames[t]), int(m), str(stab[r]))
                    for t, m, r in zip(types, memids, roles)
                ]
                out["rel_id"].append(rid)
                out["rel_members"].append(members)
                out["rel_tags"].append(tags_from(_cat(kp), _cat(vp)))
    return out


# ---------------------------------------------------------------------------
# PrimitiveBlock decode → Arrow RecordBatches (the fast distributed path)
# ---------------------------------------------------------------------------

import pyarrow as pa
import pyarrow.compute as pc

_PA_TAGS = pa.list_(pa.struct([("key", pa.string()), ("value", pa.string())]))
_PA_REFS = pa.list_(pa.int64())
_PA_MEMBERS = pa.list_(
    pa.struct([("type", pa.string()), ("member_id", pa.int64()), ("role", pa.string())])
)
_PA_SCHEMA = pa.schema(
    [
        ("entity_type", pa.string()),
        ("id", pa.int64()),
        ("fixed_lat", pa.int32()),
        ("fixed_lon", pa.int32()),
        ("tags", _PA_TAGS),
        ("node_ids", _PA_REFS),
        ("members", _PA_MEMBERS),
    ]
)


def _batch_packed(slices: list[bytes]) -> tuple[np.ndarray, np.ndarray]:
    """Decode MANY complete packed-varint payloads in one numpy pass.

    Per-entity ``np_decode_varints`` calls cost more in numpy dispatch
    than in decoding (~10 µs × 400k ways dominated the profile); since
    varints never straddle payload boundaries, decoding the
    concatenation equals concatenating the decodes. Returns
    (values uint64, value-count per slice).
    """
    if not slices:
        return np.zeros(0, np.uint64), np.zeros(0, np.int64)
    buf = np.frombuffer(b"".join(slices), dtype=np.uint8)
    lens = np.fromiter((len(s) for s in slices), np.int64, count=len(slices))
    if len(buf) == 0:
        return np.zeros(0, np.uint64), np.zeros(len(slices), np.int64)
    vals = np_decode_varints(buf)
    ends = np.cumsum(lens)
    cum_vals = np.cumsum((buf & 0x80) == 0)
    tot_at_end = np.where(ends > 0, cum_vals[np.maximum(ends - 1, 0)], 0)
    counts = np.diff(np.concatenate(([0], tot_at_end)))
    return vals, counts


def _segmented_delta_cumsum(vals: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Per-segment cumsum of zigzag deltas (each segment's chain starts
    at 0): global cumsum minus each segment's exclusive base."""
    deltas = np_unzigzag(vals)
    if len(deltas) == 0:  # no entity of the block has refs/members
        return deltas
    g = np.cumsum(deltas)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    base = np.where(starts > 0, g[np.maximum(starts - 1, 0)], 0)
    return g - np.repeat(base, counts)


def _tags_list_array(offsets: np.ndarray, keys, vals) -> pa.ListArray:
    struct = pa.StructArray.from_arrays(
        [pa.array(keys, pa.string()), pa.array(vals, pa.string())],
        names=["key", "value"],
    )
    return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), struct)


def _kv_tags_array(kv: np.ndarray, n_nodes: int, stab: np.ndarray) -> pa.ListArray:
    """Dense-node keys_vals → list<struct<key,value>> with NO per-node
    Python: zero positions are node terminators; runs have even length,
    so dropping zeros leaves a globally alternating key/value stream.

    Well-formed encoders (osmosis, the reference's StringTable, ours)
    reserve code 0 as the terminator and never assign it to a string —
    so every 0 is a delimiter. A rogue file could still use code 0 as a
    tag VALUE (the reference's reader only treats 0 at key positions as
    terminators); when the zero count disagrees with the node count we
    fall back to that exact scalar state machine. An odd run would
    shift every later pair, so it raises."""
    if len(kv) == 0:
        return _tags_list_array(
            np.zeros(n_nodes + 1, np.int32), np.zeros(0, object), np.zeros(0, object)
        )
    zpos = np.flatnonzero(kv == 0)
    if len(zpos) != n_nodes:
        return _kv_tags_array_scalar(kv, n_nodes, stab)
    counts = np.diff(np.concatenate(([-1], zpos))) - 1
    if (counts % 2).any():
        raise ValueError(
            f"dense node {int(np.argmax(counts % 2))} of its block has an odd "
            "keys_vals run — malformed PBF block"
        )
    nz = kv[kv != 0]
    keys = stab[nz[0::2]]
    vals = stab[nz[1::2]]
    offsets = np.concatenate(([0], np.cumsum(counts // 2))).astype(np.int32)
    return _tags_list_array(offsets, keys, vals)


def _kv_tags_array_scalar(kv: np.ndarray, n_nodes: int, stab: np.ndarray) -> pa.ListArray:
    """Slow-path keys_vals walk matching PBFInput.java:105-114 exactly:
    only a 0 at a KEY position terminates a node's tag run."""
    key_idx: list[int] = []
    val_idx: list[int] = []
    offsets = np.zeros(n_nodes + 1, np.int64)
    pos = 0
    for i in range(n_nodes):
        while kv[pos] != 0:
            key_idx.append(int(kv[pos]))
            val_idx.append(int(kv[pos + 1]))
            pos += 2
        pos += 1
        offsets[i + 1] = len(key_idx)
    keys = stab[np.array(key_idx, np.int64)] if key_idx else np.zeros(0, object)
    vals = stab[np.array(val_idx, np.int64)] if val_idx else np.zeros(0, object)
    return _tags_list_array(offsets.astype(np.int32), keys, vals)


def _check_counts(kind: str, ids: list, what: str, *counts: np.ndarray) -> None:
    """Per-entity arrays that must pair up (keys/vals, memids/types/
    roles) must have equal lengths: built from the first one's counts
    alone, a mismatch would silently shift every later entity."""
    for c in counts[1:]:
        bad = np.flatnonzero(c != counts[0])
        if len(bad):
            raise ValueError(
                f"{kind} {ids[bad[0]]}: {what} counts differ — malformed PBF block"
            )


def _packed_tags(kind: str, ids: list, key_slices: list, val_slices: list, stab) -> pa.ListArray:
    """Way/relation tags from their raw packed keys/vals payloads."""
    kc, k_counts = _batch_packed(key_slices)
    vc, v_counts = _batch_packed(val_slices)
    _check_counts(kind, ids, "keys and vals", k_counts, v_counts)
    tag_offs = np.concatenate(([0], np.cumsum(k_counts))).astype(np.int32)
    return _tags_list_array(tag_offs, stab[kc.astype(np.int64)], stab[vc.astype(np.int64)])


def _entity_batch(
    kind: str,
    ids: np.ndarray,
    tags: pa.ListArray,
    fixed_lat=None,
    fixed_lon=None,
    node_ids: pa.ListArray | None = None,
    members: pa.ListArray | None = None,
) -> pa.RecordBatch:
    n = len(ids)
    return pa.RecordBatch.from_arrays(
        [
            pa.array([kind] * n, pa.string()),
            pa.array(ids, pa.int64()),
            pa.array(fixed_lat, pa.int32()) if fixed_lat is not None else pa.nulls(n, pa.int32()),
            pa.array(fixed_lon, pa.int32()) if fixed_lon is not None else pa.nulls(n, pa.int32()),
            tags,
            node_ids if node_ids is not None else pa.nulls(n, _PA_REFS),
            members if members is not None else pa.nulls(n, _PA_MEMBERS),
        ],
        schema=_PA_SCHEMA,
    )


def decode_block_arrow(data: bytes):
    """PrimitiveBlock bytes → pa.RecordBatch per entity kind present.

    Dense nodes (the planet's bulk) decode with zero per-entity Python:
    packed varints via ``np_decode_varints``, tag assembly via
    ``_kv_tags_array``, Arrow arrays built directly (no pandas dicts).
    Ways/relations still walk their per-entity protobuf framing but
    batch all string-table takes and list-array construction per block.
    """
    strings: list[str] = []
    groups: list[bytes] = []
    granularity, lat_offset, lon_offset = 100, 0, 0
    for fno, wt, val in _fields(data):
        if fno == 1:
            strings = [s.decode("utf-8") for f2, w2, s in _fields(val) if f2 == 1]
        elif fno == 2:
            groups.append(val)
        elif fno == 17:
            granularity = val
        elif fno == 19:
            lat_offset = val
        elif fno == 20:
            lon_offset = val
    stab = np.array(strings, dtype=object) if strings else np.zeros(0, object)

    batches = []
    for group in groups:
        # ways / relations accumulate RAW packed-field byte slices per
        # block; one numpy pass decodes each column across all entities
        w_ids, w_ref_slices, w_key_slices, w_val_slices = [], [], [], []
        r_ids, r_mem_slices, r_type_slices, r_role_slices = [], [], [], []
        r_key_slices, r_val_slices = [], []
        for fno, wt, val in _fields(group):
            if fno == 2:  # dense nodes — fully vectorized
                ids_p, lats_p, lons_p, kv_p = [], [], [], []
                for f2, w2, v2 in _fields(val):
                    if f2 == 1:
                        _packed_u64(w2, v2, ids_p)
                    elif f2 == 8:
                        _packed_u64(w2, v2, lats_p)
                    elif f2 == 9:
                        _packed_u64(w2, v2, lons_p)
                    elif f2 == 10:
                        _packed_u64(w2, v2, kv_p)
                ids = np.cumsum(np_unzigzag(_cat(ids_p)))
                lats = np.cumsum(np_unzigzag(_cat(lats_p)))
                lons = np.cumsum(np_unzigzag(_cat(lons_p)))
                kv = _cat(kv_p).astype(np.int64)
                batches.append(
                    _entity_batch(
                        "node",
                        ids,
                        _kv_tags_array(kv, len(ids), stab),
                        _fixed_from_raw(lats, granularity, lat_offset),
                        _fixed_from_raw(lons, granularity, lon_offset),
                    )
                )
            elif fno == 1:  # non-dense node (rare)
                nid = nlat = nlon = 0
                kp, vp = [], []
                for f2, w2, v2 in _fields(val):
                    if f2 == 1:
                        nid = np_unzigzag(np.array([v2], np.uint64))[0]
                    elif f2 == 8:
                        nlat = np_unzigzag(np.array([v2], np.uint64))[0]
                    elif f2 == 9:
                        nlon = np_unzigzag(np.array([v2], np.uint64))[0]
                    elif f2 == 2:
                        _packed_u64(w2, v2, kp)
                    elif f2 == 3:
                        _packed_u64(w2, v2, vp)
                kc, vc = _cat(kp).astype(np.int64), _cat(vp).astype(np.int64)
                offs = np.array([0, len(kc)], np.int32)
                batches.append(
                    _entity_batch(
                        "node",
                        np.array([nid], np.int64),
                        _tags_list_array(offs, stab[kc], stab[vc]),
                        _fixed_from_raw(np.array([nlat], np.int64), granularity, lat_offset),
                        _fixed_from_raw(np.array([nlon], np.int64), granularity, lon_offset),
                    )
                )
            elif fno == 3:  # way — slice fields, defer all decoding
                wid = 0
                kb = vb = rb = b""
                for f2, w2, v2 in _fields(val):
                    if f2 == 1:
                        wid = v2
                    elif f2 == 2:
                        kb += v2 if w2 == 2 else _enc_varint(v2)
                    elif f2 == 3:
                        vb += v2 if w2 == 2 else _enc_varint(v2)
                    elif f2 == 8:
                        rb += v2 if w2 == 2 else _enc_varint(v2)
                w_ids.append(wid)
                w_ref_slices.append(rb)
                w_key_slices.append(kb)
                w_val_slices.append(vb)
            elif fno == 4:  # relation — slice fields, defer all decoding
                rid = 0
                kb = vb = rolesb = memb = typesb = b""
                for f2, w2, v2 in _fields(val):
                    if f2 == 1:
                        rid = v2
                    elif f2 == 2:
                        kb += v2 if w2 == 2 else _enc_varint(v2)
                    elif f2 == 3:
                        vb += v2 if w2 == 2 else _enc_varint(v2)
                    elif f2 == 8:
                        rolesb += v2 if w2 == 2 else _enc_varint(v2)
                    elif f2 == 9:
                        memb += v2 if w2 == 2 else _enc_varint(v2)
                    elif f2 == 10:
                        typesb += v2 if w2 == 2 else _enc_varint(v2)
                r_ids.append(rid)
                r_mem_slices.append(memb)
                r_type_slices.append(typesb)
                r_role_slices.append(rolesb)
                r_key_slices.append(kb)
                r_val_slices.append(vb)
        if w_ids:
            ref_vals, ref_counts = _batch_packed(w_ref_slices)
            refs_all = _segmented_delta_cumsum(ref_vals, ref_counts)
            node_ids = pa.ListArray.from_arrays(
                pa.array(np.concatenate(([0], np.cumsum(ref_counts))), pa.int32()),
                pa.array(refs_all, pa.int64()),
            )
            batches.append(
                _entity_batch(
                    "way",
                    np.array(w_ids, np.int64),
                    _packed_tags("way", w_ids, w_key_slices, w_val_slices, stab),
                    node_ids=node_ids,
                )
            )
        if r_ids:
            tnames = np.array(["NODE", "WAY", "RELATION"], dtype=object)
            mem_vals, mem_counts = _batch_packed(r_mem_slices)
            mems = _segmented_delta_cumsum(mem_vals, mem_counts)
            types, type_counts = _batch_packed(r_type_slices)
            roles, role_counts = _batch_packed(r_role_slices)
            _check_counts(
                "relation", r_ids, "memids, types and roles", mem_counts, type_counts, role_counts
            )
            member_struct = pa.StructArray.from_arrays(
                [
                    pa.array(tnames[types.astype(np.int64)], pa.string()),
                    pa.array(mems, pa.int64()),
                    pa.array(stab[roles.astype(np.int64)], pa.string()),
                ],
                names=["type", "member_id", "role"],
            )
            members = pa.ListArray.from_arrays(
                pa.array(np.concatenate(([0], np.cumsum(mem_counts))), pa.int32()),
                member_struct,
            )
            batches.append(
                _entity_batch(
                    "relation",
                    np.array(r_ids, np.int64),
                    _packed_tags("relation", r_ids, r_key_slices, r_val_slices, stab),
                    members=members,
                )
            )
    return batches


# ---------------------------------------------------------------------------
# PrimitiveBlock encode ← Arrow batches
# ---------------------------------------------------------------------------


def _i64(arr) -> np.ndarray:
    return arr.to_numpy(zero_copy_only=False).astype(np.int64)


def _list_flat(col) -> tuple[pa.Array, np.ndarray]:
    """list column → (flattened child array, per-row length; null → 0)."""
    if isinstance(col, pa.ChunkedArray):  # pragma: no cover
        col = col.combine_chunks()
    counts = pc.fill_null(pc.list_value_length(col), 0)
    return col.flatten(), _i64(counts)


def _strs(arr, null_as_empty: bool = False) -> np.ndarray:
    """string array → object ndarray; tag values and member roles encode
    a null as ""."""
    if null_as_empty:
        arr = pc.fill_null(arr, "")
    return arr.to_numpy(zero_copy_only=False)


def _string_table(*cols: np.ndarray) -> tuple[bytes, list[np.ndarray]]:
    """One sorted-unique pass over a block's strings → (stringtable
    message bytes, uint64 codes per input column).

    Codes are 1-based: index 0 holds "" and is RESERVED as the dense
    keys_vals terminator, so no string (not even an empty tag value)
    encodes as code 0 — like the reference's StringTable, whose code map
    never contains the sentinel entry (StringTable.java:20-34)."""
    all_strs = np.concatenate([np.asarray(c, dtype=object) for c in cols])
    if len(all_strs):
        uniq, inv = np.unique(all_strs, return_inverse=True)
        codes = (inv + 1).astype(np.uint64)
        strings = [""] + [str(u) for u in uniq]
    else:
        codes = np.zeros(0, np.uint64)
        strings = [""]
    st = b"".join(_enc_field_bytes(1, s.encode("utf-8")) for s in strings)
    return st, np.split(codes, np.cumsum([len(c) for c in cols])[:-1])


def _seg_deltas(vals: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Delta chains that reset per entity (way refs, relation memids):
    diff globally, then restore the absolute value at each entity's
    first element."""
    deltas = np.diff(vals, prepend=0)
    starts = np.concatenate(([0], np.cumsum(counts)))[:-1][counts > 0]
    deltas[starts] = vals[starts]
    return deltas


def _seg_varint_spans(vals: np.ndarray, counts: np.ndarray):
    """Encode a flattened uint64 column to varints and return
    (buf, lo, hi): per-entity byte spans via cumsum over the entity
    segment lengths."""
    enc, lens = np_encode_varints_with_lens(vals)
    byte_cum = np.concatenate(([0], np.cumsum(lens)))
    starts = np.concatenate(([0], np.cumsum(counts)))[:-1]
    ends = np.cumsum(counts)
    return enc.tobytes(), byte_cum[starts].tolist(), byte_cum[ends].tolist()


def _entity_messages(group_fno: int, ids: np.ndarray, columns: list) -> bytes:
    """Way (group field 3) or relation (4) messages: field 1 is the id,
    then one packed field per (field_no, flat uint64 column, per-entity
    counts) — omitted where the entity's count is 0. Every column
    encodes in ONE varint pass; per-entity Python only slices the
    precomputed buffers into protobuf messages."""
    spans = [(fno, counts.tolist(), *_seg_varint_spans(vals, counts)) for fno, vals, counts in columns]
    msgs = []
    for i, eid in enumerate(ids.tolist()):
        msg = [_enc_field_varint(1, eid)]
        for fno, counts, buf, lo, hi in spans:
            if counts[i]:
                msg.append(_enc_field_bytes(fno, buf[lo[i] : hi[i]]))
        msgs.append(_enc_field_bytes(group_fno, b"".join(msg)))
    return b"".join(msgs)


def _encode_dense_block_arrow(chunk: pa.RecordBatch) -> bytes:
    """Node PrimitiveBlock from an Arrow batch with ZERO per-node
    Python: the 0-terminated keys_vals stream is assembled by
    vectorized scatter of the string-table codes."""
    ids, lats, lons = (_i64(chunk.column(c)) for c in ("id", "fixed_lat", "fixed_lon"))
    tags, counts = _list_flat(chunk.column("tags"))
    st, (kcodes, vcodes) = _string_table(
        _strs(tags.field("key")), _strs(tags.field("value"), null_as_empty=True)
    )
    n_pairs = len(kcodes)

    # keys_vals stream: per node (k, v)*count then a 0 terminator
    pair_offs = np.concatenate(([0], np.cumsum(counts)))
    node_starts = np.concatenate(([0], np.cumsum(2 * counts + 1)))[:-1]
    kv = np.zeros(int(2 * n_pairs + len(ids)), np.uint64)
    if n_pairs:
        j = np.arange(n_pairs)
        node_of_pair = np.searchsorted(pair_offs, j, side="right") - 1
        pos = node_starts[node_of_pair] + 2 * (j - pair_offs[node_of_pair])
        kv[pos] = kcodes
        kv[pos + 1] = vcodes

    dense = (
        _enc_packed(1, np_zigzag(np.diff(ids, prepend=0)))
        + _enc_packed(8, np_zigzag(np.diff(lats, prepend=0)))
        + _enc_packed(9, np_zigzag(np.diff(lons, prepend=0)))
        + _enc_packed(10, kv)
    )
    return _enc_field_bytes(1, st) + _enc_field_bytes(2, _enc_field_bytes(2, dense))


def _encode_way_block_arrow(chunk: pa.RecordBatch) -> bytes:
    """Way PrimitiveBlock from an Arrow batch (keys, vals, per-way-reset
    ref deltas)."""
    refs, ref_counts = _list_flat(chunk.column("node_ids"))
    tags, tag_counts = _list_flat(chunk.column("tags"))
    st, (kcodes, vcodes) = _string_table(
        _strs(tags.field("key")), _strs(tags.field("value"), null_as_empty=True)
    )
    group = _entity_messages(
        3,
        _i64(chunk.column("id")),
        [
            (2, kcodes, tag_counts),
            (3, vcodes, tag_counts),
            (8, np_zigzag(_seg_deltas(_i64(refs), ref_counts)), ref_counts),
        ],
    )
    return _enc_field_bytes(1, st) + _enc_field_bytes(2, group)


def _encode_rel_block_arrow(chunk: pa.RecordBatch) -> bytes:
    """Relation PrimitiveBlock from an Arrow batch (keys, vals, roles,
    per-relation-reset member-id deltas, member types). An unknown
    member type raises: PBF codes only NODE/WAY/RELATION."""
    members, m_counts = _list_flat(chunk.column("members"))
    tags, tag_counts = _list_flat(chunk.column("tags"))
    st, (kcodes, vcodes, rcodes) = _string_table(
        _strs(tags.field("key")),
        _strs(tags.field("value"), null_as_empty=True),
        _strs(members.field("role"), null_as_empty=True),
    )
    mtypes = _strs(members.field("type"))
    tcodes = np.select(
        [mtypes == "NODE", mtypes == "WAY", mtypes == "RELATION"], [0, 1, 2], default=-1
    )
    if (tcodes < 0).any():
        raise ValueError(f"unknown relation member type {mtypes[tcodes < 0][0]!r}")
    deltas = _seg_deltas(_i64(members.field("member_id")), m_counts)
    group = _entity_messages(
        4,
        _i64(chunk.column("id")),
        [
            (2, kcodes, tag_counts),
            (3, vcodes, tag_counts),
            (8, rcodes, m_counts),
            (9, np_zigzag(deltas), m_counts),
            (10, tcodes.astype(np.uint64), m_counts),
        ],
    )
    return _enc_field_bytes(1, st) + _enc_field_bytes(2, group)


DEFLATE_LEVEL = 3  # zlib level: ~6x faster than the default 6 at ~1% worse
# ratio on varint block bytes (measured r06); any level yields a valid PBF —
# readers inflate regardless, so this is a pure encode-speed/size knob.


def _blob_bytes(kind_str: str, block: bytes) -> bytes:
    """block → framed [len][BlobHeader][Blob] bytes (zlib, raw if
    deflate doesn't shrink — PBFOutput.writeOneBlob semantics)."""
    deflated = zlib.compress(block, DEFLATE_LEVEL)
    if len(block) > 0 and len(deflated) < len(block):
        blob = _enc_field_varint(2, len(block)) + _enc_field_bytes(3, deflated)
    else:
        blob = _enc_field_bytes(1, block)
    header = _enc_field_bytes(1, kind_str.encode()) + _enc_field_varint(
        3, len(blob)
    )
    return struct.pack(">I", len(header)) + header + blob


def encode_header_block(writing_program: str = "osm_lib_spark") -> bytes:
    block = _enc_field_bytes(4, b"OsmSchema-V0.6") + _enc_field_bytes(
        4, b"DenseNodes"
    ) + _enc_field_bytes(16, writing_program.encode())
    return _blob_bytes("OSMHeader", block)


# ---------------------------------------------------------------------------
# Spark integration: the block scaffold PBF and VEX share
# ---------------------------------------------------------------------------

ENTITY_SCHEMA = (
    "entity_type string, id long, fixed_lat int, fixed_lon int, "
    "tags array<struct<key:string,value:string>>, node_ids array<long>, "
    "members array<struct<type:string,member_id:long,role:string>>"
)

BLOCK_SIZE = 8000  # PBFOutput.java:128 — ≤8k entities per block

# Task count of a read: never more than one task per BLOBS_PER_TASK
# blocks, but also never more tasks than ~1× cluster parallelism when the
# file is small — measured 0.8s of pure task/Python-worker round-trip
# overhead at 91 tiny tasks on local[32] vs 0.3s at 32.
BLOBS_PER_TASK = 16

_BLOB_SCHEMA = "type_rank int, first_id long, blob binary"
_BLOB_PA_SCHEMA = pa.schema(
    [("type_rank", pa.int32()), ("first_id", pa.int64()), ("blob", pa.binary())]
)
_KINDS = ("node", "way", "relation")  # file order: type-major, like PBFOutput


def read_blocks(spark, rows: list, index_schema: str, decode):
    """Distributed block read → unified entity DataFrame.

    ``rows`` is the driver's header-only block index (it must carry
    path, offset, size and seq columns, named in ``index_schema``).
    Executors seek + read their own blocks via ``mapInArrow`` and hand
    each index row and its raw bytes to ``decode(row, raw)``, which
    returns the block's entities as Arrow RecordBatches.
    """
    dp = spark.sparkContext.defaultParallelism
    n_part = max(1, min(len(rows), max(dp, len(rows) // BLOBS_PER_TASK)))
    idx = spark.createDataFrame(rows, index_schema).repartition(n_part, "seq")

    def read(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for r in batch.to_pylist():  # a handful of index rows per task
                with open(r["path"], "rb") as f:
                    f.seek(r["offset"])
                    raw = f.read(r["size"])
                yield from decode(r, raw)

    return idx.mapInArrow(read, schema=ENTITY_SCHEMA)


def write_blocks(path: str, nodes, ways, relations, encode, header: bytes = b"") -> int:
    """Distributed block sink: encode independent blocks in executors,
    write them to ``path`` in (type, first_id) order.

    Each kind is range-partitioned by id and id-sorted within
    partitions, then every Arrow batch goes to ``encode(kind, batch)``,
    which yields (first_id, framed block bytes). Blocks share NO state,
    so the encode is embarrassingly parallel; the kind-major union of
    range-partitioned, partition-sorted frames is already in file order,
    and only the byte concatenation is sequential
    (``compose_blob_frame``). Returns the number of blocks written.
    """
    from pyspark.sql import functions as F  # noqa: N812

    def encoder(kind: str):
        rank = _KINDS.index(kind)

        def enc(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            for batch in batches:
                for first_id, blob in encode(kind, batch):
                    yield pa.RecordBatch.from_arrays(
                        [
                            pa.array([rank], pa.int32()),
                            pa.array([first_id], pa.int64()),
                            pa.array([blob], pa.binary()),
                        ],
                        schema=_BLOB_PA_SCHEMA,
                    )

        return enc

    parts = []
    for kind, df in zip(_KINDS, (nodes, ways, relations)):
        if df is None:
            continue
        n_part = max(1, min(df.sparkSession.sparkContext.defaultParallelism, 64))
        arranged = df.repartitionByRange(n_part, F.col("id")).sortWithinPartitions("id")
        parts.append(arranged.mapInArrow(encoder(kind), schema=_BLOB_SCHEMA))
    if not parts:
        raise ValueError("nodes, ways and relations are all None — nothing to write")
    blobs = parts[0]
    for p in parts[1:]:
        blobs = blobs.unionByName(p)
    return compose_blob_frame(blobs, path, header=header)


def compose_blob_frame(blobs, path: str, header: bytes = b"") -> int:
    """Write an ordered blob frame to ``path`` multipart-compose style:
    ONE parallel job in which every partition writes its own part file,
    then the driver concatenates parts in partition order.

    The frame must be (type, first_id)-ordered partition-by-partition —
    which the sinks' kind-major union over range-partitioned,
    partition-sorted frames already is — so no orderBy is needed.
    Earlier shapes were strictly worse: ``collect()`` held the whole
    file on the driver, and ``toLocalIterator`` ran one JOB per
    partition (0.04s × 96 partitions of pure scheduling, and the encode
    itself serialized). On an object store the part files are multipart
    PUTs and the concat is the compose call; driver memory stays O(1).
    """
    import shutil
    import tempfile as _tf

    from pyspark.sql import functions as F  # noqa: N812

    out_dir = os.path.dirname(os.path.abspath(path)) or "."
    tmpdir = _tf.mkdtemp(prefix=".blobparts_", dir=out_dir)

    def dump(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        idx = TaskContext.get().partitionId()
        n = 0
        with open(os.path.join(tmpdir, f"part-{idx:08d}"), "wb") as f:
            for batch in batches:
                for b in batch.column("blob").to_pylist():
                    f.write(b)
                    n += 1
        yield pa.RecordBatch.from_arrays([pa.array([n], pa.int64())], names=["n"])

    try:
        total = (
            blobs.mapInArrow(dump, "n long").agg(F.sum("n")).collect()[0][0] or 0
        )
        with open(path, "wb") as outf:
            if header:
                outf.write(header)
            for name in sorted(os.listdir(tmpdir)):
                with open(os.path.join(tmpdir, name), "rb") as pf:
                    shutil.copyfileobj(pf, outf)
    finally:
        shutil.rmtree(tmpdir, ignore_errors=True)
    return int(total)


def _decode_pbf_block(row: dict, raw: bytes) -> list:
    return decode_block_arrow(_inflate_blob(raw))


def read_pbf(spark, path: str):
    """Distributed PBF read → unified entity DataFrame (``read_blocks``
    over the OSMData blobs; the OSMHeader's required features are
    checked on the driver first)."""
    rows = scan_blobs(path)
    with open(path, "rb") as f:
        for _, off, size, kind, _ in rows:
            if kind == "OSMHeader":
                f.seek(off)
                check_header_block(_inflate_blob(f.read(size)))
    return read_blocks(
        spark,
        [r for r in rows if r[3] == "OSMData"],
        "path string, offset long, size long, kind string, seq long",
        _decode_pbf_block,
    )


def pbf_nodes(entities):
    from pyspark.sql import functions as F  # noqa: N812

    return entities.where(F.col("entity_type") == "node").select(
        "id", "fixed_lat", "fixed_lon", "tags"
    )


def pbf_ways(entities):
    from pyspark.sql import functions as F  # noqa: N812

    return entities.where(F.col("entity_type") == "way").select(
        "id", "node_ids", "tags"
    )


def pbf_relations(entities):
    from pyspark.sql import functions as F  # noqa: N812

    return entities.where(F.col("entity_type") == "relation").select(
        "id", "members", "tags"
    )


_BLOCK_ENCODERS = {
    "node": _encode_dense_block_arrow,
    "way": _encode_way_block_arrow,
    "relation": _encode_rel_block_arrow,
}


def _encode_pbf_blocks(kind: str, batch: pa.RecordBatch) -> Iterator[tuple[int, bytes]]:
    """An id-sorted Arrow batch → ≤BLOCK_SIZE-entity framed OSMData blobs."""
    for lo in range(0, batch.num_rows, BLOCK_SIZE):
        chunk = batch.slice(lo, BLOCK_SIZE)
        block = _BLOCK_ENCODERS[kind](chunk)
        yield chunk.column("id")[0].as_py(), _blob_bytes("OSMData", block)


def write_pbf(path: str, nodes, ways, relations) -> int:
    """Distributed PBF sink (``write_blocks`` with the Arrow block
    encoders, after an OSMHeader blob). Returns the number of data
    blobs written."""
    return write_blocks(
        path, nodes, ways, relations, _encode_pbf_blocks, header=encode_header_block()
    )

"""Byte pins for tiles whose features carry decode_tiles' struct ``meta``.

The stream encoder must write, for such tiles, exactly the bytes the
scalar reference codec.encode_layer_from_streams writes when each
feature's metadata is merged into one dict: its struct entries in array
order, then its non-NULL plain metadata columns, a repeated key keeping
its first position and its last value. Two inputs are pinned: the
decode_tiles -> encode_tiles round trip of the seeded tiles of
tests/test_decode_differential.py (every value tag, 0.0 / -0.0, ints
past 2^53), and hand-built struct rows fed to the stream encoder
directly (unsorted key order, a key repeated within one list, a plain
column overriding a struct key, struct and plain tiles in one batch).
"""

import struct

import numpy as np
import pyarrow as pa

from vectortiles_spark.mvt import codec, geometry, wire
from vectortiles_spark.operators.tiling import _encode_stream

from test_decode_differential import _frame, _tile

META_T = pa.list_(pa.struct([
    pa.field("key", pa.string()), pa.field("tag", pa.int32()), pa.field("s", pa.string()),
    pa.field("d", pa.float64()), pa.field("i", pa.int64()), pa.field("b", pa.bool_()),
]))
_FIELD = {
    codec.VAL_STRING: "s", codec.VAL_FLOAT: "d", codec.VAL_DOUBLE: "d",
    codec.VAL_INT: "i", codec.VAL_UINT: "i", codec.VAL_SINT: "i", codec.VAL_BOOL: "b",
}


def _reference_tile(layers) -> bytes:
    """encode_layer_from_streams over {layer: [(fid, meta, gt, stream)]}
    in name order, features in the sink's (geom_type, feature_id) order."""
    return b"".join(
        wire.len_delimited(3, codec.encode_layer_from_streams(name, [
            (fid, meta, gt, np.asarray(st, np.uint32))
            for fid, meta, gt, st in sorted(feats, key=lambda f: (f[2], f[0]))
        ]))
        for name, feats in sorted(layers.items())
    )


def test_decode_encode_roundtrip_bytes_equal_reference(spark):
    from vectortiles_spark.operators import tiling

    rng = np.random.default_rng(20261020)
    tiles = [_tile(rng) for _ in range(60)]
    want, tags, floats, big = [], set(), set(), False
    for t in tiles:
        layers = {}
        for name, layer in codec.decode_tile(t).items():
            feats = layers[name] = []
            for f in layer.features:
                fid = f.feature_id - (1 << 64) if f.feature_id >= 1 << 63 else f.feature_id
                # decode_tiles lists a feature's entries sorted by key
                meta = dict(sorted(f.metadata.items()))
                feats.append((fid, meta, f.geom_type, geometry.geom_to_stream(f.geom_type, f.geom)))
                for tag, v in meta.values():
                    tags.add(tag)
                    if isinstance(v, float):
                        floats.add(struct.pack("<d", v))
                    big |= tag in (codec.VAL_INT, codec.VAL_UINT, codec.VAL_SINT) and abs(v) >= 2**53
            # the sink's sort must see no ties
            assert len({(f[2], f[0]) for f in feats}) == len(feats)
        want.append(_reference_tile(layers))
    # the seeded tiles cover every value tag and the edge values
    assert tags == set(_FIELD) and big
    assert {struct.pack("<d", 0.0), struct.pack("<d", -0.0)} <= floats

    got = {
        r.tile_x: bytes(r.mvt)
        for r in tiling.encode_tiles(tiling.decode_tiles(_frame(spark, tiles))).collect()
    }
    assert sorted(got) == list(range(len(tiles)))
    for i, w in enumerate(want):
        assert got[i] == w, f"tile {i}"


def _entry(key, tag, v):
    return {"key": key, "tag": tag, _FIELD[tag]: v}


def test_hand_built_struct_rows_bytes_equal_reference():
    # (tile_x, layer, geom_type, feature_id, struct entries, plain score)
    rows = [
        # unsorted key order; every value tag; 0.0 / -0.0; ints past 2^53
        (0, "a", 1, 1, [_entry("z", codec.VAL_STRING, "x"), _entry("a", codec.VAL_DOUBLE, -0.0),
                        _entry("m", codec.VAL_FLOAT, 1.5)], None),
        (0, "a", 1, 2, [_entry("m", codec.VAL_FLOAT, 0.0), _entry("a", codec.VAL_DOUBLE, 0.0),
                        _entry("u", codec.VAL_UINT, 2**63 - 1)], None),
        (0, "a", 1, 3, [_entry("n", codec.VAL_INT, -(2**53) - 1), _entry("s", codec.VAL_SINT, -(2**62)),
                        _entry("t", codec.VAL_BOOL, True), _entry("z", codec.VAL_STRING, "x")], None),
        # a key repeated within one list: first position, last value
        (0, "a", 2, 4, [_entry("k", codec.VAL_STRING, "first"), _entry("j", codec.VAL_INT, 2**53 + 1),
                        _entry("k", codec.VAL_STRING, "last")], None),
        # a plain column overriding a struct key, and one whose NULL does not
        (0, "b", 1, 5, [_entry("score", codec.VAL_STRING, "s"), _entry("q", codec.VAL_BOOL, False)], 7),
        (0, "b", 1, 6, [_entry("score", codec.VAL_STRING, "s"), _entry("q", codec.VAL_BOOL, False)], None),
        (0, "b", 1, 7, [], 8),
        # a plain-only tile in the same batch
        (1, "a", 1, 1, [], 9),
        (1, "a", 1, 2, [], None),
        (1, "a", 2, 3, [], 9),
    ]
    n = len(rows)
    batch = pa.record_batch({
        "tile_z": pa.array([3] * n, pa.int32()),
        "tile_x": pa.array([r[0] for r in rows], pa.int32()),
        "tile_y": pa.array([2] * n, pa.int32()),
        "layer": pa.array([r[1] for r in rows]),
        "geom_type": pa.array([r[2] for r in rows], pa.int32()),
        "feature_id": pa.array([r[3] for r in rows], pa.int64()),
        "meta": pa.array([r[4] for r in rows], META_T),
        "geom_cmds": pa.array(
            [[9, 2 * i, 4] + ([10, 2, 2] if r[2] == 2 else []) for i, r in enumerate(rows)],
            pa.list_(pa.int64()),
        ),
        "score": pa.array([r[5] for r in rows], pa.int64()),
    })
    want = {}
    for i, (tx, layer, gt, fid, entries, score) in enumerate(rows):
        meta = {}
        for e in entries:
            meta[e["key"]] = (e["tag"], e[_FIELD[e["tag"]]])
        if score is not None:
            meta["score"] = (codec.VAL_INT, score)
        stream = [9, 2 * i, 4] + ([10, 2, 2] if gt == 2 else [])
        want.setdefault(tx, {}).setdefault(layer, []).append((fid, meta, gt, stream))

    for chunk in (n, 3):  # one batch, and tiles split across batches
        got = {
            rb["tile_x"][i].as_py(): rb["mvt"][i].as_py()
            for rb in _encode_stream(pa.Table.from_batches([batch]).to_batches(max_chunksize=chunk))
            for i in range(rb.num_rows)
        }
        assert got == {tx: _reference_tile(layers) for tx, layers in want.items()}

"""Differential test of the distributed decoder against the codec.

decode_tiles must give, for every tile, the rows codec.decode_tile gives
(one row per feature of each kept layer, in the layer's feature order),
or fail with the same exception type. Tiles are built here from seeded
random draws, so no fixture files are needed, and each seeded tile also
runs as byte-mutated copies, where the malformed-input behaviour of both
paths has to agree. The rule for layers whose extent is not the one
decode_tiles was given is the operator's own: it raises ValueError.
"""

import re
import struct

import numpy as np
import pytest

from vectortiles_spark.mvt import codec, geometry, wire

EXTENT = codec.DEFAULT_EXTENT
NAMES = ["roads", "water", "poi", "labels"]
KEYS = ["class", "name", "rank", "área", "oneway", "z"]


def _value(tag: int, rng) -> tuple:
    """A random Value of one wire tag, drawn with its edge cases."""
    if tag == codec.VAL_STRING:
        return tag, ["", "a", "Zürich", "東京", "x" * 200, f"s{rng.integers(0, 50)}"][rng.integers(0, 6)]
    if tag == codec.VAL_FLOAT:
        pick = [0.0, -0.0, 1.5, float("inf"), -3.25, float(np.float32(rng.normal()))]
        return tag, pick[rng.integers(0, len(pick))]
    if tag == codec.VAL_DOUBLE:
        pick = [0.0, -0.0, 1e300, -2.5e-300, float(2**53 + 1), rng.normal()]
        return tag, pick[rng.integers(0, len(pick))]
    if tag == codec.VAL_INT:
        pick = [0, -1, 2**53 + 1, -(2**53) - 3, 2**62, -(2**63), int(rng.integers(-99, 99))]
        return tag, pick[rng.integers(0, len(pick))]
    if tag == codec.VAL_UINT:
        pick = [0, 1, 2**53 + 1, 2**63 - 1, int(rng.integers(0, 1000))]
        return tag, pick[rng.integers(0, len(pick))]
    if tag == codec.VAL_SINT:
        pick = [0, -1, 1, -(2**62), 2**53 + 5, int(rng.integers(-99, 99))]
        return tag, pick[rng.integers(0, len(pick))]
    return tag, bool(rng.integers(0, 2))


def _stream(gtype: int, rng) -> np.ndarray:
    """A command stream for a geometry type: canonical, or one of the
    shapes decode re-encodes differently (MoveTo with two pairs, an odd
    trailing parameter)."""
    z = lambda a: geometry.zig(np.asarray(a, dtype=np.int64))  # noqa: E731
    kind = rng.integers(0, 6)
    if gtype == geometry.GEOM_POINT:
        if kind == 0:  # odd trailing parameter
            out = [[1 | (2 << 3)], z([3, 4, 7])]
        else:
            k = int(rng.integers(1, 4))
            out = [[1 | (k << 3)], z(rng.integers(-50, 4200, 2 * k))]
    elif gtype == geometry.GEOM_LINESTRING:
        if kind == 0:  # MoveTo declaring two pairs
            out = [[1 | (2 << 3)], z([5, 5, 9, 9]), [2 | (2 << 3)], z([1, 1, 2, 2])]
        else:
            out = []
            for _ in range(rng.integers(1, 3)):
                k = int(rng.integers(1, 4))
                out += [[1 | (1 << 3)], z(rng.integers(-300, 300, 2)),
                        [2 | (k << 3)], z(rng.integers(-300, 300, 2 * k))]
    else:
        if kind == 0:  # MoveTo declaring two pairs
            out = [[1 | (2 << 3)], z([0, 0, 9, 9]), [2 | (2 << 3)], z([40, 0, 0, 40]),
                   [7 | (1 << 3)]]
        else:
            out = []
            for r in range(rng.integers(1, 3)):
                sq = [0, 0, 100, 0, 0, 100] if r == 0 else [0, 0, 0, 20, 20, 0]
                out += [[1 | (1 << 3)], z([10 + r, 10 + r]), [2 | (3 << 3)], z(sq), [7 | (1 << 3)]]
    return np.concatenate([np.asarray(x, dtype=np.int64) for x in out]).astype(np.uint64)


def _feature(fid: int, tags, gtype: int, stream, rng, odd: bool) -> bytes:
    """Feature message; ``odd`` adds wire shapes decode must still read:
    unknown fields, unpacked tags, a trailing odd tag."""
    body = wire.tag_bytes(1, wire.WT_VARINT) + wire.encode_varint(fid)
    tags = list(tags)
    if odd and rng.integers(0, 4) == 0:
        body += wire.len_delimited(8, b"unknown")
    if tags:
        if odd and rng.integers(0, 3) == 0:  # unpacked repeated tags
            body += b"".join(wire.tag_bytes(2, wire.WT_VARINT) + wire.encode_varint(t) for t in tags)
        else:
            if odd and rng.integers(0, 4) == 0:
                tags.append(0)  # odd count: decode drops the last index
            body += wire.packed_uint32(2, np.asarray(tags, dtype=np.uint64))
    body += wire.tag_bytes(3, wire.WT_VARINT) + wire.encode_varint(gtype)
    if odd and rng.integers(0, 4) == 0:
        body += wire.tag_bytes(9, wire.WT_FIXED64) + b"\x01" * 8
    body += wire.packed_uint32(4, stream)
    return wire.len_delimited(2, body)


def _layer(name: str, rng, odd: bool, max_feats: int) -> bytes:
    n_keys = int(rng.integers(0, 5))
    keys = list(rng.choice(KEYS, n_keys, replace=False))
    values = [_value(int(rng.integers(1, 8)), rng) for _ in range(rng.integers(1, 7))]
    if odd and rng.integers(0, 3) == 0:
        values.append((codec.VAL_UINT, 2**64 - 1))  # in the table, never referenced
        n_ref = len(values) - 1
    else:
        n_ref = len(values)
    body = wire.len_delimited(1, name.encode())
    for i in range(int(rng.integers(1, max_feats + 1))):
        gtype = int(rng.integers(1, 4))
        tags = []
        for k in rng.permutation(n_keys)[: rng.integers(0, n_keys + 1)]:
            tags += [int(k), int(rng.integers(0, n_ref))]
        body += _feature(int(rng.integers(0, 2**40)), tags, gtype, _stream(gtype, rng), rng, odd)
    for k in keys:
        body += wire.len_delimited(3, k.encode())
    for tag, v in values:
        body += wire.len_delimited(4, codec.encode_value_bytes(tag, v))
    if odd and rng.integers(0, 4) == 0:
        body += wire.tag_bytes(6, wire.WT_VARINT) + wire.encode_varint(7)  # unknown
    body += wire.tag_bytes(5, wire.WT_VARINT) + wire.encode_varint(EXTENT)
    body += wire.tag_bytes(15, wire.WT_VARINT) + wire.encode_varint(2)
    return wire.len_delimited(3, body)


def _tile(rng) -> bytes:
    odd = bool(rng.integers(0, 2))
    names = list(rng.choice(NAMES, int(rng.integers(1, 4)), replace=False))
    if odd and rng.integers(0, 3) == 0:
        names.append(names[0])  # a repeated layer name: decode keeps the last
    # features per layer: few (below 8 per tile) up to 40
    max_feats = [2, 8, 40][rng.integers(0, 3)]
    return b"".join(_layer(nm, rng, odd, max_feats) for nm in names)


def _mutants(data: bytes, rng, k: int) -> list[bytes]:
    out = []
    for _ in range(k):
        b = bytearray(data)
        b[int(rng.integers(0, len(b)))] = int(rng.integers(0, 256))
        out.append(bytes(b))
    return out


def _norm_meta(entries) -> tuple:
    # floats by bit pattern, so 0.0 and -0.0 stay apart
    return tuple(
        (e["key"], e["tag"], e["s"],
         None if e["d"] is None else struct.pack("<d", e["d"]), e["i"], e["b"])
        for e in entries
    )


def _expected(data: bytes, layers):
    """decode_tile's rows of a tile as {layer: [row, ...]}, or the name of
    the exception type decode_tile (or the extent rule, or a BIGINT value
    range) raises."""
    try:
        decoded = codec.decode_tile(data, layers=layers)
        for raw in codec.parse_raw_tile(data, layers=layers):
            if (raw.extent if raw.extent is not None else EXTENT) != EXTENT:
                raise ValueError("foreign extent")
        out = {}
        for name, layer in decoded.items():
            rows = []
            for f in layer.features:
                meta = []
                for key, (tag, v) in sorted(f.metadata.items()):
                    if tag == codec.VAL_UINT and v >= 2**63:
                        raise OverflowError("UINT beyond BIGINT")
                    meta.append({
                        "key": key, "tag": tag,
                        "s": v if tag == codec.VAL_STRING else None,
                        "d": float(v) if tag in (codec.VAL_FLOAT, codec.VAL_DOUBLE) else None,
                        "i": int(v) if tag in (codec.VAL_INT, codec.VAL_UINT, codec.VAL_SINT) else None,
                        "b": bool(v) if tag == codec.VAL_BOOL else None,
                    })
                fid = f.feature_id - (1 << 64) if f.feature_id >= 1 << 63 else f.feature_id
                rows.append((
                    f.geom_type, fid, _norm_meta(meta),
                    tuple(int(c) for c in geometry.geom_to_stream(f.geom_type, f.geom)),
                ))
            out[name] = rows
        return out
    except Exception as e:  # noqa: BLE001 — the type is the expectation
        return type(e).__name__


def _actual_rows(rows) -> dict:
    """decode_tiles rows of one tile as {layer: [row, ...]} in row order."""
    out: dict = {}
    for r in rows:
        out.setdefault(r.layer, []).append((
            r.geom_type, r.feature_id,
            _norm_meta([e.asDict() for e in r.meta]),
            tuple(r.geom_cmds),
        ))
    return out


def _raised_type(exc: Exception) -> str:
    """The Python exception type a failed Spark job reports."""
    found = re.findall(r"^([A-Za-z_][\w.]*)(?::|$)", str(exc), flags=re.M)
    names = [f.rsplit(".", 1)[-1] for f in found if f.rsplit(".", 1)[-1][:1].isupper()]
    return names[-1] if names else type(exc).__name__


def _frame(spark, tiles):
    return spark.createDataFrame(
        [(1, i, 0, bytearray(t)) for i, t in enumerate(tiles)],
        "tile_z int, tile_x int, tile_y int, mvt binary",
    )


def _check(spark, tiles, layers=None):
    from vectortiles_spark.operators import tiling

    want = [_expected(t, layers) for t in tiles]
    good = [i for i, w in enumerate(want) if isinstance(w, dict)]
    # every tile expected to decode, in one job: the batch path sees
    # clean tiles and per-tile-path tiles side by side in one batch
    got = tiling.decode_tiles(_frame(spark, [tiles[i] for i in good]), layers=layers).collect()
    per_tile: dict = {}
    for r in got:
        per_tile.setdefault(r.tile_x, []).append(r)
    for j, i in enumerate(good):
        assert _actual_rows(per_tile.get(j, [])) == want[i], f"tile {i}"
    # every tile expected to fail, one job each
    for i, w in enumerate(want):
        if isinstance(w, dict):
            continue
        with pytest.raises(Exception) as ei:
            tiling.decode_tiles(_frame(spark, [tiles[i]]), layers=layers).collect()
        assert _raised_type(ei.value) == w, f"tile {i}: {ei.value}"
    return len(good), len(tiles) - len(good)


def test_seeded_tiles_match_decode_tile(spark):
    rng = np.random.default_rng(20261020)
    tiles = [_tile(rng) for _ in range(60)]
    n_ok, n_err = _check(spark, tiles)
    assert n_ok == 60 and n_err == 0
    # both sides of 8 features per tile are covered
    counts = [sum(len(l.features) for l in codec.decode_tile(t).values()) for t in tiles]
    assert min(counts) < 8 < max(counts)


def test_mutated_tiles_match_decode_tile(spark):
    rng = np.random.default_rng(7)
    seeds = [_tile(rng) for _ in range(25)]
    tiles = [m for t in seeds for m in _mutants(t, rng, 4)]
    n_ok, n_err = _check(spark, tiles)
    assert n_ok and n_err  # both outcomes are exercised


def test_selective_decode_matches_decode_tile(spark):
    rng = np.random.default_rng(11)
    seeds = [_tile(rng) for _ in range(20)]
    tiles = seeds + [m for t in seeds[:8] for m in _mutants(t, rng, 2)]
    for layers in (["roads"], ["water", "poi"]):
        _check(spark, tiles, layers=layers)

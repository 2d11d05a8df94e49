"""Tests of the benchmark's own checkers, input generator and tracing helpers.

    python3 -m pytest tilebench/test_tilebench.py -q

The MVT fixtures are the three micro tiles of the vectortiles reference
suite (onepoint.mvt 26 bytes, linestring.mvt 36, polygon.mvt 34),
assembled here byte by byte from the protobuf layout so the test needs
no fixture files.
"""

from __future__ import annotations

import gzip
import os
import struct
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import oracles as O  # noqa: E402
import tracing as tr  # noqa: E402

# Tile{layers: Layer{name, features: [Feature{type, geometry}], extent 4096, version 1}}
ONEPOINT = (
    b"\x1a\x18"
    b"\x0a\x08OnePoint"
    b"\x12\x07" b"\x18\x01" b"\x22\x03\x09\x0a\x0a"
    b"\x28\x80\x20"
    b"\x78\x01"
)
LINESTRING = (
    b"\x1a\x22"
    b"\x0a\x0dOneLineString"
    b"\x12\x0c" b"\x18\x02" b"\x22\x08\x09\x0a\x0a\x0a\xd6\x12\xd6\x12"
    b"\x28\x80\x20"
    b"\x78\x01"
)
POLYGON = (
    b"\x1a\x20"
    b"\x0a\x0aOnePolygon"
    b"\x12\x0d" b"\x18\x03" b"\x22\x09\x09\x04\x04\x12\x06\x04\x05\x04\x0f"
    b"\x28\x80\x20"
    b"\x78\x01"
)


@pytest.mark.parametrize(
    "data, size, name, gtype, stream, parts",
    [
        (ONEPOINT, 26, "OnePoint", 1, [9, 10, 10], [[(5, 5)]]),
        (LINESTRING, 36, "OneLineString", 2, [9, 10, 10, 10, 2390, 2390],
         [[(5, 5), (1200, 1200)]]),
        (POLYGON, 34, "OnePolygon", 3, [9, 4, 4, 18, 6, 4, 5, 4, 15],
         [[(2, 2), (5, 4), (2, 6), (2, 2)]]),
    ],
)
def test_reader_on_reference_micro_tiles(data, size, name, gtype, stream, parts):
    assert len(data) == size
    (layer,) = O.read_tile(data)
    assert (layer["name"], layer["version"], layer["extent"]) == (name, 1, 4096)
    (feat,) = layer["features"]
    assert (feat["id"], feat["type"], feat["tags"]) == (0, gtype, {})
    assert feat["geometry"] == stream
    assert O.geometry_parts(gtype, stream) == parts


def test_command_streams():
    assert O.commands([9, 4, 4, 18, 6, 4, 5, 4, 15]) == [
        (1, [(2, 2)]), (2, [(5, 4), (2, 6)]), (7, []),
    ]
    # one MoveTo with count 3 (multipoint)
    assert O.geometry_parts(1, [25, 4, 4, 6, 6, 3, 3]) == [[(2, 2)], [(5, 5)], [(3, 3)]]
    # two linestrings; the cursor carries over
    assert O.geometry_parts(2, [9, 4, 4, 18, 6, 4, 5, 4, 9, 4, 4, 18, 6, 4, 5, 4]) == [
        [(2, 2), (5, 4), (2, 6)], [(4, 8), (7, 10), (4, 12)],
    ]
    # exterior plus one interior ring
    holed = [9, 4, 4, 26, 6, 0, 0, 6, 5, 0, 15, 9, 2, 3, 26, 0, 2, 2, 0, 0, 1, 15]
    assert O.geometry_parts(3, holed) == [
        [(2, 2), (5, 2), (5, 5), (2, 5), (2, 2)],
        [(3, 3), (3, 4), (4, 4), (4, 3), (3, 3)],
    ]
    with pytest.raises(ValueError):
        O.commands([9, 4])  # MoveTo missing its y
    with pytest.raises(ValueError):
        O.commands([11])  # command 3 does not exist


def test_zigzag_and_varints():
    edge = [0, -1, 1, -2, 2, -3, 3, 2147483647, -2147483648]
    assert [O.zigzag_encode(n) for n in edge[:5]] == [0, 1, 2, 3, 4]
    assert [O.zigzag_decode(O.zigzag_encode(n)) for n in edge] == edge
    assert O.read_varint(b"\xac\x02", 0) == (300, 2)
    with pytest.raises(ValueError):
        O.read_varint(b"\xac", 0)


def test_tag_tables_and_value_types():
    values = [
        b"\x0a\x01a",                                   # string
        b"\x15" + struct.pack("<f", 0.5),               # float
        b"\x19" + struct.pack("<d", 1.5),               # double
        b"\x20\x07",                                    # int64
        b"\x28\x09",                                    # uint64
        b"\x30\x05",                                    # sint64 -3
        b"\x38\x01",                                    # bool
    ]
    keys = [b"k%d" % i for i in range(len(values))]
    tags = []
    for i in range(len(values)):
        tags += [i, i]
    feature = b"\x08\x2a" + b"\x12" + bytes([len(tags)]) + bytes(tags) + b"\x18\x01\x22\x03\x09\x02\x02"
    layer = b"\x0a\x01L" + b"\x12" + bytes([len(feature)]) + feature
    for k in keys:
        layer += b"\x1a" + bytes([len(k)]) + k
    for v in values:
        layer += b"\x22" + bytes([len(v)]) + v
    tile = b"\x1a" + bytes([len(layer)]) + layer
    (lay,) = O.read_tile(tile)
    (f,) = lay["features"]
    assert f["id"] == 42
    assert f["tags"] == {"k0": "a", "k1": 0.5, "k2": 1.5, "k3": 7, "k4": 9, "k5": -3, "k6": True}


def test_pmtiles_tile_ids():
    # spec anchors; zoom bases are (4^z - 1) / 3
    assert [O.tileid_to_zxy(i) for i in range(6)] == [
        (0, 0, 0), (1, 0, 0), (1, 0, 1), (1, 1, 1), (1, 1, 0), (2, 0, 0),
    ]
    z, base = 4, (4 ** 4 - 1) // 3
    cells = [O.tileid_to_zxy(base + d)[1:] for d in range(4 ** z)]
    assert len(set(cells)) == 4 ** z
    steps = [abs(a[0] - b[0]) + abs(a[1] - b[1]) for a, b in zip(cells, cells[1:])]
    assert set(steps) == {1}  # a Hilbert curve moves to a grid neighbour


def _varints(vals):
    out = bytearray()
    for v in vals:
        while v >= 0x80:
            out.append((v & 0x7F) | 0x80)
            v >>= 7
        out.append(v)
    return bytes(out)


def _directory(entries):
    """entries: [(tile_id, run, length, offset)] sorted by id."""
    ids = [e[0] for e in entries]
    deltas = [ids[0]] + [b - a for a, b in zip(ids, ids[1:])]
    offs, prev_end = [], None
    for _tid, _run, ln, off in entries:
        offs.append(0 if prev_end == off else off + 1)
        prev_end = off + ln
    return _varints([len(entries), *deltas, *[e[1] for e in entries],
                     *[e[2] for e in entries], *offs])


def test_pmtiles_reader(tmp_path):
    blobs = [b"tile-zero", b"tile-one!", b"shared"]
    data = b"".join(gzip.compress(b, mtime=0) for b in blobs)
    lens = [len(gzip.compress(b, mtime=0)) for b in blobs]
    offs = [0, lens[0], lens[0] + lens[1]]
    # ids 3 and 4 share one blob through a run of 2; id 2 sits in a leaf
    leaf = gzip.compress(_directory([(2, 1, lens[1], offs[1])]), mtime=0)
    root = gzip.compress(_directory([
        (0, 1, lens[0], offs[0]), (2, 0, len(leaf), 0), (3, 2, lens[2], offs[2]),
    ]), mtime=0)
    meta = gzip.compress(b'{"name": "t"}', mtime=0)
    root_off = 127
    meta_off = root_off + len(root)
    leaf_off = meta_off + len(meta)
    data_off = leaf_off + len(leaf)
    header = struct.pack(
        "<7sB11Q6B4iBii", b"PMTiles", 3,
        root_off, len(root), meta_off, len(meta), leaf_off, len(leaf),
        data_off, len(data), 4, 3, 3,
        1, 2, 2, 1, 0, 1, 0, 0, 0, 0, 0, 0, 0,
    )
    path = tmp_path / "t.pmtiles"
    path.write_bytes(header + root + meta + leaf + data)
    hdr, metadata, tiles = O.read_pmtiles(str(path))
    assert metadata == {"name": "t"}
    assert hdr["n_addressed"] == 4
    assert tiles == {
        (0, 0, 0): b"tile-zero", (1, 0, 1): b"tile-one!",
        (1, 1, 1): b"shared", (1, 1, 0): b"shared",
    }


def test_mercator_pixels_and_ambiguity():
    rng = np.random.default_rng(0)
    lat = rng.uniform(-80, 80, 1000)
    lon = rng.uniform(-180, 180, 1000)
    gx, gy = O.mercator_pixels(lon, lat, 12)
    world = 4096.0 * 4096
    # the same projection in its asinh(tan(phi)) form
    gy2 = (1 - np.arcsinh(np.tan(np.radians(lat))) / np.pi) / 2 * world
    assert np.allclose(gy, gy2, rtol=0, atol=1e-6)
    assert np.allclose(gx, (lon + 180) / 360 * world, rtol=0, atol=1e-6)
    tx, ty, px, py, amb = O.tile_pixel(lon, lat, 12)
    assert (tx * 4096 + px == np.floor(gx)).all() and (ty * 4096 + py == np.floor(gy)).all()
    assert ((0 <= px) & (px < 4096) & (0 <= py) & (py < 4096)).all()
    # lon -90 at z=1 falls exactly on a pixel edge: undecidable
    *_, amb_edge = O.tile_pixel(np.array([-90.0]), np.array([10.0]), 1)
    assert amb_edge.all() and not amb.any()
    assert O.tile_range(-1.0, -1.0, 1.0, 1.0, 1) == (0, 1, 0, 1)


def test_ray_cast_with_holes():
    sq = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], float)
    hole = np.array([[1, 1], [1, 3], [3, 3], [3, 1], [1, 1]], float)
    px = np.array([0.5, 2.0, 5.0, 3.5, -0.1])
    py = np.array([0.5, 2.0, 2.0, 3.5, 2.0])
    assert O.ray_cast(px, py, [sq, hole]).tolist() == [True, False, False, True, False]
    # concave "U": two arms over a base, the notch between them is outside
    u = np.array([[0, 0], [3, 0], [3, 3], [2, 3], [2, 1], [1, 1], [1, 3], [0, 3], [0, 0]], float)
    got = O.ray_cast(np.array([0.5, 1.5, 2.5, 1.5]), np.array([2.0, 2.0, 2.0, 0.5]), [u])
    assert got.tolist() == [True, False, True, True]
    near = O.near_edge(np.array([2.0, 2.0]), np.array([1e-12, 0.5]), [sq], 1e-9)
    assert near.tolist() == [True, False]


def test_match_polygons_on_generated_set():
    polys = gen.polygons(3)
    assert len(polys) == len(gen.METROS) + gen.N_WORLD_POLYGONS
    assert any(len(r) > 1 for _, r in polys)
    rng = np.random.default_rng(1)
    lon = rng.uniform(-180, 180, 20000)
    lat = rng.uniform(-80, 80, 20000)
    owner, amb = O.match_polygons(lon, lat, polys)  # raises on overlap
    assert (owner >= 0).sum() > 0 and not amb.any()
    for _pid, rings in polys:
        for hole in rings[1:]:
            # every hole vertex lies inside its exterior
            assert O.ray_cast(hole[:, 0], hole[:, 1], rings[:1]).all()


def test_cap_keeps_smallest_ids_per_tile():
    rng = np.random.default_rng(2)
    ids = rng.permutation(5000).astype(np.int64)
    tiles = rng.integers(0, 7, 5000)
    keep = O.cap_smallest(ids, tiles, 100)
    for t in range(7):
        mine = np.sort(ids[(tiles == t)])[:100]
        assert sorted(ids[keep & (tiles == t)].tolist()) == mine.tolist()


def test_overzoom_point_arithmetic():
    assert O.overzoom_point(0, 0) == (0, 0, 0, 0)
    assert O.overzoom_point(2047, 2048) == (0, 1, 4094, 0)
    assert O.overzoom_point(4095, 1) == (1, 0, 4094, 2)


def test_generator_is_seeded():
    a, b, c = gen.images(5, 2000), gen.images(5, 2000), gen.images(6, 2000)
    assert a.equals(b) and not a.equals(c)
    keys = a.column("image_key").to_numpy()
    assert len(np.unique(keys)) == len(keys) and (keys > 0).all()
    lon = a.column("lon").to_numpy()
    lat = a.column("lat").to_numpy()
    near = np.min(np.hypot(lon[:, None] - gen.METROS[:, 0], lat[:, None] - gen.METROS[:, 1]), axis=1)
    assert 0.7 < (near < 0.5).mean() < 0.9  # the metro share
    f1, lo1, la1 = gen.polylines(5, 50, 16, 0.02)
    f2, lo2, la2 = gen.polylines(5, 50, 16, 0.02)
    assert (f1 == f2).all() and (lo1 == lo2).all() and (la1 == la2).all()


# ------------------------------------------------------------- tracing helpers


def test_parse_metric_reads_spark_formats():
    assert tr.parse_metric("200,000") == 200000
    assert tr.parse_metric("24 ms") == pytest.approx(0.024)
    assert tr.parse_metric(
        "total (min, med, max (stageId: taskId))\n2.6 s (620 ms, 668 ms, 680 ms (stage 0.0: task 0))"
    ) == pytest.approx(2.6)
    assert tr.parse_metric("3.1 MiB") == pytest.approx(3.1 * 2**20)
    assert tr.parse_metric("1.5 m") == pytest.approx(90.0)
    with pytest.raises(ValueError):
        tr.parse_metric("n/a")


def test_union_seconds_merges_overlapping_stages():
    assert tr.union_seconds([]) == 0
    assert tr.union_seconds([(0, 1000), (500, 1500), (3000, 3500)]) == pytest.approx(2.0)


def test_span_self_times_add_up_to_the_root():
    spans = tr.Spans("t")
    with spans.span("pass") as root:
        with spans.span("a"):
            with spans.span("b"):
                pass
        with spans.span("c"):
            pass
    selfs = spans.self_times(root["id"])
    assert set(selfs) == {"pass", "a", "b", "c"}
    assert sum(selfs.values()) == pytest.approx(root["end"] - root["start"], abs=1e-9)
    assert spans.find("b", root["id"])["parent"] == spans.find("a", root["id"])["id"]

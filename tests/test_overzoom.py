"""Overzoom: parent-blob -> child-tile derivation.

Exactness policy: point geometry is pure integer doubling, so child
blobs are BYTE-compared against hand-built expected tiles; line/polygon
children go through the float clip kernels, so they are checked by
conservation laws (clipped-parent area x4 / length x2) and piece
placement, plus decode-cleanliness of every emitted blob.
"""

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from vectortiles_spark.mvt import codec, wire
from vectortiles_spark.mvt.geometry import GEOM_LINESTRING, GEOM_POINT, GEOM_POLYGON
from vectortiles_spark.operators.clip import clip_polygon_exact, clip_polyline
from vectortiles_spark.operators.overzoom import overzoom_blob, overzoom_tiles
from vectortiles_spark.operators.tiling import _encode_stream

ROADS = "/root/reference/test/roads.mvt"


def _feat(fid, gt, geom, meta=None):
    return codec.Feature(fid, meta or {}, gt, geom)


def _pts_layer(name, pts_by_fid):
    lay = codec.Layer(name)
    for fid, pts in pts_by_fid:
        lay.features.append(_feat(fid, GEOM_POINT, np.asarray(pts, np.int64)))
    return lay


def test_points_byte_exact_vs_handbuilt_children():
    """levels=1 point overzoom equals encoding the doubled coordinates
    directly, byte for byte, per child."""
    parent = codec.encode_tile([_pts_layer("pts", [
        (1, [[100, 200]]),          # -> child (0,0) at (200, 400)
        (2, [[3000, 100]]),         # -> child (1,0) at (1904, 200)
        (3, [[100, 3000]]),         # -> child (0,1)
        (4, [[3000, 3000]]),        # -> child (1,1)
        (5, [[1023, 1024], [3000, 3000]]),  # multipoint SPLITS across children
    ])])
    got = {(dx, dy): blob for dx, dy, blob, _, _ in overzoom_blob(parent)}
    want = {
        (0, 0): [(1, [[200, 400]]), (5, [[2046, 2048]])],
        (1, 0): [(2, [[1904, 200]])],
        (0, 1): [(3, [[200, 1904]])],
        (1, 1): [(4, [[1904, 1904]]), (5, [[1904, 1904]])],
    }
    assert set(got) == set(want)
    for k, feats in want.items():
        assert got[k] == codec.encode_tile([_pts_layer("pts", feats)]), k


def test_point_edge_ownership_high_edge_open_interior():
    """Scaled coordinate exactly on the interior child boundary (px=2048
    -> 4096) belongs to the HIGH child at local 0, never both."""
    parent = codec.encode_tile([_pts_layer("pts", [(1, [[2048, 2048]])])])
    kids = overzoom_blob(parent)
    assert [(dx, dy) for dx, dy, *_ in kids] == [(1, 1)]
    t = codec.decode_tile(kids[0][2])
    assert t["pts"].features[0].geom.tolist() == [[0, 0]]


def test_point_buffer_semantics():
    """Parent-buffer geometry (coords outside [0, extent)) drops at
    buffer_px=0 and is preserved child-locally when the buffer covers it;
    interior-boundary points duplicate into the overlap band."""
    parent = codec.encode_tile([_pts_layer("pts", [(1, [[-3, 10]]), (2, [[100, 100]])])])
    kids0 = {k[:2]: codec.decode_tile(k[2]) for k in overzoom_blob(parent)}
    assert set(kids0) == {(0, 0)}
    assert [f.feature_id for f in kids0[(0, 0)]["pts"].features] == [2]
    kids8 = {k[:2]: codec.decode_tile(k[2]) for k in overzoom_blob(parent, buffer_px=8)}
    assert [f.feature_id for f in kids8[(0, 0)]["pts"].features] == [1, 2]
    assert kids8[(0, 0)]["pts"].features[0].geom.tolist() == [[-6, 20]]
    # duplication in the overlap band: a point 2px from the boundary
    near = codec.encode_tile([_pts_layer("pts", [(9, [[2049, 100]])])])
    dup = {k[:2] for k in overzoom_blob(near, buffer_px=8)}
    assert dup == {(0, 0), (1, 0)}


def test_levels_two_hops_equal_one_call_for_points():
    """Integer point scaling is exact, so levels=2 must equal two
    levels=1 hops byte-for-byte."""
    rng = np.random.default_rng(5)
    pts = [(int(i) + 1, [[int(x), int(y)]])
           for i, (x, y) in enumerate(rng.integers(0, 4096, (40, 2)))]
    parent = codec.encode_tile([_pts_layer("pts", pts)])
    once = {}
    for dx, dy, blob, _, _ in overzoom_blob(parent, levels=1):
        for ddx, ddy, blob2, _, _ in overzoom_blob(blob, levels=1):
            once[(2 * dx + ddx, 2 * dy + ddy)] = blob2
    twice = {(dx, dy): blob for dx, dy, blob, _, _ in overzoom_blob(parent, levels=2)}
    assert once == twice and len(twice) >= 4


def test_line_split_pieces_and_polygon_hole():
    """A line crossing the child boundary emits a piece in each child
    with the cut point on the shared edge; a polygon with a hole spanning
    all four children keeps hole parity everywhere."""
    lay = codec.Layer("g")
    lay.features.append(_feat(1, GEOM_LINESTRING, [np.array([[1000, 1000], [3000, 1000]])]))
    ring_o = np.array([[500, 500], [3500, 500], [3500, 3500], [500, 3500], [500, 500]])
    ring_h = np.array([[1500, 1500], [1500, 2500], [2500, 2500], [2500, 1500], [1500, 1500]])
    lay.features.append(_feat(2, GEOM_POLYGON, [[ring_o, ring_h]]))
    kids = {k[:2]: codec.decode_tile(k[2]) for k in overzoom_blob(codec.encode_tile([lay]))}
    assert set(kids) == {(0, 0), (1, 0), (0, 1), (1, 1)}
    left = kids[(0, 0)]["g"].features[0]
    right = kids[(1, 0)]["g"].features[0]
    assert left.geom_type == GEOM_LINESTRING
    assert left.geom[0].tolist() == [[2000, 2000], [4096, 2000]]
    assert right.geom[0].tolist() == [[0, 2000], [1904, 2000]]
    # the hole straddles every child cut, so each child gets ONE notched
    # exterior ring (the hole boundary merges with the cut edge) and the
    # total area is exact: 4 x (exterior - hole), all-integer cuts
    total = 0.0
    for k, t in kids.items():
        poly = [f for f in t["g"].features if f.geom_type == GEOM_POLYGON]
        assert len(poly) == 1 and len(poly[0].geom) == 1
        assert len(poly[0].geom[0]) == 1, k
        total += sum(_ring_area(r) for r in poly[0].geom[0])
    assert total == 4 * (3000 * 3000 - 1000 * 1000)


def _ring_area(r):
    r = np.asarray(r, float)
    x, y = r[:, 0], r[:, 1]
    return (np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1))) / 2


def test_roads_conservation_vs_clipped_parent():
    """Real multi-layer tile: children's total polygon area and line
    length equal the parent's EXTENT-CLIPPED geometry scaled by 4x / 2x,
    to integer-rounding tolerance; feature counts never exceed the split
    upper bound; every child decodes."""
    raw = open(ROADS, "rb").read()
    parent = codec.decode_tile(raw)
    area = length = 0.0
    for lay in parent.values():
        for f in lay.features:
            if f.geom_type == GEOM_POLYGON:
                for poly in f.geom:
                    rings = [np.asarray(r, float)[:-1] for r in poly]
                    for piece in clip_polygon_exact(rings, 0, 0, 4096, 4096):
                        area += sum(_ring_area(np.vstack([r, r[:1]])) for r in piece)
            elif f.geom_type == GEOM_LINESTRING:
                for p in f.geom:
                    for piece in clip_polyline(np.asarray(p, float), 0, 0, 4096, 4096):
                        length += np.hypot(*(np.diff(piece, axis=0).T)).sum()
    kids = overzoom_blob(raw)
    carea = clength = 0.0
    for _, _, blob, nf, nl in kids:
        t = codec.decode_tile(blob)
        assert sum(len(l.features) for l in t.values()) == nf and len(t) == nl
        for lay in t.values():
            for f in lay.features:
                if f.geom_type == GEOM_POLYGON:
                    for poly in f.geom:
                        carea += sum(_ring_area(r) for r in poly)
                elif f.geom_type == GEOM_LINESTRING:
                    for p in f.geom:
                        clength += np.hypot(*(np.diff(np.asarray(p, float), axis=0).T)).sum()
    assert abs(carea / (4 * area) - 1) < 1e-4
    assert abs(clength / (2 * length) - 1) < 1e-4


def test_overzoom_validation_and_malformed():
    from vectortiles_spark.operators.overzoom import overzoom_blob_scalar

    parent = codec.encode_tile([_pts_layer("p", [(1, [[5, 5]])])])
    with pytest.raises(ValueError, match="levels"):
        overzoom_blob(parent, levels=0)
    # a negative buffer would shrink every child box and drop the points
    # on its edge (x = 2047 -> 4094 lies outside [0, 4096 - 8])
    edge = codec.encode_tile([_pts_layer("p", [(1, [[2047, 5]]), (2, [[5, 5]])])])
    for fn in (overzoom_blob, overzoom_blob_scalar):
        with pytest.raises(ValueError, match="buffer_px"):
            fn(edge, buffer_px=-8)
    with pytest.raises(ValueError, match="buffer_px"):
        overzoom_tiles(None, buffer_px=-8)  # checked on the driver, before any job
    with pytest.raises(ValueError):
        overzoom_blob(b"not a tile")
    with pytest.raises(ValueError):
        overzoom_blob(parent[: len(parent) // 2])


def test_overzoom_tiles_distributed_equals_core_zero_shuffle(spark):
    """The DataFrame operator: per-row equality with overzoom_blob, child
    keys offset by the parent key, and NO exchange in the plan."""
    from vectortiles_spark.operators import tiling
    from vectortiles_spark.sources.synth import images_df

    imgs = images_df(spark, 400, seed=41)
    parents = tiling.encode_tiles(
        tiling.point_features(
            imgs, z=7, layer="images", feature_id=F.xxhash64("image_id"),
            meta={"caption": F.col("caption")},
        )
    ).cache()
    out = overzoom_tiles(parents, levels=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan.split("InMemoryTableScan")[0]
    got = {(r.tile_z, r.tile_x, r.tile_y): (bytes(r.mvt), r.n_features, r.n_layers)
           for r in out.collect()}
    want = {}
    for p in parents.collect():
        for dx, dy, blob, nf, nl in overzoom_blob(bytes(p.mvt)):
            want[(p.tile_z + 1, 2 * p.tile_x + dx, 2 * p.tile_y + dy)] = (blob, nf, nl)
    assert got == want and len(got) > len([None for _ in parents.collect()])


def test_polygon_hole_interior_to_one_child_preserved():
    """A hole that lands strictly inside one child survives as a real
    hole ring (negative area), not a notch."""
    lay = codec.Layer("g")
    ring_o = np.array([[200, 200], [1800, 200], [1800, 1800], [200, 1800], [200, 200]])
    ring_h = np.array([[600, 600], [600, 1000], [1000, 1000], [1000, 600], [600, 600]])
    lay.features.append(_feat(1, GEOM_POLYGON, [[ring_o, ring_h]]))
    kids = {k[:2]: codec.decode_tile(k[2]) for k in overzoom_blob(codec.encode_tile([lay]))}
    assert set(kids) == {(0, 0)}
    (f,) = kids[(0, 0)]["g"].features
    assert len(f.geom) == 1 and len(f.geom[0]) == 2
    areas = sorted(_ring_area(r) for r in f.geom[0])
    assert areas == [-800 * 800, 3200 * 3200]


# ------------------------------------------------- batched kernel differential


def _roads() -> bytes:
    # read when a roads case runs, not at collection: the other cases must
    # still collect and run where the reference fixture is absent
    with open(ROADS, "rb") as f:
        return f.read()


def _sink_tile(rows) -> bytes:
    """One tile written by the tile sink's stream encoder (the kernel):
    rows of (feature_id, [x, y], caption, score), layer "im"."""
    n = len(rows)
    (out,) = _encode_stream(iter([pa.record_batch({
        "tile_z": pa.array([5] * n, pa.int32()), "tile_x": pa.array([1] * n, pa.int32()),
        "tile_y": pa.array([2] * n, pa.int32()), "layer": pa.array(["im"] * n),
        "geom_type": pa.array([GEOM_POINT] * n, pa.int32()),
        "feature_id": pa.array([r[0] for r in rows], pa.int64()),
        "geom_cmds": pa.array([[9, x << 1, y << 1] for _, (x, y), _, _ in rows],
                              pa.list_(pa.int64())),
        "caption": pa.array([r[2] for r in rows], pa.string()),
        "score": pa.array([r[3] for r in rows], pa.int64()),
    })]))
    return out["mvt"][0].as_py()


def _sink_two_key(n=320, seed=3):
    """The point sink's shape: every feature carries a string and an int
    key; > 128 distinct values push value indices past one varint byte."""
    rng = np.random.default_rng(seed)
    return _sink_tile([
        (i + 1, rng.integers(0, 4096, 2).tolist(), f"caption {i}", int(i % 3))
        for i in range(n)
    ])


def _null_first_key():
    """Sink tile whose first feature has a NULL caption: keys come out
    (score, caption), so later features carry decreasing key indices
    [1, v, 0, w]; the kernel takes each feature's pairs in wire order."""
    rng = np.random.default_rng(4)
    return _sink_tile([
        (i + 1, rng.integers(0, 4096, 2).tolist(), None if i == 0 else f"c{i % 7}", i % 4)
        for i in range(40)
    ])


def _sparse_first_key(n=320, seed=5):
    """Two-key sink tile with about half of the first column NULL, the
    first feature's included: keys come out (score, caption), and the
    features with a caption carry decreasing key indices throughout."""
    rng = np.random.default_rng(seed)
    return _sink_tile([
        (i + 1, rng.integers(0, 4096, 2).tolist(),
         None if i == 0 or rng.random() < 0.5 else f"caption {i % 150}", int(i % 5))
        for i in range(n)
    ])


def _repeated_key():
    """Hand-built layer with a feature tagged [0, 0, 0, 1]: key 0 twice;
    decode_tile keeps the last value."""
    feats = b""
    for fid, tags, (x, y) in ((1, [0, 0, 0, 1], (10, 10)), (2, [0, 1], (3000, 40))):
        body = wire.tag_bytes(1, wire.WT_VARINT) + wire.encode_varint(fid)
        body += wire.packed_uint32(2, np.array(tags, np.uint32))
        body += wire.tag_bytes(3, wire.WT_VARINT) + wire.encode_varint(GEOM_POINT)
        body += wire.packed_uint32(4, np.array([9, x << 1, y << 1], np.uint32))
        feats += wire.len_delimited(2, body)
    layer = (
        wire.len_delimited(1, b"rk") + feats + wire.len_delimited(3, b"k")
        + wire.len_delimited(4, codec.encode_value_bytes(codec.VAL_STRING, "a"))
        + wire.len_delimited(4, codec.encode_value_bytes(codec.VAL_STRING, "b"))
        + wire.tag_bytes(5, wire.WT_VARINT) + wire.encode_varint(4096)
        + wire.tag_bytes(15, wire.WT_VARINT) + wire.encode_varint(2)
    )
    return wire.len_delimited(3, layer)


def _two_key_mixed():
    lay = codec.Layer("mixed")
    ring = np.array([[500, 500], [3500, 500], [3500, 3500], [500, 3500], [500, 500]])
    geoms = [
        (GEOM_POINT, np.array([[100, 100]], np.int64)),
        (GEOM_POINT, np.array([[3000, 3000], [1000, 3900]], np.int64)),
        (GEOM_LINESTRING, [np.array([[100, 2000], [4000, 2100]])]),
        (GEOM_POLYGON, [[ring]]),
        (GEOM_POINT, np.array([[2048, 2048]], np.int64)),
    ]
    for i, (gt, geom) in enumerate(geoms):
        lay.features.append(_feat(
            i + 1, gt, geom, {"name": (1, f"n{i % 2}"), "rank": (5, i % 3)}
        ))
    return lay


def _diff_cases():
    rng = np.random.default_rng(1)
    lay = codec.Layer("pts")
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    for i in range(1500):
        lay.features.append(_feat(
            i + 1, GEOM_POINT,
            np.array([[rng.integers(0, 4096), rng.integers(0, 4096)]], np.int64),
            {"segment": (1, segs[i % 5])},
        ))
    dense = codec.encode_tile([lay])
    mix = codec.Layer("mix")
    mix.features.append(_feat(1, GEOM_POINT, np.array([[10, 10]], np.int64), {"a": (1, "x")}))
    mix.features.append(_feat(2, GEOM_POINT, np.array([[3000, 3000]], np.int64), {"b": (5, 7)}))
    nums = codec.Layer("nums")
    for i in range(50):
        nums.features.append(_feat(
            i + 1, GEOM_POINT, np.array([[i * 80, i * 80]], np.int64),
            {"d": (3, float(i % 7)), "i": (5, i % 3), "b8": (7, bool(i % 2))},
        ))
    nometa = codec.Layer("nm")
    for i in range(60):
        nometa.features.append(_feat(i + 1, GEOM_POINT, np.array([[i * 60, i * 60]], np.int64)))
    mp = codec.Layer("mp")
    mp.features.append(_feat(
        1, GEOM_POINT, np.array([[100, 100], [3000, 3000], [3050, 90]], np.int64),
        {"s": (1, "m")},
    ))
    mp.features.append(_feat(2, GEOM_POINT, np.array([[200, 200]], np.int64), {"s": (1, "n")}))
    return {
        "sink-two-key": (_sink_two_key(), 1, 0),
        "sink-two-key-buf": (_sink_two_key(), 1, 8),
        "null-first-key": (_null_first_key(), 1, 0),
        "sparse-first-key": (_sparse_first_key(), 1, 0),
        "repeated-key": (_repeated_key(), 1, 0),
        "two-key-mixed-geoms": (codec.encode_tile([_two_key_mixed()]), 1, 0),
        "roads-l1": (_roads, 1, 0),
        "roads-l2": (_roads, 2, 0),
        "roads-buf": (_roads, 1, 32),
        "dense-pts": (dense, 1, 0),
        "hetero-meta": (codec.encode_tile([mix]), 1, 0),
        "three-key": (codec.encode_tile([nums]), 1, 0),
        "no-meta": (codec.encode_tile([nometa]), 1, 0),
        "multipoint-split": (codec.encode_tile([mp]), 1, 0),
        "multilayer": (codec.encode_tile([lay, nums, nometa]), 1, 0),
    }


@pytest.mark.parametrize("case", sorted(_diff_cases()))
def test_batched_kernel_byte_identical_to_scalar(case):
    """overzoom_blob (vectorized encode_multi_tile_batch lane + scalar
    fallback) must emit byte-identical children to the pure object path,
    across metadata shapes, levels, buffers, and lane mixes."""
    from vectortiles_spark.operators.overzoom import overzoom_blob_scalar

    blob, levels, buf = _diff_cases()[case]
    if callable(blob):
        blob = blob()
    a = overzoom_blob(blob, levels, buf)
    c = overzoom_blob_scalar(blob, levels, buf)
    assert [x[:2] + x[3:] for x in a] == [x[:2] + x[3:] for x in c]
    assert [x[2] for x in a] == [x[2] for x in c]


def test_two_key_sink_parents_stay_on_vectorized_lane(monkeypatch):
    """Point-sink parents with two keys (small ones the wire parser reads
    feature by feature, and big ones it reads as a batch, with NULLs in
    the first column too) never reach the scalar twin, and still match it
    byte for byte; a parent the gate rejects (a key repeated within one
    feature) does reach it."""
    from vectortiles_spark.operators import overzoom

    rng = np.random.default_rng(8)
    parents = [_sink_two_key(n, seed=n) for n in (1, 3, 7, 40, 320)]
    parents.append(_sink_tile([
        (i + 1, rng.integers(0, 4096, 2).tolist(), "same", 0) for i in range(20)
    ]))
    parents += [_null_first_key(), _sparse_first_key()]
    want = [overzoom.overzoom_blob_scalar(p) for p in parents]

    def fallback(*args, **kwargs):
        raise AssertionError("scalar fallback reached")

    monkeypatch.setattr(overzoom, "overzoom_blob_scalar", fallback)
    assert [overzoom_blob(p) for p in parents] == want
    with pytest.raises(AssertionError, match="fallback"):
        overzoom_blob(_repeated_key())


def test_overzoom_tiles_null_mvt_names_the_tile(spark):
    """A NULL parent blob is a ValueError naming the column and the tile,
    not a bare TypeError."""
    df = spark.createDataFrame(
        [(3, 5, 6, None)], "tile_z int, tile_x int, tile_y int, mvt binary"
    )
    with pytest.raises(Exception, match=r"ValueError: overzoom_tiles: column 'mvt' is NULL for tile z/x/y 3/5/6"):
        overzoom_tiles(df).collect()

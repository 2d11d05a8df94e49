"""Geometry-stream unit tests ported from test/Test.hs:156-202, plus PIP."""

import numpy as np
import pytest

from vectortiles_spark.mvt import geometry as G


def test_zencoding():
    # Test.hs:156-158 incl. +/- 2^31 edges
    vs = [0, -1, 1, -2, 2, -3, 3, 2147483647, -2147483648]
    assert G.unzig(G.zig(np.array(vs))).tolist() == vs


def test_command_parsing():
    # Test.hs:160-164
    cmds = G.commands(np.array([9, 4, 4, 18, 6, 4, 5, 4, 15], np.uint32))
    assert cmds[0][0] == G.CMD_MOVETO and cmds[0][1].tolist() == [[2, 2]]
    assert cmds[1][0] == G.CMD_LINETO and cmds[1][1].tolist() == [[3, 2], [-3, 2]]
    assert cmds[2][0] == G.CMD_CLOSEPATH


def test_command_iso():
    # Test.hs:166-168
    cs = [9, 4, 4, 18, 6, 4, 5, 4, 15]
    assert G.uncommands(G.commands(np.array(cs, np.uint32))).tolist() == cs


@pytest.mark.parametrize(
    "stream,geom_type",
    [
        ([25, 4, 4, 6, 6, 3, 3], G.GEOM_POINT),  # pointIso
        ([9, 4, 4, 18, 6, 4, 5, 4, 9, 4, 4, 18, 6, 4, 5, 4], G.GEOM_LINESTRING),  # linestringIso
        ([9, 4, 4, 18, 6, 4, 5, 4, 15] * 2, G.GEOM_POLYGON),  # 2 solid
        ([9, 4, 4, 26, 6, 0, 0, 6, 5, 0, 15, 9, 2, 3, 26, 0, 2, 2, 0, 0, 1, 15], G.GEOM_POLYGON),  # holed
        (
            [9, 4, 4, 26, 6, 0, 0, 6, 5, 0, 15, 9, 2, 3, 26, 0, 2, 2, 0, 0, 1, 15,
             9, 4, 4, 26, 6, 0, 0, 6, 5, 0, 15],
            G.GEOM_POLYGON,
        ),  # holed + solid
    ],
)
def test_geometry_stream_iso(stream, geom_type):
    # Test.hs:170-198
    s = np.array(stream, np.uint32)
    geom = G.geom_from_stream(geom_type, s)
    assert G.geom_to_stream(geom_type, geom).tolist() == stream


def test_polygon_ring_grouping():
    """Internal.hs:202-206: holed polygon = exterior + trailing negative rings."""
    stream = [9, 4, 4, 26, 6, 0, 0, 6, 5, 0, 15, 9, 2, 3, 26, 0, 2, 2, 0, 0, 1, 15]
    polys = G.geom_from_stream(G.GEOM_POLYGON, np.array(stream, np.uint32))
    assert len(polys) == 1
    assert len(polys[0]) == 2  # exterior + one hole
    assert G.surveyor(polys[0][0]) > 0
    assert G.surveyor(polys[0][1]) < 0


def test_linestring_cursor_carries():
    """Internal.hs:171 — cursor carries across linestrings within a feature."""
    stream = [9, 4, 4, 18, 6, 4, 5, 4, 9, 4, 4, 18, 6, 4, 5, 4]
    parts = G.geom_from_stream(G.GEOM_LINESTRING, np.array(stream, np.uint32))
    assert len(parts) == 2
    assert parts[0].tolist() == [[2, 2], [5, 4], [2, 6]]
    # second MoveTo(+2,+2) is relative to the cursor at (2,6)
    assert parts[1][0].tolist() == [4, 8]


def test_area_unit_square():
    # Test.hs:52-54
    sq = np.array([[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]])
    assert G.polygon_area([sq]) == 1.0
    assert G.surveyor(sq) > 0
    assert G.surveyor(sq[::-1]) < 0


def test_area_with_hole():
    """Polygon area = exterior + holes (hole shoelace negative), Geometry.hs:68-69."""
    outer = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]])
    hole = np.array([[1, 1], [1, 2], [2, 2], [2, 1], [1, 1]])  # reversed winding
    assert G.surveyor(outer) == 16.0
    assert G.surveyor(hole) == -1.0
    assert G.polygon_area([outer, hole]) == 15.0


def test_closepath_count_must_be_1():
    # Internal.hs:237-238
    with pytest.raises(ValueError, match="ClosePath"):
        G.parse_cmd((2 << 3) | 7)


def test_invalid_command_id():
    # Internal.hs:239
    with pytest.raises(ValueError, match="Invalid command"):
        G.parse_cmd(3)


def test_odd_trailing_param_dropped():
    """Util.hs:27-31: pairsWith silently drops a trailing odd parameter."""
    cmds = G.commands(np.array([(3 << 3) | 1, 2, 2, 4], np.uint32))
    assert cmds[0][1].tolist() == [[1, 1]]


def test_point_in_ring():
    sq = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]])
    px = np.array([5.0, 15.0, -1.0, 5.0])
    py = np.array([5.0, 5.0, 5.0, 15.0])
    assert G.points_in_ring(px, py, sq).tolist() == [True, False, False, False]


def test_point_in_polygon_with_hole():
    outer = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]])
    hole = np.array([[4, 4], [4, 6], [6, 6], [6, 4], [4, 4]])
    px = np.array([2.0, 5.0])
    py = np.array([2.0, 5.0])
    assert G.points_in_polygon(px, py, [outer, hole]).tolist() == [True, False]


def test_ring_edges_concatenated_even_odd_is_xor_of_rings():
    """One even-odd pass over every ring's concatenated edges equals the
    XOR of per-ring ``points_in_ring``, bit for bit — including points on
    vertices and on horizontal edges, where ray casts are most fragile."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=200, deadline=None)
    @given(st.integers(0, 2**32 - 1))
    def run(seed):
        rng = np.random.Generator(np.random.PCG64(seed))
        rings = []
        for _ in range(int(rng.integers(1, 5))):  # exterior + 0-3 "holes"
            m = int(rng.integers(3, 9))
            r = rng.integers(-6, 7, (m, 2)).astype(np.float64)
            if rng.random() < 0.5:  # a horizontal edge
                r[1, 1] = r[0, 1]
            rings.append(np.vstack([r, r[:1]]))
        verts = np.vstack(rings)
        horiz = [
            ((r[i, 0] + r[i + 1, 0]) / 2, r[i, 1])
            for r in rings for i in range(len(r) - 1) if r[i, 1] == r[i + 1, 1]
        ]
        grid = rng.integers(-7, 8, (40, 2)).astype(np.float64)
        pts = np.vstack([verts, np.array(horiz).reshape(-1, 2), grid,
                         rng.uniform(-7, 7, (40, 2))])
        px, py = pts[:, 0], pts[:, 1]
        want = np.zeros(len(pts), dtype=bool)
        for r in rings:
            want ^= G.points_in_ring(px, py, r)
        edges = G.ring_edges(rings)
        assert edges.shape == (sum(len(r) - 1 for r in rings), 4)
        assert edges.dtype == np.float64
        got = G.points_in_edges(px, py, edges)
        assert got.dtype == bool and np.array_equal(got, want), seed

    run()


# --- batched encode kernel: geoms_to_streams_batch ≡ geom_to_stream ---


def _random_geom(rng, gt):
    if gt == G.GEOM_POINT:
        n = int(rng.integers(1, 6))
        return rng.integers(-5000, 5000, size=(n, 2)).astype(np.int64)
    if gt == G.GEOM_LINESTRING:
        return [
            rng.integers(-5000, 5000, size=(int(rng.integers(2, 7)), 2)).astype(np.int64)
            for _ in range(int(rng.integers(1, 4)))
        ]
    polys = []
    for _ in range(int(rng.integers(1, 3))):
        rings = []
        for _ in range(int(rng.integers(1, 3))):
            pts = rng.integers(-5000, 5000, size=(int(rng.integers(3, 7)), 2)).astype(np.int64)
            rings.append(np.concatenate([pts, pts[:1]], axis=0))  # closed
        polys.append(rings)
    return polys


def test_geoms_to_streams_batch_differential():
    """The whole-layer batched encode kernel must produce byte-identical
    streams to per-feature geom_to_stream across random mixed-type
    feature lists (the cursor-carry and feature-reset logic live here)."""
    rng = np.random.Generator(np.random.PCG64(7))
    for trial in range(30):
        feats = [
            (gt, _random_geom(rng, gt))
            for gt in rng.integers(1, 4, size=int(rng.integers(1, 25))).tolist()
        ]
        vals, offs = G.geoms_to_streams_batch(feats)
        for i, (gt, geom) in enumerate(feats):
            ref = G.geom_to_stream(gt, geom)
            got = vals[offs[i]:offs[i + 1]]
            assert np.array_equal(ref, got), (trial, i, gt)


def test_geoms_to_streams_batch_degenerate_fallback():
    """Degenerate parts (sub-2-point rings/lines, empty point sets) take
    the scalar path per feature — output must still match geom_to_stream,
    including when degenerate and healthy features interleave."""
    one_pt_ring = [[np.array([[3, 4], [3, 4]], dtype=np.int64)]]  # 1 kept pt
    feats = [
        (G.GEOM_POINT, np.array([[1, 2]], dtype=np.int64)),
        (G.GEOM_POLYGON, one_pt_ring),
        (G.GEOM_LINESTRING, [np.array([[0, 0], [5, 5]], dtype=np.int64)]),
        (G.GEOM_LINESTRING, [np.array([[9, 9]], dtype=np.int64)]),  # 1-pt part
        (G.GEOM_POINT, np.array([[7, 8], [9, 10]], dtype=np.int64)),
    ]
    vals, offs = G.geoms_to_streams_batch(feats)
    for i, (gt, geom) in enumerate(feats):
        ref = G.geom_to_stream(gt, geom)
        got = vals[offs[i]:offs[i + 1]]
        assert np.array_equal(ref, got), i


def test_geoms_to_streams_batch_empty_and_unknown():
    vals, offs = G.geoms_to_streams_batch([])
    assert vals.size == 0 and list(offs) == [0]
    with pytest.raises(ValueError, match="UNKNOWN"):
        G.geoms_to_streams_batch([(9, np.zeros((1, 2), dtype=np.int64))])

"""Spatial join operators vs brute-force NumPy oracles."""

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from vectortiles_spark.mvt.geometry import points_in_ring
from vectortiles_spark.operators.spatial_join import knn_join, pip_join
from vectortiles_spark.plans import audit


def _points(n=400, seed=11):
    rng = np.random.Generator(np.random.PCG64(seed))
    return pd.DataFrame(
        {
            "pt_id": np.arange(n),
            "lon": rng.uniform(-20, 20, n),
            "lat": rng.uniform(-20, 20, n),
        }
    )


_POLYS = [
    # triangle
    ("tri", [[[0.0, 0.0], [10.0, 0.0], [5.0, 12.0], [0.0, 0.0]]]),
    # square with a square hole
    (
        "holed",
        [
            [[-15.0, -15.0], [-5.0, -15.0], [-5.0, -5.0], [-15.0, -5.0], [-15.0, -15.0]],
            [[-12.0, -12.0], [-8.0, -12.0], [-8.0, -8.0], [-12.0, -8.0], [-12.0, -12.0]],
        ],
    ),
    # concave L-shape
    (
        "ell",
        [[[5.0, -18.0], [18.0, -18.0], [18.0, -5.0], [12.0, -5.0],
          [12.0, -12.0], [5.0, -12.0], [5.0, -18.0]]],
    ),
]


def _brute_pip(pts: pd.DataFrame):
    out = set()
    for pid, rings in _POLYS:
        inside = np.zeros(len(pts), dtype=bool)
        for ring in rings:
            inside ^= points_in_ring(pts.lon.values, pts.lat.values, np.asarray(ring))
        for i in np.flatnonzero(inside):
            out.add((int(pts.pt_id.iloc[i]), pid))
    return out


def test_pip_join_matches_bruteforce(spark):
    pts = _points()
    points = spark.createDataFrame(pts)
    polys = spark.createDataFrame(
        [(pid, rings) for pid, rings in _POLYS],
        "polygon_id string, rings array<array<array<double>>>",
    )
    got = {
        (r.pt_id, r.polygon_id)
        for r in pip_join(points, polys, z=5).select("pt_id", "polygon_id").collect()
    }
    assert got == _brute_pip(pts)


def test_pip_join_hole_excluded(spark):
    pts = pd.DataFrame({"pt_id": [0, 1], "lon": [-10.0, -14.0], "lat": [-10.0, -14.0]})
    points = spark.createDataFrame(pts)
    polys = spark.createDataFrame(
        [p for p in _POLYS if p[0] == "holed"],
        "polygon_id string, rings array<array<array<double>>>",
    )
    got = {(r.pt_id, r.polygon_id) for r in pip_join(points, polys, z=5).collect()}
    assert got == {(1, "holed")}  # pt 0 sits in the hole


def test_knn_join_matches_bruteforce_within_ring(spark):
    cand_pdf = _points(300, seed=3).rename(columns={"pt_id": "cand_id"})
    q_pdf = _points(10, seed=4).rename(columns={"pt_id": "query_id"})
    candidates = spark.createDataFrame(cand_pdf)
    queries = spark.createDataFrame(q_pdf)
    z, ring, k = 4, 1, 5
    got = knn_join(queries, candidates, k=k, z=z, ring=ring).collect()

    # brute-force within the same tile neighborhood
    n = 1 << z
    def txy(lon, lat):
        tx = np.minimum(np.floor((lon + 180) / 360 * n), n - 1).astype(int)
        rad = np.radians(lat)
        fy = (1 - np.arcsinh(np.tan(rad)) / np.pi) / 2 * n
        ty = np.clip(np.floor(fy), 0, n - 1).astype(int)
        return tx, ty

    ctx, cty = txy(cand_pdf.lon.values, cand_pdf.lat.values)
    qtx, qty = txy(q_pdf.lon.values, q_pdf.lat.values)
    expected = {}
    for qi in range(len(q_pdf)):
        mask = (np.abs(ctx - qtx[qi]) <= ring) & (np.abs(cty - qty[qi]) <= ring)
        d2 = (cand_pdf.lon.values - q_pdf.lon.values[qi]) ** 2 + (
            cand_pdf.lat.values - q_pdf.lat.values[qi]
        ) ** 2
        order = sorted(
            (float(d2[j]), int(cand_pdf.cand_id.iloc[j])) for j in np.flatnonzero(mask)
        )[:k]
        expected[int(q_pdf.query_id.iloc[qi])] = [c for _, c in order]
    got_by_q = {}
    for r in got:
        got_by_q.setdefault(r.query_id, []).append((r.rank, r.cand_id))
    got_by_q = {q: [c for _, c in sorted(v)] for q, v in got_by_q.items()}
    assert got_by_q == {q: v for q, v in expected.items() if v}


def test_knn_results_sorted_and_capped(spark):
    candidates = spark.createDataFrame(_points(200, seed=5).rename(columns={"pt_id": "cand_id"}))
    queries = spark.createDataFrame(_points(5, seed=6).rename(columns={"pt_id": "query_id"}))
    rows = knn_join(queries, candidates, k=3, z=3).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert len(rs) <= 3
        dists = [r.dist2 for r in rs]
        assert dists == sorted(dists)


def test_knn_exact_matches_global_bruteforce(spark):
    """Expanding-ring kNN returns the TRUE global top-k, including sparse
    regions where ring-1 holds fewer than k candidates."""
    from vectortiles_spark.operators.spatial_join import knn_join_exact

    rng = np.random.Generator(np.random.PCG64(21))
    # sparse candidates + queries far from any cluster
    cand_pdf = pd.DataFrame({
        "cand_id": np.arange(40),
        "lon": rng.uniform(-170, 170, 40),
        "lat": rng.uniform(-80, 80, 40),
    })
    q_pdf = pd.DataFrame({
        "query_id": np.arange(6),
        "lon": rng.uniform(-170, 170, 6),
        "lat": rng.uniform(-80, 80, 6),
    })
    rows = knn_join_exact(
        # z=4 keeps the sparse-region expansion (multiple doubling rounds on
        # a 16x16 grid) while bounding the round count — exactness is
        # z-independent, and z=6 tripled suite wall-clock for no extra
        # coverage
        spark.createDataFrame(q_pdf), spark.createDataFrame(cand_pdf), k=3, z=4
    ).collect()
    # global brute force with the same wrapped-lon metric
    def d2(qlon, qlat, clon, clat):
        dlon = ((clon - qlon + 180) % 360) - 180
        return dlon**2 + (clat - qlat) ** 2
    got = {}
    for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
        got.setdefault(r.query_id, []).append(r.cand_id)
    for qi in range(6):
        dists = sorted(
            (d2(q_pdf.lon[qi], q_pdf.lat[qi], cand_pdf.lon[j], cand_pdf.lat[j]), int(cand_pdf.cand_id[j]))
            for j in range(40)
        )[:3]
        assert got[qi] == [c for _, c in dists], f"query {qi}"


def test_knn_exact_polar_sparse(spark):
    """A polar query must reach far-southern candidates (y rings clip, so
    max_ring must span all rows) and wrap duplicates must not displace
    real top-k entries."""
    from vectortiles_spark.operators.spatial_join import knn_join_exact

    q = spark.createDataFrame(pd.DataFrame({"query_id": [1], "lon": [10.0], "lat": [83.0]}))
    c = spark.createDataFrame(pd.DataFrame(
        {"cand_id": [1, 2, 3], "lon": [12.0, -170.0, 100.0], "lat": [-60.0, 70.0, 82.5]}
    ))
    rows = sorted(knn_join_exact(q, c, k=3, z=3).collect(), key=lambda r: r.rank)
    assert [r.cand_id for r in rows] == [3, 1, 2]


def test_knn_join_ring_wraps_whole_grid(spark):
    """A ring wider than the grid (2*ring+1 > 2^z) wraps in x; the probe
    dedupe must keep duplicate tile visits from displacing real top-k
    entries. With every tile covered, bounded kNN == global kNN under the
    operator's wrapped-longitude metric."""
    cand_pdf = _points(120, seed=7).rename(columns={"pt_id": "cand_id"})
    q_pdf = _points(6, seed=8).rename(columns={"pt_id": "query_id"})
    got = knn_join(
        spark.createDataFrame(q_pdf),
        spark.createDataFrame(cand_pdf),
        k=4, z=1, ring=2,
    ).collect()
    expected = {}
    for qi in range(len(q_pdf)):
        dlon = np.mod(cand_pdf.lon.values - q_pdf.lon.values[qi] + 180.0, 360.0) - 180.0
        d2 = dlon**2 + (cand_pdf.lat.values - q_pdf.lat.values[qi]) ** 2
        order = sorted((float(d2[j]), int(cand_pdf.cand_id.iloc[j])) for j in range(len(cand_pdf)))[:4]
        expected[int(q_pdf.query_id.iloc[qi])] = [c for _, c in order]
    got_by_q = {}
    for r in got:
        got_by_q.setdefault(r.query_id, []).append((r.rank, r.cand_id))
    assert {q: [c for _, c in sorted(v)] for q, v in got_by_q.items()} == expected


def test_pip_join_renamed_coords_and_preserved_tiles(spark):
    """pip_join must honor lon/lat parameter names in the exact refinement
    (review finding: the ray-cast hardcoded 'lon'/'lat') and must not
    clobber caller columns named tile_x/tile_y."""
    polys = spark.createDataFrame(
        [("sq", [[[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0], [0.0, 0.0]]])],
        "polygon_id string, rings array<array<array<double>>>",
    )
    pts = spark.createDataFrame(
        [(1, 5.0, 5.0, 77, 88), (2, 50.0, 5.0, 77, 88)],
        "pid long, lng double, latitude double, tile_x int, tile_y int",
    )
    out = pip_join(pts, polys, z=4, lon="lng", lat="latitude").collect()
    assert [r.pid for r in out] == [1]
    # caller's own tile columns survive untouched
    assert out[0].tile_x == 77 and out[0].tile_y == 88


def test_pip_join_shared_polygon_id_tests_each_rows_rings(spark):
    """Two polygon rows sharing one id each test their OWN rings: each
    point matches exactly once (the rings are keyed by a per-row index,
    not by the id)."""
    def sq(x0):
        return [[[x0, 0.0], [x0 + 1, 0.0], [x0 + 1, 1.0], [x0, 1.0], [x0, 0.0]]]

    polys = spark.createDataFrame(
        [("a", sq(0.0)), ("a", sq(2.0))],
        "polygon_id string, rings array<array<array<double>>>",
    )
    pts = spark.createDataFrame(
        [(1, 0.5, 0.5), (2, 2.5, 0.5)], "pt_id long, lon double, lat double"
    )
    got = sorted(
        (r.pt_id, r.polygon_id)
        for r in pip_join(pts, polys, z=4).select("pt_id", "polygon_id").collect()
    )
    assert got == [(1, "a"), (2, "a")]


@pytest.mark.parametrize(
    "rings, fragment",
    [
        (None, "polygon 'bad' has no rings"),
        ([], "polygon 'bad' has no rings"),
        ([[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 0.0]], None],
         "polygon 'bad' ring 1 is NULL"),
        ([[]], "polygon 'bad' ring 0 has 0 vertices"),
        ([[[0.0, 0.0], [1.0, 0.0], [0.0, 0.0]]], "polygon 'bad' ring 0 has 3 vertices"),
        ([[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0]]],
         "polygon 'bad' ring 0 is not closed"),
        ([[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 0.0]],
          [[0.2, 0.2], [0.4, 0.2], [0.4, 0.4], [0.2, 0.3]]],
         "polygon 'bad' ring 1 is not closed"),
        ([[[0.0, 0.0], [1.0, None], [1.0, 1.0], [0.0, 0.0]]],
         "polygon 'bad' ring 0 has a vertex"),
    ],
    ids=["null-rings", "no-rings", "null-ring", "empty-exterior",
         "three-vertices", "open-exterior", "open-hole", "null-coordinate"],
)
def test_pip_join_malformed_polygon_raises(spark, rings, fragment):
    good = [[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0], [0.0, 0.0]]]
    polys = spark.createDataFrame(
        [("ok", good), ("bad", rings)],
        "polygon_id string, rings array<array<array<double>>>",
    )
    pts = spark.createDataFrame([(1, 0.5, 0.5)], "pt_id long, lon double, lat double")
    with pytest.raises(ValueError, match=re.escape(fragment)):
        pip_join(pts, polys, z=4)


def test_pip_join_sends_only_predicate_arguments_to_python(spark):
    """The refinement is a scalar Arrow predicate: only (lon, lat, polygon
    index) reach Python, so a ~1 KB payload column stays in the JVM and
    comes out of the join unchanged."""
    rng = np.random.Generator(np.random.PCG64(5))
    n = 2000
    lon, lat = rng.uniform(0.0, 4.0, n), rng.uniform(0.0, 4.0, n)
    payloads = [bytes(rng.integers(0, 256, 1024, dtype=np.uint8)) for _ in range(n)]
    pts = spark.createDataFrame(
        [(i, float(lon[i]), float(lat[i]), bytearray(payloads[i])) for i in range(n)],
        "pt_id long, lon double, lat double, payload binary",
    )
    tri = [[[0.0, 0.0], [4.0, 0.0], [0.0, 4.0], [0.0, 0.0]]]
    polys = spark.createDataFrame(
        [("tri", tri)], "polygon_id string, rings array<array<array<double>>>"
    )
    joined = pip_join(pts, polys, z=3)
    rows = joined.collect()

    plan = audit.plan_of(joined)
    assert "ArrowEvalPython" in plan
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan
    sent = audit.python_bytes_sent(joined)
    # every point's tile is covered by the triangle's bbox: all are candidates
    assert 0 < sent < 64 * n, sent

    want = {i for i in range(n) if lon[i] + lat[i] < 4.0}
    assert {r.pt_id for r in rows} == want
    assert all(bytes(r.payload) == payloads[r.pt_id] for r in rows)


def test_raster_skips_corrupt_rows(spark):
    """One null/short px blob must drop that raster, not kill the task."""
    from vectortiles_spark.operators.raster import raster_to_features  # noqa: PLC0415

    good = bytes([255] * 16)
    rows = [
        (0, 0, 0, 4, 4, bytearray(good)),
        (0, 0, 1, 4, 4, None),
        (0, 0, 2, 4, 4, bytearray(b"\xff\xff")),  # shorter than w*h
    ]
    df = spark.createDataFrame(
        rows, "tile_z int, tile_x int, tile_y int, w int, h int, px binary"
    )
    out = raster_to_features(df).collect()
    assert {r.tile_y for r in out} == {0}


# --------------------------------------------------------------- distance_join


def _dj_frames(spark, seed=7, n_l=300, n_r=250):
    """Deterministic point sets with polar and antimeridian bands."""
    rng = np.random.default_rng(seed)
    bl, br = min(40, n_l // 4), min(40, n_r // 4)
    ll = np.concatenate(
        [rng.uniform(-180, 180, n_l - 2 * bl), rng.uniform(176, 184, bl),
         rng.uniform(-180, 180, bl)]
    )
    ll = np.where(ll >= 180, ll - 360, ll)
    la = np.concatenate([rng.uniform(-85, 85, n_l - bl), rng.uniform(80, 84.9, bl)])
    rl = np.concatenate(
        [rng.uniform(-180, 180, n_r - 2 * br), rng.uniform(-184, -176, br),
         rng.uniform(-180, 180, br)]
    )
    rl = np.where(rl < -180, rl + 360, rl)
    ra = np.concatenate([rng.uniform(-85, 85, n_r - br), rng.uniform(80, 84.9, br)])
    L = spark.createDataFrame(
        [(int(i), float(ll[i]), float(la[i])) for i in range(n_l)],
        "left_id long, lon double, lat double",
    )
    R = spark.createDataFrame(
        [(int(j), float(rl[j]), float(ra[j])) for j in range(n_r)],
        "right_id long, lon double, lat double",
    )
    return L, R, (ll, la, rl, ra)


def test_distance_join_matches_brute_force(spark):
    """Pair set == all-pairs haversine at radii spanning one cell to a
    window that caps at the whole longitude circle near the poles."""
    from vectortiles_spark.functions.geodesic import haversine_np
    from vectortiles_spark.operators.spatial_join import distance_join

    L, R, (ll, la, rl, ra) = _dj_frames(spark)
    D = haversine_np(ll[:, None], la[:, None], rl[None, :], ra[None, :])
    for radius in (50_000.0, 500_000.0, 2_000_000.0):
        got = {
            (r.left_id, r.right_id): r.dist_m
            for r in distance_join(L, R, radius).collect()
        }
        want = {(int(i), int(j)): D[i, j] for i, j in zip(*np.where(D <= radius))}
        assert set(got) == set(want), radius
        for k, v in got.items():
            assert abs(v - want[k]) < 1e-6


def test_distance_join_no_cartesian_single_exchange_right(spark):
    from vectortiles_spark.operators.spatial_join import distance_join

    L, R, _ = _dj_frames(spark, n_l=10, n_r=10)
    plan = distance_join(L, R, 100_000.0)
    phys = plan._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in phys and "NestedLoop" not in phys, phys


def test_distance_join_broadcast_left(spark):
    from vectortiles_spark.operators.spatial_join import distance_join

    L, R, _ = _dj_frames(spark, n_l=40, n_r=60)
    base = {(r.left_id, r.right_id) for r in distance_join(L, R, 800_000.0).collect()}
    bc = distance_join(L, R, 800_000.0, broadcast_left=True)
    assert {(r.left_id, r.right_id) for r in bc.collect()} == base
    assert "BroadcastHashJoin" in bc._jdf.queryExecution().executedPlan().toString()


def test_distance_join_validation(spark):
    import pytest as _pt

    from vectortiles_spark.operators.spatial_join import distance_join

    L, R, _ = _dj_frames(spark, n_l=2, n_r=2)
    with _pt.raises(ValueError, match="positive"):
        distance_join(L, R, 0)
    with _pt.raises(ValueError, match="5000 km"):
        distance_join(L, R, 6_000_000.0)


def test_distance_join_polar_cap_full_circle(spark):
    """Rows within ~0.01 deg of a pole must take the full-circle window:
    the old 89.99-deg angle clamp SHRANK the window there and silently
    dropped true pairs (e.g. two points ~80 m apart at lat 89.9995 but 90
    deg of longitude apart). Brute force over a polar cluster at a small
    radius pins the recall."""
    from vectortiles_spark.functions.geodesic import haversine_np
    from vectortiles_spark.operators.spatial_join import distance_join

    lons_l = [0.0, 90.0, -180.0, 45.0]
    lats_l = [89.9995, 89.9995, 89.999, -89.9995]
    lons_r = [90.0, -135.0, 10.0, -135.0]
    lats_r = [89.9995, 89.9993, 89.9992, -89.9994]
    L = spark.createDataFrame(
        [(i, lons_l[i], lats_l[i]) for i in range(len(lons_l))],
        "left_id long, lon double, lat double",
    )
    R = spark.createDataFrame(
        [(j, lons_r[j], lats_r[j]) for j in range(len(lons_r))],
        "right_id long, lon double, lat double",
    )
    ll, la = np.array(lons_l), np.array(lats_l)
    rl, ra = np.array(lons_r), np.array(lats_r)
    D = haversine_np(ll[:, None], la[:, None], rl[None, :], ra[None, :])
    for radius in (1_000.0, 300.0):
        got = {
            (r.left_id, r.right_id) for r in distance_join(L, R, radius).collect()
        }
        want = {(int(i), int(j)) for i, j in zip(*np.where(D <= radius))}
        assert got == want, (radius, got, want)
    assert len({(i, j) for i, j in zip(*np.where(D <= 1000.0))}) >= 2


def test_haversine_known_distances(spark):
    """Column expression vs published great-circle city distances (sphere
    model: tolerate 0.5%) and vs the NumPy twin bit-for-bit."""
    from vectortiles_spark.functions.geodesic import haversine_m, haversine_np

    # (lon1, lat1, lon2, lat2, approx_km): Paris-NYC, Sydney-London, 0-antipode
    cases = [
        (2.3522, 48.8566, -74.0060, 40.7128, 5837.0),
        (151.2093, -33.8688, -0.1276, 51.5074, 16993.0),
        (0.0, 0.0, 180.0, 0.0, 20015.1),
    ]
    df = spark.createDataFrame(
        cases, "lon1 double, lat1 double, lon2 double, lat2 double, km double"
    )
    rows = df.select(
        "km",
        haversine_m(F.col("lon1"), F.col("lat1"), F.col("lon2"), F.col("lat2")).alias("m"),
        "lon1", "lat1", "lon2", "lat2",
    ).collect()
    for r in rows:
        assert abs(r.m / 1000.0 - r.km) / r.km < 0.005, (r.km, r.m)
        assert r.m == float(haversine_np(r.lon1, r.lat1, r.lon2, r.lat2))


def test_knn_geodesic_matches_brute_force(spark):
    """Expanding-radius geodesic kNN == brute-force haversine ranking,
    from a deliberately tiny r0 so several doubling rounds run."""
    from vectortiles_spark.functions.geodesic import haversine_np
    from vectortiles_spark.operators.spatial_join import knn_join_geodesic

    rng = np.random.default_rng(9)
    nq, nc = 60, 200
    ql, qa = rng.uniform(-180, 180, nq), rng.uniform(-85, 85, nq)
    cl, ca = rng.uniform(-180, 180, nc), rng.uniform(-85, 85, nc)
    Q = spark.createDataFrame(
        [(int(i), float(ql[i]), float(qa[i])) for i in range(nq)],
        "query_id long, lon double, lat double",
    )
    C = spark.createDataFrame(
        [(int(j), float(cl[j]), float(ca[j])) for j in range(nc)],
        "cand_id long, lon double, lat double",
    )
    got = {}
    for r in knn_join_geodesic(Q, C, k=3, r0_m=100_000.0).collect():
        got.setdefault(r.query_id, []).append((r.rank, r.cand_id))
    D = haversine_np(ql[:, None], qa[:, None], cl[None, :], ca[None, :])
    for i in range(nq):
        order = sorted(range(nc), key=lambda j: (D[i, j], j))
        want = [
            (rk + 1, order[rk]) for rk in range(3)
            if D[i, order[rk]] <= 5_000_000.0
        ]
        assert sorted(got.get(i, [])) == want, i


def test_knn_geodesic_bounded_radius_tail(spark):
    """A query whose k-th neighbor lies beyond max_r_m returns only the
    in-radius hits (bounded-radius semantics)."""
    from vectortiles_spark.operators.spatial_join import knn_join_geodesic

    Q = spark.createDataFrame(
        [(1, 0.0, 0.0)], "query_id long, lon double, lat double"
    )
    C = spark.createDataFrame(
        [(1, 0.1, 0.0), (2, 179.0, 0.0), (3, 0.2, 0.0)],
        "cand_id long, lon double, lat double",
    )
    out = knn_join_geodesic(Q, C, k=3, r0_m=10_000.0, max_r_m=1_000_000.0).collect()
    assert sorted((r.rank, r.cand_id) for r in out) == [(1, 1), (2, 3)]


def test_knn_geodesic_validation(spark):
    import pytest as _pt

    from vectortiles_spark.operators.spatial_join import knn_join_geodesic

    Q = spark.createDataFrame([(1, 0.0, 0.0)], "query_id long, lon double, lat double")
    with _pt.raises(ValueError, match="r0_m"):
        knn_join_geodesic(Q, Q.withColumnRenamed("query_id", "cand_id"), r0_m=0)

"""Spatial joins: point-in-polygon (broadcast spatial hash join) and kNN
over cell-ring neighborhoods (SURVEY.md §2.D5, D6).

The pattern (SedonaDB/GeoMesa-style, done with plain DataFrame ops §4.1):
spatial predicate -> coarse CELL EQUI-JOIN (hash-partitionable, AQE-aware)
-> exact refinement. The only Python is pip_join's exact ray cast: a
scalar Arrow predicate inside ``.where(...)``, which Spark plans as
``ArrowEvalPython``. Only its arguments (lon, lat, polygon row index)
cross to Python; the rest of each candidate row stays in the JVM. Inside,
the cast is vectorized per polygon over all of a batch's points (NumPy
over points x edges at once) — never per row.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, DoubleType, IntegerType, StructField, StructType,
)

from ..functions.tiles import tile_x, tile_y
from ..mvt.geometry import points_in_edges, ring_edges


def polygons_with_tiles(polygons: DataFrame, z: int) -> DataFrame:
    """Explode each polygon to the z-level tiles its bbox covers.

    Pure Column math: bbox from the exterior ring via array aggregates,
    tile range via sequence+explode. Polygons are a small dim table; the
    result is the broadcastable right side of the coarse equi-join.
    """
    ext = F.col("rings")[0]
    lon_min = F.array_min(F.transform(ext, lambda p: p[0]))
    lon_max = F.array_max(F.transform(ext, lambda p: p[0]))
    lat_min = F.array_min(F.transform(ext, lambda p: p[1]))
    lat_max = F.array_max(F.transform(ext, lambda p: p[1]))
    with_bbox = polygons.withColumns(
        {
            "tx_min": tile_x(lon_min, z), "tx_max": tile_x(lon_max, z),
            # top-left origin: lat_max -> ty_min
            "ty_min": tile_y(lat_max, z), "ty_max": tile_y(lat_min, z),
        }
    )
    return (
        with_bbox.withColumn("tile_x", F.explode(F.sequence("tx_min", "tx_max")))
        .withColumn("tile_y", F.explode(F.sequence("ty_min", "ty_max")))
        .drop("tx_min", "tx_max", "ty_min", "ty_max")
    )


def _checked_rings(pid, rings) -> list[np.ndarray]:
    """A collected polygon's rings as float64 (m, 2) arrays, or a
    ValueError naming the polygon and ring: a malformed polygon must fail
    loudly, not silently match nothing."""
    if rings is None or len(rings) == 0:
        raise ValueError(f"pip_join: polygon {pid!r} has no rings (NULL or empty)")
    out = []
    for i, ring in enumerate(rings):
        if ring is None:
            raise ValueError(f"pip_join: polygon {pid!r} ring {i} is NULL")
        if len(ring) < 4:
            raise ValueError(
                f"pip_join: polygon {pid!r} ring {i} has {len(ring)} vertices; "
                "a closed ring needs at least 4"
            )
        try:
            r = np.array(ring, dtype=np.float64)  # a NULL coordinate -> NaN
        except (TypeError, ValueError):  # NULL vertex or ragged vertices
            r = np.empty(0)
        if r.ndim != 2 or r.shape[1] < 2 or not np.isfinite(r[:, :2]).all():
            raise ValueError(
                f"pip_join: polygon {pid!r} ring {i} has a vertex that is not "
                "a finite [lon, lat] pair"
            )
        r = r[:, :2]
        if not np.array_equal(r[0], r[-1]):
            raise ValueError(
                f"pip_join: polygon {pid!r} ring {i} is not closed "
                "(its last vertex must repeat its first)"
            )
        out.append(r)
    ext_lon = out[0][:, 0]
    if ext_lon.max() - ext_lon.min() > 180.0:
        raise ValueError(
            f"pip_join: polygon {pid!r} spans >180 deg of longitude — "
            "it likely crosses the antimeridian; split it at the seam first "
            "(RFC 7946 s3.1.9)"
        )
    return out


def _inside_predicate(edges: list[np.ndarray]):
    """Scalar Arrow predicate (lon, lat, polygon row index) -> inside.
    ``edges[k]`` is polygon row k's ``ring_edges``; it travels in the
    closure (PySpark broadcasts a pickled command past 1 MB by itself)."""

    @F.arrow_udf("boolean")
    def inside(lon: pa.Array, lat: pa.Array, idx: pa.Array) -> pa.Array:
        px = lon.to_numpy(zero_copy_only=False)
        py = lat.to_numpy(zero_copy_only=False)
        k = idx.to_numpy(zero_copy_only=False)
        out = np.zeros(len(k), dtype=bool)
        order = np.argsort(k, kind="stable")
        ks = k[order]
        cuts = np.flatnonzero(ks[1:] != ks[:-1]) + 1
        for sel in np.split(order, cuts):
            if len(sel):
                out[sel] = points_in_edges(px[sel], py[sel], edges[k[sel[0]]])
        return pa.array(out)

    return inside


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    z: int = 7,
    lon: str = "lon",
    lat: str = "lat",
    polygon_id: str = "polygon_id",
) -> DataFrame:
    """Points ⋈ polygons: coarse tile equi-join (polygon side broadcast) then
    exact ray-cast refinement. Returns point rows + matched polygon_id.

    polygons schema: (polygon_id, rings ARRAY<ARRAY<ARRAY<DOUBLE>>>) — rings
    in lon/lat, ring 0 exterior, later rings holes (even-odd), every ring
    CLOSED. Polygons are the small side: they are collected to the driver
    once, and each row gets a dense index fixed at that moment. The
    broadcast dim carries only (index, polygon_id, tile key); each row's
    rings become one stacked edge array keyed by that index, so rows that
    share a polygon_id still each test their own rings. The refinement is
    a scalar Arrow predicate in ``.where(...)``: only (lon, lat, index)
    cross to Python, every other column stays in the JVM.

    Raises ValueError, naming the polygon id (and ring index), for NULL or
    empty rings, a NULL ring or vertex, a ring of fewer than 4 vertices,
    a ring that is not closed, and a polygon whose exterior spans >180
    deg of longitude. Polygons must NOT cross the antimeridian (the GeoJSON
    RFC 7946 contract: split seam-crossing shapes first) — the bbox
    explode and the raw-lon ray cast both assume lon_min <= lon_max, so a
    crossing polygon would match the wrong hemisphere.
    """
    polys = [
        (pid, _checked_rings(pid, rings))
        for pid, rings in polygons.select(polygon_id, "rings").collect()
    ]
    # the dim needs only the exterior: polygons_with_tiles reads ring 0
    dim = polygons.sparkSession.createDataFrame(
        [(i, pid, [rs[0].tolist()]) for i, (pid, rs) in enumerate(polys)],
        StructType([
            StructField("__idx", IntegerType(), False),
            StructField("__pid", polygons.schema[polygon_id].dataType),
            StructField("rings", ArrayType(ArrayType(ArrayType(DoubleType())))),
        ]),
    )
    # private join-key names: a points frame that already carries
    # tile_x/tile_y (e.g. from this engine's own with_tile) must come out
    # of the join with those columns untouched
    tiled_polys = (
        polygons_with_tiles(dim, z)
        .drop("rings")
        .withColumnsRenamed({"tile_x": "__jtx", "tile_y": "__jty"})
    )
    pts = points.withColumns(
        {"__jtx": tile_x(F.col(lon), z), "__jty": tile_y(F.col(lat), z)}
    )
    inside = _inside_predicate([ring_edges(rs) for _, rs in polys])
    return (
        pts.join(F.broadcast(tiled_polys), ["__jtx", "__jty"])
        .where(inside(F.col(lon), F.col(lat), F.col("__idx")))
        .drop("__jtx", "__jty", "__idx")
        .withColumnRenamed("__pid", polygon_id)
    )


def knn_join(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    z: int = 6,
    ring: int = 1,
    query_id: str = "query_id",
    cand_id: str = "cand_id",
    broadcast_queries: bool = True,
) -> DataFrame:
    """Bounded-radius kNN: k nearest candidates within the (2*ring+1)^2
    tile neighborhood of each query (SURVEY.md §2.D6).

    Both inputs need (lon, lat). Candidate generation is an equi-join on
    the candidate's tile against the query's exploded neighbor tiles;
    refinement is a squared-equirect distance + per-query top-k window.
    Candidates are shuffled ONCE on (tile_x, tile_y); queries are usually
    the small side and broadcast — pass ``broadcast_queries=False`` when
    the query set is too large for executor memory after the
    (2*ring+1)^2 explode (the join then falls back to a shuffled hash
    join on the tile key)."""
    n = 1 << z
    cand = candidates.select(
        F.col(cand_id),
        F.col("lon").alias("c_lon"), F.col("lat").alias("c_lat"),
        tile_x(F.col("lon"), z).alias("tile_x"), tile_y(F.col("lat"), z).alias("tile_y"),
    )
    offsets = [(dx, dy) for dx in range(-ring, ring + 1) for dy in range(-ring, ring + 1)]
    probe = (
        queries.select(
            F.col(query_id),
            F.col("lon").alias("q_lon"), F.col("lat").alias("q_lat"),
            tile_x(F.col("lon"), z).alias("q_tx"), tile_y(F.col("lat"), z).alias("q_ty"),
        )
        .withColumn("__off", F.explode(F.array(*[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy")) for dx, dy in offsets
        ])))
        .select(
            query_id, "q_lon", "q_lat",
            F.pmod(F.col("q_tx") + F.col("__off.dx"), F.lit(n)).alias("tile_x"),
            (F.col("q_ty") + F.col("__off.dy")).alias("tile_y"),
        )
        .filter((F.col("tile_y") >= 0) & (F.col("tile_y") < n))
    )
    if 2 * ring + 1 > n:
        # rings wider than the grid wrap in x onto the same tiles: dedupe
        # probes so no candidate joins twice and displaces a real top-k
        # entry. Narrower rings can't collide (pmod of 2*ring+1 <= n
        # consecutive x values is injective; y never wraps), so the
        # common case skips this extra shuffle entirely
        probe = probe.dropDuplicates([query_id, "tile_x", "tile_y"])
    # antimeridian-aware: wrap the lon difference into [-180, 180) so
    # candidates joined through the x-wrap rank by their true distance
    dlon = F.pmod(F.col("c_lon") - F.col("q_lon") + 180.0, F.lit(360.0)) - 180.0
    dlat = F.col("c_lat") - F.col("q_lat")
    # plain products, not pow(): IEEE multiply is correctly rounded in every
    # engine, so dist2 is bit-identical to a SQL oracle computing the same
    # expression — PROVIDED the oracle also mirrors Pmod's branch (return
    # the non-negative fmod remainder as-is; see Q_KNN_EXACT_SQL) — and
    # ranking ties then break identically on cand_id
    probe_side = F.broadcast(probe) if broadcast_queries else probe
    joined = probe_side.join(cand, ["tile_x", "tile_y"]).withColumn(
        "dist2", dlon * dlon + dlat * dlat
    )
    w = Window.partitionBy(query_id).orderBy(F.col("dist2").asc(), F.col(cand_id).asc())
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, cand_id, "dist2", "rank")
    )


def knn_join_exact(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    z: int = 6,
    max_ring: int | None = None,
    query_id: str = "query_id",
    cand_id: str = "cand_id",
    broadcast_queries: bool = True,
) -> DataFrame:
    """TRUE kNN via expanding ring search: start at ring 1 and double the
    ring for queries that (a) found fewer than k candidates, or (b) whose
    k-th distance exceeds the guaranteed-covered radius (a nearer candidate
    could still hide outside the searched ring). Terminates at the ring
    covering the whole grid, so every query gets its exact top-k.

    The driver loop runs O(log n_tiles) bounded Spark jobs; each round only
    re-probes the unresolved queries (typically a tiny fraction after round
    one), so total cost ~ the bounded join plus a sparse tail."""
    import math

    n = 1 << z
    if max_ring is None:
        # y does NOT wrap: a query in row 0 needs ring n-1 to reach row n-1
        # (x is fully covered earlier via the wrap; duplicates are deduped)
        max_ring = max(n - 1, 1)

    def merc_lat(y_row):
        """Northern latitude of Mercator tile row y (degrees), Column expr."""
        return F.degrees(F.atan(F.sinh(F.lit(math.pi) * (1.0 - 2.0 * y_row / n))))

    remaining = queries
    results = None
    ring = 1
    while True:
        found = knn_join(
            remaining, candidates, k=k, z=z, ring=ring,
            query_id=query_id, cand_id=cand_id,
            broadcast_queries=broadcast_queries,
        ).localCheckpoint(eager=True)  # truncate per-round lineage
        # a query is RESOLVED when it has k hits and the k-th distance fits
        # inside the radius this ring PROVABLY covered. x coverage is
        # ring * 360/n; y coverage is bounded below by ring * (the smallest
        # Mercator row span inside the ring — rows shrink toward the poles,
        # so the most poleward searched row bounds it).
        qt = remaining.select(
            F.col(query_id),
            tile_y(F.col("lat"), z).alias("__qty"),
        )
        edge_n = F.greatest(F.lit(0), F.col("__qty") - ring)
        edge_s = F.least(F.lit(n - 1), F.col("__qty") + ring)
        span_n = merc_lat(edge_n) - merc_lat(edge_n + 1)
        span_s = merc_lat(edge_s) - merc_lat(edge_s + 1)
        covered_deg = F.least(
            F.lit(ring * 360.0 / n), ring * F.least(span_n, span_s)
        )
        stats = (
            found.groupBy(query_id)
            .agg(F.count("*").alias("__n"), F.max("dist2").alias("__worst"))
            .join(qt, query_id)
            .withColumn("__covered2", covered_deg * covered_deg)
        )
        # STRICT inequality: a hidden candidate in an unsearched tile can
        # sit at exactly the covered radius and outrank the found k-th row
        # on the (dist2, cand_id) tie-break — equality must keep searching
        resolved_keys = stats.filter(
            (F.col("__n") >= k) & (F.col("__worst") < F.col("__covered2"))
        ).select(query_id)
        if ring >= max_ring:
            resolved_keys = stats.select(query_id)  # searched everything
        resolved = found.join(F.broadcast(resolved_keys), query_id, "left_semi")
        results = resolved if results is None else results.unionAll(resolved)
        remaining = remaining.join(
            F.broadcast(resolved_keys), query_id, "left_anti"
        ).localCheckpoint(eager=True)
        if ring >= max_ring or remaining.isEmpty():
            break
        ring = min(ring * 2, max_ring)
    return results.select(query_id, cand_id, "dist2", "rank")


def distance_join(
    left: DataFrame,
    right: DataFrame,
    radius_m: float,
    left_id: str = "left_id",
    right_id: str = "right_id",
    lon: str = "lon",
    lat: str = "lat",
    broadcast_left: bool = False,
) -> DataFrame:
    """All pairs (left, right) within ``radius_m`` meters on the SPHERE —
    the geodesic distance-band join (geofence matching, station coverage,
    POI conflation). Both inputs need ``(lon, lat)`` in degrees.

    Shape: coarse equi-join on a latitude-banded degree grid, exact
    haversine refinement (functions/geodesic.py) — the same
    cell-join-then-refine pattern as pip_join/knn_join, never a cartesian.
    Latitude cells are ``radius`` degrees tall, so a match spans at most
    one cell vertically (great-circle distance >= meridian component).
    Longitude is cut into an ODD number NX of uniform cells no wider than
    that, and the left side probes a PER-ROW window of
    ``ceil(needed / cell_width)`` cells where ``needed = radius_deg *
    (pi/2) / cos(phi_max)`` and ``phi_max`` bounds both endpoints' |lat|
    — from dist >= (2/pi) * R * cos(phi_max) * dlon, so the window
    provably covers every true pair at ANY latitude, merely widening
    toward the poles. The uniform circular grid makes the antimeridian a
    plain pmod step, and odd NX makes any window of span <= NX injective
    under pmod — no dedupe shuffle, no duplicate pairs, even when a
    polar row's window caps out at the whole circle.

    Scale shape: the right side shuffles ONCE on its single cell key; the
    left side's explode is bounded by data latitude (~4 probe cells per
    row at |lat|<=60, ~9 at 80) and carries only (id, lon, lat). Pass
    ``broadcast_left=True`` when the left side is a small dim table.

    Returns (left_id, right_id, dist_m) at full precision.
    """
    from ..functions.geodesic import M_PER_DEG_LAT, haversine_m

    if radius_m <= 0:
        raise ValueError(f"radius_m must be positive, got {radius_m}")
    if radius_m > 5_000_000:
        raise ValueError(
            "radius_m > 5000 km degenerates the banded grid (cells span "
            "hemispheres); use a brute-force cross join at that scale"
        )
    delta = radius_m / M_PER_DEG_LAT  # lat cell height, degrees
    nx = int(np.ceil(360.0 / delta))
    if nx % 2 == 0:
        nx += 1  # odd => any pmod window of span <= NX is injective
    delta_x = 360.0 / nx  # uniform lon cell width (<= delta)
    ny_max = int(np.ceil(180.0 / delta)) - 1

    def _cy(lat_col):
        return F.least(
            F.floor((lat_col + 90.0) / delta).cast("int"), F.lit(ny_max)
        )

    r = right.select(
        F.col(right_id),
        F.col(lon).alias("r_lon"),
        F.col(lat).alias("r_lat"),
        F.pmod(
            F.floor((F.col(lon) + 180.0) / delta_x).cast("int"), F.lit(nx)
        ).alias("cx"),
        _cy(F.col(lat)).alias("cy"),
    )
    # per-row longitude window: phi_max bounds BOTH endpoints (the right
    # point sits within radius => within delta degrees of latitude). A row
    # whose band touches the polar cap (phi_max >= 89.99) takes the FULL
    # circle: cos(phi) -> 0 there, so no finite widening factor is provably
    # sufficient — clamping the angle instead would SHRINK the window and
    # silently drop true pairs near the poles.
    phi_max = F.abs(F.col(lat)) + F.lit(delta)
    needed_deg = F.lit(delta * np.pi / 2.0) / F.cos(
        F.radians(F.least(phi_max, F.lit(89.99)))
    )
    full = F.lit((nx - 1) // 2)
    need = F.when(phi_max >= F.lit(89.99), full).otherwise(
        F.ceil(needed_deg / F.lit(delta_x)).cast("int")
    )
    half = F.least(need, full)
    l = (
        left.select(
            F.col(left_id),
            F.col(lon).alias("l_lon"),
            F.col(lat).alias("l_lat"),
            F.floor((F.col(lon) + 180.0) / delta_x).cast("int").alias("cx0"),
            _cy(F.col(lat)).alias("cy0"),
            half.alias("__half"),
        )
        .withColumn("__dy", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .withColumn("cy", F.col("cy0") + F.col("__dy"))
        .filter((F.col("cy") >= 0) & (F.col("cy") <= ny_max))
        .withColumn(
            "cx",
            F.explode(
                F.transform(
                    F.sequence(-F.col("__half"), F.col("__half")),
                    lambda dx: F.pmod(F.col("cx0") + dx, F.lit(nx)),
                )
            ),
        )
        .select(left_id, "l_lon", "l_lat", "cx", "cy")
    )
    probe = F.broadcast(l) if broadcast_left else l
    joined = probe.join(r, ["cx", "cy"])
    dist = haversine_m(
        F.col("l_lon"), F.col("l_lat"), F.col("r_lon"), F.col("r_lat")
    )
    return (
        joined.withColumn("dist_m", dist)
        .filter(F.col("dist_m") <= F.lit(float(radius_m)))
        .select(left_id, right_id, "dist_m")
    )


def knn_join_geodesic(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    r0_m: float = 50_000.0,
    max_r_m: float = 5_000_000.0,
    query_id: str = "query_id",
    cand_id: str = "cand_id",
) -> DataFrame:
    """TRUE kNN under the geodesic (haversine) metric via expanding-radius
    search over distance_join's banded grid: start at ``r0_m``, double for
    queries that found fewer than k candidates, stop at ``max_r_m``.

    Resolution needs NO covered-radius bookkeeping (unlike the tile-ring
    variant): distance_join returns EVERY candidate within the searched
    radius, so any unseen candidate is strictly farther than radius >= the
    worst kept hit — k hits means the top-k is exact. Queries still
    unresolved at ``max_r_m`` return their best-effort hits within it
    (bounded-radius semantics, documented; the DuckDB oracle applies the
    same bound).

    Driver loop: O(log(max_r/r0)) bounded Spark jobs, each re-probing only
    the unresolved queries (a shrinking tail after round one); per-round
    lineage truncated by localCheckpoint like knn_join_exact.
    """
    if not 0 < r0_m <= max_r_m:
        raise ValueError(f"need 0 < r0_m <= max_r_m, got {r0_m}, {max_r_m}")
    w = Window.partitionBy(query_id).orderBy(
        F.col("dist_m").asc(), F.col(cand_id).asc()
    )
    remaining = queries
    results = None
    r = float(r0_m)
    while True:
        found = (
            distance_join(
                remaining, candidates, r, left_id=query_id, right_id=cand_id
            )
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .localCheckpoint(eager=True)
        )
        if r >= max_r_m:
            results = found if results is None else results.unionAll(found)
            break
        resolved_keys = (
            found.groupBy(query_id)
            .agg(F.count("*").alias("__n"))
            .filter(F.col("__n") >= k)
            .select(query_id)
        )
        resolved = found.join(F.broadcast(resolved_keys), query_id, "left_semi")
        results = resolved if results is None else results.unionAll(resolved)
        remaining = remaining.join(
            F.broadcast(resolved_keys), query_id, "left_anti"
        ).localCheckpoint(eager=True)
        if remaining.isEmpty():
            break
        r = min(r * 2.0, float(max_r_m))
    return results.select(query_id, cand_id, "dist_m", "rank")


def snap_join(
    points: DataFrame,
    segments: DataFrame,
    radius: float,
    point_id: str = "point_id",
    seg_id: str = "seg_id",
    x: str = "x",
    y: str = "y",
    ax: str = "ax",
    ay: str = "ay",
    bx: str = "bx",
    by: str = "by",
    max_cells_per_segment: int = 4096,
) -> DataFrame:
    """Snap every point to its NEAREST segment within ``radius`` (planar
    coordinates — tile-local, WebMercator meters, any uniform plane): the
    map-matching primitive (GPS trace -> road edge), also address
    interpolation and network conflation. Emits one row per matched
    point: ``(point_id, seg_id, t, snap_x, snap_y, dist2, dist)`` where
    ``t`` in [0, 1] parameterizes the closest point ``(snap_x, snap_y) =
    a + t*(b - a)`` on the winning segment. Points with no segment in
    range leave the relation (inner semantics). Degenerate segments
    (a == b) snap with t = 0.

    LOSSLESS pruning, same shape as distance_join: grid cells are
    ``radius`` wide; a segment registers in every cell its bbox overlaps,
    a point probes its 3x3 cell block. Any segment within ``radius`` of
    point p has a closest point q with |q - p| <= radius, q lies in p's
    3x3 block AND inside the segment's bbox — so the candidate pair
    always survives the equi-join. Exact refinement is the closed-form
    projection clamp ``t = clip(dot / len2, 0, 1)`` — pure Column
    algebra a SQL oracle replays in the same IEEE op order. The winner
    is the deterministic argmin on ``(dist2, seg_id)``; a pair reached
    through several probe cells collapses in the same argmin, so no
    dedupe shuffle exists.

    Scale shape: the point side explodes x9 carrying only (id, x, y);
    the segment side explodes by bbox cell count — bounded by
    length/radius and GUARDED by ``max_cells_per_segment`` (a
    continent-length segment in a meter-radius join is a modeling bug;
    it raises loudly instead of silently exploding the shuffle). ONE
    equi-join shuffle pair plus one map-side-partial min_by aggregation
    on point_id. Skewed cells (many segments under one dense point
    cluster) split under AQE; group state in the argmin is one row.
    """
    if radius <= 0:
        raise ValueError(f"radius must be positive, got {radius}")
    r = float(radius)

    p = points.select(
        F.col(point_id).alias("__pid"),
        F.col(x).cast("double").alias("__px"),
        F.col(y).cast("double").alias("__py"),
    )
    s = segments.select(
        F.col(seg_id).alias("__sid"),
        F.col(ax).cast("double").alias("__ax"),
        F.col(ay).cast("double").alias("__ay"),
        F.col(bx).cast("double").alias("__bx"),
        F.col(by).cast("double").alias("__by"),
    )

    def cell(c):
        return F.floor(c / F.lit(r)).cast("bigint")

    sx0, sx1 = cell(F.least("__ax", "__bx")), cell(F.greatest("__ax", "__bx"))
    sy0, sy1 = cell(F.least("__ay", "__by")), cell(F.greatest("__ay", "__by"))
    ncells = (sx1 - sx0 + 1) * (sy1 - sy0 + 1)
    guard = F.when(
        ncells > F.lit(int(max_cells_per_segment)),
        F.raise_error(F.concat(
            F.lit("snap_join: segment "), F.col("__sid").cast("string"),
            F.lit(f" covers more than {max_cells_per_segment} grid cells "
                  "at this radius — split long segments (or raise "
                  "max_cells_per_segment) first"),
        )).cast("bigint"),
    ).otherwise(sx0)
    sc = (
        s.withColumn("__cx", F.explode(F.sequence(guard, sx1)))
        .withColumn("__cy", F.explode(F.sequence(sy0, sy1)))
    )
    pc = (
        p.withColumn("__dx", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .withColumn("__dy", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .select(
            "__pid", "__px", "__py",
            (cell(F.col("__px")) + F.col("__dx")).alias("__cx"),
            (cell(F.col("__py")) + F.col("__dy")).alias("__cy"),
        )
    )
    j = pc.join(sc, ["__cx", "__cy"])
    dxs, dys = F.col("__bx") - F.col("__ax"), F.col("__by") - F.col("__ay")
    len2 = dxs * dxs + dys * dys
    dot = (F.col("__px") - F.col("__ax")) * dxs + (
        F.col("__py") - F.col("__ay")
    ) * dys
    t = F.when(len2 == 0, F.lit(0.0)).otherwise(
        F.least(F.lit(1.0), F.greatest(F.lit(0.0), dot / len2))
    )
    j = j.withColumn("__t", t)
    snap_x = F.col("__ax") + F.col("__t") * dxs
    snap_y = F.col("__ay") + F.col("__t") * dys
    j = j.withColumn("__sx", snap_x).withColumn("__sy", snap_y)
    d2 = (F.col("__px") - F.col("__sx")) * (F.col("__px") - F.col("__sx")) + (
        F.col("__py") - F.col("__sy")
    ) * (F.col("__py") - F.col("__sy"))
    cand = j.withColumn("__d2", d2).filter(F.col("__d2") <= F.lit(r * r))
    best = cand.groupBy("__pid").agg(
        F.min_by(
            F.struct(
                F.col("__sid"), F.col("__t"), F.col("__sx"), F.col("__sy"),
                F.col("__d2"),
            ),
            F.struct(F.col("__d2"), F.col("__sid")),
        ).alias("__b")
    )
    return best.select(
        F.col("__pid").alias(point_id),
        F.col("__b.__sid").alias(seg_id),
        F.col("__b.__t").alias("t"),
        F.col("__b.__sx").alias("snap_x"),
        F.col("__b.__sy").alias("snap_y"),
        F.col("__b.__d2").alias("dist2"),
        F.sqrt("__b.__d2").alias("dist"),
    )

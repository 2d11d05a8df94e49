"""Seeded NumPy inputs for the tiling benchmark.

Everything here depends only on NumPy and the seed, never on the
program's own generators (``vectortiles_spark.sources.synth``), so the
benchmark's inputs stay fixed when those change. Each table draws from
its own stream, ``np.random.default_rng([seed, stream])``, so resizing
one table never shifts another.

Tables:

* ``images``: image+caption rows. 80% fall in tight Gaussians around six
  metro centres (the hot tiles), 20% are uniform over lon [-180, 180),
  lat [-80, 80]. ``image_key`` is a unique positive 40-bit id, the
  feature id the pipeline tiles by. ``payload`` is a random blob that no
  stage of the pipeline reads.
* ``polygons``: one star polygon over each metro (every other one with a
  hole) plus ``N_WORLD_POLYGONS`` large star polygons in distinct 30 deg
  cells away from the metros (every third one with a hole). Polygons are
  pairwise disjoint, so a point matches at most one.
* ``polylines``: random-walk world polylines, 80% starting near a metro.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

METROS = np.array(
    [  # lon, lat
        [-74.006, 40.713],   # New York
        [139.692, 35.690],   # Tokyo
        [-0.128, 51.507],    # London
        [2.352, 48.857],     # Paris
        [-118.244, 34.052],  # Los Angeles
        [77.209, 28.614],    # Delhi
    ]
)
METRO_SHARE = 0.8
METRO_SIGMA_DEG = 0.05
WORDS = (
    "harbor skyline market bridge temple river neon alley plaza garden "
    "mural tram fountain rooftop bazaar café 東京 paris señal niño metro "
    "sunset crowd festival snow rain fog dawn dusk vendor kiosk"
).split()
N_WORLD_POLYGONS = 10

STREAM_IMAGES, STREAM_POLYGONS, STREAM_LINES = 1, 2, 3


def _star(rng, cx: float, cy: float, r_lo: float, r_hi: float, n: int) -> np.ndarray:
    """Closed star-shaped ring (counter-clockwise in lon/lat) around
    (cx, cy): n jittered, increasing angles with radii in [r_lo, r_hi].
    Consecutive angles are < 4*pi/n apart, so for n >= 12 every edge
    stays farther than r_lo * cos(pi/6) from the centre: a hole of
    radius below that never touches the exterior."""
    ang = (np.arange(n) + rng.uniform(0.0, 0.8, n)) * (2 * np.pi / n)
    rad = rng.uniform(r_lo, r_hi, n)
    ring = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
    return np.vstack([ring, ring[:1]])


def _mixture(rng, n: int, sigma: float, lat_span: float):
    """lon/lat of n points: METRO_SHARE around a metro, the rest uniform."""
    is_metro = rng.random(n) < METRO_SHARE
    metro = rng.integers(0, len(METROS), n)
    lon = np.where(
        is_metro,
        METROS[metro, 0] + rng.normal(0.0, sigma, n),
        rng.uniform(-180.0, 180.0, n),
    )
    lat = np.where(
        is_metro,
        METROS[metro, 1] + rng.normal(0.0, sigma, n),
        rng.uniform(-lat_span, lat_span, n),
    )
    return lon, lat


def images(seed: int, n: int) -> pa.Table:
    rng = np.random.default_rng([seed, STREAM_IMAGES])
    lon, lat = _mixture(rng, n, METRO_SIGMA_DEG, 80.0)
    keys = np.unique(rng.integers(1, 1 << 40, n + n // 8 + 16))
    keys = rng.permutation(keys)[:n]
    if len(keys) < n:
        raise RuntimeError("image_key draw produced too few distinct keys")
    words = rng.integers(0, len(WORDS), (n, 5))
    captions = [" ".join(WORDS[j] for j in row) for row in words]
    plen = rng.integers(256, 1024, n)
    blob = rng.bytes(int(plen.sum()))
    offs = np.concatenate([[0], np.cumsum(plen)]).astype(np.int32)
    payload = pa.BinaryArray.from_buffers(
        pa.binary(), n, [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(blob)]
    )
    return pa.table({
        "image_id": pa.array([f"img_{i:08d}" for i in range(n)]),
        "image_key": pa.array(keys.astype(np.int64)),
        "payload": payload,
        "w": pa.array(rng.choice([64, 128, 256, 512], n).astype(np.int32)),
        "h": pa.array(rng.choice([64, 128, 256, 512], n).astype(np.int32)),
        "fmt": pa.array(np.where(rng.random(n) < 0.5, "ppm", "dct")),
        "caption": pa.array(captions),
        "phash": pa.array(rng.integers(0, 1 << 62, n, dtype=np.int64)),
        "lon": pa.array(lon),
        "lat": pa.array(lat),
    })


def polygons(seed: int) -> list[tuple[str, list[np.ndarray]]]:
    """[(polygon_id, [exterior, *holes])], rings closed, in lon/lat."""
    rng = np.random.default_rng([seed, STREAM_POLYGONS])
    out = []
    for i, (mx, my) in enumerate(METROS):
        cx, cy = mx + rng.normal(0.0, 0.01), my + rng.normal(0.0, 0.01)
        rings = [_star(rng, cx, cy, 0.05, 0.12, int(rng.integers(12, 25)))]
        if i % 2 == 0:
            rings.append(_star(rng, cx, cy, 0.01, 0.03, int(rng.integers(6, 11))))
        out.append((f"metro_{i}", rings))
    # 30 deg cells between lat -75 and 75 whose centre is > 20 deg from
    # every metro; polygon radius < 14 deg keeps them apart
    cells = [
        (-165.0 + 30 * i, -60.0 + 30 * j) for i in range(12) for j in range(5)
    ]
    cells = [
        c for c in cells
        if np.min(np.hypot(METROS[:, 0] - c[0], METROS[:, 1] - c[1])) > 20.0
    ]
    pick = rng.choice(len(cells), N_WORLD_POLYGONS, replace=False)
    for k, ci in enumerate(sorted(pick.tolist())):
        cx, cy = cells[ci]
        rings = [_star(rng, cx, cy, 6.0, 13.5, int(rng.integers(16, 33)))]
        if k % 3 == 0:
            rings.append(_star(rng, cx, cy, 1.0, 3.0, int(rng.integers(6, 11))))
        out.append((f"world_{k}", rings))
    return out


def polylines(seed: int, n: int, n_vertices: int, step_deg: float):
    """(feature_ids int64 (n,), lon (n, n_vertices), lat (n, n_vertices))."""
    rng = np.random.default_rng([seed, STREAM_LINES])
    lon0, lat0 = _mixture(rng, n, 0.1, 78.0)
    steps = rng.normal(0.0, step_deg, (2, n, n_vertices))
    steps[:, :, 0] = 0.0
    lon = np.clip(lon0[:, None] + np.cumsum(steps[0], axis=1), -179.99, 179.99)
    lat = np.clip(lat0[:, None] + np.cumsum(steps[1], axis=1), -84.0, 84.0)
    fids = np.arange(1, n + 1, dtype=np.int64) * 7919 + int(rng.integers(0, 1000))
    return fids, lon, lat


def polygons_table(polys) -> pa.Table:
    return pa.table({
        "polygon_id": pa.array([pid for pid, _ in polys]),
        "rings": pa.array(
            [[r.tolist() for r in rings] for _, rings in polys],
            pa.list_(pa.list_(pa.list_(pa.float64()))),
        ),
    })


def polylines_table(fids, lon, lat) -> pa.Table:
    geoms = [
        [[np.column_stack([lon[i], lat[i]]).tolist()]] for i in range(len(fids))
    ]
    return pa.table({
        "layer": pa.array(["roads"] * len(fids)),
        "geom_type": pa.array(np.full(len(fids), 2, np.int32)),
        "feature_id": pa.array(fids),
        "geom": pa.array(
            geoms, pa.list_(pa.list_(pa.list_(pa.list_(pa.float64()))))
        ),
    })

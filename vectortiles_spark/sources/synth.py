"""Deterministic synthetic image+caption table (BASELINE.json input_hint).

Schema (exact, FIXTURES.md §B1):
    image_id STRING, bytes BINARY, w INT, h INT, fmt STRING,
    caption STRING, phash BIGINT, lon DOUBLE, lat DOUBLE

Geo distribution is a skew mixture: ~80% of rows cluster in a handful of
dense "metro" hot-spots (tight Gaussians) and ~20% are uniform — this is
what exercises the hot-tile caps (SURVEY.md §2.D10).

Generation is FULLY DISTRIBUTED and ROW-ADDRESSED: every random draw is a
counter-based hash (splitmix64) of (seed, row_id, stream), so row i is
bit-identical no matter the partition count or Arrow batch size — the
property that lets the same generator run at sf0.001 locally and at 10^12
rows on a 1000-executor cluster with no coordination.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..images.codec import encode_image, phash64

_METROS = np.array(
    [  # lon, lat of dense clusters
        [-74.006, 40.713],   # NYC
        [139.692, 35.690],   # Tokyo
        [-0.128, 51.507],    # London
        [2.352, 48.857],     # Paris
        [-118.244, 34.052],  # LA
        [77.209, 28.614],    # Delhi
    ]
)
_SIZES = np.array([8, 16, 24, 32, 48, 64])
_WORDS = (
    "harbor skyline market bridge temple river neon alley plaza garden "
    "mural tram fountain rooftop bazaar café 東京 paris señal niño metro "
    "sunset crowd festival snow rain fog dawn dusk vendor kiosk"
).split()

_U64 = np.uint64


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Counter-based stateless RNG core (public splitmix64 constants)."""
    z = x.astype(_U64) + _U64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> _U64(27))) * _U64(0x94D049BB133111EB)
    return z ^ (z >> _U64(31))


def _u01(ids: np.ndarray, seed: int, stream: int) -> np.ndarray:
    """Uniform [0,1) per row id, stable across any batching."""
    # hash the (seed, stream) scalar ONCE and XOR-broadcast — elementwise
    # identical to hashing a constant array, at half the hash work (the
    # 1-element array keeps numpy's wrapping-multiply silent, unlike 0-d)
    mix = _splitmix64(np.array([seed * 1315423911 + stream], dtype=_U64))
    h = _splitmix64(ids.astype(_U64) ^ mix)
    return (h >> _U64(11)).astype(np.float64) / float(1 << 53)


def _normal(ids: np.ndarray, seed: int, stream: int) -> np.ndarray:
    """Box-Muller from two counter streams."""
    u1 = np.maximum(_u01(ids, seed, stream), 1e-12)
    u2 = _u01(ids, seed, stream + 7919)
    return np.sqrt(-2.0 * np.log(u1)) * np.cos(2 * np.pi * u2)


def images_pdf(n: int, seed: int = 42, start_id: int = 0) -> pd.DataFrame:
    """Generate n deterministic rows with ids [start_id, start_id+n)."""
    return images_pdf_for_ids(np.arange(start_id, start_id + n, dtype=np.int64), seed)


def images_pdf_for_ids(ids: np.ndarray, seed: int = 42, light: bool = False) -> pd.DataFrame:
    """light=True skips the image payload synthesis (bytes=b'', phash from
    the counter hash) — for scale benchmarks of stages that never read the
    pruned `bytes` column. Schema is identical either way."""
    n = len(ids)

    # geo mixture: 80% metro gaussians, 20% uniform
    is_metro = _u01(ids, seed, 1) < 0.8
    metro_idx = (_u01(ids, seed, 2) * len(_METROS)).astype(np.int64)
    lon = np.where(
        is_metro,
        _METROS[metro_idx, 0] + _normal(ids, seed, 3) * 0.05,
        _u01(ids, seed, 4) * 360.0 - 180.0,
    )
    lat = np.where(
        is_metro,
        _METROS[metro_idx, 1] + _normal(ids, seed, 5) * 0.05,
        _u01(ids, seed, 6) * 170.0 - 85.0,
    )
    lon = np.clip(lon, -180.0, 179.999999)
    lat = np.clip(lat, -85.05, 85.05)

    sizes_w = _SIZES[(_u01(ids, seed, 7) * len(_SIZES)).astype(np.int64)]
    sizes_h = _SIZES[(_u01(ids, seed, 8) * len(_SIZES)).astype(np.int64)]
    fmts = np.where(_u01(ids, seed, 9) < 0.5, "ppm", "dct")

    # captions: seeded word salad, unicode included
    word_idx = np.stack([(_u01(ids, seed, 10 + j) * len(_WORDS)).astype(np.int64) for j in range(6)], axis=1)
    captions = [" ".join(_WORDS[j] for j in row) for row in word_idx]

    payloads: list[bytes] = []
    hashes = np.zeros(n, dtype=np.int64)
    if light:
        payloads = [b""] * n
        hashes = (_splitmix64(ids.astype(_U64)) >> _U64(1)).astype(np.int64)
    else:
        # payload-only random streams — skipped entirely in light mode
        hue = np.stack([(_u01(ids, seed, 20 + c) * 255).astype(np.int64) for c in range(3)], axis=1)
        cx = _u01(ids, seed, 23)
        cy = _u01(ids, seed, 24)
        rad = 0.15 + _u01(ids, seed, 25) * 0.25
    for i in range(0 if light else n):
        w, h = int(sizes_w[i]), int(sizes_h[i])
        yy, xx = np.mgrid[0:h, 0:w]
        grad = (xx * 255 // max(w - 1, 1)).astype(np.float64)
        disk = ((xx / w - cx[i]) ** 2 + (yy / h - cy[i]) ** 2) < rad[i] ** 2
        img = np.empty((h, w, 3), dtype=np.uint8)
        for ch in range(3):
            base = grad * (0.3 + 0.7 * ch / 2)
            base[disk] = hue[i, ch]
            img[:, :, ch] = np.clip(base, 0, 255).astype(np.uint8)
        payloads.append(encode_image(img, str(fmts[i])))
        hashes[i] = phash64(img)

    return pd.DataFrame(
        {
            "image_id": [f"img_{i:012d}" for i in ids],
            "bytes": payloads,
            "w": sizes_w.astype(np.int32),
            "h": sizes_h.astype(np.int32),
            "fmt": fmts,
            "caption": captions,
            "phash": hashes,
            "lon": lon,
            "lat": lat,
        }
    )


IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long, lon double, lat double"
)


def images_df(spark, n: int, seed: int = 42, partitions: int | None = None, light: bool = False):
    """Distributed deterministic generation: range -> mapInPandas synth."""
    partitions = partitions or spark.sparkContext.defaultParallelism
    rows = spark.range(0, n, 1, partitions)

    def gen(batches):
        for pdf in batches:
            if len(pdf):
                yield images_pdf_for_ids(pdf["id"].to_numpy(), seed=seed, light=light)

    return rows.mapInPandas(gen, schema=IMAGES_SCHEMA)


def write_images_table(
    spark, path: str, n: int, seed: int = 42, partitions: int | None = None, light: bool = False
):
    images_df(spark, n, seed, partitions, light).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


LINES_SCHEMA = (
    "layer string, geom_type int, feature_id bigint, "
    "geom array<array<array<array<double>>>>"
)


def lines_pdf_for_ids(ids: np.ndarray, seed: int = 42, n_vertices: int = 48) -> pd.DataFrame:
    """Deterministic world-space polylines (roads-shaped input for the
    clip -> simplify -> encode pipeline): per id, a random walk of
    `n_vertices` lon/lat points starting near a metro (same 80/20 skew
    mixture as the image table), step ~0.02 deg. Row-addressed like every
    synth generator here: vertex j of row i depends only on (seed, i, j)."""
    n = len(ids)
    is_metro = _u01(ids, seed, 101) < 0.8
    metro_idx = (_u01(ids, seed, 102) * len(_METROS)).astype(np.int64)
    lon0 = np.where(
        is_metro,
        _METROS[metro_idx, 0] + _normal(ids, seed, 103) * 0.1,
        _u01(ids, seed, 104) * 360.0 - 180.0,
    )
    lat0 = np.where(
        is_metro,
        _METROS[metro_idx, 1] + _normal(ids, seed, 105) * 0.1,
        _u01(ids, seed, 106) * 160.0 - 80.0,
    )
    # (n, n_vertices) step field from counter streams — vectorized across
    # the whole batch, no per-row python
    steps_lon = np.empty((n, n_vertices))
    steps_lat = np.empty((n, n_vertices))
    for j in range(n_vertices):
        steps_lon[:, j] = _normal(ids, seed, 1000 + 2 * j) * 0.02
        steps_lat[:, j] = _normal(ids, seed, 1001 + 2 * j) * 0.02
    steps_lon[:, 0] = 0.0
    steps_lat[:, 0] = 0.0
    lons = np.clip(lon0[:, None] + np.cumsum(steps_lon, axis=1), -179.99, 179.99)
    lats = np.clip(lat0[:, None] + np.cumsum(steps_lat, axis=1), -84.9, 84.9)
    geoms = [
        [[np.column_stack([lons[i], lats[i]]).tolist()]] for i in range(n)
    ]
    return pd.DataFrame(
        {
            "layer": "roads",
            "geom_type": 2,
            "feature_id": ids.astype(np.int64),
            "geom": geoms,
        }
    )


def lines_df(spark, n: int, seed: int = 42, n_vertices: int = 48, partitions: int | None = None):
    """Distributed deterministic world-polyline table."""
    partitions = partitions or spark.sparkContext.defaultParallelism
    rows = spark.range(0, n, 1, partitions)

    def gen(batches):
        for pdf in batches:
            if len(pdf):
                yield lines_pdf_for_ids(pdf["id"].to_numpy(), seed=seed, n_vertices=n_vertices)

    return rows.mapInPandas(gen, schema=LINES_SCHEMA)

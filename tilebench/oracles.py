"""Independent checkers for the tiling benchmark.

Nothing here imports ``vectortiles_spark``: the wire reader, the PMTiles
reader, the tile/pixel projection, the point-in-polygon test, the cap
rule and the overzoom arithmetic are written from the public specs
(Mapbox Vector Tile 2.1, PMTiles v3, WebMercator), so a fault in the
program cannot hide behind the same fault in its checker.
"""

from __future__ import annotations

import gzip
import math
import struct

import numpy as np

EXTENT = 4096
CMD_MOVE_TO, CMD_LINE_TO, CMD_CLOSE_PATH = 1, 2, 7
GEOM_POINT, GEOM_LINESTRING, GEOM_POLYGON = 1, 2, 3

# ------------------------------------------------------------- protobuf wire


def read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    value = shift = 0
    while True:
        if pos >= len(buf):
            raise ValueError("truncated varint")
        b = buf[pos]
        pos += 1
        value |= (b & 0x7F) << shift
        if b < 0x80:
            return value, pos
        shift += 7
        if shift > 63:
            raise ValueError("varint longer than 10 bytes")


def zigzag_decode(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


def zigzag_encode(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def fields(buf: bytes):
    """Yield (field_number, wire_type, value) over one message; value is
    an int for varint/fixed fields and bytes for length-delimited ones."""
    pos, end = 0, len(buf)
    while pos < end:
        key, pos = read_varint(buf, pos)
        fno, wt = key >> 3, key & 7
        if wt == 0:
            v, pos = read_varint(buf, pos)
        elif wt == 1:
            if pos + 8 > end:
                raise ValueError("truncated fixed64")
            v, pos = int.from_bytes(buf[pos:pos + 8], "little"), pos + 8
        elif wt == 2:
            ln, pos = read_varint(buf, pos)
            if pos + ln > end:
                raise ValueError("truncated length-delimited field")
            v, pos = bytes(buf[pos:pos + ln]), pos + ln
        elif wt == 5:
            if pos + 4 > end:
                raise ValueError("truncated fixed32")
            v, pos = int.from_bytes(buf[pos:pos + 4], "little"), pos + 4
        else:
            raise ValueError(f"unsupported wire type {wt}")
        yield fno, wt, v


def packed_varints(buf: bytes) -> list[int]:
    out, pos = [], 0
    while pos < len(buf):
        v, pos = read_varint(buf, pos)
        out.append(v)
    return out


# ------------------------------------------------------------- MVT reader


def _value(buf: bytes):
    """vector_tile.Tile.Value -> Python scalar (exactly one field set)."""
    got = None
    for fno, _wt, v in fields(buf):
        if fno == 1:
            got = v.decode("utf-8")
        elif fno == 2:
            got = struct.unpack("<f", v.to_bytes(4, "little"))[0]
        elif fno == 3:
            got = struct.unpack("<d", v.to_bytes(8, "little"))[0]
        elif fno == 4:
            got = v - (1 << 64) if v >= (1 << 63) else v
        elif fno == 5:
            got = v
        elif fno == 6:
            got = zigzag_decode(v)
        elif fno == 7:
            got = bool(v)
    return got


def read_tile(data: bytes) -> list[dict]:
    """MVT bytes -> [{name, version, extent, features: [{id, type, tags,
    geometry}]}] with ``tags`` resolved to a {key: value} dict and
    ``geometry`` the raw command stream (list of uint32)."""
    layers = []
    for fno, _wt, lbuf in fields(data):
        if fno != 3:
            continue
        layer = {"name": None, "version": 1, "extent": EXTENT, "features": []}
        keys, values, raw_feats = [], [], []
        for lf, _lwt, v in fields(lbuf):
            if lf == 1:
                layer["name"] = v.decode("utf-8")
            elif lf == 2:
                raw_feats.append(v)
            elif lf == 3:
                keys.append(v.decode("utf-8"))
            elif lf == 4:
                values.append(_value(v))
            elif lf == 5:
                layer["extent"] = v
            elif lf == 15:
                layer["version"] = v
        for fb in raw_feats:
            feat = {"id": 0, "type": 0, "tags": {}, "geometry": []}
            tags = []
            for ff, _fwt, v in fields(fb):
                if ff == 1:
                    feat["id"] = v
                elif ff == 2:
                    tags = packed_varints(v)
                elif ff == 3:
                    feat["type"] = v
                elif ff == 4:
                    feat["geometry"] = packed_varints(v)
            if len(tags) % 2:
                raise ValueError("odd tag count")
            feat["tags"] = {
                keys[tags[i]]: values[tags[i + 1]] for i in range(0, len(tags), 2)
            }
            layer["features"].append(feat)
        layers.append(layer)
    return layers


def commands(stream: list[int]) -> list[tuple[int, list[tuple[int, int]]]]:
    """Command stream -> [(command, [(x, y) absolute, ...])], applying the
    zigzag deltas to a cursor that carries over between commands."""
    out, pos, x, y = [], 0, 0, 0
    while pos < len(stream):
        head = stream[pos]
        pos += 1
        cmd, count = head & 7, head >> 3
        if cmd == CMD_CLOSE_PATH:
            out.append((cmd, []))
            continue
        if cmd not in (CMD_MOVE_TO, CMD_LINE_TO):
            raise ValueError(f"unknown command {cmd}")
        if pos + 2 * count > len(stream):
            raise ValueError("command stream truncated")
        pts = []
        for _ in range(count):
            x += zigzag_decode(stream[pos])
            y += zigzag_decode(stream[pos + 1])
            pos += 2
            pts.append((x, y))
        out.append((cmd, pts))
    return out


def geometry_parts(geom_type: int, stream: list[int]) -> list[list[tuple[int, int]]]:
    """Points: one part per point. Lines: one part per MoveTo+LineTo.
    Polygons: one part per ring, its first point repeated at the end."""
    cmds = commands(stream)
    if geom_type == GEOM_POINT:
        return [[p] for cmd, pts in cmds for p in pts]
    parts: list[list[tuple[int, int]]] = []
    for cmd, pts in cmds:
        if cmd == CMD_MOVE_TO:
            parts.append(list(pts))
        elif cmd == CMD_LINE_TO:
            if not parts:
                raise ValueError("LineTo before MoveTo")
            parts[-1].extend(pts)
        elif geom_type == GEOM_POLYGON and parts:
            parts[-1].append(parts[-1][0])
    return parts


# ------------------------------------------------------------- PMTiles v3


def _hilbert_xy(z: int, pos: int) -> tuple[int, int]:
    """Position on the order-z Hilbert curve -> (x, y) (spec reference)."""
    x = y = 0
    s, t = 1, pos
    while s < (1 << z):
        rx = 1 & (t // 2)
        ry = 1 & (t ^ rx)
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - x, s - 1 - y
            x, y = y, x
        x += s * rx
        y += s * ry
        t //= 4
        s *= 2
    return x, y


def tileid_to_zxy(tile_id: int) -> tuple[int, int, int]:
    base, z = 0, 0
    while True:
        n = 1 << (2 * z)
        if tile_id < base + n:
            x, y = _hilbert_xy(z, tile_id - base)
            return z, x, y
        base += n
        z += 1


_HEADER = struct.Struct("<7sB11Q6B4iBii")


def read_pmtiles(path: str) -> tuple[dict, dict, dict[tuple[int, int, int], bytes]]:
    """Archive -> (header, metadata, {(z, x, y): uncompressed tile bytes})."""
    with open(path, "rb") as f:
        buf = f.read()
    h = _HEADER.unpack_from(buf, 0)
    if h[0] != b"PMTiles" or h[1] != 3:
        raise ValueError("not a PMTiles v3 archive")
    hdr = dict(zip(
        ("root_off", "root_len", "meta_off", "meta_len", "leaf_off", "leaf_len",
         "data_off", "data_len", "n_addressed", "n_entries", "n_contents"),
        h[2:13],
    ))
    hdr.update(zip(
        ("clustered", "internal_compression", "tile_compression", "tile_type",
         "min_zoom", "max_zoom"),
        h[13:19],
    ))

    def inner(b: bytes) -> bytes:
        if hdr["internal_compression"] == 2:
            return gzip.decompress(b)
        if hdr["internal_compression"] == 1:
            return b
        raise ValueError("unsupported internal compression")

    def entries(dbuf: bytes):
        vals = packed_varints(dbuf)
        n = vals[0]
        if len(vals) != 1 + 4 * n:
            raise ValueError("malformed directory")
        ids = np.cumsum(vals[1:1 + n], dtype=np.uint64).tolist()
        runs, lens, offs = vals[1 + n:1 + 2 * n], vals[1 + 2 * n:1 + 3 * n], vals[1 + 3 * n:]
        out, prev_end = [], 0
        for i in range(n):
            off = prev_end if (offs[i] == 0 and i > 0) else offs[i] - 1
            out.append((int(ids[i]), runs[i], lens[i], off))
            prev_end = off + lens[i]
        return out

    import json

    meta = inner(buf[hdr["meta_off"]:hdr["meta_off"] + hdr["meta_len"]])
    metadata = json.loads(meta) if meta else {}
    tiles: dict[tuple[int, int, int], bytes] = {}

    def walk(dbuf: bytes):
        for tid, run, ln, off in entries(inner(dbuf)):
            if run == 0:
                a = hdr["leaf_off"] + off
                walk(buf[a:a + ln])
                continue
            a = hdr["data_off"] + off
            blob = buf[a:a + ln]
            if hdr["tile_compression"] == 2:
                blob = gzip.decompress(blob)
            elif hdr["tile_compression"] != 1:
                raise ValueError("unsupported tile compression")
            for k in range(run):
                tiles[tileid_to_zxy(tid + k)] = blob

    walk(buf[hdr["root_off"]:hdr["root_off"] + hdr["root_len"]])
    return hdr, metadata, tiles


# ------------------------------------------------------------- WebMercator


def mercator_pixels(lon: np.ndarray, lat: np.ndarray, z: int, extent: int = EXTENT):
    """Global pixel coordinates at zoom z (top-left origin), from the
    textbook form y = ln(tan(pi/4 + phi/2))."""
    world = float(1 << z) * extent
    gx = (np.asarray(lon, np.float64) / 360.0 + 0.5) * world
    phi = np.radians(np.asarray(lat, np.float64))
    gy = (0.5 - np.log(np.tan(np.pi / 4 + phi / 2)) / (2 * np.pi)) * world
    return gx, gy


def tile_pixel(lon, lat, z: int, extent: int = EXTENT, eps_px: float = 1e-6):
    """(tile_x, tile_y, px, py, ambiguous) for points away from the poles
    and the antimeridian. ``ambiguous`` marks points whose global pixel
    coordinate lies within ``eps_px`` of a pixel edge, where float
    rounding in another formula may pick the neighbouring pixel (or
    tile); the caller excludes and counts them."""
    gx, gy = mercator_pixels(lon, lat, z, extent)
    ix, iy = np.floor(gx).astype(np.int64), np.floor(gy).astype(np.int64)
    amb = (
        (np.abs(gx - np.rint(gx)) < eps_px) | (np.abs(gy - np.rint(gy)) < eps_px)
    )
    return ix // extent, iy // extent, ix % extent, iy % extent, amb


def tile_range(lon_min, lat_min, lon_max, lat_max, z: int, margin_px: float = 0.0):
    """Inclusive tile index range covering a lon/lat box widened by
    ``margin_px`` pixels (extent 4096) on every side."""
    gx, gy = mercator_pixels(
        np.array([lon_min, lon_max]), np.array([lat_max, lat_min]), z
    )
    n = 1 << z
    x0 = max(0, int(math.floor((gx[0] - margin_px) / EXTENT)))
    x1 = min(n - 1, int(math.floor((gx[1] + margin_px) / EXTENT)))
    y0 = max(0, int(math.floor((gy[0] - margin_px) / EXTENT)))
    y1 = min(n - 1, int(math.floor((gy[1] + margin_px) / EXTENT)))
    return x0, x1, y0, y1


# ------------------------------------------------------------- point in polygon


def ray_cast(px: np.ndarray, py: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd rule over all rings (exterior and holes alike): a point
    is inside when a ray towards +x crosses the rings an odd number of
    times. Rings are closed (first vertex repeated)."""
    inside = np.zeros(len(px), bool)
    for ring in rings:
        ax, ay = ring[:-1, 0], ring[:-1, 1]
        bx, by = ring[1:, 0], ring[1:, 1]
        for i in range(len(ax)):
            straddles = (ay[i] > py) != (by[i] > py)
            if not straddles.any():
                continue
            t = (py[straddles] - ay[i]) / (by[i] - ay[i])
            cross_x = ax[i] + t * (bx[i] - ax[i])
            hit = np.zeros(len(px), bool)
            hit[straddles] = px[straddles] < cross_x
            inside ^= hit
    return inside


def near_edge(px: np.ndarray, py: np.ndarray, rings: list[np.ndarray], eps: float) -> np.ndarray:
    """True where a point lies within ``eps`` of any ring edge (or on the
    horizontal line through a vertex, where ray casts may count a vertex
    crossing differently)."""
    near = np.zeros(len(px), bool)
    for ring in rings:
        for (ax, ay), (bx, by) in zip(ring[:-1], ring[1:]):
            dx, dy = bx - ax, by - ay
            t = np.clip(((px - ax) * dx + (py - ay) * dy) / (dx * dx + dy * dy), 0, 1)
            d = np.hypot(px - (ax + t * dx), py - (ay + t * dy))
            near |= (d < eps) | (np.abs(py - ay) < eps)
    return near


def match_polygons(lon, lat, polys, eps: float = 1e-9):
    """Point -> polygon index (-1 for none) and an ambiguity mask for
    points within ``eps`` degrees of an edge."""
    lon = np.asarray(lon, np.float64)
    lat = np.asarray(lat, np.float64)
    owner = np.full(len(lon), -1, np.int64)
    amb = np.zeros(len(lon), bool)
    for k, (_pid, rings) in enumerate(polys):
        ext = rings[0]
        box = (
            (lon >= ext[:, 0].min() - eps) & (lon <= ext[:, 0].max() + eps)
            & (lat >= ext[:, 1].min() - eps) & (lat <= ext[:, 1].max() + eps)
        )
        idx = np.flatnonzero(box)
        if not len(idx):
            continue
        inside = ray_cast(lon[idx], lat[idx], rings)
        if (owner[idx[inside]] >= 0).any():
            raise ValueError("benchmark polygons overlap")
        owner[idx[inside]] = k
        amb[idx] |= near_edge(lon[idx], lat[idx], rings, eps)
    return owner, amb


# ------------------------------------------------------------- cap rule


def cap_smallest(ids: np.ndarray, tile_keys: np.ndarray, max_per_tile: int) -> np.ndarray:
    """Mask of rows kept when each tile keeps its ``max_per_tile``
    smallest ids. ``tile_keys`` is one int64 key per row."""
    order = np.lexsort((ids, tile_keys))
    k = tile_keys[order]
    start = np.r_[True, k[1:] != k[:-1]]
    first = np.maximum.accumulate(np.where(start, np.arange(len(k)), 0))
    rank = np.arange(len(k)) - first
    keep = np.zeros(len(ids), bool)
    keep[order[rank < max_per_tile]] = True
    return keep


# ------------------------------------------------------------- overzoom


def overzoom_point(px: int, py: int, extent: int = EXTENT):
    """Parent-tile point -> (child dx, child dy, child px, child py) one
    zoom deeper: ``child = p >= extent/2``, ``local = 2*p - extent*child``."""
    half = extent // 2
    cx, cy = int(px >= half), int(py >= half)
    return cx, cy, 2 * px - extent * cx, 2 * py - extent * cy

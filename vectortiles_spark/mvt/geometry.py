"""Geometry-stream kernel: zigzag, MVT command streams, delta cursor codec.

Semantics are the contract defined by the reference implementation
(fosskers/vectortiles). Each function's docstring cites the reference
file:line it must agree with. All bulk math is NumPy-vectorized; Python
loops only iterate over command tokens / rings, never over points.

Conventions (reference: Geometry.hs:30-31, README.md:227):
  * points live on a discrete grid, (0,0) is the TOP-LEFT corner;
  * polygon exteriors wind clockwise on screen => shoelace sign POSITIVE
    under the top-left-origin surveyor formula (Geometry.hs:72-74);
  * rings are stored CLOSED (first point repeated last, Internal.hs:198).

Geometry representations used across this package:
  * point geom      : int64 ndarray of shape (n, 2)           (multipoint)
  * linestring geom : list[ndarray (n_i, 2)]                  (multiline)
  * polygon geom    : list[list[ndarray]]  polygons x rings, ring 0 =
                      exterior, rings closed.
"""

from __future__ import annotations

import numpy as np

CMD_MOVETO = 1
CMD_LINETO = 2
CMD_CLOSEPATH = 7

GEOM_POINT = 1
GEOM_LINESTRING = 2
GEOM_POLYGON = 3


def zig(n: np.ndarray) -> np.ndarray:
    """Zigzag-encode int64 -> uint32 (truncating), ref Internal.hs:221-223.

    The reference zigzags a 64-bit Int then truncates to Word32.
    """
    n = np.asarray(n, dtype=np.int64)
    return ((n << 1) ^ (n >> 63)).astype(np.uint64).astype(np.uint32)


def unzig(u: np.ndarray) -> np.ndarray:
    """Zigzag-decode uint32 -> int (via int32 sign ext), ref Internal.hs:226-229."""
    u = np.asarray(u, dtype=np.uint32)
    out = (u >> np.uint32(1)) ^ (-(u & np.uint32(1)).astype(np.int64)).astype(np.uint64).astype(np.uint32)
    return out.astype(np.int32).astype(np.int64)


def parse_cmd(n: int) -> tuple[int, int]:
    """Split a Command Integer into (id, count), ref Internal.hs:233-241.

    Raises on illegal command ids and on ClosePath with count != 1,
    matching the reference's strictness.
    """
    cmd = n & 7
    count = n >> 3
    if cmd in (CMD_MOVETO, CMD_LINETO):
        return cmd, count
    if cmd == CMD_CLOSEPATH:
        if count != 1:
            raise ValueError(f"ClosePath was given a parameter count: {count}")
        return cmd, 1
    raise ValueError(f"Invalid command integer {cmd} found in: {n:X}")


def unparse_cmd(cmd: int, count: int) -> int:
    """Recombine (id, count) -> Command Integer, ref Internal.hs:244-246."""
    return (cmd & 7) | (count << 3)


def commands(stream: np.ndarray) -> list[tuple[int, np.ndarray]]:
    """Parse a flat uint32 stream into [(cmd, points (k,2) int64)].

    ref Internal.hs:251-264. ClosePath carries an empty point array.
    An odd trailing parameter is silently dropped by the pair-reshape,
    matching the reference's pairsWith (Util.hs:27-31).
    """
    s = np.asarray(stream, dtype=np.uint32)
    out: list[tuple[int, np.ndarray]] = []
    i = 0
    n = s.size
    while i < n:
        cmd, count = parse_cmd(int(s[i]))
        i += 1
        if cmd == CMD_CLOSEPATH:
            out.append((CMD_CLOSEPATH, np.zeros((0, 2), dtype=np.int64)))
            continue
        take = min(2 * count, n - i)
        params = unzig(s[i:i + take])
        i += take
        pts = params[: (params.size // 2) * 2].reshape(-1, 2)
        out.append((cmd, pts))
    return out


def uncommands(cmds: list[tuple[int, np.ndarray]]) -> np.ndarray:
    """Serialize [(cmd, points)] back into the flat uint32 stream.

    ref Internal.hs:268-272 (headers + zigzagged params).
    """
    parts: list[np.ndarray] = []
    for cmd, pts in cmds:
        if cmd == CMD_CLOSEPATH:
            parts.append(np.array([unparse_cmd(CMD_CLOSEPATH, 1)], dtype=np.uint32))
        else:
            header = np.array([unparse_cmd(cmd, len(pts))], dtype=np.uint32)
            parts.append(header)
            if len(pts):
                parts.append(zig(np.asarray(pts, dtype=np.int64).ravel()))
    if not parts:
        return np.zeros(0, dtype=np.uint32)
    return np.concatenate(parts)


# --- geometry <-> commands (cursor-stateful, ref Internal.hs:147-213) ---


def point_from_commands(cmds: list[tuple[int, np.ndarray]]) -> np.ndarray:
    """Multipoint = exactly one MoveTo, ref Internal.hs:153-156."""
    if len(cmds) != 1 or cmds[0][0] != CMD_MOVETO:
        raise ValueError(f"Invalid command found in Point feature: {cmds}")
    deltas = cmds[0][1]
    if deltas.size == 0:
        raise ValueError("No points given!")
    return np.cumsum(deltas, axis=0)


def point_to_commands(pts: np.ndarray) -> list[tuple[int, np.ndarray]]:
    """ref Internal.hs:158-159: one MoveTo of collapsed diffs from (0,0)."""
    pts = np.asarray(pts, dtype=np.int64).reshape(-1, 2)
    deltas = np.diff(pts, axis=0, prepend=np.zeros((1, 2), dtype=np.int64))
    return [(CMD_MOVETO, deltas)]


def linestring_from_commands(cmds: list[tuple[int, np.ndarray]]) -> list[np.ndarray]:
    """Pairs of MoveTo(1 pt) + LineTo(n>=1); cursor carries across parts.

    ref Internal.hs:165-174.
    """
    out: list[np.ndarray] = []
    cursor = np.zeros(2, dtype=np.int64)
    i = 0
    while i < len(cmds):
        if (
            i + 1 >= len(cmds)
            or cmds[i][0] != CMD_MOVETO
            or len(cmds[i][1]) < 1
            or cmds[i + 1][0] != CMD_LINETO
            or len(cmds[i + 1][1]) < 1
        ):
            raise ValueError("LineString decode: Invalid command sequence given.")
        deltas = np.concatenate([cmds[i][1][:1], cmds[i + 1][1]], axis=0)
        pts = np.cumsum(deltas, axis=0) + cursor
        cursor = pts[-1].copy()
        out.append(pts)
        i += 2
    return out


def linestring_to_commands(parts: list[np.ndarray]) -> list[tuple[int, np.ndarray]]:
    """ref Internal.hs:176-179: per part MoveTo(head) + LineTo(tail), cursor carries."""
    cmds: list[tuple[int, np.ndarray]] = []
    cursor = np.zeros(2, dtype=np.int64)
    for part in parts:
        pts = np.asarray(part, dtype=np.int64).reshape(-1, 2)
        deltas = np.diff(pts, axis=0, prepend=cursor.reshape(1, 2))
        cmds.append((CMD_MOVETO, deltas[:1]))
        cmds.append((CMD_LINETO, deltas[1:]))
        cursor = pts[-1].copy()
    return cmds


def surveyor(ring: np.ndarray) -> float:
    """Shoelace area of a CLOSED ring, ref Geometry.hs:76-81.

    Positive => exterior ring, negative => interior, given the top-left
    origin convention (Geometry.hs:72-74).
    """
    r = np.asarray(ring, dtype=np.int64)
    v = r[:-1]  # drop duplicated closing point
    x = v[:, 0].astype(np.float64)
    y = v[:, 1].astype(np.float64)
    # np.roll by slicing: same values (bit-identical fold), ~8x less
    # per-call overhead on the small rings this sees
    yn = np.concatenate((y[1:], y[:1]))
    yp = np.concatenate((y[-1:], y[:-1]))
    return float(np.dot(x, yn - yp) / 2.0)


def polygon_area(poly: list[np.ndarray]) -> float:
    """Polygon area = exterior + holes (holes negative), ref Geometry.hs:68-69."""
    return float(sum(surveyor(r) for r in poly))


def polygon_from_commands(cmds: list[tuple[int, np.ndarray]]) -> list[list[np.ndarray]]:
    """Rings, then ring->polygon grouping, ref Internal.hs:189-206.

    Each ring is MoveTo(1); LineTo(n>=2); ClosePath, decoded with a cursor
    that carries across rings; decode re-closes each ring by appending its
    first point (Internal.hs:198). Grouping (Internal.hs:202-206): the first
    ring is an exterior UNCONDITIONALLY; following rings become its holes
    until the next positive-area ring starts a new polygon.
    """
    rings: list[np.ndarray] = []
    cursor = np.zeros(2, dtype=np.int64)
    i = 0
    while i < len(cmds):
        if (
            i + 2 >= len(cmds)
            or cmds[i][0] != CMD_MOVETO
            or len(cmds[i][1]) < 1
            or cmds[i + 1][0] != CMD_LINETO
            # a ring needs LineTo(n>=2): MoveTo + 1 LineTo point re-closes
            # to a degenerate 2-point "ring" with zero area — reject like
            # the linestring path rejects empty LineTo
            or len(cmds[i + 1][1]) < 2
            or cmds[i + 2][0] != CMD_CLOSEPATH
        ):
            raise ValueError(f"Polygon decode: Invalid command sequence given: {cmds}")
        deltas = np.concatenate([cmds[i][1][:1], cmds[i + 1][1]], axis=0)
        pts = np.cumsum(deltas, axis=0) + cursor
        cursor = pts[-1].copy()
        ring = np.concatenate([pts, pts[:1]], axis=0)  # re-close
        rings.append(ring)
        i += 3
    if not rings:
        return []
    polys: list[list[np.ndarray]] = []
    for j, ring in enumerate(rings):
        if j == 0 or surveyor(ring) > 0:
            polys.append([ring])
        else:
            polys[-1].append(ring)
    return polys


def polygon_to_commands(polys: list[list[np.ndarray]]) -> list[tuple[int, np.ndarray]]:
    """ref Internal.hs:208-213: per ring drop the closing point, emit
    MoveTo/LineTo/ClosePath; cursor continues across rings; exterior then
    its holes in order."""
    cmds: list[tuple[int, np.ndarray]] = []
    cursor = np.zeros(2, dtype=np.int64)
    for poly in polys:
        for ring in poly:
            pts = np.asarray(ring, dtype=np.int64).reshape(-1, 2)[:-1]  # drop closing pt
            deltas = np.diff(pts, axis=0, prepend=cursor.reshape(1, 2))
            cmds.append((CMD_MOVETO, deltas[:1]))
            cmds.append((CMD_LINETO, deltas[1:]))
            cmds.append((CMD_CLOSEPATH, np.zeros((0, 2), dtype=np.int64)))
            cursor = pts[-1].copy()
    return cmds


def geom_from_stream(geom_type: int, stream: np.ndarray):
    """Decode a feature's flat uint32 stream to its geometry representation."""
    cmds = commands(stream)
    if geom_type == GEOM_POINT:
        return point_from_commands(cmds)
    if geom_type == GEOM_LINESTRING:
        return linestring_from_commands(cmds)
    if geom_type == GEOM_POLYGON:
        return polygon_from_commands(cmds)
    raise ValueError("Geometry type of UNKNOWN given.")


def geom_to_stream(geom_type: int, geom) -> np.ndarray:
    """Encode a geometry representation to the flat uint32 command stream."""
    if geom_type == GEOM_POINT:
        return uncommands(point_to_commands(geom))
    if geom_type == GEOM_LINESTRING:
        return uncommands(linestring_to_commands(geom))
    if geom_type == GEOM_POLYGON:
        return uncommands(polygon_to_commands(geom))
    raise ValueError("Geometry type of UNKNOWN given.")


def geoms_to_streams_batch(
    feats: list[tuple[int, object]],
) -> tuple[np.ndarray, np.ndarray]:
    """Batch twin of geom_to_stream over a whole layer's features: ONE
    global delta + zigzag pass and a vectorized header/coordinate scatter
    instead of a Python loop per feature/part (the encode-side mirror of
    fastdecode's whole-tile assembly; bytes are identical to calling
    geom_to_stream per feature — differential-pinned in tests).

    Key identity making one global diff correct: within a feature the
    cursor after each part/ring is its LAST emitted point, which is
    exactly the PREVIOUS row of the concatenated point matrix (rings drop
    their closing point before concatenation, same as
    polygon_to_commands); only each feature's first row needs the
    cursor-reset fix-up delta = point - (0,0).

    Returns (values uint32, offsets int64): feature i's stream is
    values[offsets[i]:offsets[i+1]]. Degenerate parts (empty point sets,
    1-point rings, ...) take the scalar path per feature so error/byte
    behavior cannot drift.
    """
    nf = len(feats)
    offsets = np.zeros(nf + 1, dtype=np.int64)
    if nf == 0:
        return np.zeros(0, dtype=np.uint32), offsets

    _K_PT, _K_LINE, _K_RING = 0, 1, 2
    part_arrays: list[np.ndarray] = []   # (k,2) int64, rings closing-dropped
    part_kind: list[int] = []
    feat_first_part = np.zeros(nf + 1, dtype=np.int64)
    scalar_streams: dict[int, np.ndarray] = {}
    for f, (gt, geom) in enumerate(feats):
        if gt == GEOM_POINT:
            parts = [(np.asarray(geom, dtype=np.int64).reshape(-1, 2), _K_PT)]
        elif gt == GEOM_LINESTRING:
            parts = [
                (np.asarray(p, dtype=np.int64).reshape(-1, 2), _K_LINE) for p in geom
            ]
        elif gt == GEOM_POLYGON:
            parts = [
                (np.asarray(r, dtype=np.int64).reshape(-1, 2)[:-1], _K_RING)
                for poly in geom
                for r in poly
            ]
        else:
            raise ValueError("Geometry type of UNKNOWN given.")
        # degenerate shapes (no parts, or a part the vector layout can't
        # express: empty point part / sub-2-point line / ring) -> scalar
        if not parts or any(
            len(p) == 0 or (k != _K_PT and len(p) < 2) for p, k in parts
        ):
            scalar_streams[f] = geom_to_stream(gt, geom)
            feat_first_part[f + 1] = feat_first_part[f]
            continue
        part_arrays.extend(p for p, _ in parts)
        part_kind.extend(k for _, k in parts)
        feat_first_part[f + 1] = feat_first_part[f] + len(parts)

    if part_arrays:
        sizes = np.fromiter((len(p) for p in part_arrays), np.int64, count=len(part_arrays))
        kinds = np.asarray(part_kind, dtype=np.int64)
        all_pts = np.concatenate(part_arrays, axis=0)
        npts = len(all_pts)
        deltas = np.empty_like(all_pts)
        deltas[0] = all_pts[0]
        np.subtract(all_pts[1:], all_pts[:-1], out=deltas[1:])
        part_row_start = np.concatenate([[0], np.cumsum(sizes)[:-1]])
        # cursor resets to (0,0) at each FEATURE's first row
        feat_rows = part_row_start[feat_first_part[:-1][feat_first_part[:-1] != feat_first_part[1:]]]
        deltas[feat_rows] = all_pts[feat_rows]
        zz = zig(deltas.ravel())

        # per-part output length: point 1+2n, line 2+2n, ring 3+2n
        out_lens = 2 * sizes + 1 + (kinds != _K_PT) + (kinds == _K_RING)
        out_start = np.concatenate([[0], np.cumsum(out_lens)])
        out = np.empty(int(out_start[-1]), dtype=np.uint32)
        # headers
        is_pt = kinds == _K_PT
        out[out_start[:-1][is_pt]] = (
            (sizes[is_pt].astype(np.uint32) << np.uint32(3)) | np.uint32(CMD_MOVETO)
        )
        ml = ~is_pt
        out[out_start[:-1][ml]] = np.uint32((1 << 3) | CMD_MOVETO)
        out[out_start[:-1][ml] + 3] = (
            ((sizes[ml] - 1).astype(np.uint32) << np.uint32(3)) | np.uint32(CMD_LINETO)
        )
        is_ring = kinds == _K_RING
        out[out_start[:-1][is_ring] + 2 * sizes[is_ring] + 2] = np.uint32(
            (1 << 3) | CMD_CLOSEPATH
        )
        # coordinates: row i of part p at out_start[p] + 1 + 2i (+1 if a
        # line/ring row past the MoveTo — the LineTo header sits between)
        row_part = np.repeat(np.arange(len(sizes)), sizes)
        row_i = np.arange(npts, dtype=np.int64) - part_row_start[row_part]
        pos = out_start[row_part] + 1 + 2 * row_i + ((row_i > 0) & ml[row_part])
        out[pos] = zz[0::2]
        out[pos + 1] = zz[1::2]
        # per-feature lengths (parts of a feature are contiguous)
        fp_cum = out_start[feat_first_part]
        feat_lens = fp_cum[1:] - fp_cum[:-1]
    else:
        out = np.zeros(0, dtype=np.uint32)
        feat_lens = np.zeros(nf, dtype=np.int64)

    for f, s in scalar_streams.items():
        feat_lens[f] = len(s)
    np.cumsum(feat_lens, out=offsets[1:])
    if not scalar_streams:
        return out, offsets
    # splice scalar-path features into their slots
    values = np.empty(int(offsets[-1]), dtype=np.uint32)
    vec_cursor = 0
    for f in range(nf):
        lo, hi = offsets[f], offsets[f + 1]
        if f in scalar_streams:
            values[lo:hi] = scalar_streams[f]
        else:
            values[lo:hi] = out[vec_cursor:vec_cursor + (hi - lo)]
            vec_cursor += hi - lo
    return values, offsets


def ring_edges(rings) -> np.ndarray:
    """Every edge of every CLOSED ring, concatenated: float64 (e, 4) rows of
    (x0, y0, x1, y1). Even-odd over the concatenation is the XOR of the
    per-ring tests, so a polygon's holes need no second pass."""
    parts = [np.asarray(r, dtype=np.float64) for r in rings]
    if not parts:
        return np.empty((0, 4), dtype=np.float64)
    return np.concatenate([np.hstack([r[:-1], r[1:]]) for r in parts])


def points_in_edges(px: np.ndarray, py: np.ndarray, edges: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray cast of points against ``ring_edges`` output.

    px, py: (n,) query points; edges: (e, 4). Returns bool (n,): True when
    a ray towards +x crosses an odd number of edges. The one copy of the
    crossing test; ``points_in_ring`` is this over one ring's edges.
    """
    x0, y0, x1, y1 = np.asarray(edges, dtype=np.float64).T[:, None, :]
    px = np.asarray(px, dtype=np.float64)[:, None]
    py = np.asarray(py, dtype=np.float64)[:, None]
    cond = (y0 > py) != (y1 > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x0 + (py - y0) * (x1 - x0) / (y1 - y0)
    crossing = cond & (px < xint)
    return crossing.sum(axis=1) % 2 == 1


def points_in_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized ray-casting point-in-ring test (boundary-exclusive-ish).

    px, py: (n,) query points; ring: (m, 2) CLOSED ring. Returns bool (n,).
    """
    return points_in_edges(px, py, ring_edges([ring]))


def points_in_polygon(px: np.ndarray, py: np.ndarray, poly: list[np.ndarray]) -> np.ndarray:
    """Inside exterior ring and outside every hole."""
    inside = points_in_ring(px, py, poly[0])
    for hole in poly[1:]:
        inside &= ~points_in_ring(px, py, hole)
    return inside

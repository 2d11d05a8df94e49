"""Overzoom: derive z+k child tiles from parent tile BLOBS.

A tile server rarely stores every zoom — it stores a max-zoom tile set
and derives deeper levels on demand by scaling the parent's geometry
into each child's frame (tippecanoe/tileserver-gl behavior). The same
operation backs pyramid *repair* (regenerate one damaged zoom from the
level above) and serving overview tiles from a partially-built pyramid.
Unlike ``build_pyramid`` (tiling.py), which needs the ORIGINAL feature
relation, overzoom needs only the finished blobs.

Precision contract: a child derived from a parent carries the PARENT's
coordinate resolution scaled by 2^levels (child coordinates are even
multiples at levels=1) — the standard overzoom trade: it can never
recover sub-parent-pixel detail a direct build at z+k would have. The
q_overzoom oracle replays exactly this doubling arithmetic in SQL.

Scale shape: children of a parent are computed FROM that parent alone,
so the distributed operator is a single mapInArrow with ZERO shuffle —
each task turns its parent rows into 4^levels-way child rows in place.
Contrast: rebuilding z+k from source features pays a full feature
shuffle into the encode; overzoom pays a parse + clip + encode per
parent, all executor-local.

One lane: a task wire-parses each Arrow batch of parents once, splits
the features into child rows that keep their parent's wire (key, value)
index pairs, and encodes all child rows of its batch in one
codec.encode_multi_tile_batch call per layer shape. The kernel builds the
same per-layer dictionaries the reference encoder does, so the children
are byte-identical to decode_tile -> split -> encode_tile, the scalar
twin overzoom_blob_scalar. Parents whose wire shape the lane cannot
prove byte-identical (see _raw_gate) go through that twin whole.

Geometry semantics reuse the tiler's clip kernels (operators/clip.py):
Liang-Barsky polyline clip, exact multi-piece polygon clip with hole
regrouping, the same integer localization/rounding and the same
edge-ownership rule (a child's high edge belongs to the next child,
except on the parent's own east/south edge). Reference semantic
contract for the decode/encode halves: vectortiles Internal.hs
(rings closed, pts->lines->polys layer order) — see mvt/codec.py.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from ..mvt import codec, wire
from ..mvt.geometry import (
    GEOM_LINESTRING,
    GEOM_POINT,
    GEOM_POLYGON,
    geom_from_stream,
    geom_to_stream,
)
from .clip import _localize_line, _localize_ring, clip_polygon_exact, clip_polyline
from .tiling import TILE_SCHEMA


def _child_range(lo: float, hi: float, extent: int, s: int, buffer_px: int):
    """Clamped inclusive child-index interval covered by [lo, hi]."""
    a = int(np.floor((lo - buffer_px) / extent))
    b = int(np.floor((hi + buffer_px) / extent))
    return max(0, min(s - 1, a)), max(0, min(s - 1, b))


def _check_args(levels: int, buffer_px: int) -> None:
    if levels < 1:
        raise ValueError(f"overzoom levels must be >= 1, got {levels}")
    if buffer_px < 0:
        raise ValueError(f"overzoom buffer_px must be >= 0, got {buffer_px}")


def overzoom_blob(
    data: bytes, levels: int = 1, buffer_px: int = 0
) -> list[tuple[int, int, bytes, int, int]]:
    """One parent blob -> [(dx, dy, child_blob, n_features, n_layers)] for
    every non-empty child in the 2^levels x 2^levels grid. Rejects the
    same malformed inputs decode_tile rejects.

    Runs the batched kernel (_overzoom_rows), byte-identical to the
    scalar twin below (differential-pinned in tests/test_overzoom.py)."""
    import pyarrow as pa

    zero = np.zeros(1, np.int64)
    _, xs, ys, ms, nfs, nls = _overzoom_rows(
        zero, zero, zero, pa.array([bytes(data)], pa.binary()),
        levels=levels, buffer_px=buffer_px,
    )
    return list(zip(xs, ys, ms, nfs, nls))


def overzoom_blob_scalar(
    data: bytes, levels: int = 1, buffer_px: int = 0
) -> list[tuple[int, int, bytes, int, int]]:
    """Reference twin of overzoom_blob: plain per-feature object path
    through decode_tile -> _split_feature -> encode_tile. The differential
    suite compares the batched kernel against it, and the kernel sends it
    every parent its gate rejects."""
    _check_args(levels, buffer_px)
    s = 1 << levels
    kids: dict[tuple[int, int], dict[str, codec.Layer]] = {}
    for name, layer in codec.decode_tile(data).items():
        ext = layer.extent
        for f in layer.features:
            for (cx, cy), geom in _split_feature(f.geom_type, f.geom, ext, s, buffer_px):
                lay = kids.setdefault((cx, cy), {}).setdefault(
                    name, codec.Layer(name, layer.version, ext, [])
                )
                lay.features.append(
                    codec.Feature(f.feature_id, f.metadata, f.geom_type, geom)
                )
    out = []
    for (cx, cy), layers in sorted(kids.items()):
        blob = codec.encode_tile(list(layers.values()))
        nfeat = sum(len(l.features) for l in layers.values())
        out.append((cx, cy, blob, nfeat, len(layers)))
    return out


def _split_feature(gt: int, geom, ext: int, s: int, b: int):
    """Yield ((cx, cy), child-local geometry) for every child the scaled
    feature (geometry type gt, decoded geometry geom) intersects. Child boxes are [c*ext - b, (c+1)*ext + b]; with
    b == 0 the high edge is OPEN except on the parent's own east/south
    edge (child s-1) — the tiler's exact-tiling ownership rule, so a
    point on an interior child boundary emits exactly once."""
    if gt == GEOM_POINT:
        pts = np.asarray(geom, np.int64) * s
        if not len(pts):
            return
        xlo, xhi = _child_range(pts[:, 0].min(), pts[:, 0].max(), ext, s, b)
        ylo, yhi = _child_range(pts[:, 1].min(), pts[:, 1].max(), ext, s, b)
        for cy in range(ylo, yhi + 1):
            for cx in range(xlo, xhi + 1):
                x0, y0 = cx * ext - b, cy * ext - b
                x1, y1 = (cx + 1) * ext + b, (cy + 1) * ext + b
                mx = (pts[:, 0] >= x0) & (
                    (pts[:, 0] < x1) if b == 0 and cx < s - 1 else (pts[:, 0] <= x1)
                )
                my = (pts[:, 1] >= y0) & (
                    (pts[:, 1] < y1) if b == 0 and cy < s - 1 else (pts[:, 1] <= y1)
                )
                m = mx & my
                if m.any():
                    yield (cx, cy), pts[m] - (cx * ext, cy * ext)
        return

    if gt == GEOM_LINESTRING:
        parts = [np.asarray(p, np.float64) * s for p in geom if len(p) >= 2]
        if not parts:
            return
        # per-part bboxes; a part STRICTLY outside a child box would come
        # back [] from the clipper, so skipping it is output-identical
        # (touching parts still go to the kernel)
        pbb = [
            (p[:, 0].min(), p[:, 0].max(), p[:, 1].min(), p[:, 1].max())
            for p in parts
        ]
        xlo, xhi = _child_range(
            min(bb[0] for bb in pbb), max(bb[1] for bb in pbb), ext, s, b
        )
        ylo, yhi = _child_range(
            min(bb[2] for bb in pbb), max(bb[3] for bb in pbb), ext, s, b
        )
        for cy in range(ylo, yhi + 1):
            for cx in range(xlo, xhi + 1):
                x0, y0 = cx * ext - b, cy * ext - b
                x1, y1 = (cx + 1) * ext + b, (cy + 1) * ext + b
                out = []
                for p, (bx0, bx1, by0, by1) in zip(parts, pbb):
                    if bx1 < x0 or bx0 > x1 or by1 < y0 or by0 > y1:
                        continue
                    pieces = (
                        # bbox fully inside: the kernel's fully-inside
                        # branch would hand back these same values
                        (p,)
                        if bx0 >= x0 and bx1 <= x1 and by0 >= y0 and by1 <= y1
                        else clip_polyline(p, x0, y0, x1, y1)
                    )
                    for piece in pieces:
                        loc = _localize_line(piece, float(cx * ext), float(cy * ext))
                        if loc is not None:
                            out.append(np.asarray(loc, np.int64))
                if out:
                    yield (cx, cy), out
        return

    if gt == GEOM_POLYGON:
        # decode stores rings CLOSED; the exact clipper tolerates that,
        # but strip the duplicate once here instead of per child box
        polys = [
            [
                (np.asarray(r, np.float64) * s)[:-1]
                if len(r) > 1 and np.array_equal(r[0], r[-1])
                else np.asarray(r, np.float64) * s
                for r in poly
                if len(r)
            ]
            for poly in geom
            if len(poly) and len(poly[0])
        ]
        polys = [p for p in polys if len(p[0]) >= 3]
        if not polys:
            return
        # per-polygon bboxes; a part strictly outside a child box clips to
        # [] (every ring eliminated by some half-plane pass), so the skip
        # is output-identical
        pbb = []
        for poly in polys:
            ar = poly[0] if len(poly) == 1 else np.concatenate(poly)
            pbb.append((ar[:, 0].min(), ar[:, 0].max(), ar[:, 1].min(), ar[:, 1].max()))
        xlo, xhi = _child_range(
            min(bb[0] for bb in pbb), max(bb[1] for bb in pbb), ext, s, b
        )
        ylo, yhi = _child_range(
            min(bb[2] for bb in pbb), max(bb[3] for bb in pbb), ext, s, b
        )
        for cy in range(ylo, yhi + 1):
            for cx in range(xlo, xhi + 1):
                x0, y0 = cx * ext - b, cy * ext - b
                x1, y1 = (cx + 1) * ext + b, (cy + 1) * ext + b
                ox, oy = float(cx * ext), float(cy * ext)
                out = []
                for rings, (bx0, bx1, by0, by1) in zip(polys, pbb):
                    if bx1 < x0 or bx0 > x1 or by1 < y0 or by0 > y1:
                        continue
                    for piece in clip_polygon_exact(rings, x0, y0, x1, y1):
                        loc_rings = []
                        for k, r in enumerate(piece):
                            loc = _localize_ring(r, ox, oy)
                            if k == 0 and loc is None:
                                loc_rings = None  # exterior collapsed
                                break
                            if loc is not None:
                                loc_rings.append(np.asarray(loc, np.int64))
                        if loc_rings:
                            out.append(loc_rings)
                if out:
                    yield (cx, cy), out
        return

    raise ValueError("Geometry type of UNKNOWN given.")


def _raw_gate(raws, cols):
    """True when a parsed parent (its layers ``raws`` and their column
    tuples ``cols``: ids, types, tag_vals, tag_cnt, geom_vals, geom_cnt)
    can take the vectorized lane.

    The lane must write what decode_tile -> encode_tile writes, so the
    gate PROVES what it relies on: unique layer names (decode_tile keeps
    the last of a name) and unique keys (a decoded metadata dict would
    merge them); every layer non-empty with known geometry types
    (decode_tile raises otherwise); even tag counts; no key repeated
    within a feature, so its decoded dict lists the feature's pairs in
    wire order, the order the kernel takes them in; every index in
    range."""
    if len({r.name for r in raws}) != len(raws):
        return False
    for raw, (_, types, tv, tc, _, _) in zip(raws, cols):
        if not len(types) or len(set(raw.keys)) != len(raw.keys):
            return False
        if not bool(((types >= GEOM_POINT) & (types <= GEOM_POLYGON)).all()):
            return False
        if bool((tc & 1).any()):
            return False
        kk = tv[0::2].astype(np.int64)
        if len(kk):
            if int(kk.max()) >= len(raw.keys) or int(tv[1::2].max()) >= len(raw.values):
                return False
            fk = np.sort(np.repeat(np.arange(len(tc)), tc // 2) * len(raw.keys) + kk)
            if bool((fk[1:] == fk[:-1]).any()):
                return False
    return True


def _layer_rows(cols, ext: int, s: int, b: int):
    """Child rows of one gated parent layer, in the scalar twin's order:
    child (cx, cy), then geometry type, then parent order. Returns
    (cx, cy, parent feature index, geometry type, stream values, stream
    lengths).

    At buffer_px 0 single points are split vectorized straight from the
    command streams (unzigzag -> scale -> floor-div child -> re-zigzag);
    every other feature gets its geometry as layer_from_raw does and goes
    through _split_feature."""
    _, types, _, _, gv, gc = cols
    n = len(types)
    types = types.astype(np.int64)
    goff = np.zeros(n + 1, np.int64)
    np.cumsum(gc, out=goff[1:])
    single = np.zeros(n, bool)
    if b == 0 and len(gv):
        head = gv[np.minimum(goff[:-1], len(gv) - 1)]
        single = (types == GEOM_POINT) & (gc == 3) & (head == 9)

    si = np.flatnonzero(single)
    zx = gv[goff[si] + 1].astype(np.int64)
    zy = gv[goff[si] + 2].astype(np.int64)
    xs = ((zx >> 1) ^ -(zx & 1)) * s
    ys = ((zy >> 1) ^ -(zy & 1)) * s
    lim = s * ext
    ok = (xs >= 0) & (xs <= lim) & (ys >= 0) & (ys <= lim)
    si, xs, ys = si[ok], xs[ok], ys[ok]
    cx = [np.minimum(xs // ext, s - 1)]
    cy = [np.minimum(ys // ext, s - 1)]
    lx, ly = xs - cx[0] * ext, ys - cy[0] * ext
    svals = np.empty((len(si), 3), np.uint32)
    svals[:, 0] = 9  # MoveTo(1)
    svals[:, 1] = ((lx << 1) ^ (lx >> 63)).astype(np.uint32)
    svals[:, 2] = ((ly << 1) ^ (ly >> 63)).astype(np.uint32)
    src, streams = [si], [svals.ravel()]
    lens = [np.full(len(si), 3, np.int64)]

    oth = np.flatnonzero(~single)
    if len(oth):
        from ..mvt import fastdecode

        geoms = fastdecode.assemble_geoms(
            types[oth], wire.ragged_gather(gv, goff[oth], gc[oth]), gc[oth],
            defer_fallback=True,
        )
        kids = []
        for i, geom in zip(oth.tolist(), geoms):
            gt = int(types[i])
            if geom is None:  # deviating lane: the scalar twin raises or decodes
                geom = geom_from_stream(gt, gv[goff[i]:goff[i + 1]])
            for c, g in _split_feature(gt, geom, ext, s, b):
                kids.append((c, i, geom_to_stream(gt, g).astype(np.uint32)))
        if kids:
            cx.append(np.fromiter((k[0][0] for k in kids), np.int64, len(kids)))
            cy.append(np.fromiter((k[0][1] for k in kids), np.int64, len(kids)))
            src.append(np.fromiter((k[1] for k in kids), np.int64, len(kids)))
            streams.extend(k[2] for k in kids)
            lens.append(np.fromiter((len(k[2]) for k in kids), np.int64, len(kids)))

    cx, cy, src, lens = (np.concatenate(a) for a in (cx, cy, src, lens))
    gt = types[src]
    order = np.lexsort((src, gt, cy, cx))
    starts = np.cumsum(lens) - lens
    return (
        cx[order], cy[order], src[order], gt[order],
        wire.ragged_gather(np.concatenate(streams), starts[order], lens[order]),
        lens[order],
    )


def _overzoom_rows(tz, tx, ty, mvt, levels: int = 1, buffer_px: int = 0):
    """Batched overzoom kernel over MANY parents at once.

    Parents are the tile keys ``tz``/``tx``/``ty`` (integer arrays) and
    the Arrow binary column ``mvt``. Returns six parallel lists (tile_z,
    tile_x, tile_y, mvt, n_features, n_layers), children sorted by key.

    One lane, byte-identical to the scalar twin (pinned by the
    differential suite): the whole column wire-parses in one
    codec.parse_tile_column call; every child row carries its parent
    feature's wire (key index, value index) pairs in wire order, into the
    parent layer's keys and framed values table, and ALL child rows of
    the batch encode in ONE encode_multi_tile_batch call per (layer,
    extent, version, keys) group; the kernel builds the same totalMeta
    dictionaries encode_layer does. A parent the parser marks
    scalar or _raw_gate rejects goes whole through overzoom_blob_scalar,
    at its turn, and its children join the same per-child frame merge.
    """
    _check_args(levels, buffer_px)
    s = 1 << levels
    frames: dict[tuple, list] = {}  # child key -> [(name, frame, nrows)]
    groups: dict[tuple, list] = {}  # (name, ext, version, keys) -> chunks
    tb = codec.parse_tile_column(mvt)

    for i, (pz, ptx, pty) in enumerate(zip(
        np.asarray(tz).tolist(), np.asarray(tx).tolist(), np.asarray(ty).tolist()
    )):
        z2 = pz + levels
        lays = range(int(tb.tile_layer[i]), int(tb.tile_layer[i + 1]))
        raws = [tb.layers[j] for j in lays]
        cols = [tb.layer_cols(j) for j in lays]
        if tb.scalar[i] or not _raw_gate(raws, cols):
            data = mvt[i].as_py()
            if data is None:
                raise ValueError(
                    f"overzoom_tiles: column 'mvt' is NULL for tile z/x/y {pz}/{ptx}/{pty}"
                )
            for cx, cy, blob, _, _ in overzoom_blob_scalar(data, levels, buffer_px):
                frames.setdefault((z2, ptx * s + cx, pty * s + cy), []).extend(
                    codec.split_layer_frames(blob)
                )
            continue
        for raw, lc in zip(raws, cols):
            ext = raw.extent if raw.extent is not None else codec.DEFAULT_EXTENT
            cx, cy, src, gt, svals, slens = _layer_rows(lc, ext, s, buffer_px)
            if not len(src):
                continue
            ids, _, tv, tc, _, _ = lc
            # each child carries its parent feature's wire pairs as they are
            npairs = (tc // 2).astype(np.int64)
            poff, pcnt = np.cumsum(npairs)[src] - npairs[src], npairs[src]
            groups.setdefault((raw.name, ext, raw.version, tuple(raw.keys)), []).append({
                "tz": np.full(len(src), z2, np.int64),
                "tx": ptx * s + cx,
                "ty": pty * s + cy,
                "fid": np.asarray(ids, np.uint64).astype(np.int64)[src],
                "gt": gt,
                "svals": svals,
                "slens": slens,
                "npairs": pcnt,
                "pkey": wire.ragged_gather(tv[0::2].astype(np.int64), poff, pcnt),
                "pval": wire.ragged_gather(tv[1::2].astype(np.int64), poff, pcnt),
                # fully FRAMED Layer.values entries (0x22 + len + body)
                "framed": [
                    wire.len_delimited(4, codec.encode_value_bytes(tag, v))
                    for tag, v in raw.values
                ],
            })

    for (name, ext, version, keys), parts in groups.items():
        cat = {k: np.concatenate([p[k] for p in parts]) for k in (
            "tz", "tx", "ty", "fid", "gt", "svals", "slens", "npairs", "pkey",
        )}
        n = len(cat["fid"])
        geom_offsets = np.zeros(n + 1, np.int64)
        np.cumsum(cat["slens"], out=geom_offsets[1:])
        pair_off = np.zeros(n + 1, np.int64)
        np.cumsum(cat["npairs"], out=pair_off[1:])
        # chunk-local value indices offset into one concatenated table
        base = np.cumsum([0] + [len(p["framed"]) for p in parts[:-1]])
        pval = np.concatenate([p["pval"] + b0 for p, b0 in zip(parts, base)])
        framed = [f for p in parts for f in p["framed"]]
        fbuf = np.frombuffer(b"".join(framed), np.uint8)
        foff = np.zeros(len(framed) + 1, np.int64)
        np.cumsum(np.fromiter(map(len, framed), np.int64, len(framed)), out=foff[1:])
        mvts, tile_starts, _ = codec.encode_multi_tile_batch(
            cat["tz"], cat["tx"], cat["ty"],
            np.zeros(n, np.int64), [name],
            cat["fid"], cat["gt"],
            cat["svals"], geom_offsets,
            codec.MetaPairs(list(keys), pair_off, cat["pkey"], pval, fbuf, foff),
            version=version, extent=ext,
        )
        bounds = np.concatenate([tile_starts, [n]]).astype(np.int64)
        for t_i, frame in enumerate(mvts):
            r0 = int(bounds[t_i])
            ck = (int(cat["tz"][r0]), int(cat["tx"][r0]), int(cat["ty"][r0]))
            frames.setdefault(ck, []).append(
                (name, frame, int(bounds[t_i + 1] - r0))
            )

    out = ([], [], [], [], [], [])
    for ck in sorted(frames):
        parts = sorted(frames[ck], key=lambda p: p[0])
        blob = b"".join(fr for _, fr, _ in parts)
        for col, v in zip(out, (
            ck[0], ck[1], ck[2], blob,
            sum(nr for _, _, nr in parts), len(parts),
        )):
            col.append(v)
    return out


def overzoom_tiles(
    tiles: DataFrame, levels: int = 1, buffer_px: int = 0
) -> DataFrame:
    """Distributed overzoom: (tile_z, tile_x, tile_y, mvt) rows in, the
    2^levels-deeper child tile rows out. ZERO shuffle — see module
    docstring; feed the output straight into a tile sink or another
    overzoom_tiles hop."""
    _check_args(levels, buffer_px)

    def run(batches):
        import pyarrow as pa

        for batch in batches:
            cz, cx, cy, cm, cnf, cnl = _overzoom_rows(
                *(batch.column(c).to_numpy() for c in ("tile_z", "tile_x", "tile_y")),
                batch.column("mvt"), levels, buffer_px,
            )
            if cz:
                yield pa.record_batch(
                    [
                        pa.array(cz, pa.int32()),
                        pa.array(cx, pa.int32()),
                        pa.array(cy, pa.int32()),
                        pa.array(cm, pa.binary()),
                        pa.array(cnf, pa.int64()),
                        pa.array(cnl, pa.int32()),
                    ],
                    names=[
                        "tile_z", "tile_x", "tile_y", "mvt", "n_features", "n_layers",
                    ],
                )

    return tiles.mapInArrow(run, schema=TILE_SCHEMA)

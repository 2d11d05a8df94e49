"""Mapbox Vector Tile codec: tile <-> features, hand-rolled wire format.

Implements the two-level model of the reference (SURVEY.md §1): a raw
protobuf level (``RawTile``/``RawLayer``/``RawFeature``/``RawValue``) and a
canonical level (``Layer``/``Feature`` with decoded geometry + metadata).

Field numbers / wire tags follow the vector_tile.proto contract documented
in SURVEY.md §1.3 (verified against the reference's generated schema code,
/root/reference/lib/Geography/VectorTile/Protobuf/Internal/Vector_tile/).

Encode-side canonicalization (stronger than the reference, which iterates
HashMaps in unspecified order — Internal.hs:101-102, 321-329): layers are
emitted sorted by name, features points-first then linestrings then
polygons (matching Internal.hs:123-125), and each layer carries the
reference's totalMeta dictionaries — the keys its features use and one
value table shared by all keys — in first-appearance order. Both encoders
follow that one policy: the scalar encode_layer_from_streams and the batch
kernel encode_multi_tile_batch write identical bytes for the same features.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field
from typing import NamedTuple

import numpy as np

from . import geometry, wire
from .geometry import (
    GEOM_LINESTRING,
    GEOM_POINT,
    GEOM_POLYGON,
    geom_from_stream,
    geom_to_stream,
)

# Value tags = proto field numbers of vector_tile.Tile.Value
# (SURVEY.md §1.3; …/Tile/Value.hs:73-79)
VAL_STRING = 1
VAL_FLOAT = 2
VAL_DOUBLE = 3
VAL_INT = 4
VAL_UINT = 5
VAL_SINT = 6
VAL_BOOL = 7

DEFAULT_EXTENT = 4096  # …/Tile/Layer.hs:31
DEFAULT_VERSION = 1    # decoded default; we emit 2 for our own output
DEFAULT_FEATURE_ID = 0  # …/Tile/Feature.hs:21


@dataclass
class RawFeature:
    id: int = DEFAULT_FEATURE_ID
    tags: np.ndarray = field(default_factory=lambda: np.zeros(0, dtype=np.uint32))
    type: int = 0
    geometry: np.ndarray = field(default_factory=lambda: np.zeros(0, dtype=np.uint32))

    def __eq__(self, other):
        return (
            self.id == other.id
            and np.array_equal(self.tags, other.tags)
            and self.type == other.type
            and np.array_equal(self.geometry, other.geometry)
        )


@dataclass
class RawLayer:
    version: int = DEFAULT_VERSION
    name: str = ""
    features: list[RawFeature] = field(default_factory=list)
    keys: list[str] = field(default_factory=list)
    values: list[tuple] = field(default_factory=list)  # (tag, python value)
    extent: int | None = None
    # when the batch wire parser produced this layer with NO irregular
    # features, the columnar arrays ride along so downstream consumers
    # (layer_from_raw, decode_tiles) skip re-concatenating the per-feature
    # slices; excluded from equality/repr — it is a cache, not content
    batch: object = field(default=None, compare=False, repr=False)


@dataclass
class Feature:
    """Canonical feature: decoded geometry + metadata dict.

    metadata maps key -> (value_tag, python value); geom representation per
    geometry.py module docstring.
    """

    feature_id: int
    metadata: dict[str, tuple]
    geom_type: int
    geom: object

    def canonical(self):
        """Order-insensitive comparable form (geometry as nested tuples)."""
        if self.geom_type == GEOM_POINT:
            g = tuple(map(tuple, np.asarray(self.geom).tolist()))
        elif self.geom_type == GEOM_LINESTRING:
            g = tuple(tuple(map(tuple, p.tolist())) for p in self.geom)
        else:
            g = tuple(
                tuple(tuple(map(tuple, r.tolist())) for r in poly) for poly in self.geom
            )
        return (self.feature_id, tuple(sorted(self.metadata.items())), self.geom_type, g)


@dataclass
class Layer:
    name: str
    version: int = 2
    extent: int = DEFAULT_EXTENT
    features: list[Feature] = field(default_factory=list)


# ---------------- raw protobuf parse (decode side) ----------------


def _parse_value(buf: memoryview) -> tuple:
    end = len(buf)
    # single-field fast paths (tag byte + payload exactly filling the
    # message): short strings and small scalars — the dominant shapes
    if end >= 2:
        t = buf[0]
        if t == 0x0A:  # field 1 string, 1-byte length
            n = buf[1]
            if n < 128 and 2 + n == end:
                return (VAL_STRING, bytes(buf[2:2 + n]).decode("utf-8"))
        elif end == 2:
            v = buf[1]
            if v < 128:
                if t == 0x28:
                    return (VAL_UINT, v)
                if t == 0x20:
                    return (VAL_INT, v)
                if t == 0x30:
                    return (VAL_SINT, (v >> 1) ^ -(v & 1))
                if t == 0x38:
                    return (VAL_BOOL, bool(v))
    pos = 0
    out: tuple | None = None
    while pos < end:
        fnum, wt, pos = wire.read_tag(buf, pos)
        if fnum == VAL_STRING and wt == wire.WT_LEN:
            n, pos = wire.read_varint(buf, pos)
            if pos + n > end:
                raise ValueError("Value string overruns buffer")
            out = (VAL_STRING, bytes(buf[pos:pos + n]).decode("utf-8"))
            pos += n
        elif fnum == VAL_FLOAT and wt == wire.WT_FIXED32:
            if pos + 4 > end:
                raise ValueError("Value float truncated")
            out = (VAL_FLOAT, struct.unpack("<f", buf[pos:pos + 4])[0])
            pos += 4
        elif fnum == VAL_DOUBLE and wt == wire.WT_FIXED64:
            if pos + 8 > end:
                raise ValueError("Value double truncated")
            out = (VAL_DOUBLE, struct.unpack("<d", buf[pos:pos + 8])[0])
            pos += 8
        elif fnum == VAL_INT and wt == wire.WT_VARINT:
            v, pos = wire.read_varint(buf, pos)
            out = (VAL_INT, v - (1 << 64) if v >= (1 << 63) else v)
        elif fnum == VAL_UINT and wt == wire.WT_VARINT:
            v, pos = wire.read_varint(buf, pos)
            out = (VAL_UINT, v)
        elif fnum == VAL_SINT and wt == wire.WT_VARINT:
            v, pos = wire.read_varint(buf, pos)
            out = (VAL_SINT, (v >> 1) ^ -(v & 1))
        elif fnum == VAL_BOOL and wt == wire.WT_VARINT:
            v, pos = wire.read_varint(buf, pos)
            out = (VAL_BOOL, bool(v))
        else:
            pos = wire.skip_field(buf, pos, wt)
    if out is None:
        raise ValueError("Value decode: No legal Value type offered")
    return out


def _parse_packed_u32(buf: memoryview, pos: int, wt: int, acc: list[np.ndarray]):
    """Packed (LEN) or unpacked (VARINT) repeated uint32."""
    if wt == wire.WT_LEN:
        n, pos = wire.read_varint(buf, pos)
        acc.append(wire.decode_varints(bytes(buf[pos:pos + n])).astype(np.uint32))
        return pos + n
    v, pos = wire.read_varint(buf, pos)
    acc.append(np.array([v], dtype=np.uint32))
    return pos


def _parse_feature(buf: memoryview) -> RawFeature:
    pos = 0
    end = len(buf)
    f = RawFeature()
    tags_acc: list[np.ndarray] = []
    geom_acc: list[np.ndarray] = []
    while pos < end:
        fnum, wt, pos = wire.read_tag(buf, pos)
        if fnum == 1 and wt == wire.WT_VARINT:  # id
            f.id, pos = wire.read_varint(buf, pos)
        elif fnum == 2:  # tags
            pos = _parse_packed_u32(buf, pos, wt, tags_acc)
        elif fnum == 3 and wt == wire.WT_VARINT:  # type
            f.type, pos = wire.read_varint(buf, pos)
        elif fnum == 4:  # geometry
            pos = _parse_packed_u32(buf, pos, wt, geom_acc)
        else:
            pos = wire.skip_field(buf, pos, wt)
    if tags_acc:
        f.tags = np.concatenate(tags_acc)
    if geom_acc:
        f.geometry = np.concatenate(geom_acc)
    return f


# below this many features in ONE tile the scalar per-feature parser and
# geometry decoder win (the batch kernels have a fixed NumPy setup cost
# per call): on a 4-core host, decode_tile over 300 tiles of 1-14 features
# took 224 ms with the batch kernels for every tile, 156 ms with this switch
_BATCH_MIN_FEATURES = 8


def _walk_layer(buf: memoryview, pos: int, end: int) -> tuple[RawLayer, list[tuple[int, int]]]:
    """Field-walk one layer message inside the FULL tile buffer: returns
    the layer (features NOT parsed) plus its feature spans as (start, len)
    offsets into ``buf`` — the whole tile's spans then wire-parse together
    in ONE fastdecode.parse_features_batch call (one vectorized round per
    protobuf field across every feature of every layer).

    The walk is the per-field hot loop of the whole decode: single-byte
    tags and lengths (the overwhelmingly common case) are read inline,
    multi-byte ones through wire.read_varint — identical values either
    way, and an out-of-bounds read raises IndexError like read_varint."""
    # bound every read at the layer end (a zero-copy truncated view keeps
    # offsets global): a varint torn at the layer boundary must raise
    # IndexError like the old slice-based walk, never silently consume
    # the NEXT layer's framing bytes
    buf = buf[:end]
    layer = RawLayer()
    fspans: list[tuple[int, int]] = []
    while pos < end:
        key = buf[pos]
        if key < 128:
            pos += 1
        else:
            key, pos = wire.read_varint(buf, pos)
        fnum = key >> 3
        wt = key & 7
        if wt == wire.WT_LEN:
            n = buf[pos]
            if n < 128:
                pos += 1
            else:
                n, pos = wire.read_varint(buf, pos)
            # clamp payloads to the layer end: the old slice-based walk
            # truncated overrunning fields at the layer boundary via
            # memoryview slicing — reading into the NEXT layer's bytes
            # would change malformed-input behavior
            hi = pos + n if pos + n < end else end
            if fnum == 2:
                fspans.append((pos, hi - pos))
            elif fnum == 1:
                layer.name = bytes(buf[pos:hi]).decode("utf-8")
            elif fnum == 3:
                layer.keys.append(bytes(buf[pos:hi]).decode("utf-8"))
            elif fnum == 4:
                layer.values.append(_parse_value(buf[pos:hi]))
            pos += n
        elif wt == wire.WT_VARINT:
            v, pos = wire.read_varint(buf, pos)
            if fnum == 15:
                layer.version = v
            elif fnum == 5:
                layer.extent = v
        else:
            pos = wire.skip_field(buf, pos, wt)
    return layer, fspans


def _peek_layer_name(buf) -> str | None:
    """Read ONLY the name (field 1) of a layer message, skipping everything
    else. Returns None if the message carries no name."""
    pos = 0
    end = len(buf)
    while pos < end:
        fnum, wt, pos = wire.read_tag(buf, pos)
        if fnum == 1 and wt == wire.WT_LEN:
            n, pos = wire.read_varint(buf, pos)
            return bytes(buf[pos:pos + n]).decode("utf-8")
        pos = wire.skip_field(buf, pos, wt)
    return None


def _walk_tile(buf, pos: int, end: int, want) -> list[tuple[RawLayer, list[tuple[int, int]]]]:
    """Field-walk the tile message buf[pos:end]: every selected layer
    (features NOT parsed) with its feature spans as (start, len) offsets
    into ``buf``. ``want`` is a set of layer names or None for all.

    Reads are bounded at ``end`` (a zero-copy truncated view keeps the
    offsets global), so a tile walked inside a buffer that holds a whole
    column of tiles raises on torn framing exactly as it does alone."""
    buf = buf[:end]
    walked = []
    while pos < end:
        fnum, wt, pos = wire.read_tag(buf, pos)
        if fnum == 3 and wt == wire.WT_LEN:
            n, pos = wire.read_varint(buf, pos)
            if pos + n > end:
                # memoryview slicing would silently truncate, letting the
                # selective path SKIP a torn layer the full path rejects —
                # keep both paths equally strict on malformed input
                raise ValueError("truncated layer message")
            # a nameless layer message (no field-1) classifies as "" on the
            # full path (RawLayer default name) — treat a None peek the same
            # so selective and full decode agree on malformed input
            if want is None or (_peek_layer_name(buf[pos:pos + n]) or "") in want:
                walked.append(_walk_layer(buf, pos, pos + n))
            pos += n
        else:
            pos = wire.skip_field(buf, pos, wt)
    return walked


def _parse_spans(buf, spans: list[tuple[int, int]]):
    """ONE fastdecode.parse_features_batch call over feature spans of
    ``buf``. Returns the batch arrays and each feature's tag and geometry
    offsets (n + 1 entries each)."""
    from . import fastdecode

    n = len(spans)
    fstart = np.fromiter((s for s, _ in spans), dtype=np.int64, count=n)
    flen = np.fromiter((ln for _, ln in spans), dtype=np.int64, count=n)
    bf = fastdecode.parse_features_batch(np.frombuffer(buf, dtype=np.uint8), fstart, flen)
    toff = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(bf.tag_cnt, out=toff[1:])
    goff = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(bf.geom_cnt, out=goff[1:])
    return bf, toff, goff


def parse_raw_tile(data: bytes, layers=None) -> list[RawLayer]:
    """Parse MVT bytes to raw protobuf-level layers (Tile.layers, field 3),
    with every feature materialized as a RawFeature.

    The per-tile path: decode_tile and the scalar twins build on it, and
    it raises on malformed input. A tile with at least
    _BATCH_MIN_FEATURES features wire-parses them in one
    fastdecode.parse_features_batch call; an irregular lane (see
    fastdecode) is re-read by the scalar _parse_feature, which raises or
    decodes it as the per-feature parser does for smaller tiles. A layer
    with no irregular lane carries the batch arrays in
    ``RawLayer.batch``. Whole columns of tiles parse with
    parse_tile_column instead, which pays the batch setup once per
    column.

    ``layers`` (an iterable of names) enables LAYER-SELECTIVE partial
    decode — the reference's lazy-decode property (one layer of roads.mvt
    in 6.4ms vs 9.8ms full, bench/Bench.hs:63-67) on the ingest path: a
    non-matching layer message costs one name peek plus a length skip,
    never feature/key/value parsing. Our encoder writes the name first,
    so the peek usually touches only the message's leading bytes."""
    buf = memoryview(data).cast("B")
    walked = _walk_tile(buf, 0, len(buf), None if layers is None else set(layers))
    all_spans = [sp for _, fspans in walked for sp in fspans]
    if len(all_spans) < _BATCH_MIN_FEATURES:
        for layer, fspans in walked:
            layer.features = [_parse_feature(buf[s:s + n]) for s, n in fspans]
        return [layer for layer, _ in walked]
    bf, toff, goff = _parse_spans(buf, all_spans)
    from . import fastdecode

    base = 0
    for layer, fspans in walked:
        nf = len(fspans)
        feats: list[RawFeature] = []
        for j, (s, n) in enumerate(fspans):
            i = base + j
            if bf.irregular[i]:
                feats.append(_parse_feature(buf[s:s + n]))
            else:
                feats.append(
                    RawFeature(
                        id=int(bf.ids[i]),
                        tags=bf.tag_vals[toff[i]:toff[i + 1]],
                        type=int(bf.types[i]),
                        geometry=bf.geom_vals[goff[i]:goff[i + 1]],
                    )
                )
        layer.features = feats
        lo, hi = base, base + nf
        if nf and not bf.irregular[lo:hi].any():
            layer.batch = fastdecode.BatchFeatures(
                bf.ids[lo:hi], bf.types[lo:hi],
                bf.tag_vals[toff[lo]:toff[hi]], bf.tag_cnt[lo:hi],
                bf.geom_vals[goff[lo]:goff[hi]], bf.geom_cnt[lo:hi],
                bf.irregular[lo:hi],
            )
        base = hi
    return [layer for layer, _ in walked]


class TileBatch:
    """A column of tiles wire-parsed at once (parse_tile_column).

    ``layers`` holds every walked layer, tile by tile in wire order, with
    names, keys, values, extent and version but no RawFeature objects;
    layer j belongs to tile ``layer_tile[j]`` and owns features
    ``layer_feat[j]:layer_feat[j + 1]`` of ``feats``, whose tag and
    geometry values start at ``toff``/``goff``. Tile i owns layers
    ``tile_layer[i]:tile_layer[i + 1]``. ``scalar[i]`` marks a tile the
    arrays do not describe: a NULL entry, framing the walk rejected, or
    a feature fastdecode flagged irregular. Such a tile goes whole through
    the per-tile path (parse_raw_tile / decode_tile), which raises or
    decodes it exactly as before."""

    __slots__ = ("layers", "layer_tile", "layer_feat", "tile_layer", "feats",
                 "toff", "goff", "scalar")

    def layer_cols(self, j: int):
        """(ids, types, tag_vals, tag_cnt, geom_vals, geom_cnt) of layer j."""
        f0, f1 = int(self.layer_feat[j]), int(self.layer_feat[j + 1])
        f = self.feats
        return (
            f.ids[f0:f1], f.types[f0:f1],
            f.tag_vals[self.toff[f0]:self.toff[f1]], f.tag_cnt[f0:f1],
            f.geom_vals[self.goff[f0]:self.goff[f1]], f.geom_cnt[f0:f1],
        )


def parse_tile_column(col, layers=None) -> TileBatch:
    """Wire-parse every tile of an Arrow binary column in one pass.

    Each tile's layer framing is walked in place inside the column's
    single data buffer (no per-tile bytes copy), and the feature messages
    of ALL tiles parse in ONE fastdecode.parse_features_batch call — the
    batch-at-a-time boundary crossing that makes decode_tiles and
    overzoom_tiles pay the vectorization setup once per Arrow batch, not
    once per tile. ``layers`` selects layers by name as in parse_raw_tile.
    Walk errors are not raised here: the tile is marked ``scalar`` and the
    per-tile path raises them at the tile's turn."""
    import pyarrow as pa

    n = len(col)
    wide = pa.types.is_large_binary(col.type)
    bufs = col.buffers()
    width = 8 if wide else 4
    off = np.frombuffer(
        bufs[1], dtype=np.int64 if wide else np.int32, count=n + 1,
        offset=col.offset * width,
    ).astype(np.int64) if n else np.zeros(1, np.int64)
    buf = memoryview(bufs[2] if bufs[2] is not None else b"").cast("B")
    scalar = np.zeros(n, dtype=bool)
    if col.null_count:
        scalar |= ~col.is_valid().to_numpy(zero_copy_only=False)
    want = None if layers is None else set(layers)
    out_layers: list[RawLayer] = []
    layer_tile: list[int] = []
    nfeat: list[int] = []
    spans: list[tuple[int, int]] = []
    for i in np.flatnonzero(~scalar).tolist():
        try:
            walked = _walk_tile(buf, int(off[i]), int(off[i + 1]), want)
        except Exception:
            scalar[i] = True
            continue
        for layer, fspans in walked:
            out_layers.append(layer)
            layer_tile.append(i)
            nfeat.append(len(fspans))
            spans.extend(fspans)
    tb = TileBatch()
    tb.layers = out_layers
    tb.layer_tile = np.asarray(layer_tile, dtype=np.int64)
    tb.layer_feat = np.zeros(len(out_layers) + 1, dtype=np.int64)
    np.cumsum(np.asarray(nfeat, dtype=np.int64), out=tb.layer_feat[1:])
    tb.tile_layer = np.searchsorted(tb.layer_tile, np.arange(n + 1))
    tb.feats, tb.toff, tb.goff = _parse_spans(buf, spans)
    feat_tile = np.repeat(tb.layer_tile, np.diff(tb.layer_feat))
    scalar[feat_tile[tb.feats.irregular]] = True
    tb.scalar = scalar
    return tb


# ---------------- raw -> canonical (fromProtobuf, Internal.hs:96-112) ----------------


def layer_from_raw(raw: RawLayer, _geoms: list | None = None) -> Layer:
    """ref Internal.hs:104-112 + feats (Internal.hs:295-308).

    Errors on an empty feature list and on UNKNOWN geometry, matching the
    reference's strictness. ``_geoms`` lets decode_tile hand in geometry
    objects it assembled for the WHOLE tile in one batch call (deferred
    fallbacks as None entries); without it the layer assembles its own.
    """
    if not raw.features:
        raise ValueError("VectorTile.features: `[RawFeature]` empty")
    n = len(raw.features)
    geoms = _geoms
    if raw.batch is not None:
        # the wire parser's columnar arrays are authoritative when no
        # feature was irregular — skip re-deriving them from the slices
        types = raw.batch.types
        cnt = raw.batch.geom_cnt
    else:
        types = np.fromiter((rf.type for rf in raw.features), dtype=np.int64, count=n)
        cnt = np.fromiter((rf.geometry.size for rf in raw.features), dtype=np.int64, count=n)
    # batch when there are many features OR few-but-huge ones (a single
    # multipolygon with hundreds of rings gains as much as many points)
    if geoms is None and (n >= _BATCH_MIN_FEATURES or int(cnt.sum()) >= 256):
        from . import fastdecode

        if raw.batch is not None:
            streams = raw.batch.geom_vals
        else:
            streams = (
                np.concatenate(
                    [np.asarray(rf.geometry, dtype=np.uint32) for rf in raw.features]
                )
                if int(cnt.sum())
                else np.zeros(0, dtype=np.uint32)
            )
        # decodes every feature's geometry in a fixed number of vectorized
        # rounds; malformed/unknown-type lanes come back as None and run
        # the scalar twin AT THEIR TURN in the loop below, so the first
        # bad feature raises identically even when an earlier feature's
        # metadata (not geometry) is the malformed part
        geoms = fastdecode.assemble_geoms(types, streams, cnt, defer_fallback=True)
    feats: list[Feature] = []
    for i, rf in enumerate(raw.features):
        if rf.type not in (GEOM_POINT, GEOM_LINESTRING, GEOM_POLYGON):
            raise ValueError("Geometry type of UNKNOWN given.")
        tags = np.asarray(rf.tags, dtype=np.int64)
        tags = tags[: (tags.size // 2) * 2].reshape(-1, 2)
        meta = {raw.keys[k]: raw.values[v] for k, v in tags.tolist()}
        geom = (
            geoms[i]
            if geoms is not None and geoms[i] is not None
            else geom_from_stream(rf.type, rf.geometry)
        )
        feats.append(Feature(rf.id, meta, rf.type, geom))
    # points first, then linestrings, then polygons (Internal.hs:304-308
    # splits by type; stable within type)
    feats.sort(key=lambda f: f.geom_type)
    return Layer(
        name=raw.name,
        version=raw.version,
        extent=raw.extent if raw.extent is not None else DEFAULT_EXTENT,
        features=feats,
    )


def decode_tile(data: bytes, layers=None) -> dict[str, Layer]:
    """tile :: ByteString -> VectorTile (ref lib/Geography/VectorTile.hs:70-71).

    ``layers`` selects a subset by name without parsing the rest (see
    parse_raw_tile). Geometry for every batch-parsed layer is assembled
    in ONE whole-tile assemble_geoms call (per-layer calls would pay the
    kernel's fixed vectorization cost once per layer); deferred-fallback
    lanes still run the scalar twin at their feature's turn inside each
    layer, preserving the sequential path's error ordering."""
    raws = parse_raw_tile(data, layers=layers)
    geoms_for: dict[int, list] = {}
    batched = [r for r in raws if r.batch is not None and r.features]
    if len(batched) >= 2:
        from . import fastdecode

        types = np.concatenate([r.batch.types for r in batched])
        cnt = np.concatenate([r.batch.geom_cnt for r in batched])
        vals = np.concatenate([r.batch.geom_vals for r in batched])
        gs = fastdecode.assemble_geoms(types, vals, cnt, defer_fallback=True)
        off = 0
        for r in batched:
            geoms_for[id(r)] = gs[off:off + len(r.features)]
            off += len(r.features)
    return {
        layer.name: layer
        for layer in (
            layer_from_raw(r, _geoms=geoms_for.get(id(r))) for r in raws
        )
    }


# ---------------- canonical -> wire bytes (encode side) ----------------


def _encode_value(tag: int, v) -> bytes:
    if tag == VAL_STRING:
        return wire.len_delimited(VAL_STRING, v.encode("utf-8") if isinstance(v, str) else bytes(v))
    if tag == VAL_FLOAT:
        return wire.tag_bytes(VAL_FLOAT, wire.WT_FIXED32) + struct.pack("<f", v)
    if tag == VAL_DOUBLE:
        return wire.tag_bytes(VAL_DOUBLE, wire.WT_FIXED64) + struct.pack("<d", v)
    if tag == VAL_INT:
        return wire.tag_bytes(VAL_INT, wire.WT_VARINT) + wire.encode_varint(int(v))
    if tag == VAL_UINT:
        return wire.tag_bytes(VAL_UINT, wire.WT_VARINT) + wire.encode_varint(int(v))
    if tag == VAL_SINT:
        n = int(v)
        return wire.tag_bytes(VAL_SINT, wire.WT_VARINT) + wire.encode_varint(
            ((n << 1) ^ (n >> 63)) & 0xFFFFFFFFFFFFFFFF
        )
    if tag == VAL_BOOL:
        return wire.tag_bytes(VAL_BOOL, wire.WT_VARINT) + wire.encode_varint(1 if v else 0)
    raise ValueError(f"unknown value tag {tag}")


def _encode_feature(
    fid: int,
    tags: np.ndarray,
    geom_type: int,
    stream: np.ndarray,
    geom_field: bytes | None = None,
) -> bytes:
    # field order: id(1), tags(2 packed), type(3), geometry(4 packed);
    # geom_field, when given, is the COMPLETE pre-framed field-4 bytes
    # (whole-layer batched varint encode — see encode_layer)
    body = wire.tag_bytes(1, wire.WT_VARINT) + wire.encode_varint(int(fid))
    if len(tags):
        body += wire.packed_uint32(2, tags)
    body += wire.tag_bytes(3, wire.WT_VARINT) + wire.encode_varint(int(geom_type))
    body += geom_field if geom_field is not None else wire.packed_uint32(4, stream)
    return wire.len_delimited(2, body)  # Layer.features field 2


def encode_layer_from_streams(
    name: str,
    feats: list[tuple[int, dict, int, np.ndarray]],
    version: int = 2,
    extent: int = DEFAULT_EXTENT,
    geom_wire: list[bytes] | None = None,
) -> bytes:
    """Layer wire encode from (feature_id, metadata, geom_type, command_stream)
    tuples whose geometry is ALREADY a uint32 command stream.

    The scalar reference for layer framing: encode_layer calls it, and the
    tests pin the whole-batch kernel encode_multi_tile_batch, which writes
    every encode_tiles tile and overzoom child (struct ``meta`` included),
    byte for byte against it.

    Contract per the reference: dictionaries layer-level (totalMeta,
    Internal.hs:321-329; first-appearance order where the reference's
    HashSet order is unspecified), features sorted points-first then lines
    then polygons (Internal.hs:123-125), field order name, features, keys,
    values, extent, version-last (…/Tile/Layer.hs:51-55).
    """
    keys: dict[str, int] = {}
    values: dict[tuple, int] = {}
    value_list: list[tuple] = []

    def _vkey(tv: tuple) -> tuple:
        # dedupe floats by their WIRE bit pattern: Python's 0.0 == -0.0
        # would fold two distinct wire values into one slot, and two
        # doubles that round to one float32 are one FLOAT value on the
        # wire (the kernel dedupes by framed bytes)
        tag, v = tv
        if isinstance(v, float):
            return (tag, struct.pack("<f" if tag == VAL_FLOAT else "<d", v))
        return tv

    # geom_wire (optional): per-feature COMPLETE field-4 bytes aligned
    # with feats — lets encode_layer varint-encode the whole layer's
    # geometry in one vectorized pass instead of per feature here
    pairs = list(zip(feats, geom_wire)) if geom_wire is not None else [
        (f, None) for f in feats
    ]
    pairs.sort(key=lambda fg: fg[0][2])  # pts, lines, polys; stable
    encoded_feats: list[bytes] = []
    for (fid, meta, geom_type, stream), gw in pairs:
        tag_list: list[int] = []
        for k, v in meta.items():
            tag_list.append(keys.setdefault(k, len(keys)))
            vk = _vkey(v)
            idx = values.get(vk)
            if idx is None:
                idx = len(value_list)
                values[vk] = idx
                value_list.append(v)
            tag_list.append(idx)
        encoded_feats.append(
            _encode_feature(
                fid, np.asarray(tag_list, dtype=np.uint32), geom_type, stream, gw
            )
        )
    body = wire.len_delimited(1, name.encode("utf-8"))
    body += b"".join(encoded_feats)
    for k in keys:
        body += wire.len_delimited(3, k.encode("utf-8"))
    for (tag, v) in value_list:
        body += wire.len_delimited(4, _encode_value(tag, v))
    body += wire.tag_bytes(5, wire.WT_VARINT) + wire.encode_varint(int(extent))
    body += wire.tag_bytes(15, wire.WT_VARINT) + wire.encode_varint(int(version))
    return body


class MetaPairs(NamedTuple):
    """A batch's feature metadata as (key, value) index pairs, in each
    feature's own order: feature i carries pairs off[i]:off[i + 1], pair
    p names key ``keys[key[p]]`` and value entry ``val[p]`` of the framed
    value table (vbuf, voff) (frame_values_vec's layout). Keys must be
    distinct strings and no key may repeat within a feature; the value
    table may hold one value more than once."""

    keys: list
    off: np.ndarray
    key: np.ndarray
    val: np.ndarray
    vbuf: np.ndarray
    voff: np.ndarray


def concat_value_tables(tables):
    """Framed value tables [(buf, off)] laid end to end, as one (buf, off)."""
    bufs, offs, pos = [np.zeros(0, np.uint8)], [np.zeros(1, np.int64)], 0
    for buf, off in tables:
        off = np.asarray(off, dtype=np.int64)
        bufs.append(np.asarray(buf, dtype=np.uint8)[off[0]:off[-1]])
        offs.append(off[1:] - off[0] + pos)
        pos += int(off[-1] - off[0])
    return np.concatenate(bufs), np.concatenate(offs)


def _unique_values(vbuf: np.ndarray, voff: np.ndarray):
    """De-duplicate a framed value table by its bytes (tag plus bit
    pattern, the identity _vkey gives a value).

    Returns (id of each entry, unique framed buffer, unique offsets)."""
    import pyarrow as pa

    voff = np.asarray(voff, dtype=np.int64)
    table = pa.Array.from_buffers(
        pa.large_binary(), len(voff) - 1,
        [None, pa.py_buffer(voff - voff[0]),
         pa.py_buffer(np.asarray(vbuf, np.uint8)[voff[0]:voff[-1]])],
    ).dictionary_encode()
    uniq = table.dictionary
    ubuf = uniq.buffers()[2]
    return (
        table.indices.to_numpy(zero_copy_only=False).astype(np.int64),
        np.frombuffer(ubuf, np.uint8) if ubuf is not None else np.zeros(0, np.uint8),
        np.frombuffer(
            uniq.buffers()[1], np.int64, count=len(uniq) + 1, offset=uniq.offset * 8
        ),
    )


def _first_appearance(run: np.ndarray, item: np.ndarray, k: int, n_runs: int):
    """Per-run dictionaries in first-appearance order, vectorized with the
    run-keyed-unique trick: unique(run * k + item) yields every run's item
    set, a per-run permutation puts each segment in first-appearance order
    and rank recovers each pair's local index.

    For (run, item) pairs in order, returns each pair's index in its
    run's dictionary, the dictionaries' items run after run, and each
    run's entry count."""
    k = max(k, 1)
    u, first, inv = np.unique(run * k + item, return_index=True, return_inverse=True)
    u_run = u // k
    perm = np.lexsort((first, u_run))
    rank = np.empty(len(u), dtype=np.int64)
    rank[perm] = np.arange(len(u))
    run_first = np.searchsorted(u_run, np.arange(n_runs))
    return rank[inv] - run_first[run], u[perm] % k, np.bincount(u_run, minlength=n_runs)


def _run_key_order(p_run: np.ndarray, p_key: np.ndarray, k: int, n_runs: int):
    """Per-run key dictionaries in first-appearance order over the pairs.

    One O(pairs) pass finds each (run, key)'s first pair, so ranking the
    k keys of every run costs an n_runs x k argsort instead of a sort over
    all pairs. First-pair indices are distinct, so the order has no ties.

    Returns what _first_appearance returns for (p_run, p_key)."""
    n_pairs = len(p_key)
    first = np.full(n_runs * k, n_pairs, dtype=np.int64)  # n_pairs: key unused
    np.minimum.at(first, p_run * k + p_key, np.arange(n_pairs, dtype=np.int64))
    first = first.reshape(n_runs, k)
    order = np.argsort(first, axis=1, kind="stable")
    rank = np.empty_like(order)
    np.put_along_axis(rank, order, np.arange(k)[None, :], axis=1)
    used = first < n_pairs
    key_items = order[np.take_along_axis(used, order, axis=1)]
    return rank[p_run, p_key], key_items, used.sum(axis=1)


def _gather_runs(buf: np.ndarray, off: np.ndarray, items: np.ndarray, cnt: np.ndarray):
    """Entries ``items`` of the table (buf, off) laid end to end, and the
    byte length of each run's block of ``cnt`` entries."""
    lens = off[items + 1] - off[items]
    ecum = np.concatenate([[0], np.cumsum(lens)])
    bounds = np.concatenate([[0], np.cumsum(cnt)])
    return wire.ragged_gather(buf, off[items], lens), ecum[bounds[1:]] - ecum[bounds[:-1]]


def encode_multi_tile_batch(
    tz: np.ndarray,
    tx: np.ndarray,
    ty: np.ndarray,
    lcodes: np.ndarray,
    lnames: list[str],
    fids: np.ndarray,
    gts: np.ndarray,
    geom_values: np.ndarray,
    geom_offsets: np.ndarray,
    meta: MetaPairs,
    version: int = 2,
    extent: int = DEFAULT_EXTENT,
):
    """Encode EVERY tile in a sorted batch in one vectorized pass.

    This is the scatter-tile answer: a batch with 50k one-feature ocean
    tiles costs ~20 NumPy array passes total, not 50k per-tile calls. Rows
    must arrive sorted by (tile, layer, geom_type, feature_id), at least
    one row, all geometries non-empty (the caller masks empty command
    streams out: an empty feature would make the tile undecodable,
    Internal.hs:296).

    meta: the batch's metadata as MetaPairs — each feature's (key, value)
    pairs in its own order. Every tile goes through this one form:
    encode_tiles flattens plain metadata columns and decode_tiles' struct
    ``meta`` into it, overzoom hands over the parents' wire pairs.

    Each (tile, layer) run gets exactly the dictionaries
    encode_layer_from_streams builds (the reference's totalMeta,
    Internal.hs:321-329): the keys some feature of the run uses, and ONE
    value table shared by every key, de-duplicated by framed value bytes.
    Both are in first-appearance order over the run's pairs, and each
    feature's tags list its pairs in the order given, so tile bytes cannot
    depend on Arrow batch layouts or on how the caller split values into
    tables.

    Returns (list_of_mvt_bytes_per_tile, tile_starts_rows, n_runs_per_tile)
    aligned with the unique tiles in row order.
    """
    n = len(fids)
    # ---- run (tile+layer) and tile boundaries ----
    chg_tile = (tz[1:] != tz[:-1]) | (tx[1:] != tx[:-1]) | (ty[1:] != ty[:-1])
    chg_run = chg_tile | (lcodes[1:] != lcodes[:-1])
    rid = np.concatenate([[0], np.cumsum(chg_run)]).astype(np.int64)
    run_starts = np.concatenate([[0], np.flatnonzero(chg_run) + 1])
    n_runs = len(run_starts)
    tile_starts = np.concatenate([[0], np.flatnonzero(chg_tile) + 1])  # row idx
    run_is_tile_start = np.concatenate([[True], chg_tile[run_starts[1:] - 1]])

    # ---- geometry bytes (already in row order -> no gather) ----
    gbuf, gvlens = wire.encode_varints_with_lens(
        np.asarray(geom_values, dtype=np.uint32).astype(np.uint64)
    )
    byte_cum = np.concatenate([[0], np.cumsum(gvlens)])
    gb_len = byte_cum[geom_offsets[1:]] - byte_cum[geom_offsets[:-1]]

    # ---- metadata: per-run key and value dictionaries, vectorized ----
    p_row = np.repeat(np.arange(n), np.diff(np.asarray(meta.off, dtype=np.int64)))
    p_run = rid[p_row]
    p_key = np.asarray(meta.key, dtype=np.int64)
    vid, vbuf, voff = _unique_values(meta.vbuf, meta.voff)
    key_local, key_items, key_cnt = _run_key_order(p_run, p_key, len(meta.keys), n_runs)
    val_local, val_items, val_cnt = _first_appearance(
        p_run, vid[np.asarray(meta.val, dtype=np.int64)], len(voff) - 1, n_runs
    )
    tags = np.empty(2 * len(p_row), dtype=np.uint64)
    tags[0::2] = key_local
    tags[1::2] = val_local
    tbuf, tvlens = wire.encode_varints_with_lens(tags)
    tag_lens = np.bincount(
        np.repeat(p_row, 2), weights=tvlens, minlength=n
    ).astype(np.int64)
    key_frames = [wire.len_delimited(3, key.encode("utf-8")) for key in meta.keys]
    keys_cat, run_keys_lens = _gather_runs(
        np.frombuffer(b"".join(key_frames), np.uint8),
        np.concatenate([[0], np.cumsum([len(f) for f in key_frames])]).astype(np.int64),
        key_items, key_cnt,
    )
    vals_cat, run_val_lens = _gather_runs(vbuf, voff, val_items, val_cnt)

    # ---- feature framing (whole batch) ----
    ones = np.ones(n, dtype=np.int64)
    fid_buf, fid_lens = wire.encode_varints_with_lens(np.asarray(fids, np.int64).astype(np.uint64))
    glen_buf, glen_lens = wire.encode_varints_with_lens(gb_len.astype(np.uint64))
    # a feature without pairs has no tags field at all (not an empty
    # one), like the reference encoder
    has_tags = tag_lens > 0
    tlen_buf, sub_lens = wire.encode_varints_with_lens(tag_lens[has_tags].astype(np.uint64))
    tlen_lens = np.zeros(n, dtype=np.int64)
    tlen_lens[has_tags] = sub_lens
    slots = [
        (np.full(n, 0x08, np.uint8), ones), (fid_buf, fid_lens),
        (np.full(int(has_tags.sum()), 0x12, np.uint8), has_tags.astype(np.int64)),
        (tlen_buf, tlen_lens),
        (tbuf, tag_lens),
        (np.full(n, 0x18, np.uint8), ones), (np.asarray(gts, np.int64).astype(np.uint8), ones),
        (np.full(n, 0x22, np.uint8), ones), (glen_buf, glen_lens), (gbuf, gb_len),
    ]
    body_buf, body_lens = wire.ragged_stitch(slots)
    blen_buf, blen_lens = wire.encode_varints_with_lens(body_lens.astype(np.uint64))
    feat_buf, feat_lens = wire.ragged_stitch(
        [(np.full(n, 0x12, np.uint8), ones), (blen_buf, blen_lens), (body_buf, body_lens)]
    )

    # ---- per-run layer messages, stitched across ALL runs ----
    name_frames = [np.frombuffer(wire.len_delimited(1, nm.encode("utf-8")), np.uint8) for nm in lnames]
    run_lcode = lcodes[run_starts]
    head_lens = np.array([len(f) for f in name_frames], dtype=np.int64)[run_lcode]
    head_cat = np.concatenate([name_frames[c] for c in run_lcode.tolist()])
    tail = np.frombuffer(
        wire.tag_bytes(5, wire.WT_VARINT) + wire.encode_varint(int(extent))
        + wire.tag_bytes(15, wire.WT_VARINT) + wire.encode_varint(int(version)),
        np.uint8,
    )
    tail_lens = np.full(n_runs, len(tail), dtype=np.int64)
    tail_cat = np.tile(tail, n_runs)
    run_feat_lens = np.add.reduceat(feat_lens, run_starts)

    # field order matches encode_layer_from_streams — name, features,
    # keys, values, extent, version (…/Tile/Layer.hs:51-55)
    layer_body_lens = head_lens + run_feat_lens + run_keys_lens + run_val_lens + tail_lens
    llen_buf, llen_lens = wire.encode_varints_with_lens(layer_body_lens.astype(np.uint64))
    run_ones = np.ones(n_runs, dtype=np.int64)
    layer_buf, layer_lens = wire.ragged_stitch(
        [
            (np.full(n_runs, 0x1A, np.uint8), run_ones),  # Tile.layers field 3
            (llen_buf, llen_lens),
            (head_cat, head_lens),
            (feat_buf, run_feat_lens),
            (keys_cat, run_keys_lens),
            (vals_cat, run_val_lens),
            (tail_cat, tail_lens),
        ]
    )

    # ---- slice per tile ----
    layer_cum = np.concatenate([[0], np.cumsum(layer_lens)])
    tile_run_starts = np.flatnonzero(run_is_tile_start)
    tile_byte_starts = layer_cum[tile_run_starts]
    tile_byte_ends = np.concatenate([tile_byte_starts[1:], [layer_cum[-1]]])
    out_buf = layer_buf.tobytes()
    mvts = [out_buf[a:b] for a, b in zip(tile_byte_starts.tolist(), tile_byte_ends.tolist())]
    n_runs_per_tile = np.diff(np.concatenate([tile_run_starts, [n_runs]]))
    return mvts, tile_starts, n_runs_per_tile


def encode_value_bytes(tag: int, v) -> bytes:
    """Wire bytes of one Value message body (overzoom re-encodes each
    parent layer's values table with it)."""
    return _encode_value(tag, v)


def frame_values_vec(tag: int, arr) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized framing of a pyarrow array of dictionary uniques into
    Layer.values entries: for each element, the FULLY FRAMED bytes
    ``0x22 + varint(len(msg)) + msg`` where msg is the Value message body.

    Returns (uint8 buffer, int64 offsets) — entry i is buf[off[i]:off[i+1]].
    This is what lets a hot tile with 10^5 near-unique captions build its
    value dictionary without a Python call per value: the utf-8 bytes come
    straight out of the Arrow string buffer via one ragged stitch.
    """
    import pyarrow as pa

    n = len(arr)
    ones = np.ones(n, dtype=np.int64)
    if tag == VAL_STRING:
        if pa.types.is_large_string(arr.type):
            arr = arr.cast(pa.string())
        # StringArray layout: buffers = [validity, int32 offsets, utf8 data]
        off = np.frombuffer(
            arr.buffers()[1], dtype=np.int32, count=n + 1, offset=arr.offset * 4
        ).astype(np.int64)
        lens = off[1:] - off[:-1]
        data_buf = np.frombuffer(arr.buffers()[2], dtype=np.uint8) if arr.buffers()[2] else np.zeros(0, np.uint8)
        # dictionary uniques are stored contiguously -> identity slice path
        sbytes = wire.ragged_gather(data_buf, off[:-1], lens)
        lbuf, llens = wire.encode_varints_with_lens(lens.astype(np.uint64))
        msg, msg_lens = wire.ragged_stitch(
            [(np.full(n, 0x0A, np.uint8), ones), (lbuf, llens), (sbytes, lens)]
        )
    elif tag in (VAL_INT, VAL_UINT, VAL_SINT):
        # 64-bit two's complement, as encode_varint reads a negative int
        vals = arr.to_numpy(zero_copy_only=False).astype(np.int64)
        u = vals.view(np.uint64)
        if tag == VAL_SINT:  # zigzag
            u = (u << np.uint64(1)) ^ (vals >> 63).view(np.uint64)
        vbuf, vlens = wire.encode_varints_with_lens(u)
        msg, msg_lens = wire.ragged_stitch(
            [(np.full(n, tag << 3, np.uint8), ones), (vbuf, vlens)]
        )
    elif tag in (VAL_FLOAT, VAL_DOUBLE):
        # little-endian float32 bits (fixed32) or float64 bits (fixed64)
        size, wt = (4, wire.WT_FIXED32) if tag == VAL_FLOAT else (8, wire.WT_FIXED64)
        vals = arr.to_numpy(zero_copy_only=False).astype(np.float64)
        with np.errstate(over="ignore"):
            cast = vals.astype(f"<f{size}")
        if bool((np.isfinite(vals) & ~np.isfinite(cast)).any()):
            # _encode_value raises here too (struct.pack's OverflowError)
            raise ValueError("FLOAT value out of float32 range")
        raw = cast.view(np.uint8)
        msg, msg_lens = wire.ragged_stitch(
            [(np.full(n, (tag << 3) | wt, np.uint8), ones), (raw, np.full(n, size, np.int64))]
        )
    elif tag == VAL_BOOL:
        vals = arr.to_numpy(zero_copy_only=False).astype(np.uint8)
        msg, msg_lens = wire.ragged_stitch(
            [(np.full(n, 0x38, np.uint8), ones), (vals, ones)]
        )
    else:
        raise ValueError(f"unsupported vectorized value tag {tag}")
    # outer framing: 0x22 + varint(msg_len) + msg
    mlbuf, mllens = wire.encode_varints_with_lens(msg_lens.astype(np.uint64))
    framed, framed_lens = wire.ragged_stitch(
        [(np.full(n, 0x22, np.uint8), ones), (mlbuf, mllens), (msg, msg_lens)]
    )
    return framed, np.concatenate([[0], np.cumsum(framed_lens)])


def encode_layer(layer: Layer) -> bytes:
    """toProtobuf @Layer + wire put, ref Internal.hs:114-125.

    Geometry -> command streams run through the batched kernel
    (geometry.geoms_to_streams_batch: one global delta/zigzag pass for the
    whole layer); wire framing is unchanged, so bytes are identical to the
    per-feature scalar path."""
    vals, offs = geometry.geoms_to_streams_batch(
        [(f.geom_type, f.geom) for f in layer.features]
    )
    # whole-layer varint encode, sliced per feature into pre-framed
    # field-4 bytes (identical to per-feature packed_uint32 output)
    gbuf, glens = wire.encode_varints_with_lens(vals.astype(np.uint64))
    byte_cum = np.concatenate([[0], np.cumsum(glens)]).astype(np.int64)
    gb = gbuf.tobytes()
    starts = byte_cum[offs[:-1]]
    ends = byte_cum[offs[1:]]
    feats = []
    geom_wire = []
    for i, f in enumerate(layer.features):
        s, e = int(starts[i]), int(ends[i])
        feats.append((f.feature_id, f.metadata, f.geom_type, vals[offs[i]:offs[i + 1]]))
        geom_wire.append(b"\x22" + wire.encode_varint(e - s) + gb[s:e])
    return encode_layer_from_streams(
        layer.name, feats, layer.version, layer.extent, geom_wire=geom_wire
    )


def encode_tile(layers: list[Layer]) -> bytes:
    """untile :: VectorTile -> ByteString (ref lib/Geography/VectorTile.hs:74-75).

    Layers sorted by name for deterministic output (the reference iterates a
    HashMap, order unspecified — Internal.hs:101-102)."""
    out = bytearray()
    for layer in sorted(layers, key=lambda l: l.name):
        out += wire.len_delimited(3, encode_layer(layer))
    return bytes(out)


def roundtrip_features(data: bytes) -> dict[str, list]:
    """Decode -> canonical feature sets per layer (order-insensitive)."""
    return {
        name: sorted(f.canonical() for f in layer.features)
        for name, layer in decode_tile(data).items()
    }


# ---------------- wire-level tile merge ----------------


def split_layer_frames(data: bytes) -> list[tuple[str, bytes, int]]:
    """Top-level split of an MVT blob into its layer frames WITHOUT
    feature parsing: one (name, framed_bytes, n_features) per Tile.layers
    entry, where framed_bytes includes the field-3 tag + length prefix so
    frames concatenate back into a valid tile. n_features counts the
    layer's field-2 entries by tag-walking (O(#fields), no geometry or
    value decode). Raises on torn/malformed framing like parse_raw_tile."""
    buf = memoryview(data)
    pos, end = 0, len(buf)
    out = []
    while pos < end:
        start = pos
        fnum, wt, pos = wire.read_tag(buf, pos)
        if fnum == 3 and wt == wire.WT_LEN:
            n, pos = wire.read_varint(buf, pos)
            if pos + n > end:
                raise ValueError("truncated layer message")
            body_start, body_end = pos, pos + n
            name = _peek_layer_name(buf[body_start:body_end]) or ""
            nfeat = 0
            p = body_start
            while p < body_end:
                fn, w, p = wire.read_tag(buf, p)
                if w == wire.WT_LEN:
                    ln, p = wire.read_varint(buf, p)
                    if p + ln > body_end:
                        raise ValueError("field overruns layer message")
                    if fn == 2:
                        nfeat += 1
                    p += ln
                else:
                    p = wire.skip_field(buf, p, w, body_end)
            out.append((name, bytes(buf[start:body_end]), nfeat))
            pos = body_end
        else:
            pos = wire.skip_field(buf, pos, wt)
    return out


def merge_tile_blobs(blobs) -> tuple[bytes, int, int]:
    """Merge several MVT blobs for the SAME tile key into one tile.

    Fast path (the common case — separately-built thematic tile sets have
    disjoint layer names): the original layer frames are spliced back
    together in name-sorted order with ZERO re-encoding, so the output is
    byte-identical to encode_tile over the union of the layers (layer
    frames are independent in the wire format and encode_tile is exactly
    name-sorted frame concatenation).

    Name collisions across blobs fall back to decode + feature-union +
    re-encode for the colliding names only; merged features are ordered
    by (geom_type, feature_id) — the same order encode_tiles' partition
    sort produces — so the result still matches a from-features rebuild
    whenever feature ids are distinct within (layer, geom_type). Version/
    extent mismatches and duplicate names INSIDE one blob (where decode
    keeps last but a merge would keep both) raise ValueError.

    Returns (merged_bytes, n_features, n_layers)."""
    by_name: dict[str, list[tuple[bytes, int]]] = {}
    for blob in blobs:
        seen = set()
        for name, frame, nfeat in split_layer_frames(bytes(blob)):
            if name in seen:
                raise ValueError(
                    f"merge_tile_blobs: duplicate layer {name!r} within one "
                    "blob (decode keeps last; a merge would keep both)"
                )
            seen.add(name)
            by_name.setdefault(name, []).append((frame, nfeat))
    out = bytearray()
    total = 0
    for name in sorted(by_name):
        entries = by_name[name]
        if len(entries) == 1:
            frame, nfeat = entries[0]
            out += frame
            total += nfeat
            continue
        # collision: decode each frame (each is itself a valid 1-layer
        # tile), union features, re-encode once
        merged = None
        for frame, _ in entries:
            (layer,) = decode_tile(bytes(frame)).values()
            if merged is None:
                merged = layer
            elif (layer.version, layer.extent) != (merged.version, merged.extent):
                raise ValueError(
                    f"merge_tile_blobs: layer {name!r} version/extent mismatch "
                    f"({layer.version},{layer.extent}) vs "
                    f"({merged.version},{merged.extent})"
                )
            else:
                merged.features = merged.features + layer.features
        # decode yields wire-unsigned uint64 ids; encode_tiles sorts the
        # SIGNED bigint column, so order by the signed reinterpretation
        merged.features.sort(
            key=lambda f: (
                f.geom_type,
                f.feature_id - (1 << 64) if f.feature_id >= (1 << 63) else f.feature_id,
            )
        )
        out += wire.len_delimited(3, encode_layer(merged))
        total += len(merged.features)
    return bytes(out), total, len(by_name)

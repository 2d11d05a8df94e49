"""PMTiles v3 source/sink: the single-file, cloud-native tile archive
(spec: github.com/protomaps/PMTiles — a 127-byte header, varint-encoded
directories keyed by Hilbert-curve tile ids, and a clustered tile-data
section designed for HTTP range reads).

Where MBTiles needs a SQLite engine, PMTiles needs only seeks: readers
resolve z/x/y -> Hilbert tile id -> directory entry -> byte range. That
makes it the natural distribution format for a Spark-built tile set —
and the natural PARALLEL-read format: every executor just preads its
slice of entries, which is exactly the access pattern the format was
designed to give CDNs.

Scale shape:
* **sink** — tile ids are computed vectorized (NumPy Hilbert kernel)
  executor-side, the relation is range-partitioned + sorted on tile id
  (the archive must be clustered), and each task writes its run of
  compressed blobs to a part file plus a tiny (id, length) sidecar.
  The driver never sees tile bytes twice: it builds the directory from
  the sidecars (pure varint math over the sorted entry arrays) and
  stream-concatenates the part files. Serial work is O(output bytes) —
  the bound any single-file container imposes — plus O(entries)
  directory math.
* **source** — the driver parses only the header + directory (small by
  construction; entries are ~1-4 bytes each after varint+gzip), then
  fans ENTRY-INDEX ranges out; each task re-opens the archive, preads
  its byte ranges, and emits decoded (tile_z, tile_x, tile_y, mvt)
  rows. No driver bottleneck on tile bytes in either direction.

Format subset: header v3, gzip internal compression for directories and
JSON metadata, gzip (default) or uncompressed tile data, root directory
plus one leaf level when the entry count exceeds the root budget.
The sink performs spec-legal content dedup (identical blobs share one
data span via md5+length identity) and RLE (consecutive Hilbert ids
with one content collapse into a run); general run lengths and shared
offsets are honored on read.

Reference parity: distribution wrapper around the same (tile_z, tile_x,
tile_y, mvt) frame as sources/mbtiles.py; codec work stays in
mvt/codec.py (lib/Geography/VectorTile.hs:70-74 contract).
"""

from __future__ import annotations

import glob as _glob
import gzip
import json
import math
import os
import struct
import uuid

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from ..mvt import wire

MAGIC = b"PMTiles"
HEADER_LEN = 127
COMPRESSION_NONE = 1
COMPRESSION_GZIP = 2
TILETYPE_MVT = 1
_GZ_MAGIC = b"\x1f\x8b"
# max entries serialized into the root directory before spilling to one
# leaf level (the spec's own js writer targets ~16k root entries)
ROOT_BUDGET = 16384
LEAF_SIZE = 8192

TILES_SCHEMA = "tile_z int, tile_x int, tile_y int, mvt binary"


# ---------------------------------------------------------------- tile ids

def zoom_base(z: int) -> int:
    """First tile id of zoom z: 1 + 4 + ... + 4^(z-1) = (4^z - 1) / 3."""
    return ((1 << (2 * z)) - 1) // 3


def hilbert_d(z: int, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Vectorized Hilbert (x, y) -> d on the 2^z x 2^z grid."""
    x = np.asarray(x, np.uint64).copy()
    y = np.asarray(y, np.uint64).copy()
    d = np.zeros(x.shape, np.uint64)
    s = np.uint64(1) << np.uint64(z - 1) if z > 0 else np.uint64(0)
    one = np.uint64(1)
    while s > 0:
        rx = ((x & s) > 0).astype(np.uint64)
        ry = ((y & s) > 0).astype(np.uint64)
        d += s * s * ((np.uint64(3) * rx) ^ ry)
        # rotate quadrant
        swap = ry == 0
        flip = swap & (rx == one)
        xf = np.where(flip, s - one - x, x)
        yf = np.where(flip, s - one - y, y)
        x = np.where(swap, yf, xf)
        y = np.where(swap, xf, yf)
        s >>= one
    return d


def hilbert_xy(z: int, d: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized inverse: d -> (x, y). Exact mirror of hilbert_d."""
    t = np.asarray(d, np.uint64).copy()
    x = np.zeros(t.shape, np.uint64)
    y = np.zeros(t.shape, np.uint64)
    one = np.uint64(1)
    s = np.uint64(1)
    n = np.uint64(1) << np.uint64(z)
    while s < n:
        rx = one & (t >> one)
        ry = one & (t ^ rx)
        # rotate back
        swap = ry == 0
        flip = swap & (rx == one)
        xf = np.where(flip, s - one - x, x)
        yf = np.where(flip, s - one - y, y)
        x = np.where(swap, yf, xf)
        y = np.where(swap, xf, yf)
        x += s * rx
        y += s * ry
        t >>= np.uint64(2)
        s <<= one
    return x, y


def zxy_to_tileid(z: np.ndarray, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Vectorized (z, x, y) -> PMTiles tile id (per-zoom Hilbert walk on
    top of the pyramid base offset). Mixed zooms allowed."""
    z = np.asarray(z, np.int64)
    out = np.empty(z.shape, np.uint64)
    for zz in np.unique(z):
        m = z == zz
        out[m] = np.uint64(zoom_base(int(zz))) + hilbert_d(
            int(zz), np.asarray(x)[m], np.asarray(y)[m]
        )
    return out


def tileid_to_zxy(tid: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized inverse of zxy_to_tileid."""
    tid = np.asarray(tid, np.uint64)
    zs = np.zeros(tid.shape, np.int64)
    # zoom of an id: largest z with zoom_base(z) <= id (z <= 31 here)
    for z in range(1, 32):
        zs[tid >= np.uint64(zoom_base(z))] = z
    xs = np.zeros(tid.shape, np.uint64)
    ys = np.zeros(tid.shape, np.uint64)
    for zz in np.unique(zs):
        m = zs == zz
        x, y = hilbert_xy(int(zz), tid[m] - np.uint64(zoom_base(int(zz))))
        xs[m], ys[m] = x, y
    return zs, xs.astype(np.int64), ys.astype(np.int64)


# ------------------------------------------------------------- directories

def _serialize_dir(ids: np.ndarray, runs: np.ndarray, lens: np.ndarray,
                   offs: np.ndarray) -> bytes:
    """Entries (sorted by id) -> one uncompressed directory byte string:
    varint n, id deltas, run lengths, byte lengths, then offsets with the
    spec's +1/0 convention (0 = contiguous with the previous entry)."""
    n = len(ids)
    if n == 0:
        return bytes(wire.encode_varints(np.zeros(1, np.uint64)))
    deltas = np.empty(n, np.uint64)
    deltas[0] = ids[0]
    deltas[1:] = ids[1:] - ids[:-1]
    contiguous = np.zeros(n, bool)
    contiguous[1:] = offs[1:] == offs[:-1] + lens[:-1]
    off_field = np.where(contiguous, np.uint64(0), offs.astype(np.uint64) + np.uint64(1))
    stream = np.concatenate([
        np.array([n], np.uint64), deltas,
        runs.astype(np.uint64), lens.astype(np.uint64), off_field,
    ])
    return bytes(wire.encode_varints(stream))


def _parse_dir(buf: bytes):
    """Inverse of _serialize_dir -> (ids, runs, lens, offs) arrays."""
    vals = wire.decode_varints(buf)
    n = int(vals[0])
    if len(vals) != 1 + 4 * n:
        raise ValueError(
            f"pmtiles: directory advertises {n} entries but carries "
            f"{len(vals) - 1} varints"
        )
    ids = np.cumsum(vals[1:1 + n].astype(np.uint64))
    runs = vals[1 + n:1 + 2 * n].astype(np.int64)
    lens = vals[1 + 2 * n:1 + 3 * n].astype(np.int64)
    raw_off = vals[1 + 3 * n:1 + 4 * n].astype(np.int64)
    offs = np.empty(n, np.int64)
    prev_end = 0
    # offsets are delta-free but the 0 sentinel chains: resolve serially
    # only across sentinel runs (vector fast path when none are 0)
    if n and raw_off[0] == 0:
        # the sentinel means "contiguous with the PREVIOUS entry" — the
        # first entry has none (both resolution paths must reject this)
        raise ValueError("pmtiles: first directory entry has offset sentinel 0")
    if (raw_off == 0)[1:].any() if n > 1 else False:
        for i in range(n):
            offs[i] = prev_end if raw_off[i] == 0 else raw_off[i] - 1
            prev_end = offs[i] + lens[i]
    else:
        offs = raw_off - 1
    return ids, runs, lens, offs


def _gz(data: bytes) -> bytes:
    return gzip.compress(data, mtime=0)


def _gunz(data: bytes) -> bytes:
    return gzip.decompress(data) if data[:2] == _GZ_MAGIC else data


# ------------------------------------------------------------------ header

def _pack_header(f: dict) -> bytes:
    h = struct.pack(
        "<7sB", MAGIC, 3
    ) + struct.pack(
        "<8Q",
        f["root_off"], f["root_len"], f["meta_off"], f["meta_len"],
        f["leaf_off"], f["leaf_len"], f["data_off"], f["data_len"],
    ) + struct.pack(
        "<3Q", f["n_addressed"], f["n_entries"], f["n_contents"]
    ) + struct.pack(
        "<4B", 1 if f.get("clustered", True) else 0,
        f["internal_compression"], f["tile_compression"], f["tile_type"],
    ) + struct.pack(
        "<2B", f["min_zoom"], f["max_zoom"]
    ) + struct.pack(
        "<4i", f["min_lon_e7"], f["min_lat_e7"], f["max_lon_e7"], f["max_lat_e7"]
    ) + struct.pack(
        "<B2i", f["center_zoom"], f["center_lon_e7"], f["center_lat_e7"]
    )
    assert len(h) == HEADER_LEN, len(h)
    return h


def _unpack_header(buf: bytes) -> dict:
    if len(buf) < HEADER_LEN or buf[:7] != MAGIC:
        raise ValueError("pmtiles: bad magic")
    if buf[7] != 3:
        raise ValueError(f"pmtiles: unsupported version {buf[7]}")
    q = struct.unpack_from("<11Q", buf, 8)
    (clustered, icomp, tcomp, ttype, minz, maxz) = struct.unpack_from("<6B", buf, 96)
    bounds = struct.unpack_from("<4i", buf, 102)
    cz, clon, clat = struct.unpack_from("<B2i", buf, 118)
    return {
        "root_off": q[0], "root_len": q[1], "meta_off": q[2], "meta_len": q[3],
        "leaf_off": q[4], "leaf_len": q[5], "data_off": q[6], "data_len": q[7],
        "n_addressed": q[8], "n_entries": q[9], "n_contents": q[10],
        "clustered": bool(clustered), "internal_compression": icomp,
        "tile_compression": tcomp, "tile_type": ttype,
        "min_zoom": minz, "max_zoom": maxz,
        "min_lon_e7": bounds[0], "min_lat_e7": bounds[1],
        "max_lon_e7": bounds[2], "max_lat_e7": bounds[3],
        "center_zoom": cz, "center_lon_e7": clon, "center_lat_e7": clat,
    }


def _tile_bounds_e7(zs, xs, ys) -> tuple[int, int, int, int]:
    """WebMercator bbox (e7 ints) of a set of tiles (vectorized)."""
    zs = np.asarray(zs, np.float64)
    n = np.exp2(zs)
    lon0 = np.asarray(xs) / n * 360.0 - 180.0
    lon1 = (np.asarray(xs) + 1) / n * 360.0 - 180.0
    def lat_of(yy):
        return np.degrees(np.arctan(np.sinh(math.pi * (1 - 2 * yy / n))))
    lat0 = lat_of(np.asarray(ys) + 1)  # south edge
    lat1 = lat_of(np.asarray(ys))      # north edge
    return (
        int(round(lon0.min() * 1e7)), int(round(lat0.min() * 1e7)),
        int(round(lon1.max() * 1e7)), int(round(lat1.max() * 1e7)),
    )


# -------------------------------------------------------------------- sink

def write_pmtiles(
    tiles: DataFrame,
    path: str,
    metadata: dict | None = None,
    compress: bool = True,
    partitions: int | None = None,
) -> None:
    """Write a (tile_z, tile_x, tile_y, mvt) frame as a PMTiles v3 archive.

    Executors range-partition + sort on the Hilbert tile id and write
    their run of (gzipped) blobs to part files with (id, length)
    sidecars; the driver assembles header + directories from the
    sidecars and stream-concatenates the parts. Atomic at the file
    level via .tmp + os.replace. Duplicate tile keys raise (an archive
    addresses each id once — merge or dedupe upstream)."""
    import pyarrow as pa

    part_dir = f"{path}.parts.{uuid.uuid4().hex[:8]}"
    os.makedirs(part_dir, exist_ok=True)
    do_gzip = compress

    def add_tid(batches):
        for b in batches:
            z = b.column("tile_z").to_numpy(zero_copy_only=False)
            x = b.column("tile_x").to_numpy(zero_copy_only=False)
            y = b.column("tile_y").to_numpy(zero_copy_only=False)
            tid = zxy_to_tileid(z, x, y).astype(np.int64)
            yield pa.record_batch(
                [b.column(i) for i in range(b.num_columns)] + [pa.array(tid)],
                names=[*b.schema.names, "tile_id"],
            )

    from pyspark.sql import functions as F

    # normalize to the declared widths (callers often carry bigint coords)
    with_id = tiles.select(
        F.col("tile_z").cast("int").alias("tile_z"),
        F.col("tile_x").cast("int").alias("tile_x"),
        F.col("tile_y").cast("int").alias("tile_y"),
        "mvt",
    ).mapInArrow(add_tid, TILES_SCHEMA + ", tile_id long")
    n_parts = partitions or tiles.sparkSession.sparkContext.defaultParallelism
    ordered = with_id.repartitionByRange(n_parts, "tile_id").sortWithinPartitions(
        "tile_id"
    )

    def write_part(rows):
        import hashlib

        from pyspark import TaskContext

        pidx = TaskContext.get().partitionId()
        part = os.path.join(part_dir, f"part-{pidx:05d}.bin")
        tmp = f"{part}.tmp-{uuid.uuid4().hex[:8]}"
        ids, lens, h0s, h1s = [], [], [], []
        with open(tmp, "wb") as f:
            for r in rows:
                blob = gzip.compress(bytes(r.mvt), mtime=0) if do_gzip else bytes(r.mvt)
                f.write(blob)
                ids.append(r.tile_id)
                lens.append(len(blob))
                dg = hashlib.md5(blob).digest()
                h0s.append(int.from_bytes(dg[:8], "little", signed=True))
                h1s.append(int.from_bytes(dg[8:], "little", signed=True))
        idx = np.array([ids, lens, h0s, h1s], np.int64)
        np.save(f"{tmp}.idx", idx)
        os.replace(f"{tmp}.idx.npy", f"{part}.idx.npy")
        os.replace(tmp, part)

    tmp = path + ".tmp"
    try:
        ordered.foreachPartition(write_part)
        _assemble_archive(path, tmp, part_dir, metadata, do_gzip)
    finally:
        # parts + tmp must not leak on ANY failure path (including the
        # duplicate-key / unsorted-part errors raised mid-assembly)
        if os.path.exists(tmp):
            os.remove(tmp)
        for p in _glob.glob(os.path.join(part_dir, "part-*")):
            os.remove(p)
        os.rmdir(part_dir)


def _assemble_archive(
    path: str, tmp: str, part_dir: str, metadata: dict | None, do_gzip: bool
) -> None:
    """Driver assembly: sidecars -> entries -> directories -> archive."""
    parts = sorted(_glob.glob(os.path.join(part_dir, "part-*.bin")))
    all_idx = []
    for p in parts:
        idx = np.load(f"{p}.idx.npy")
        all_idx.append((idx, len(idx[0])))
    ids = (
        np.concatenate([i[0][0] for i in all_idx]) if all_idx else np.zeros(0, np.int64)
    )
    lens = (
        np.concatenate([i[0][1] for i in all_idx]) if all_idx else np.zeros(0, np.int64)
    )
    hashes = (
        np.concatenate([np.stack([i[0][2], i[0][3]], 1) for i in all_idx])
        if all_idx
        else np.zeros((0, 2), np.int64)
    )
    # range partitioning emits ascending id ranges in part order, but the
    # boundary between parts is the only place dupes could hide unsorted
    if len(ids) > 1 and not bool((np.diff(ids) > 0).all()):
        if (np.diff(ids) == 0).any():
            raise ValueError("pmtiles: duplicate tile keys in input")
        raise AssertionError("pmtiles: part order is not id-sorted")

    # content dedup + RLE (both spec-legal under clustered=1: an offset may
    # point back at a previously-written tile; consecutive ids with one
    # content collapse into a run). Identity = (md5, length) of the
    # compressed blob — 128-bit, collisions are not a practical concern.
    # Ocean/empty tiles are contiguous in Hilbert order, so planet-scale
    # sets collapse their dominant mass into a handful of entries.
    n_all = len(ids)
    keep_data = np.ones(n_all, bool)  # which blobs' bytes land in the file
    e_ids, e_runs, e_lens, e_offs = [], [], [], []
    first_off: dict[tuple[int, int, int], int] = {}
    pos = 0
    n_contents = 0
    for i in range(n_all):
        key = (int(hashes[i, 0]), int(hashes[i, 1]), int(lens[i]))
        prev = first_off.get(key)
        if prev is None:
            off = pos
            first_off[key] = off
            pos += int(lens[i])
            n_contents += 1
        else:
            off = prev
            keep_data[i] = False
        if (
            e_ids
            and off == e_offs[-1]
            and int(ids[i]) == e_ids[-1] + e_runs[-1]
        ):
            e_runs[-1] += 1  # extend the run: consecutive id, same content
        else:
            e_ids.append(int(ids[i]))
            e_runs.append(1)
            e_lens.append(int(lens[i]))
            e_offs.append(off)
    n_addressed = n_all
    ids = np.array(e_ids, np.int64)
    runs = np.array(e_runs, np.int64)
    offs = np.array(e_offs, np.int64)
    data_len = pos
    lens_full = lens  # per-blob (pre-dedup) lengths, for the part copy
    lens = np.array(e_lens, np.int64)

    n = len(ids)
    if n <= ROOT_BUDGET:
        root = _gz(_serialize_dir(ids.astype(np.uint64), runs, lens, offs))
        leaves = b""
    else:
        # one leaf level: root entries point (run_length 0) at leaf dirs
        leaf_blobs, r_ids, r_lens, r_offs = [], [], [], []
        pos = 0
        for s in range(0, n, LEAF_SIZE):
            e = min(n, s + LEAF_SIZE)
            blob = _gz(_serialize_dir(
                ids[s:e].astype(np.uint64), runs[s:e], lens[s:e], offs[s:e]
            ))
            leaf_blobs.append(blob)
            r_ids.append(ids[s])
            r_lens.append(len(blob))
            r_offs.append(pos)
            pos += len(blob)
        leaves = b"".join(leaf_blobs)
        root = _gz(_serialize_dir(
            np.array(r_ids, np.uint64), np.zeros(len(r_ids), np.int64),
            np.array(r_lens, np.int64), np.array(r_offs, np.int64),
        ))

    # no filename in the defaults: archive bytes must be a pure function
    # of the tile set (+ explicit metadata), never of where it's written
    meta_blob = _gz(json.dumps(
        {"format": "pbf", **(metadata or {})}, sort_keys=True
    ).encode())

    if n:
        # bounds over every ADDRESSED tile (runs expanded — consecutive
        # Hilbert ids, so the expansion is exact, not just entry heads).
        # Expansion is CHUNKED: a planet-scale ocean run can address
        # billions of ids, and bounds need min/max accumulation, not one
        # giant array in driver memory.
        minz = maxz = None
        lo_lon = lo_lat = hi_lon = hi_lat = None
        CHUNK = 1 << 22
        pending: list[np.ndarray] = []
        pend_n = 0

        def flush(buf):
            nonlocal minz, maxz, lo_lon, lo_lat, hi_lon, hi_lat
            addr = np.concatenate(buf)
            zs, xs, ys = tileid_to_zxy(addr)
            b = _tile_bounds_e7(zs, xs, ys)
            z0, z1 = int(zs.min()), int(zs.max())
            if minz is None:
                minz, maxz = z0, z1
                lo_lon, lo_lat, hi_lon, hi_lat = b
            else:
                minz, maxz = min(minz, z0), max(maxz, z1)
                lo_lon, lo_lat = min(lo_lon, b[0]), min(lo_lat, b[1])
                hi_lon, hi_lat = max(hi_lon, b[2]), max(hi_lat, b[3])

        for i, r in zip(e_ids, e_runs):
            s = 0
            while s < r:
                c = min(r - s, CHUNK - pend_n)
                pending.append(np.arange(i + s, i + s + c, dtype=np.uint64))
                pend_n += c
                s += c
                if pend_n >= CHUNK:
                    flush(pending)
                    pending, pend_n = [], 0
        if pending:
            flush(pending)
    else:
        lo_lon = lo_lat = hi_lon = hi_lat = 0
        minz = maxz = 0
    root_off = HEADER_LEN
    meta_off = root_off + len(root)
    leaf_off = meta_off + len(meta_blob)
    data_off = leaf_off + len(leaves)
    header = _pack_header({
        "root_off": root_off, "root_len": len(root),
        "meta_off": meta_off, "meta_len": len(meta_blob),
        "leaf_off": leaf_off, "leaf_len": len(leaves),
        "data_off": data_off, "data_len": data_len,
        "n_addressed": n_addressed, "n_entries": n, "n_contents": n_contents,
        "clustered": True,
        "internal_compression": COMPRESSION_GZIP,
        "tile_compression": COMPRESSION_GZIP if do_gzip else COMPRESSION_NONE,
        "tile_type": TILETYPE_MVT,
        "min_zoom": minz, "max_zoom": maxz,
        "min_lon_e7": lo_lon, "min_lat_e7": lo_lat,
        "max_lon_e7": hi_lon, "max_lat_e7": hi_lat,
        "center_zoom": minz,
        "center_lon_e7": (lo_lon + hi_lon) // 2,
        "center_lat_e7": (lo_lat + hi_lat) // 2,
    })
    with open(tmp, "wb") as f:
        f.write(header)
        f.write(root)
        f.write(meta_blob)
        f.write(leaves)
        # stream-copy parts, SKIPPING spans whose content was deduped
        # (keep_data is in global blob order; parts concatenate in that
        # same order)
        gi = 0
        for (idx, cnt), p in zip(all_idx, parts):
            with open(p, "rb") as pf:
                for j in range(cnt):
                    ln = int(lens_full[gi])
                    if keep_data[gi]:
                        f.write(pf.read(ln))
                    else:
                        pf.seek(ln, 1)
                    gi += 1
    os.replace(tmp, path)


# ------------------------------------------------------------------ source

def _load_entries(path: str):
    """Parse header + directories -> (header, ids, runs, lens, offs)."""
    with open(path, "rb") as f:
        hdr = _unpack_header(f.read(HEADER_LEN))
        f.seek(hdr["root_off"])
        root = _gunz(f.read(hdr["root_len"]))
        ids, runs, lens, offs = _parse_dir(root)
        if hdr["leaf_len"]:
            # run_length 0 = pointer into the leaf section
            is_leaf = runs == 0
            parts = []
            for i in np.flatnonzero(is_leaf):
                f.seek(hdr["leaf_off"] + int(offs[i]))
                parts.append(_parse_dir(_gunz(f.read(int(lens[i])))))
            keep = ~is_leaf
            ids = np.concatenate([ids[keep]] + [p[0] for p in parts])
            runs = np.concatenate([runs[keep]] + [p[1] for p in parts])
            lens = np.concatenate([lens[keep]] + [p[2] for p in parts])
            offs = np.concatenate([offs[keep]] + [p[3] for p in parts])
            order = np.argsort(ids, kind="stable")
            ids, runs, lens, offs = ids[order], runs[order], lens[order], offs[order]
    return hdr, ids, runs, lens, offs


def read_pmtiles(
    spark: SparkSession, path: str, z: int | None = None, n_splits: int | None = None
) -> DataFrame:
    """Read a PMTiles archive into (tile_z, tile_x, tile_y, mvt) rows.

    The driver parses only the directory to learn the entry count (and
    push the zoom filter down to an id-range slice); executors re-parse
    it (small, local) and pread their slice's byte ranges — the same
    range-request pattern the format serves CDNs with, so reads
    parallelize without any driver data path. Split k is partition k of
    ``spark.range(0, n, 1, n)``; its bounds travel in the closure, so the
    scan plans no exchange."""
    import pyarrow as pa

    if not os.path.exists(path):
        return spark.createDataFrame([], TILES_SCHEMA)
    hdr, ids, runs, lens, offs = _load_entries(path)
    lo_i, hi_i = 0, len(ids)
    if z is not None:
        lo_i = int(np.searchsorted(ids, np.uint64(zoom_base(z))))
        hi_i = int(np.searchsorted(ids, np.uint64(zoom_base(z + 1))))
        # zoom bases are contiguous in id space (base(z)+4^z == base(z+1)),
        # so an RLE run written at z-1 can EXTEND into z; the per-row zoom
        # filter in scan() drops its foreign rows, but the entry itself
        # must stay in the slice or its z-tiles vanish
        if lo_i > 0 and int(ids[lo_i - 1]) + max(1, int(runs[lo_i - 1])) > zoom_base(z):
            lo_i -= 1
    count = hi_i - lo_i
    if count <= 0:
        return spark.createDataFrame([], TILES_SCHEMA)
    if n_splits is None:
        n_splits = min(spark.sparkContext.defaultParallelism, max(1, count // 512))
    step = (count + n_splits - 1) // n_splits
    bounds = [
        (lo, min(lo + step, hi_i)) for lo in range(lo_i, hi_i, step)
    ]

    def scan(batches):
        hdr2, ids2, runs2, lens2, offs2 = _load_entries(path)
        gz_tiles = hdr2["tile_compression"] == COMPRESSION_GZIP
        data0 = hdr2["data_off"]
        with open(path, "rb") as f:
            for b in batches:
                for k in b["id"].to_pylist():
                    sl = slice(*bounds[k])
                    # expand run-lengths: one output row per addressed id
                    out_ids, blobs = [], []
                    for tid, run, ln, off in zip(
                        ids2[sl], runs2[sl], lens2[sl], offs2[sl]
                    ):
                        f.seek(data0 + int(off))
                        raw = f.read(int(ln))
                        blob = gzip.decompress(raw) if gz_tiles and raw[:2] == _GZ_MAGIC else raw
                        for k in range(max(1, int(run))):
                            out_ids.append(int(tid) + k)
                            blobs.append(blob)
                    zs, xs, ys = tileid_to_zxy(np.array(out_ids, np.uint64))
                    if z is not None:
                        keep = zs == z
                        zs, xs, ys = zs[keep], xs[keep], ys[keep]
                        blobs = [bb for bb, k in zip(blobs, keep) if k]
                    yield pa.record_batch({
                        "tile_z": pa.array(zs.astype(np.int32)),
                        "tile_x": pa.array(xs.astype(np.int32)),
                        "tile_y": pa.array(ys.astype(np.int32)),
                        "mvt": pa.array(blobs, pa.binary()),
                    })

    return spark.range(0, len(bounds), 1, len(bounds)).mapInArrow(scan, TILES_SCHEMA)


def read_header(path: str) -> dict:
    """The parsed 127-byte header (driver-side, tiny)."""
    with open(path, "rb") as f:
        return _unpack_header(f.read(HEADER_LEN))


def read_metadata(path: str) -> dict:
    """The archive's JSON metadata block as a dict."""
    with open(path, "rb") as f:
        hdr = _unpack_header(f.read(HEADER_LEN))
        f.seek(hdr["meta_off"])
        return json.loads(_gunz(f.read(hdr["meta_len"])) or b"{}")

"""MBTiles source/sink: the single-file SQLite tile container every map
stack ships (spec: github.com/mapbox/mbtiles-spec — a ``tiles`` table of
(zoom_level, tile_column, tile_row, tile_data) with TMS row order, plus a
``metadata`` name/value table). Python's stdlib sqlite3 is the only
dependency.

Scale shape:
* **sink** — SQLite is single-writer, so executors never touch the final
  file: each task writes its partition's tiles to a private part-db
  (``foreachPartition``), and the driver merges the parts with
  ``ATTACH`` + ``INSERT INTO ... SELECT`` (bulk page copies, no Python
  row loop) inside one transaction, then builds the unique index. The
  only serial work is proportional to total OUTPUT bytes — the same
  bound any single-file format imposes.
* **source** — SQLite allows unlimited concurrent readers: the driver
  reads only ``max(rowid)`` (an O(1) b-tree lookup), then fans rowid
  ranges out to executors; each task opens the file read-only and scans
  its range (``mapInArrow``). Requires the path to be visible on the
  executors (local/NFS — same caveat as sources/tileset.py).

MVT blobs per the spec SHOULD be gzip-compressed in ``tile_data``;
``write_mbtiles(compress=True)`` (default) gzips and ``read_mbtiles``
transparently gunzips (detected per blob by magic, so uncompressed
tilesets read fine too).

Reference parity: this is an INGEST/DISTRIBUTION wrapper around the same
(tile_z, tile_x, tile_y, mvt) frame the reference's `tile`/`untile`
entry points exchange (lib/Geography/VectorTile.hs:70-74); the codec
work stays in mvt/codec.py.
"""

from __future__ import annotations

import glob as _glob
import gzip
import os
import sqlite3
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_TILES_DDL = (
    "CREATE TABLE IF NOT EXISTS tiles ("
    "zoom_level INTEGER, tile_column INTEGER, tile_row INTEGER, tile_data BLOB)"
)
_GZ_MAGIC = b"\x1f\x8b"


def write_mbtiles(
    tiles: DataFrame,
    path: str,
    metadata: dict | None = None,
    compress: bool = True,
) -> None:
    """Write a (tile_z, tile_x, tile_y, mvt) frame as an MBTiles file.

    ``tile_row`` is stored TMS-flipped (row = 2^z - 1 - tile_y) per the
    spec. ``metadata`` entries land in the metadata table; sensible
    ``format``/``name`` defaults are filled in. The write is atomic at
    the file level: parts merge into ``path + '.tmp'`` which is
    os.replace()d into place, so readers never observe a half-merged db."""
    part_dir = f"{path}.parts.{uuid.uuid4().hex[:8]}"
    os.makedirs(part_dir, exist_ok=True)
    do_gzip = compress

    def write_part(rows):
        # part files are named by PARTITION id, written to an attempt-unique
        # temp and os.replace()d into place: a task retry or speculative
        # duplicate overwrites its predecessor instead of leaving a second
        # part-*.db that would duplicate rows at merge and abort the final
        # CREATE UNIQUE INDEX
        from pyspark import TaskContext

        pidx = TaskContext.get().partitionId()
        part = os.path.join(part_dir, f"part-{pidx:05d}.db")
        tmp_part = f"{part}.tmp-{uuid.uuid4().hex[:8]}"
        con = sqlite3.connect(tmp_part)
        try:
            con.execute(_TILES_DDL)
            con.executemany(
                "INSERT INTO tiles VALUES (?, ?, ?, ?)",
                (
                    (
                        r.tile_z,
                        r.tile_x,
                        (1 << r.tile_z) - 1 - r.tile_y,
                        gzip.compress(bytes(r.mvt), mtime=0) if do_gzip else bytes(r.mvt),
                    )
                    for r in rows
                ),
            )
            con.commit()
        finally:
            con.close()
        os.replace(tmp_part, part)

    tiles.select("tile_z", "tile_x", "tile_y", "mvt").foreachPartition(write_part)

    tmp = path + ".tmp"
    if os.path.exists(tmp):
        os.remove(tmp)
    con = sqlite3.connect(tmp)
    try:
        con.execute(_TILES_DDL)
        con.execute("CREATE TABLE IF NOT EXISTS metadata (name TEXT, value TEXT)")
        meta = {"name": os.path.basename(path), "format": "pbf", "version": "1.1"}
        meta.update(metadata or {})
        con.executemany(
            "INSERT INTO metadata VALUES (?, ?)", [(k, str(v)) for k, v in meta.items()]
        )
        # per-part transactions (DETACH is illegal inside an open tx);
        # crash-atomicity comes from writing to .tmp and os.replace below
        for part in sorted(_glob.glob(os.path.join(part_dir, "part-*.db"))):
            con.execute("ATTACH DATABASE ? AS part", (part,))
            with con:
                con.execute("INSERT INTO tiles SELECT * FROM part.tiles")
            con.execute("DETACH DATABASE part")
        with con:
            con.execute(
                "CREATE UNIQUE INDEX tile_index ON tiles "
                "(zoom_level, tile_column, tile_row)"
            )
        con.close()
        con = None
        os.replace(tmp, path)
    finally:
        if con is not None:
            con.close()
        # clean both finished parts and any .tmp-* orphans a failed attempt
        # left behind (they never reach the merge, which globs part-*.db)
        for part in _glob.glob(os.path.join(part_dir, "part-*")):
            os.remove(part)
        os.rmdir(part_dir)


def read_mbtiles(
    spark: SparkSession, path: str, z: int | None = None, n_splits: int | None = None
) -> DataFrame:
    """Read an MBTiles file back into (tile_z, tile_x, tile_y, mvt).

    Executors scan disjoint rowid ranges concurrently (sqlite b-tree range
    scans); ``z`` pushes a zoom filter into each task's SQL. Gzipped
    tile_data is decompressed per blob (magic-sniffed). Range k is
    partition k of ``spark.range(0, n, 1, n)``, with the bounds in the
    closure, so the scan plans no exchange."""
    import pyarrow as pa

    if not os.path.exists(path):
        return spark.createDataFrame([], "tile_z int, tile_x int, tile_y int, mvt binary")
    con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
    try:
        row = con.execute("SELECT max(rowid) FROM tiles").fetchone()
    finally:
        con.close()
    max_rowid = row[0] or 0
    if max_rowid == 0:
        return spark.createDataFrame([], "tile_z int, tile_x int, tile_y int, mvt binary")
    if n_splits is None:
        n_splits = min(spark.sparkContext.defaultParallelism, max(1, max_rowid // 1024))
    step = (max_rowid + n_splits - 1) // n_splits
    bounds = [(lo, min(lo + step, max_rowid + 1)) for lo in range(1, max_rowid + 1, step)]
    zoom_pred = "" if z is None else f" AND zoom_level = {int(z)}"

    def scan(batches):
        for b in batches:
            con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
            try:
                for lo, hi in (bounds[k] for k in b["id"].to_pylist()):
                    cur = con.execute(
                        "SELECT zoom_level, tile_column, tile_row, tile_data "
                        f"FROM tiles WHERE rowid >= ? AND rowid < ?{zoom_pred}",
                        (lo, hi),
                    )
                    zs, xs, ys, blobs = [], [], [], []
                    for zl, tc, tr, td in cur:
                        zs.append(zl)
                        xs.append(tc)
                        ys.append((1 << zl) - 1 - tr)  # TMS -> XYZ
                        blobs.append(
                            gzip.decompress(td) if td[:2] == _GZ_MAGIC else bytes(td)
                        )
                    yield pa.record_batch(
                        {
                            "tile_z": pa.array(zs, pa.int32()),
                            "tile_x": pa.array(xs, pa.int32()),
                            "tile_y": pa.array(ys, pa.int32()),
                            "mvt": pa.array(blobs, pa.binary()),
                        }
                    )
            finally:
                con.close()

    return spark.range(0, len(bounds), 1, len(bounds)).mapInArrow(
        scan, "tile_z int, tile_x int, tile_y int, mvt binary"
    )


def read_metadata(path: str) -> dict:
    """The MBTiles metadata table as a dict (driver-side, tiny)."""
    con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
    try:
        return dict(con.execute("SELECT name, value FROM metadata"))
    finally:
        con.close()

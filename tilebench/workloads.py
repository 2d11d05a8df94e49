"""The workloads: input loading, one pass of the pipeline through
the public API of ``vectortiles_spark`` (plain and traced), and the
output check against the independent computations in ``oracles``."""

from __future__ import annotations

import hashlib
import os
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
import oracles as O

# image_tiles
N_IMAGES = 200_000
TILE_Z = 12          # zoom of the point tiles
PIP_Z = 7            # zoom of pip_join's coarse tile equi-join
MAX_PER_TILE = 256   # encode_tiles cap; the metro tiles exceed it
LAYER = "images"
# road_pyramid
N_LINES = 1_000
LINE_VERTICES = 64
LINE_STEP_DEG = 0.005
PYRAMID_ZOOMS = (6, 8, 10)
TOLERANCE_PX = 2.0
BUFFER_PX = 8


def materialize(df):
    """Run df now and hand back a frame over its stored result, so a
    traced span covers exactly the call that built df."""
    return df.localCheckpoint(eager=True)


def vertex_count(df):
    """Vertices in the nested geometry column (parts x rings x points)."""
    return df.agg(F.sum(F.size(F.flatten(F.flatten("geom"))))).first()[0] or 0


def file_digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


class Failed(Exception):
    """An output check that did not hold."""


def require(cond: bool, msg: str) -> None:
    if not cond:
        raise Failed(msg)


# ------------------------------------------------------------------ images


class ImageInputs:
    """Seeded images in an IcebergLiteTable plus the polygon frame, and
    the NumPy expectation of the capped, tagged point tiles."""

    def __init__(self, ctx, rep: int):
        from vectortiles_spark.sources.iceberg_lite import IcebergLiteTable

        spark, seed = ctx.spark, ctx.seed
        stage = os.path.join(ctx.work, f"stage-{rep}")
        os.makedirs(stage)
        t0 = time.perf_counter()
        self.images = gen.images(seed, N_IMAGES)
        self.polys = gen.polygons(seed)
        pq.write_table(self.images, f"{stage}/images.parquet", row_group_size=8192)
        pq.write_table(gen.polygons_table(self.polys), f"{stage}/polygons.parquet")
        self.table = IcebergLiteTable(spark, os.path.join(ctx.work, f"images-{rep}"))
        t1 = time.perf_counter()
        self.table.append(spark.read.parquet(f"{stage}/images.parquet"))
        self.append_s = time.perf_counter() - t1
        self.polygons = spark.read.parquet(f"{stage}/polygons.parquet")
        self.setup_s = time.perf_counter() - t0
        self.n_rows = N_IMAGES
        self._expect = None

    def expectation(self):
        """Per image: tile key, pixel, polygon, and what the check may
        not decide (points at float-rounding distance of a pixel edge or
        a polygon edge). Built once, outside every timed region."""
        if self._expect is None:
            t = self.images
            lon = t.column("lon").to_numpy()
            lat = t.column("lat").to_numpy()
            keys = t.column("image_key").to_numpy()
            owner, amb_pip = O.match_polygons(lon, lat, self.polys)
            tx, ty, px, py, amb_pix = O.tile_pixel(lon, lat, TILE_Z)
            matched = owner >= 0
            sure = matched & ~amb_pip & ~amb_pix
            tkey = tx * (1 << 24) + ty
            maybe = (matched | amb_pip) & (amb_pip | amb_pix)
            keep = np.zeros(len(keys), bool)
            keep[sure] = O.cap_smallest(keys[sure], tkey[sure], MAX_PER_TILE)
            self._expect = {
                "row_of": {int(k): i for i, k in enumerate(keys.tolist())},
                "keys": keys, "tkey": tkey, "px": px, "py": py,
                "owner": owner, "sure": sure, "kept": keep, "maybe": maybe,
                "captions": t.column("caption").to_pylist(),
                "poly_ids": [pid for pid, _ in self.polys],
                "n_ambiguous": int(maybe.sum()),
            }
        return self._expect


def image_pipeline(inp: ImageInputs, path: str, spans=None) -> dict | None:
    """scan -> pip_join -> point_features -> capped encode -> PMTiles.
    Traced, it returns the materialized intermediate frames."""
    from vectortiles_spark.operators.spatial_join import pip_join
    from vectortiles_spark.operators.tiling import encode_tiles, point_features
    from vectortiles_spark.sources.pmtiles import write_pmtiles

    def feats_of(joined):
        return point_features(
            joined, z=TILE_Z, layer=LAYER, feature_id=F.col("image_key"),
            meta={"caption": F.col("caption"), "polygon": F.col("polygon_id")},
        )

    def encode(feats):
        return encode_tiles(feats, max_per_tile=MAX_PER_TILE, single_layer=LAYER)

    if spans is None:
        joined = pip_join(inp.table.read(), inp.polygons, z=PIP_Z)
        write_pmtiles(encode(feats_of(joined)), path)
        return None
    with spans.span("sources.scan"):
        imgs = materialize(inp.table.read())
    with spans.span("spatial_join.pip"):
        joined = materialize(pip_join(imgs, inp.polygons, z=PIP_Z))
    with spans.span("functions.tile_assign"):
        feats = materialize(feats_of(joined))
    with spans.span("tiling.encode"):
        tiles = materialize(encode(feats))
    with spans.span("sources.pmtiles_write"):
        write_pmtiles(tiles, path)
    return {"joined": joined, "feats": feats, "tiles": tiles}


def check_point_tiles(inp: ImageInputs, tiles: dict) -> dict:
    """Every tile holds exactly the expected capped feature ids, pixels
    and tags. Points the expectation cannot decide may appear or not;
    the smallest-ids rule is then checked on what did appear."""
    e = inp.expectation()
    row_of, kept, sure, maybe = e["row_of"], e["kept"], e["sure"], e["maybe"]
    seen_tiles = set()
    n_feat = n_bytes = 0
    got_rows = []
    for (z, x, y), blob in tiles.items():
        require(z == TILE_Z, f"tile at zoom {z}")
        layers = O.read_tile(blob)
        require(len(layers) == 1 and layers[0]["name"] == LAYER, f"layers of {z}/{x}/{y}")
        layer = layers[0]
        require(layer["extent"] == O.EXTENT, "extent")
        tk = x * (1 << 24) + y
        seen_tiles.add(tk)
        ids = []
        for f in layer["features"]:
            i = row_of.get(f["id"])
            require(i is not None, f"feature id {f['id']} is no input id")
            require(f["type"] == O.GEOM_POINT, "geometry type")
            parts = O.geometry_parts(O.GEOM_POINT, f["geometry"])
            require(len(parts) == 1, "one point per feature")
            (qx, qy), = parts[0]
            pid = f["tags"].get("polygon")
            require(
                f["tags"] == {"caption": e["captions"][i], "polygon": pid},
                f"tags of {f['id']}",
            )
            if sure[i]:
                require(e["tkey"][i] == tk, f"feature {f['id']} in tile {x}/{y}")
                require(
                    (qx, qy) == (e["px"][i], e["py"][i]), f"pixel of {f['id']}"
                )
                require(pid == e["poly_ids"][e["owner"][i]], f"polygon of {f['id']}")
                require(kept[i], f"feature {f['id']} should have been capped away")
            else:
                require(maybe[i], f"feature {f['id']} matches no polygon")
                require(pid in e["poly_ids"], f"polygon of {f['id']}")
            ids.append(f["id"])
            got_rows.append(i)
        require(len(ids) <= MAX_PER_TILE, f"tile {x}/{y} over the cap")
        require(len(set(ids)) == len(ids), f"duplicate ids in {x}/{y}")
        n_feat += len(ids)
        n_bytes += len(blob)
    # every kept sure feature must be present, unless the tile is full
    # and an undecidable point with a smaller id took its place
    got = np.zeros(len(kept), bool)
    got[got_rows] = True
    missing = np.flatnonzero(kept & ~got)
    for i in missing.tolist():
        tk = int(e["tkey"][i])
        same = np.flatnonzero(got & (e["tkey"] == tk))
        require(
            len(same) == MAX_PER_TILE and (~sure[same]).any(),
            f"feature {int(e['keys'][i])} missing from its tile",
        )
    require(
        set(np.unique(e["tkey"][kept]).tolist()) <= seen_tiles, "a matched tile is missing"
    )
    return {"features": n_feat, "mvt_bytes": n_bytes, "tiles": len(tiles)}


class ImageTiles:
    """The write path, then the archive it wrote served back: read,
    decoded over every feature, and overzoomed one level."""

    name = "image_tiles"

    def __init__(self, ctx):
        self.ctx = ctx
        self.inp = None
        self.frames = None
        self._archives: dict[str, dict] = {}   # verified archive -> its index
        self._children: set[str] = set()       # verified overzoom outputs

    def load(self, rep: int) -> float:
        self.inp = ImageInputs(self.ctx, rep)
        self.ctx.append_s.append(self.inp.append_s)
        return self.inp.setup_s

    def rows(self) -> int:
        return self.inp.n_rows

    def excluded(self) -> int:
        """Points left undecided by the expectation (float-rounding ties)."""
        return self.inp.expectation()["n_ambiguous"]

    def run(self, k: int, spans=None):
        path = os.path.join(self.ctx.work, f"out-{k}.pmtiles")
        self.frames = image_pipeline(self.inp, path, spans)
        dec, kids = serve_pipeline(self.ctx.spark, path, spans)
        return path, dec, kids

    def check(self, out) -> dict:
        path, dec, kids = out
        arch = self._archive(path)
        os.remove(path)
        check_decoded(arch["parents"], arch["stored"], dec)
        key = children_digest(kids)
        if key not in self._children:
            check_children(arch["parents"], kids)
            self._children.add(key)
        return arch["stats"]

    def _archive(self, path: str) -> dict:
        """Check the archive against the expectation and index its
        features; a byte-identical archive is checked once."""
        digest = file_digest(path)
        if digest not in self._archives:
            _hdr, _meta, tiles = O.read_pmtiles(path)
            stats = check_point_tiles(self.inp, tiles)
            stats["sample"] = sample_blobs(tiles.values(), self.ctx.seed)
            parents = {
                key: {
                    f["id"]: (O.geometry_parts(O.GEOM_POINT, f["geometry"])[0][0], f["tags"])
                    for f in O.read_tile(blob)[0]["features"]
                }
                for key, blob in tiles.items()
            }
            self._archives[digest] = {
                "stats": stats, "parents": parents,
                "stored": sum(len(v) for v in parents.values()),
            }
        return self._archives[digest]

    def trace_counts(self, out, pip_nodes) -> dict:
        path, dec, kids = out
        fr = self.frames
        files = self.inp.table.files()
        n_feats = fr["feats"].count()
        kept = fr["tiles"].agg(F.sum("n_features"), F.count(F.lit(1))).first()
        matched = fr["joined"].count()
        # rows out of the coarse tile equi-join = refinement candidates
        cand = sum(
            n["metrics"].get("number of output rows", 0)
            for n in pip_nodes if n["name"].endswith("HashJoin")
        )
        return {
            "sources.files_scanned": len(files),
            "sources.bytes_scanned": sum(os.path.getsize(p) for p in files),
            "sources.archive_bytes": os.path.getsize(path),
            "spatial_join.candidate_pairs": cand,
            "spatial_join.matched_pairs": matched,
            "spatial_join.match_ratio": matched / cand if cand else 0.0,
            "tiling.features_in": n_feats,
            "tiling.features_kept": kept[0],
            "tiling.cap_keep_ratio": kept[0] / n_feats if n_feats else 0.0,
            "tiling.tiles_out": kept[1],
            "tiling.features_decoded": dec.num_rows,
            "overzoom.children_out": kids.num_rows,
        }


def serve_pipeline(spark, path: str, spans=None):
    """read_pmtiles -> decode_tiles over every feature, and the same
    tiles overzoomed one level; both outputs collected."""
    from vectortiles_spark.operators.overzoom import overzoom_tiles
    from vectortiles_spark.operators.tiling import decode_tiles
    from vectortiles_spark.sources.pmtiles import read_pmtiles

    if spans is None:
        tiles = read_pmtiles(spark, path)
        return decode_tiles(tiles).toArrow(), overzoom_tiles(tiles, levels=1).toArrow()
    with spans.span("sources.pmtiles_read"):
        tiles = materialize(read_pmtiles(spark, path))
    with spans.span("tiling.decode"):
        dec = decode_tiles(tiles).toArrow()
    with spans.span("overzoom.overzoom"):
        kids = overzoom_tiles(tiles, levels=1).toArrow()
    return dec, kids


def check_decoded(parents: dict, stored: int, dec) -> None:
    """decode_tiles yields every stored feature once, unchanged."""
    require(dec.num_rows == stored, f"decoded {dec.num_rows} of {stored}")
    cols = [dec.column(c).to_pylist() for c in (
        "tile_z", "tile_x", "tile_y", "layer", "geom_type", "feature_id", "meta",
        "geom_cmds",
    )]
    seen = set()
    for z, x, y, layer, gt, fid, meta, cmds in zip(*cols):
        feats = parents.get((z, x, y))
        require(feats is not None and fid in feats, f"decoded {fid} not stored")
        require((z, x, y, fid) not in seen, f"feature {fid} decoded twice")
        seen.add((z, x, y, fid))
        (px, py), tags = feats[fid]
        require(layer == LAYER and gt == O.GEOM_POINT, "decoded layer/type")
        require(
            cmds == [9, O.zigzag_encode(px), O.zigzag_encode(py)],
            f"decoded geometry of {fid}",
        )
        require({m["key"]: m["s"] for m in meta} == tags, f"decoded tags of {fid}")


def children_digest(kids) -> str:
    kids = kids.sort_by([("tile_x", "ascending"), ("tile_y", "ascending")])
    h = hashlib.sha256()
    for col in ("tile_z", "tile_x", "tile_y", "n_features"):
        h.update(np.asarray(kids.column(col).to_numpy()).tobytes())
    for b in kids.column("mvt").to_pylist():
        h.update(len(b).to_bytes(4, "little") + b)
    return h.hexdigest()


def check_children(parents: dict, kids) -> None:
    """Overzoomed children: each parent point lands once, in the child
    and at the pixel the overzoom arithmetic gives, with its tags; child
    feature counts sum to the parent's."""
    per_parent: dict[tuple, int] = {}
    for z, x, y, blob, nf in zip(
        kids.column("tile_z").to_pylist(), kids.column("tile_x").to_pylist(),
        kids.column("tile_y").to_pylist(), kids.column("mvt").to_pylist(),
        kids.column("n_features").to_pylist(),
    ):
        parent = (z - 1, x >> 1, y >> 1)
        feats = parents.get(parent)
        require(feats is not None, f"child {z}/{x}/{y} has no parent")
        layers = O.read_tile(blob)
        require([l["name"] for l in layers] == [LAYER], f"layers of child {z}/{x}/{y}")
        cf = layers[0]["features"]
        require(len(cf) == nf, f"n_features of child {z}/{x}/{y}")
        for f in cf:
            require(f["id"] in feats, f"child feature {f['id']} not in parent")
            (px, py), tags = feats[f["id"]]
            cx, cy, lx, ly = O.overzoom_point(px, py)
            require((x & 1, y & 1) == (cx, cy), f"feature {f['id']} in wrong child")
            require(
                O.geometry_parts(O.GEOM_POINT, f["geometry"]) == [[(lx, ly)]],
                f"child point of {f['id']}",
            )
            require(f["tags"] == tags, f"child tags of {f['id']}")
        per_parent[parent] = per_parent.get(parent, 0) + len(cf)
    for parent, feats in parents.items():
        require(
            per_parent.get(parent, 0) == len(feats),
            f"children of {parent} hold {per_parent.get(parent, 0)} of {len(feats)}",
        )


# ------------------------------------------------------------------ roads


class RoadPyramid:
    name = "road_pyramid"

    def __init__(self, ctx):
        self.ctx = ctx
        self.frames = None
        self._verified: dict[str, dict] = {}

    def load(self, rep: int) -> float:
        spark = self.ctx.spark
        stage = os.path.join(self.ctx.work, f"stage-{rep}")
        os.makedirs(stage)
        t0 = time.perf_counter()
        self.fids, self.lon, self.lat = gen.polylines(
            self.ctx.seed, N_LINES, LINE_VERTICES, LINE_STEP_DEG
        )
        pq.write_table(
            gen.polylines_table(self.fids, self.lon, self.lat), f"{stage}/lines.parquet"
        )
        self.lines = spark.read.parquet(f"{stage}/lines.parquet")
        self._cover = None
        return time.perf_counter() - t0

    def rows(self) -> int:
        return N_LINES

    def excluded(self) -> int:
        return 0

    def cover(self) -> dict[int, set]:
        """Per zoom, the tiles any line's bbox (plus the buffer) touches."""
        if self._cover is None:
            self._cover = {}
            for z in PYRAMID_ZOOMS:
                s = set()
                for i in range(N_LINES):
                    x0, x1, y0, y1 = O.tile_range(
                        self.lon[i].min(), self.lat[i].min(),
                        self.lon[i].max(), self.lat[i].max(), z, margin_px=BUFFER_PX + 1,
                    )
                    s.update((x, y) for x in range(x0, x1 + 1) for y in range(y0, y1 + 1))
                self._cover[z] = s
        return self._cover

    def run(self, k: int, spans=None):
        from vectortiles_spark.operators.clip import clip_features
        from vectortiles_spark.operators.simplify import simplify_geoms
        from vectortiles_spark.operators.tiling import (
            build_pyramid, encode_tiles, geom_features,
        )

        if spans is None:
            return build_pyramid(
                self.lines, zooms=PYRAMID_ZOOMS, tolerance=TOLERANCE_PX,
                buffer_px=BUFFER_PX,
            ).toArrow()
        # build_pyramid's own steps, one span each
        with spans.span("clip.clip"):
            clipped = materialize(
                clip_features(self.lines, z=list(PYRAMID_ZOOMS), buffer_px=BUFFER_PX)
            )
        with spans.span("simplify.simplify"):
            simp = materialize(simplify_geoms(clipped, TOLERANCE_PX))
        with spans.span("tiling.geom_features"):
            feats = materialize(geom_features(simp))
        with spans.span("tiling.encode"):
            out = encode_tiles(feats).toArrow()
        self.frames = {"clipped": clipped, "simp": simp, "feats": feats}
        return out

    def check(self, out) -> dict:
        from vectortiles_spark.mvt import codec

        out = out.sort_by([("tile_z", "ascending"), ("tile_x", "ascending"),
                           ("tile_y", "ascending")])
        zs = out.column("tile_z").to_pylist()
        xs = out.column("tile_x").to_pylist()
        ys = out.column("tile_y").to_pylist()
        blobs = out.column("mvt").to_pylist()
        nfs = out.column("n_features").to_pylist()
        h = hashlib.sha256()
        for z, x, y, b in zip(zs, xs, ys, blobs):
            h.update(f"{z}/{x}/{y}/{len(b)}:".encode())
            h.update(b)
        digest = h.hexdigest()
        if digest in self._verified:
            return self._verified[digest]
        ids = set(self.fids.tolist())
        cover = self.cover()
        lo, hi = -BUFFER_PX, O.EXTENT + BUFFER_PX
        n_feat = n_bytes = 0
        require(len(set(zip(zs, xs, ys))) == len(zs), "duplicate tile keys")
        for z, x, y, blob, nf in zip(zs, xs, ys, blobs, nfs):
            require(z in cover, f"unexpected zoom {z}")
            require((x, y) in cover[z], f"tile {z}/{x}/{y} outside the bbox cover")
            layers = O.read_tile(blob)
            require([l["name"] for l in layers] == ["roads"], f"layers of {z}/{x}/{y}")
            feats = layers[0]["features"]
            require(len(feats) == nf, f"n_features of {z}/{x}/{y}")
            for f in feats:
                require(f["id"] in ids, f"feature id {f['id']} is no input id")
                require(f["type"] == O.GEOM_LINESTRING, "geometry type")
                for part in O.geometry_parts(O.GEOM_LINESTRING, f["geometry"]):
                    require(len(part) >= 2, "line part with < 2 vertices")
                    for vx, vy in part:
                        require(
                            lo <= vx <= hi and lo <= vy <= hi,
                            f"vertex {vx},{vy} outside extent+buffer in {z}/{x}/{y}",
                        )
            require(
                codec.encode_tile(list(codec.decode_tile(blob).values())) == blob,
                f"tile {z}/{x}/{y} does not re-encode byte-identically",
            )
            n_feat += len(feats)
            n_bytes += len(blob)
        require(sorted(set(zs)) == sorted(PYRAMID_ZOOMS), "zooms present")
        res = {"features": n_feat, "mvt_bytes": n_bytes, "tiles": len(zs),
               "sample": sample_blobs(blobs, self.ctx.seed)}
        self._verified[digest] = res
        return res

    def trace_counts(self, out, pip_nodes) -> dict:
        fr = self.frames
        n_in = fr["feats"].count()
        kept = sum(out.column("n_features").to_pylist())
        return {
            "clip.pieces_out": fr["clipped"].count(),
            "simplify.vertices_in": vertex_count(fr["clipped"]),
            "simplify.vertices_out": vertex_count(fr["simp"]),
            "tiling.features_in": n_in,
            "tiling.features_kept": kept,
            "tiling.cap_keep_ratio": kept / n_in if n_in else 0.0,
            "tiling.tiles_out": out.num_rows,
        }


def sample_blobs(blobs, seed: int, k: int = 48) -> list[bytes]:
    """A seeded sample of the run's own tiles, for the codec layer."""
    blobs = list(blobs)
    rng = np.random.default_rng([seed, 99])
    pick = rng.choice(len(blobs), min(k, len(blobs)), replace=False)
    return [blobs[i] for i in sorted(pick.tolist())]


WORKLOADS = {w.name: w for w in (ImageTiles, RoadPyramid)}

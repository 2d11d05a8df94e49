"""End-to-end slice (SURVEY.md §7.3): synthetic image table -> tile
assignment -> groupBy(z,x,y).applyInPandas MVT encode -> decode-verify
against an independent single-process NumPy reference path."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from vectortiles_spark.functions.tiles import tile_pixel_np, tile_xy_np
from vectortiles_spark.mvt import codec
from vectortiles_spark.operators import tiling
from vectortiles_spark.plans import audit
from vectortiles_spark.sources.synth import images_df, images_pdf

Z = 8
N = 1200


@pytest.fixture(scope="module")
def tiles_and_truth(spark):
    imgs = images_df(spark, N, seed=42)
    feats = tiling.point_features(
        imgs, z=Z, layer="images",
        feature_id=F.xxhash64("image_id"),
        meta={"caption": F.col("caption"), "phash": F.col("phash")},
    )
    rows = tiling.encode_tiles(feats).collect()
    truth = images_pdf(N, seed=42)  # independent local generation
    return rows, truth


def test_feature_count_preserved(tiles_and_truth):
    rows, truth = tiles_and_truth
    assert sum(r.n_features for r in rows) == len(truth)


def test_every_tile_decodes_to_reference_features(tiles_and_truth):
    """The emitted MVT of EVERY tile decodes (with our reference-validated
    codec) to exactly the (px, py, caption, phash) set the independent
    NumPy path computes."""
    rows, truth = tiles_and_truth
    tx, ty = tile_xy_np(truth.lon.values, truth.lat.values, Z)
    px, py = tile_pixel_np(truth.lon.values, truth.lat.values, Z)
    by_tile = {}
    for i in range(len(truth)):
        by_tile.setdefault((tx[i], ty[i]), []).append(
            (px[i], py[i], truth.caption.iloc[i], int(truth.phash.iloc[i]))
        )
    assert len(rows) == len(by_tile)
    for r in rows:
        layers = codec.decode_tile(bytes(r.mvt))
        feats = layers["images"].features
        got = sorted(
            (int(f.geom[0][0]), int(f.geom[0][1]), f.metadata["caption"][1], f.metadata["phash"][1])
            for f in feats
        )
        want = sorted(by_tile[(r.tile_x, r.tile_y)])
        assert got == want


def test_tiles_have_version2_extent4096(tiles_and_truth):
    rows, _ = tiles_and_truth
    layer = codec.decode_tile(bytes(rows[0].mvt))["images"]
    assert layer.version == 2
    assert layer.extent == 4096


def test_deterministic_bytes_across_runs(spark, tiles_and_truth):
    rows, _ = tiles_and_truth
    imgs = images_df(spark, N, seed=42)
    feats = tiling.point_features(
        imgs, z=Z, layer="images",
        feature_id=F.xxhash64("image_id"),
        meta={"caption": F.col("caption"), "phash": F.col("phash")},
    )
    rows2 = tiling.encode_tiles(feats).collect()
    assert {(r.tile_x, r.tile_y): bytes(r.mvt) for r in rows} == {
        (r.tile_x, r.tile_y): bytes(r.mvt) for r in rows2
    }


def test_cap_features_per_tile(spark):
    imgs = images_df(spark, N, seed=42)
    feats = tiling.point_features(imgs, z=2, layer="images", feature_id=F.xxhash64("image_id"))
    capped = tiling.encode_tiles(feats, max_per_tile=50).collect()
    assert max(r.n_features for r in capped) <= 50
    # determinism of the cap: same bytes on re-run
    capped2 = tiling.encode_tiles(
        tiling.point_features(imgs, z=2, layer="images", feature_id=F.xxhash64("image_id")),
        max_per_tile=50,
    ).collect()
    assert {(r.tile_x, r.tile_y): bytes(r.mvt) for r in capped} == {
        (r.tile_x, r.tile_y): bytes(r.mvt) for r in capped2
    }


def test_tile_stats_matches_plain_count(spark):
    imgs = images_df(spark, N, seed=42)
    # three layers: the metro tiles carry all of them
    feats = (
        tiling.point_features(imgs, z=Z, feature_id=F.xxhash64("image_id"))
        .withColumn("layer", F.concat(F.lit("l"), F.pmod("feature_id", F.lit(3))))
        .cache()
    )
    stats = {
        (r.tile_x, r.tile_y): (r.n_features, r.n_layers)
        for r in tiling.tile_stats(feats).collect()
    }
    plain = {
        (r.tile_x, r.tile_y): (r.n, r.n_layers)
        for r in feats.groupBy("tile_x", "tile_y").agg(
            F.count("*").alias("n"), F.countDistinct("layer").alias("n_layers")
        ).collect()
    }
    assert stats == plain
    assert max(n for _, n in stats.values()) == 3
    feats.unpersist()


def test_multi_layer_tile(spark):
    """Two layers in one tile; layer order in bytes is name-sorted."""
    imgs = images_df(spark, 200, seed=1)
    a = tiling.point_features(imgs, z=0, layer="beta", feature_id=F.xxhash64("image_id"))
    b = tiling.point_features(imgs, z=0, layer="alpha", feature_id=F.xxhash64("image_id"))
    rows = tiling.encode_tiles(a.unionAll(b)).collect()
    assert len(rows) == 1
    layers = codec.decode_tile(bytes(rows[0].mvt))
    assert list(layers) == ["alpha", "beta"]
    assert rows[0].n_layers == 2


def test_geom_features_lines_and_holed_polygons(spark):
    """Arbitrary geometries through the full pipeline: multi-linestring with
    cursor carry + holed polygon, MVT-encoded and decoded back exactly."""
    import pandas as pd

    line_parts = [[[[10, 10], [20, 20], [20, 30]]], [[[40, 40], [50, 40]]]]
    poly = [[
        [[0, 0], [100, 0], [100, 100], [0, 100], [0, 0]],          # exterior (CW on screen)
        [[20, 20], [20, 40], [40, 40], [40, 20], [20, 20]],         # hole (reversed)
    ]]
    pdf = pd.DataFrame({
        "tile_z": [3, 3], "tile_x": [1, 1], "tile_y": [2, 2],
        "layer": ["mixed", "mixed"], "geom_type": [2, 3],
        "feature_id": [1, 2], "geom": [line_parts, poly],
        "kind": ["line", "poly"],
    })
    df = spark.createDataFrame(pdf)
    feats = tiling.geom_features(df, meta={"kind": F.col("kind")})
    tiles = tiling.encode_tiles(feats).collect()
    assert len(tiles) == 1
    layer = codec.decode_tile(bytes(tiles[0].mvt))["mixed"]
    by_type = {f.geom_type: f for f in layer.features}
    # linestring: both parts, exact points (cursor carried across parts)
    parts = by_type[2].geom
    assert [p.tolist() for p in parts] == [
        [[10, 10], [20, 20], [20, 30]], [[40, 40], [50, 40]]
    ]
    # polygon: exterior positive, hole negative, both closed
    polys = by_type[3].geom
    from vectortiles_spark.mvt.geometry import surveyor
    assert len(polys[0]) == 2
    assert surveyor(polys[0][0]) > 0 > surveyor(polys[0][1])
    assert by_type[3].metadata["kind"] == (1, "poly")


def test_single_layer_mode_identical_bytes(spark):
    """encode_tiles(single_layer=...) drops the constant layer column from
    the feed and must produce byte-identical tiles."""
    imgs = images_df(spark, 400, seed=13)
    feats = tiling.point_features(
        imgs, z=7, layer="images", feature_id=F.xxhash64("image_id"),
        meta={"caption": F.col("caption"), "phash": F.col("phash")},
    )
    normal = {(r.tile_x, r.tile_y): bytes(r.mvt) for r in tiling.encode_tiles(feats).collect()}
    fast = {
        (r.tile_x, r.tile_y): bytes(r.mvt)
        for r in tiling.encode_tiles(feats, single_layer="images").collect()
    }
    assert normal == fast


def test_bytes_invariant_to_partitioning(spark):
    """Tile bytes must not depend on Arrow batch boundaries: the same
    features encoded under different partition counts (different batch
    compositions, different batch-level dictionaries) yield byte-identical
    tiles. Pins the dictionary fast path's proven-coverage guard — an
    unconditional batch-dictionary emit would differ between layouts."""
    imgs = images_df(spark, N, seed=42)

    def tiles(parts):
        feats = tiling.point_features(
            imgs, z=Z, layer="images",
            feature_id=F.xxhash64("image_id"),
            meta={"caption": F.col("caption"), "phash": F.col("phash")},
        )
        return {
            (r.tile_x, r.tile_y): bytes(r.mvt)
            for r in tiling.encode_tiles(feats, partitions=parts).collect()
        }

    assert tiles(2) == tiles(7)

    # build_pyramid: the same lines pre-split into 1, 3 and 8 partitions
    # (checkpointed, so clip_features' round-robin widening of the narrower
    # two cannot collapse into the split: each layout reaches the fused
    # clip/simplify/geom kernel in different batches)
    lines = _walk_lines(spark, 150, seed=7)

    def pyramid(parts):
        split = lines.repartition(parts).localCheckpoint()
        out = tiling.build_pyramid(split, zooms=[3, 4, 5], tolerance=1.0)
        return {(r.tile_z, r.tile_x, r.tile_y): bytes(r.mvt) for r in out.collect()}

    one = pyramid(1)
    assert len(one) > 20
    assert one == pyramid(3) == pyramid(8)


def _walk_lines(spark, n, seed, vertices=25):
    """``n`` seeded random-walk polylines, ~0.4 deg steps around Europe:
    long enough to cross several tiles at z3-z5."""
    rng = np.random.Generator(np.random.PCG64(seed))
    start = rng.uniform([-5.0, 40.0], [20.0, 55.0], size=(n, 1, 2))
    walk = start + np.cumsum(rng.normal(0.0, 0.4, size=(n, vertices, 2)), axis=1)
    rows = [("roads", 2, i, [[walk[i].tolist()]]) for i in range(n)]
    return spark.createDataFrame(
        rows,
        "layer string, geom_type int, feature_id long, "
        "geom array<array<array<array<double>>>>",
    )


def test_pyramid_one_file_input_runs_wide(spark, tmp_path):
    """A one-file input scans as ONE split; clip_features widens it
    round-robin, so the fused clip/simplify/geom stage runs
    python_partitions tasks under a single MapInArrow."""
    from vectortiles_spark.operators._parallel import python_partitions
    from vectortiles_spark.operators.clip import clip_features
    from vectortiles_spark.operators.simplify import simplify_geoms
    from vectortiles_spark.plans import audit

    _walk_lines(spark, 40, seed=3).coalesce(1).write.parquet(str(tmp_path / "lines"))
    lines = spark.read.parquet(str(tmp_path / "lines"))
    assert lines.rdd.getNumPartitions() == 1
    par = python_partitions(spark.sparkContext)
    assert par > 1
    feats = tiling.geom_features(
        simplify_geoms(clip_features(lines, z=[3, 4]), tolerance=1.0)
    )
    plan = audit.plan_of(feats)
    assert plan.count("MapInArrow") == 1
    assert plan.count(f"Exchange RoundRobinPartitioning({par})") == 1
    assert plan.index("MapInArrow") < plan.index("Exchange RoundRobinPartitioning")
    _, jobs = audit.jobs_run_by(
        spark, lambda: feats.write.format("noop").mode("overwrite").save()
    )
    st = spark.sparkContext.statusTracker()
    tasks = [st.getStageInfo(s).numTasks for j in jobs for s in st.getJobInfo(j).stageIds]
    assert max(tasks) == par, tasks


def test_pyramid_wide_input_gains_no_exchange(spark, tmp_path):
    """An input already as wide as the cluster (the battery widens its
    scans first, as q_vector_pyramid does) reaches clip_features' kernel
    with no exchange added: the one round-robin exchange is the caller's."""
    from vectortiles_spark.operators._parallel import widen
    from vectortiles_spark.plans import audit

    _walk_lines(spark, 40, seed=3).coalesce(1).write.parquet(str(tmp_path / "lines"))
    wide = widen(spark.read.parquet(str(tmp_path / "lines")))
    assert audit.count_shuffles(wide) == 1
    tiles = tiling.build_pyramid(wide, zooms=[3, 4], tolerance=1.0)
    assert audit.plan_of(tiles).count("Exchange RoundRobinPartitioning") == 1


def test_tile_pyramid_rollup(spark):
    """Every ancestor level of the pyramid conserves the leaf totals, and
    each parent equals the sum of its (<=4) children."""
    import pandas as pd

    from vectortiles_spark.operators.tiling import tile_pyramid

    rng = np.random.Generator(np.random.PCG64(3))
    n = 400
    leaf_pdf = pd.DataFrame({
        "tile_z": 6,
        "tile_x": rng.integers(0, 64, n),
        "tile_y": rng.integers(0, 64, n),
        "n_features": rng.integers(1, 50, n),
    }).groupby(["tile_z", "tile_x", "tile_y"], as_index=False).sum()
    leaf = spark.createDataFrame(leaf_pdf)
    out = tile_pyramid(leaf, leaf_z=6, min_z=0).toPandas()
    total = leaf_pdf.n_features.sum()
    for z in range(0, 7):
        lvl = out[out.tile_z == z]
        assert lvl.n_features.sum() == total, z
        assert not lvl.duplicated(["tile_x", "tile_y"]).any()
    # parent == sum of children, spot-checked exhaustively at z=5
    kids = out[out.tile_z == 6].copy()
    kids["px"], kids["py"] = kids.tile_x // 2, kids.tile_y // 2
    want = kids.groupby(["px", "py"]).n_features.sum()
    lvl5 = out[out.tile_z == 5].set_index(["tile_x", "tile_y"]).n_features
    assert lvl5.sort_index().equals(want.sort_index().rename_axis(["tile_x", "tile_y"]))
    with pytest.raises(ValueError):
        tile_pyramid(leaf, leaf_z=6, min_z=7)


def test_salted_cap_identical_to_single_phase(spark):
    """The cap keeps exactly each tile's first 1,000 feature_ids on a
    skewed frame: one metro tile with 90% of 200K rows plus a long tail
    of cold tiles, checked against a pandas first-N."""
    n_hot = 200_000
    df = spark.range(n_hot).select(
        F.lit(5).alias("tile_z"),
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(
            (F.col("id") % 31).cast("int")
        ).alias("tile_x"),
        F.lit(3).alias("tile_y"),
        F.lit("layer0").alias("layer"),
        F.col("id").alias("feature_id"),
    )
    pdf = df.toPandas().sort_values("feature_id")
    want = pdf.groupby("tile_x").head(1000)
    got = {(r.tile_x, r.feature_id) for r in tiling.cap_features_per_tile(df, 1000).collect()}
    assert got == set(zip(want.tile_x, want.feature_id))
    assert len(got) > 1000


def test_build_pyramid_all_zooms_roundtrip(spark):
    """The multi-zoom overview builder: every requested zoom present, the
    deepest zoom carries the most tiles, and each blob roundtrip-decodes;
    per-zoom tolerance overrides apply."""
    from vectortiles_spark.mvt import codec as mvt_codec

    k = F.col("id") + 1
    lon = lambda px: px.cast("double") * 360.0 / 65536.0 - 180.0
    lat = lambda py: F.lit(85.0) - py.cast("double") * 170.0 / 65536.0
    gx = 4096 * (k % 16) + 1024 + 8 * ((k * 37) % 64)
    gy = 4096 * ((k / 16).cast("long") % 16) + 1024 + 8 * ((k * 53) % 64)
    pt = lambda px, py: F.array(lon(px), lat(py))
    line = F.array(pt(gx, gy), pt(gx + 32, gy), pt(gx + 32, gy + 32))
    df = spark.range(300).select(
        F.lit("l").alias("layer"), F.lit(2).cast("int").alias("geom_type"),
        k.alias("feature_id"), F.array(F.array(line)).alias("geom"),
    )
    tiles = tiling.build_pyramid(
        df, zooms=[2, 3, 4], tolerance=1.0,
        tolerance_by_zoom={2: 64.0}, projection="equirect",
    ).collect()
    by_z = {}
    for r in tiles:
        by_z.setdefault(r.tile_z, []).append(r)
    assert set(by_z) == {2, 3, 4}
    assert len(by_z[4]) >= len(by_z[3]) >= len(by_z[2])
    total = {z: 0 for z in by_z}
    corner_kept = {z: 0 for z in by_z}
    for r in tiles:
        t = mvt_codec.decode_tile(bytes(r.mvt))
        for layer in t.values():
            for f in layer.features:
                total[r.tile_z] += 1
                if max(len(p) for p in f.geom) == 3:
                    corner_kept[r.tile_z] += 1
    assert total == {2: 300, 3: 300, 4: 300}
    # d=32 at z=4 -> deviation 22.6 px: kept at z=3/4 under tol=1, and the
    # z=2 override (tol=64) provably drops every corner
    assert corner_kept[4] == 300 and corner_kept[3] == 300
    assert corner_kept[2] == 0


def test_encode_rejects_null_core_columns(spark):
    """NULLs in tile keys/layer would corrupt bytes silently (NaN->int64
    garbage, factorize -1 indexing the last layer) — must raise naming
    the column."""
    import pytest as _pytest

    feats = spark.createDataFrame(
        [(5, 1, 1, None, 1, 1, 9 << 26 | (2 << 13) | 2)],
        "tile_z int, tile_x int, tile_y int, layer string, geom_type int, "
        "feature_id bigint, geom_pt bigint",
    )
    with _pytest.raises(Exception, match="layer.*NULL|NULL.*layer"):
        tiling.encode_tiles(feats).collect()


def test_degenerate_exterior_drops_whole_part(spark):
    """A polygon part whose exterior collapses must NOT survive as its
    holes (a promoted CCW hole would attach to the previous polygon on
    decode)."""
    sq = [[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]]
    hole = [[2, 2], [2, 4], [4, 4], [4, 2], [2, 2]]
    bad_ext = [[20, 20], [21, 20], [20, 20]]  # < 4 points after filter
    rows = spark.createDataFrame(
        [(4, 1, 1, "p", 3, 7, [[sq], [bad_ext, hole]])],
        "tile_z int, tile_x int, tile_y int, layer string, geom_type int, "
        "feature_id bigint, geom array<array<array<array<int>>>>",
    )
    tiles = tiling.encode_tiles(tiling.geom_features(rows)).collect()
    assert len(tiles) == 1
    t = codec.decode_tile(bytes(tiles[0].mvt))
    (feat,) = t["p"].features
    # one polygon (the square), NO holes — the orphaned hole is gone
    assert len(feat.geom) == 1 and len(feat.geom[0]) == 1


def test_decode_tiles_extent_mismatch_raises(spark):
    """Tiles with a non-default extent must not silently decode into
    mis-scaled coordinates: decode_tiles needs the matching extent."""
    import pytest as _pytest

    pts = spark.createDataFrame([(10.0, 10.0, 1)], "lon double, lat double, k long")
    feats = tiling.point_features(pts, z=3, layer="l", feature_id=F.col("k"), extent=512)
    tiles = tiling.encode_tiles(feats, extent=512)
    with _pytest.raises(Exception, match="extent"):
        tiling.decode_tiles(tiles).collect()
    ok = tiling.decode_tiles(tiles, extent=512).collect()
    assert len(ok) == 1


def test_salted_cap_pathological_skew_10m_one_tile(spark):
    """VERDICT r4 #7: the cap at the scale it exists for — 10M rows ALL
    on one (tile, layer), in 32 map tasks. Proves (a) exact first-N
    output and (b) the hot-tile bound, measured: the exchange over the
    raw rows writes at most (map tasks x cap) rows, because each map task
    applies its partial limit first. Without it, all 10M rows would reach
    the one task that owns the tile."""
    N, cap, tasks = 10_000_000, 1000, 32
    feats = (
        spark.range(N)
        .select(
            F.lit(4).alias("tile_z"), F.lit(7).alias("tile_x"),
            F.lit(5).alias("tile_y"), F.lit("hot").alias("layer"),
            F.col("id").alias("feature_id"),
        )
        .repartition(tasks)
        .cache()
    )
    feats.count()  # materialize the 32 input partitions
    try:
        capped = tiling.cap_features_per_tile(feats, cap)
        # (a) exact output (first N feature_ids)
        got = sorted(r.feature_id for r in capped.collect())
        assert got == list(range(cap))
        # (b) shuffle records written by the first exchange
        written = audit.first_shuffle_records(capped)
        assert cap <= written <= tasks * cap, written
    finally:
        feats.unpersist()


# ------------------------------------------------------------ refresh_tiles


def test_refresh_tiles_equals_full_rebuild(spark):
    """Upsert + delete + move delta: refreshing only the dirty tiles is
    byte-identical to a full rebuild of the current state."""
    old = images_df(spark, 800, seed=5)
    # current state: drop ids ending in 0 (deletes), shift ids ending in 1
    # east by 40 degrees (moves — dirty BOTH old and new tile), add 50 new
    now = (
        images_df(spark, 850, seed=5)
        .filter(F.pmod(F.xxhash64("image_id"), F.lit(10)) != 0)
        .withColumn(
            "lon",
            F.when(
                F.pmod(F.xxhash64("image_id"), F.lit(10)) == 1,
                F.pmod(F.col("lon") + 40.0 + 180.0, F.lit(360.0)) - 180.0,
            ).otherwise(F.col("lon")),
        )
    )

    def feats(df):
        return tiling.point_features(
            df, z=Z, layer="images",
            feature_id=F.xxhash64("image_id"),
            meta={"caption": F.col("caption")},
        )

    prev = tiling.encode_tiles(feats(old)).cache()
    full = tiling.encode_tiles(feats(now))
    # dirty = every tile either state assigns a changed row to: compute the
    # symmetric difference of (feature_id -> tile key) assignments
    a = feats(old).select("tile_z", "tile_x", "tile_y", "feature_id")
    b = feats(now).select("tile_z", "tile_x", "tile_y", "feature_id")
    changed = a.exceptAll(b).unionByName(b.exceptAll(a))
    dirty = tiling.dirty_tile_keys(changed)
    out = tiling.refresh_tiles(feats(now), prev, dirty)

    want = {(r.tile_x, r.tile_y): (bytes(r.mvt), r.n_features) for r in full.collect()}
    got = {(r.tile_x, r.tile_y): (bytes(r.mvt), r.n_features) for r in out.collect()}
    assert got == want
    prev.unpersist()


def test_refresh_tiles_empty_delta_keeps_everything(spark):
    imgs = images_df(spark, 300, seed=9)
    feats = tiling.point_features(
        imgs, z=Z, layer="images", feature_id=F.xxhash64("image_id")
    )
    prev = tiling.encode_tiles(feats).cache()
    empty = prev.select("tile_z", "tile_x", "tile_y").filter(F.lit(False))
    out = tiling.refresh_tiles(feats, prev, empty)
    want = {(r.tile_x, r.tile_y): bytes(r.mvt) for r in prev.collect()}
    got = {(r.tile_x, r.tile_y): bytes(r.mvt) for r in out.collect()}
    assert got == want
    prev.unpersist()


def test_refresh_tiles_plan_broadcasts_dirty_both_sides(spark):
    """The scale contract: dirty keys broadcast, prev pruned via
    BroadcastHashJoin LeftAnti, features pruned via LeftSemi — the big
    relations never shuffle for the pruning joins."""
    imgs = images_df(spark, 200, seed=3)
    feats = tiling.point_features(
        imgs, z=Z, layer="images", feature_id=F.xxhash64("image_id")
    )
    prev = tiling.encode_tiles(feats)
    dirty = feats.limit(20).select("tile_z", "tile_x", "tile_y")
    plan = tiling.refresh_tiles(feats, prev, dirty)._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti, BuildRight" in plan or ("BroadcastHashJoin" in plan and "LeftAnti" in plan)
    assert "LeftSemi" in plan
    assert plan.count("BroadcastExchange") >= 2


# ---------------------------------------------------------- merge_tile_sets


def test_merge_tile_sets_disjoint_layers_byte_exact(spark):
    """Two thematic tile sets with disjoint layer names: the wire-level
    splice equals one combined encode, byte for byte."""
    imgs = images_df(spark, 500, seed=21)
    a = imgs.filter(F.pmod(F.xxhash64("image_id"), F.lit(2)) == 0)
    b = imgs.filter(F.pmod(F.xxhash64("image_id"), F.lit(2)) == 1)

    def feats(df, layer):
        return tiling.point_features(
            df, z=Z, layer=layer, feature_id=F.xxhash64("image_id"),
            meta={"caption": F.col("caption")},
        )

    ta = tiling.encode_tiles(feats(a, "evens"))
    tb = tiling.encode_tiles(feats(b, "odds"))
    merged = tiling.merge_tile_sets(ta, tb)
    full = tiling.encode_tiles(feats(a, "evens").unionByName(feats(b, "odds")))
    want = {(r.tile_x, r.tile_y): (bytes(r.mvt), r.n_features, r.n_layers)
            for r in full.collect()}
    got = {(r.tile_x, r.tile_y): (bytes(r.mvt), r.n_features, r.n_layers)
           for r in merged.collect()}
    assert got == want


def test_merge_tile_sets_colliding_layer_byte_exact(spark):
    """Same layer name in both inputs with distinct feature ids: the
    decode+union+re-encode slow path still reproduces the combined
    encode exactly."""
    imgs = images_df(spark, 400, seed=22)
    a = imgs.filter(F.pmod(F.xxhash64("image_id"), F.lit(2)) == 0)
    b = imgs.filter(F.pmod(F.xxhash64("image_id"), F.lit(2)) == 1)

    def feats(df):
        return tiling.point_features(
            df, z=Z, layer="images", feature_id=F.xxhash64("image_id")
        )

    merged = tiling.merge_tile_sets(
        tiling.encode_tiles(feats(a)), tiling.encode_tiles(feats(b))
    )
    full = tiling.encode_tiles(feats(imgs))
    want = {(r.tile_x, r.tile_y): bytes(r.mvt) for r in full.collect()}
    got = {(r.tile_x, r.tile_y): bytes(r.mvt) for r in merged.collect()}
    assert got == want


def test_merge_tile_sets_partitioning_independent(spark):
    imgs = images_df(spark, 300, seed=23)
    f1 = tiling.point_features(
        imgs, z=Z, layer="l1", feature_id=F.xxhash64("image_id"))
    f2 = tiling.point_features(
        imgs, z=Z, layer="l2", feature_id=F.xxhash64("image_id"))
    t1, t2 = tiling.encode_tiles(f1), tiling.encode_tiles(f2)
    a = {(r.tile_x, r.tile_y): bytes(r.mvt)
         for r in tiling.merge_tile_sets(t1, t2, partitions=1).collect()}
    b = {(r.tile_x, r.tile_y): bytes(r.mvt)
         for r in tiling.merge_tile_sets(t1.repartition(7), t2.repartition(3),
                                         partitions=13).collect()}
    assert a == b


# ------------------------------------------------------------ diff_tile_sets


def _pt_tiles(spark, df):
    return tiling.encode_tiles(
        tiling.point_features(
            df, z=Z, layer="images", feature_id=F.xxhash64("image_id"),
            meta={"caption": F.col("caption")},
        )
    )


def test_diff_tile_sets_statuses(spark):
    """added/removed/changed/unchanged all classified correctly against a
    brute-force per-tile membership comparison."""
    imgs = images_df(spark, 600, seed=31).cache()
    old_rows = imgs.filter(F.pmod(F.xxhash64("image_id"), F.lit(5)) != 0)
    new_rows = imgs.filter(F.pmod(F.xxhash64("image_id"), F.lit(3)) != 0)
    diff = tiling.diff_tile_sets(
        _pt_tiles(spark, old_rows), _pt_tiles(spark, new_rows),
        include_unchanged=True,
    ).collect()

    def members(df):
        out = {}
        feats = tiling.point_features(
            df, z=Z, layer="images", feature_id=F.xxhash64("image_id"))
        for r in feats.select("tile_x", "tile_y", "feature_id").collect():
            out.setdefault((r.tile_x, r.tile_y), set()).add(r.feature_id)
        return out

    mo, mn = members(old_rows), members(new_rows)
    assert {r.status for r in diff} == {"added", "removed", "changed", "unchanged"}
    for r in diff:
        k = (r.tile_x, r.tile_y)
        o, nn = mo.get(k), mn.get(k)
        want = ("added" if o is None else "removed" if nn is None
                else "unchanged" if o == nn else "changed")
        assert r.status == want, (k, r.status, want)
        assert (r.n_features_old or 0) == len(o or ()) and (r.n_features_new or 0) == len(nn or ())
    assert {(r.tile_x, r.tile_y) for r in diff} == set(mo) | set(mn)


def test_diff_tile_sets_identical_all_unchanged(spark):
    imgs = images_df(spark, 300, seed=32)
    t = _pt_tiles(spark, imgs)
    d = tiling.diff_tile_sets(t, _pt_tiles(spark, imgs))
    assert d.count() == 0  # default filters unchanged; encode is deterministic


def test_diff_tile_sets_null_blob_reads_changed(spark):
    """A NULL mvt on one side of a shared key is 'changed', never 'added':
    presence comes from an explicit marker, not from xxhash64(mvt) (which
    is NULL on NULL input and used to misclassify the row)."""
    schema = "tile_z int, tile_x int, tile_y int, mvt binary, n_features bigint, n_layers int"
    a = spark.createDataFrame([(0, 1, 1, bytearray(b"\x1a\x00"), 1, 1)], schema)
    b = spark.createDataFrame([(0, 1, 1, None, 0, 0)], schema)
    rows = tiling.diff_tile_sets(a, b, include_unchanged=True).collect()
    assert [(r.status, r.mvt_bytes_new) for r in rows] == [("changed", None)]
    both_null = tiling.diff_tile_sets(b, b, include_unchanged=True).collect()
    assert [r.status for r in both_null] == ["unchanged"]


def test_diff_tile_sets_plan_slims_before_join(spark):
    """The full-outer exchange must move (key, counts, length, hash) — the
    mvt binary itself must be projected away BEFORE the join on both
    sides."""
    imgs = images_df(spark, 200, seed=33)
    a = _pt_tiles(spark, imgs.limit(150))
    b = _pt_tiles(spark, imgs.limit(180))
    plan = tiling.diff_tile_sets(a, b)._jdf.queryExecution().executedPlan().toString()
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(tile_z[^\n]*", plan):
        assert "mvt#" not in m.group(0)
    # the join itself never sees the blob column
    join_lines = [l for l in plan.splitlines() if "SortMergeJoin" in l or "ShuffledHashJoin" in l]
    assert join_lines and all("mvt#" not in l for l in join_lines)


def test_cap_tile_bytes_matches_pandas_prefix(spark):
    """The byte cap equals the pandas running-sum prefix rule, on random
    data and on the tight cases of its rank pre-filter
    (``row_number() <= max_bytes // 2``): 2-byte features keep exactly
    max_bytes // 2 per tile, 5-byte packed points max_bytes // 5."""
    import numpy as np
    import pandas as pd

    from vectortiles_spark.operators.tiling import cap_tile_bytes

    def vlen(v):
        return 1 if v < 128 else (2 if v < 1 << 14 else (3 if v < 1 << 21 else 4))

    def cost(row):
        if "geom_pt" in row:
            cmds = [9, row["geom_pt"] >> 13, row["geom_pt"] & ((1 << 13) - 1)]
        else:
            cmds = row["geom_cmds"] if row["geom_cmds"] is not None else []
        p = sum(vlen(v) for v in cmds)
        return p + vlen(p) + 1

    def check(pdf, budget, schema=None):
        pdf = pdf.sort_values("feature_id")
        run = pdf.apply(cost, axis=1).groupby([pdf.tile_x, pdf.tile_y]).cumsum()
        exp = set(pdf[run <= budget]["feature_id"])
        df = spark.createDataFrame(pdf, schema)
        got = {r["feature_id"] for r in cap_tile_bytes(df, budget).collect()}
        assert got == exp, budget
        return pdf[pdf.feature_id.isin(got)].groupby(["tile_x", "tile_y"]).size()

    rng = np.random.RandomState(17)
    n = 400
    check(pd.DataFrame({
        "tile_z": 3,
        "tile_x": rng.randint(0, 3, n),
        "tile_y": rng.randint(0, 2, n),
        "layer": "l",
        "feature_id": np.arange(n),
        "geom_cmds": [
            [9, int(a), int(b)]
            for a, b in zip(rng.randint(0, 8192, n), rng.randint(0, 200000, n))
        ],
    }), 60)

    # 2 bytes each: an empty stream, and a NULL one (costed as empty)
    empty = pd.DataFrame({
        "tile_z": 3, "tile_x": np.arange(200) % 2, "tile_y": 0, "layer": "l",
        "feature_id": np.arange(200),
        "geom_cmds": [None if i % 7 == 0 else [] for i in range(200)],
    })
    schema = (
        "tile_z int, tile_x int, tile_y int, layer string, feature_id bigint, "
        "geom_cmds array<bigint>"
    )
    for budget in (64, 65):
        assert check(empty, budget, schema).tolist() == [32, 32], budget

    # 5 bytes each: payload 3 (header, zx=3, zy=4) + length varint + tag
    packed = pd.DataFrame({
        "tile_z": 3, "tile_x": 0, "tile_y": 0,
        "feature_id": np.arange(100), "geom_pt": (3 << 13) | 4,
    })
    for budget in (4, 5, 64, 65):
        kept = check(packed, budget)
        assert kept.sum() == budget // 5, budget


def test_cap_tile_bytes_oversized_feature_drops(spark):
    import pandas as pd

    from vectortiles_spark.operators.tiling import cap_tile_bytes

    df = spark.createDataFrame(pd.DataFrame({
        "tile_z": [3, 3], "tile_x": [0, 0], "tile_y": [0, 0],
        "layer": ["l", "l"], "feature_id": [1, 2],
        "geom_cmds": [[9, 1, 1], [9] + [100000] * 50],
    }))
    # the 50-word monster blows the running sum past the budget; the
    # prefix rule keeps only what fit before it
    kept = {r["feature_id"] for r in cap_tile_bytes(df, 20).collect()}
    assert kept == {1}


def test_cap_tile_bytes_packed_point_cost(spark):
    import pandas as pd

    from vectortiles_spark.operators.tiling import cap_tile_bytes

    # packed geom_pt: zx=300 (2 varint bytes), zy=5 (1) + header 1 => payload 4,
    # framing: len-varint 1 + tag 1 => 6 bytes per feature
    df = spark.createDataFrame(pd.DataFrame({
        "tile_z": [3] * 4, "tile_x": [0] * 4, "tile_y": [0] * 4,
        "feature_id": [1, 2, 3, 4],
        "geom_pt": [(300 << 13) | 5] * 4,
    }))
    assert cap_tile_bytes(df, 18).count() == 3  # 3*6 = 18 fits, 4th is 24
    assert cap_tile_bytes(df, 5).count() == 0

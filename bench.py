"""Benchmark harness (driver contract): headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
    {"metric": ..., "value": total_sec, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ...,
     "throughput": {...}}   # extra context fields are additive

The headline set covers the engine's pillars: the flagship MVT tile-encode
pipeline (tiles/sec — the BASELINE.md comparison point), relational core,
spatial join/kNN, dedup, and similarity search.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F

N_IMAGES = int(os.environ.get("BENCH_IMAGES", "200000"))
IMAGES_CACHE = os.environ.get("BENCH_IMAGES_PATH", f"/tmp/bench_images_{N_IMAGES}")
N_LINES = int(os.environ.get("BENCH_LINES", "20000"))
LINES_CACHE = os.environ.get("BENCH_LINES_PATH", f"/tmp/bench_lines_{N_LINES}")


def _ensure_images(spark):
    """Materialize the deterministic synthetic image table once (generation
    cost — image encode + phash — is not part of the tiling measurement)."""
    if not os.path.exists(f"{IMAGES_CACHE}/_SUCCESS"):
        from vectortiles_spark.sources.synth import write_images_table

        write_images_table(spark, IMAGES_CACHE, N_IMAGES)
    return spark.read.parquet(IMAGES_CACHE)


def bench_mvt_encode(spark, sf_dir):
    """Flagship: point features -> groupBy(z,x,y) -> MVT bytes."""
    from vectortiles_spark.operators import tiling

    imgs = _ensure_images(spark)
    feats = tiling.point_features(
        imgs, z=10, layer="images",
        feature_id=F.xxhash64("image_id"),
        meta={"caption": F.col("caption"), "phash": F.col("phash")},
    )
    tiles = tiling.encode_tiles(feats, max_per_tile=50000, single_layer="images")
    agg = tiles.agg(
        F.count("*").alias("n_tiles"),
        F.sum("n_features").alias("n_features"),
        F.sum(F.length("mvt")).alias("bytes"),
    ).collect()[0]
    return {"n_tiles": agg.n_tiles, "n_features": agg.n_features, "mvt_bytes": agg.bytes}


def _ensure_lines(spark):
    if not os.path.exists(f"{LINES_CACHE}/_SUCCESS"):
        from vectortiles_spark.sources.synth import lines_df

        lines_df(spark, N_LINES).write.mode("overwrite").parquet(LINES_CACHE)
    return spark.read.parquet(LINES_CACHE)


def bench_vector_pipeline(spark):
    """The full vector tiler: world polylines -> clip to z=8 tiles (with
    seam buffer) -> Douglas-Peucker generalization -> command streams ->
    MVT blobs. Exercises every geometry stage the engine ships."""
    from vectortiles_spark.operators import tiling
    from vectortiles_spark.operators.clip import clip_features
    from vectortiles_spark.operators.simplify import simplify_geoms

    lines = _ensure_lines(spark)
    clipped = clip_features(lines, z=8, buffer_px=8)
    simp = simplify_geoms(clipped, tolerance=8.0)
    tiles = tiling.encode_tiles(tiling.geom_features(simp))
    agg = tiles.agg(
        F.count("*").alias("n_tiles"),
        F.sum("n_features").alias("n_features"),
        F.sum(F.length("mvt")).alias("bytes"),
    ).collect()[0]
    return {"n_tiles": agg.n_tiles, "n_features": agg.n_features, "mvt_bytes": agg.bytes}


def bench_minhash_production(spark, sf_dir):
    """The PRODUCTION dedup path (xxhash64 shingle hash). The headline
    q_minhash_near_dups entry runs the portable md5 hasher the DuckDB
    oracle needs; a real pipeline runs this one — both get a tracked wall
    so a regression in either path is visible (VERDICT r4 #3)."""
    from vectortiles_spark.operators.dedup import minhash_near_dups

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_near_dups(docs, threshold=0.5).count()


def _cpu_sentinel_sec() -> float:
    """Fixed single-thread pure-CPU control (~0.2-0.4s quiet): timed before
    and after the suite, it pins whether the measurement window itself was
    contended. Pure integer loop — no allocations, so it probes the
    runnable queue, not the host's page-fault pathology."""
    t0 = time.perf_counter()
    x = 0
    for i in range(3_000_000):
        x += i * i
    _ = x
    return round(time.perf_counter() - t0, 3)


def _parallel_sentinel_sec(workers: int = 32) -> float:
    """All-cores pure-CPU control: the same fixed integer loop on every
    worker of a fresh process pool, wall-clocked end-to-end. A quiet
    32-vCPU host finishes near the single-thread time; multi-tenant CPU
    contention inflates THIS number while leaving the single-thread
    sentinel untouched (observed: executor CPU 2.6x with a clean 1-thread
    control), so recording both tiers lets a fat suite wall be attributed
    to the window instead of the code."""
    import concurrent.futures as _cf

    t0 = time.perf_counter()
    with _cf.ProcessPoolExecutor(max_workers=workers) as pool:
        list(pool.map(_sentinel_unit, range(workers)))
    return round(time.perf_counter() - t0, 3)


def _sentinel_unit(_seed: int) -> int:
    x = 0
    for i in range(3_000_000):
        x += i * i
    return x


def _parse_rest_time(s: str | None) -> float | None:
    if not s:
        return None
    import datetime as _dt

    try:
        return (
            _dt.datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
            .replace(tzinfo=_dt.timezone.utc)
            .timestamp()
        )
    except ValueError:
        return None


def _attribution(spark, group: str) -> dict | None:
    """Self-attributing evidence per query: pull this job group's jobs +
    stages from the Spark status REST API and split the measured wall
    into stage execution vs scheduler/driver gap. A loaded host shows a
    large `gap_sec` (or stage wall >> executor CPU) with unchanged
    `exec_run_sec`; a plan regression grows `exec_run_sec`/`n_stages`.
    Returns None if the UI/REST server is unavailable (attribution is
    additive evidence, never a bench failure)."""
    import urllib.request

    try:
        base = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        with urllib.request.urlopen(f"{base}/api/v1/applications/{app}/jobs", timeout=5) as r:
            jobs = json.loads(r.read())
        mine = [j for j in jobs if j.get("jobGroup") == group]
        if not mine:
            return None
        stage_ids = sorted({s for j in mine for s in j.get("stageIds", [])})
        with urllib.request.urlopen(
            f"{base}/api/v1/applications/{app}/stages?status=complete", timeout=5
        ) as r:
            stages = json.loads(r.read())
        by_id: dict[int, dict] = {}
        for s in stages:
            sid = s["stageId"]
            if sid in stage_ids and (
                sid not in by_id or s["attemptId"] > by_id[sid]["attemptId"]
            ):
                by_id[sid] = s
        stage_wall = 0.0
        exec_run_ms = 0
        slowest = (0.0, None)
        for s in by_id.values():
            t0 = _parse_rest_time(s.get("firstTaskLaunchedTime") or s.get("submissionTime"))
            t1 = _parse_rest_time(s.get("completionTime"))
            dur = (t1 - t0) if t0 is not None and t1 is not None else 0.0
            stage_wall += dur
            exec_run_ms += int(s.get("executorRunTime", 0))
            if dur > slowest[0]:
                slowest = (dur, f"s{s['stageId']}:{s.get('name', '')[:40]}")
        return {
            "n_jobs": len(mine),
            "n_stages": len(by_id),
            "stage_wall_sec": round(stage_wall, 3),
            "exec_run_sec": round(exec_run_ms / 1000.0, 3),
            "slowest_stage": slowest[1],
            "slowest_stage_sec": round(slowest[0], 3),
        }
    except Exception:
        return None


def main():
    global N_IMAGES, IMAGES_CACHE, N_LINES, LINES_CACHE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from vectortiles_spark.session import get_spark

    spark = get_spark(
        app_name="bench",
        # status REST server ON for per-stage attribution (off by default
        # in session.py; a bench run wants the evidence)
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "4050"},
    )
    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    headline = [
        "q01_pricing_summary",
        "q03_join_agg",
        "q_knn_ring",
        "q_pip_rect",
        "q_dedup_exact",
        "q_minhash_near_dups",
        "q_cosine_topk",
        "q_tile_assign",
    ]
    timings: dict[str, float] = {}
    extras: dict[str, object] = {}
    sentinel_pre = _cpu_sentinel_sec()
    sentinel_par_pre = _parallel_sentinel_sec()

    # flagship MVT encode first (its own synthetic input; materialize the
    # input table BEFORE the clock so generation cost isn't measured, and
    # run one untimed pass so python-worker startup + first-touch page
    # faults don't pollute the steady-state number)
    sc = spark.sparkContext
    attribution: dict[str, dict] = {}

    # warmup-then-measure, best-of-N: this host's first-touch page-fault
    # path is time-varying (same plan measured 0.5s and 4.2s minutes
    # apart) and cold numbers run ~4x hot ones; min-of-N timed passes
    # report the PLAN, not the host window. clearCache between passes so
    # operators that .cache() internally (minhash signatures) still pay
    # full compute each pass — warm JVM/workers, no result shortcuts.
    warmup = os.environ.get("BENCH_WARMUP", "1") != "0"
    # best-of-THREE by default: the host's bad windows last minutes, so two
    # back-to-back passes can BOTH land inside one (r5 observed
    # vector_pipeline pass walls [13.1, 2.7, 8.4] within a single process);
    # a third pass materially improves the odds that min-of-N reports the
    # plan rather than the window. Every pass wall lands in the sidecar.
    best_of = max(1, int(os.environ.get("BENCH_BEST_OF", "3")))

    def run_best(name: str, thunk):
        """Warmup once (untimed), then best-of-N timed passes, each in its
        own job group so the attribution matches the reported pass."""
        if warmup:
            thunk()
            spark.catalog.clearCache()
        best = (float("inf"), name, None)
        walls = []
        for p in range(best_of):
            group = f"{name}#p{p}" if best_of > 1 else name
            sc.setJobGroup(group, f"bench {name} pass {p}")
            t0 = time.perf_counter()
            result = thunk()
            dt = time.perf_counter() - t0
            walls.append(round(dt, 3))
            if dt < best[0]:
                best = (dt, group, result)
            spark.catalog.clearCache()
        dt, group, result = best
        timings[name] = round(dt, 3)
        att = _attribution(spark, group)
        if att is not None:
            att["wall_sec"] = round(dt, 3)
            att["all_walls_sec"] = walls
            att["gap_sec"] = round(max(0.0, dt - att["stage_wall_sec"]), 3)
            attribution[name] = att
        return dt, result

    _ensure_images(spark)
    dt, stats = run_best("mvt_encode", lambda: bench_mvt_encode(spark, sf_dir))
    extras["mvt"] = {
        **{k: int(v) for k, v in stats.items()},
        "tiles_per_sec": round(stats["n_tiles"] / dt, 1),
        "rows_per_sec": round(N_IMAGES / dt, 1),
        "features_per_sec": round(stats["n_features"] / dt, 1),
    }

    # composed vector pipeline (clip -> simplify -> encode), same protocol
    _ensure_lines(spark)
    dt, vstats = run_best("vector_pipeline", lambda: bench_vector_pipeline(spark))
    extras["vector"] = {
        **{k: int(v) for k, v in vstats.items()},
        "lines_in": N_LINES,
        "features_per_sec": round(vstats["n_features"] / dt, 1),
    }
    for name in headline:
        fn = queries[name]
        _, n = run_best(name, lambda: fn(spark, sf_dir).count())
        extras.setdefault("rows", {})[name] = n

    # production-hasher dedup twin (xxhash64; the md5 headline entry above
    # exists for DuckDB-oracle parity — this is the path real pipelines run).
    # Reported in the queries dict but EXCLUDED from the suite total so the
    # total stays comparable with earlier rounds' 10-query set.
    total = round(sum(timings.values()), 3)
    _, n = run_best("q_minhash_xxh64", lambda: bench_minhash_production(spark, sf_dir))
    extras["rows"]["q_minhash_xxh64"] = n

    # sf-large: the same two pipelines at 10x scale, so "per-row cost
    # falls with scale" is a tracked artifact number, not a prose claim.
    # Single timed pass (the suite above already warmed JVM + workers);
    # BENCH_LARGE=0 skips, sizes override via BENCH_LARGE_IMAGES/_LINES.
    if os.environ.get("BENCH_LARGE", "1") != "0":
        # failure-isolated like _attribution: a /tmp-full or OOM during the
        # 10x tier must not discard the completed small-suite artifact
        small = {"imgs": (N_IMAGES, IMAGES_CACHE), "lines": (N_LINES, LINES_CACHE)}
        N_IMAGES = int(os.environ.get("BENCH_LARGE_IMAGES", "2000000"))
        IMAGES_CACHE = f"/tmp/bench_images_{N_IMAGES}"
        N_LINES = int(os.environ.get("BENCH_LARGE_LINES", "200000"))
        LINES_CACHE = f"/tmp/bench_lines_{N_LINES}"
        # This host's page-fault path makes the first 2-4 passes of the 10x
        # tier slow (identical code measured 51->24->11s descending, r5 A/B
        # vs r4 showed the same curve on both) — a single timed pass lands
        # mid-curve and reads as a phantom regression. Time several passes,
        # report the min, and put every wall in the sidecar so the artifact
        # shows its own convergence. Default 6: an 8-pass probe measured
        # mvt [5.2, 4.5, 3.1, 3.0, 2.6, 2.7, 3.8, 2.6] — 3 passes still
        # sits ~20% above the converged floor.
        passes = max(1, int(os.environ.get("BENCH_LARGE_PASSES", "6")))
        try:
            _ensure_images(spark)
            if warmup:
                bench_mvt_encode(spark, sf_dir)  # first-touch + JIT outside the clock
            walls = []
            for i in range(passes):
                # one job group per pass: _attribution sums a whole group,
                # so the argmin pass must be attributable on its own
                sc.setJobGroup(f"mvt_encode_large#p{i}", "bench mvt_encode sf-large")
                t0 = time.perf_counter()
                stats = bench_mvt_encode(spark, sf_dir)
                walls.append(time.perf_counter() - t0)
            dt = min(walls)
            best = walls.index(dt)
            att = _attribution(spark, f"mvt_encode_large#p{best}") or {}
            extras["sf_large"] = {
                "mvt": {
                    **{k: int(v) for k, v in stats.items()},
                    "rows_in": N_IMAGES,
                    "wall_sec": round(dt, 3),
                    "all_walls_sec": [round(w, 3) for w in walls],
                    "tiles_per_sec": round(stats["n_tiles"] / dt, 1),
                    # per-tile caps truncate features in hot metro tiles at
                    # this scale; rows/s is the scale-comparable rate
                    "rows_per_sec": round(N_IMAGES / dt, 1),
                    "features_per_sec": round(stats["n_features"] / dt, 1),
                    **({"stage_wall_sec": att.get("stage_wall_sec")} if att else {}),
                }
            }
            _ensure_lines(spark)
            if warmup:
                bench_vector_pipeline(spark)
            walls = []
            for i in range(passes):
                sc.setJobGroup(f"vector_large#p{i}", "bench vector_pipeline sf-large")
                t0 = time.perf_counter()
                vstats = bench_vector_pipeline(spark)
                walls.append(time.perf_counter() - t0)
            dt = min(walls)
            best = walls.index(dt)
            att = _attribution(spark, f"vector_large#p{best}") or {}
            extras["sf_large"]["vector"] = {
                **{k: int(v) for k, v in vstats.items()},
                "lines_in": N_LINES,
                "wall_sec": round(dt, 3),
                "all_walls_sec": [round(w, 3) for w in walls],
                "lines_per_sec": round(N_LINES / dt, 1),
                "features_per_sec": round(vstats["n_features"] / dt, 1),
                **({"stage_wall_sec": att.get("stage_wall_sec")} if att else {}),
            }
        except Exception as exc:  # noqa: BLE001
            extras.setdefault("sf_large", {})["error"] = f"{type(exc).__name__}: {exc}"[:200]
        finally:
            (N_IMAGES, IMAGES_CACHE) = small["imgs"]
            (N_LINES, LINES_CACHE) = small["lines"]
    sc.setJobGroup("", "")
    sentinel_post = _cpu_sentinel_sec()
    sentinel_par_post = _parallel_sentinel_sec()

    sf = sf_dir.rstrip("/").split("sf")[-1]

    # Full per-stage attribution + sf_large detail go to a SIDECAR file:
    # round 3's single stdout line outgrew the driver's tail-capture window
    # and BENCH_r03.json came back "parsed": null. The driver contract needs
    # a compact machine-readable LAST line; humans read the sidecar.
    # decode-parity datum (BASELINE.md: reference full roads.mvt decode =
    # 9.98 ms/core): pure-Python microbench, pennies next to the suite
    # (guarded broadly: the roads.mvt file is externally controlled, and a
    # truncated/modified checkout must skip the optional datum, not abort
    # the whole bench run)
    decode_ms = None
    encode_ms = None
    try:
        from vectortiles_spark.mvt import codec as _codec

        with open("/root/reference/test/roads.mvt", "rb") as f:
            _roads = f.read()
        _codec.decode_tile(_roads)
        decode_ms = round(
            min(
                (lambda t0: (_codec.decode_tile(_roads), time.perf_counter() - t0)[1])(
                    time.perf_counter()
                )
                for _ in range(10)
            )
            * 1000.0,
            2,
        )
        # encode parity twin (reference untile roads: 13.47 ms,
        # bench/results.txt:49-53): re-encode the decoded layers to bytes
        _layers = list(_codec.decode_tile(_roads).values())
        _codec.encode_tile(_layers)
        encode_ms = round(
            min(
                (lambda t0: (_codec.encode_tile(_layers), time.perf_counter() - t0)[1])(
                    time.perf_counter()
                )
                for _ in range(10)
            )
            * 1000.0,
            2,
        )
    except Exception:  # noqa: BLE001
        pass
    # overzoom parity datum: derive roads.mvt's 4 children (parse + clip +
    # batch re-encode) and a dense 5k-single-point tile (the sink-shaped hot
    # case, vectorized point split) — same guard policy as the decode/encode datum
    overzoom_roads_ms = None
    overzoom_pts_kfeat_s = None
    try:
        import numpy as _np

        from vectortiles_spark.mvt import codec as _codec
        from vectortiles_spark.operators.overzoom import overzoom_blob as _oz

        with open("/root/reference/test/roads.mvt", "rb") as f:
            _roads = f.read()
        _oz(_roads)
        overzoom_roads_ms = round(
            min(
                (lambda t0: (_oz(_roads), time.perf_counter() - t0)[1])(
                    time.perf_counter()
                )
                for _ in range(5)
            )
            * 1000.0,
            2,
        )
        _rng = _np.random.default_rng(7)
        _lay = _codec.Layer("pts")
        _segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
        _xy = _rng.integers(0, 4096, (5000, 2))
        for _i in range(5000):
            _lay.features.append(_codec.Feature(
                _i + 1, {"segment": (1, _segs[_i % 5])}, 1,
                _xy[_i:_i + 1].astype(_np.int64),
            ))
        _ptile = _codec.encode_tile([_lay])
        _oz(_ptile)
        _w = min(
            (lambda t0: (_oz(_ptile), time.perf_counter() - t0)[1])(time.perf_counter())
            for _ in range(5)
        )
        overzoom_pts_kfeat_s = round(5000 / _w / 1000.0, 1)
    except Exception:  # noqa: BLE001
        pass
    sidecar = {
        # which scale factor produced this sidecar (it is rewritten by
        # EVERY bench run, including sf0.01 dev runs — readers must check)
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "attribution": attribution,
        "sf_large": extras.get("sf_large"),
        "mvt": extras.get("mvt"),
        "vector": extras.get("vector"),
        "rows": extras.get("rows"),
        "decode_roads_ms": decode_ms,
        "encode_roads_ms": encode_ms,
        "overzoom_roads_ms": overzoom_roads_ms,
        "overzoom_pts_kfeat_per_sec_core": overzoom_pts_kfeat_s,
        # contention sentinels: identical pure-CPU controls before/after
        # the suite, at TWO parallelism tiers. Quiet host: both ~equal and
        # small. The 1-thread tier catches runnable-queue contention; the
        # all-cores tier additionally catches multi-tenant CPU pressure
        # that leaves a single thread unaffected but inflates 32-way
        # executor CPU (the signature behind r4's minhash mystery).
        "sentinel_cpu_sec": {"pre": sentinel_pre, "post": sentinel_post},
        "sentinel_par_cpu_sec": {
            "pre": sentinel_par_pre, "post": sentinel_par_post
        },
        # q_minhash_xxh64 is reported in queries but excluded from the
        # suite total (kept comparable to earlier rounds' 10-query set)
    }
    sidecar_path = Path(__file__).resolve().parent / "BENCH" / "attribution.json"
    try:
        sidecar_path.parent.mkdir(exist_ok=True)
        sidecar_path.write_text(json.dumps(sidecar, indent=1))
    except OSError:
        pass  # sidecar is additive evidence, never a bench failure

    # Compact headline: totals + per-query walls + core throughput +
    # sf_large walls only. Keep this line SHORT (well under any plausible
    # stdout tail window) and make it the final stdout line.
    mvt = extras.get("mvt", {})
    vec = extras.get("vector", {})
    compact_tp = {
        "mvt_tiles_per_sec": mvt.get("tiles_per_sec"),
        "mvt_rows_per_sec": mvt.get("rows_per_sec"),
        "vector_features_per_sec": vec.get("features_per_sec"),
        "decode_roads_ms": decode_ms,
        "encode_roads_ms": encode_ms,
        "overzoom_roads_ms": overzoom_roads_ms,
        "sentinel_pre_sec": sentinel_pre,
        "sentinel_post_sec": sentinel_post,
        "sentinel_par_pre_sec": sentinel_par_pre,
        "sentinel_par_post_sec": sentinel_par_post,
    }
    large = extras.get("sf_large") or {}
    if large and "error" not in large:
        compact_tp["sf_large_mvt_wall_sec"] = large.get("mvt", {}).get("wall_sec")
        compact_tp["sf_large_mvt_rows_per_sec"] = large.get("mvt", {}).get("rows_per_sec")
        compact_tp["sf_large_vector_wall_sec"] = large.get("vector", {}).get("wall_sec")
    elif large:
        compact_tp["sf_large_error"] = large["error"][:80]
    print(
        json.dumps(
            {
                "metric": "headline_suite_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "throughput": compact_tp,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

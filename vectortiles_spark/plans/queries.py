"""The engine's query battery: Spark implementation + DuckDB oracle pairs.

Each entry exercises one operator family from SURVEY.md §2 over the driver's
parquet tables. Spark results must match the oracle SQL value-for-value, so:

* every computed column is aliased identically on both sides;
* floating aggregates are rounded on both sides;
* geo derivations use PURE ARITHMETIC (equirectangular tiles, integer-key
  derived lon/lat) so float64 results are bit-identical across engines —
  the WebMercator/trig path is validated separately in pytest against the
  NumPy twins (tests/test_tiles_cells.py) and used by the non-oracle MVT
  queries.

Spark DataFrame code is the primary implementation; the oracle is ANSI SQL.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators._parallel import widen

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def load(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    return [spark.read.parquet(f"{sf_dir}/{n}.parquet") for n in names]


# Deterministic lon/lat from an integer key: two-decimal grid, exact in f64.
# Same formula emitted to SQL by _LON/_LAT below.
def lon_of(key):  # [-180, 180)
    return (F.pmod(key * 9973, F.lit(36000)) / 100.0 - 180.0).alias("lon")


def lat_of(key):  # [-85, 85)
    return (F.pmod(key * 7919, F.lit(17000)) / 100.0 - 85.0).alias("lat")


def _sql_lon(key: str) -> str:
    return f"(({key} * 9973) % 36000) / 100.0 - 180.0"


def _sql_lat(key: str) -> str:
    return f"(({key} * 7919) % 17000) / 100.0 - 85.0"


# Equirectangular tile ids: pure +-*/ floor, bit-identical across engines.
def eq_tile_x(lon, z: int):
    n = float(1 << z)
    return F.least(F.floor((lon + 180.0) / 360.0 * n), F.lit((1 << z) - 1)).cast("int")


def eq_tile_y(lat, z: int):
    n = float(1 << z)
    return F.least(F.floor((85.0 - lat) / 170.0 * n), F.lit((1 << z) - 1)).cast("int")


def _sql_eq_tile_x(lon: str, z: int) -> str:
    return f"cast(least(floor(({lon} + 180.0) / 360.0 * {float(1 << z)}), {(1 << z) - 1}) as int)"


def _sql_eq_tile_y(lat: str, z: int) -> str:
    return f"cast(least(floor((85.0 - ({lat})) / 170.0 * {float(1 << z)}), {(1 << z) - 1}) as int)"


# ---------------- relational core (SURVEY.md §2.D2, D9) ----------------


def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the canonical groupBy aggregate (map-side partial agg,
    single shuffle on the group keys)."""
    (li,) = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q01_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                   AS sum_qty,
       round(sum(l_extendedprice), 2)                              AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc_price,
       count(*)                                                    AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles + dispersion per group: median/p95
    via ``percentile`` (DuckDB twin: ``quantile_cont``, the same linear
    interpolation), stddev_samp, min/max.

    Scale note: EXACT percentiles sort each group — fine for bounded
    group counts like this; at 100 TB with huge groups the engine's
    ``percentile_approx`` (t-digest, mergeable map-side) is the drop-in
    scale path, kept out of the oracle battery because its sketch is
    engine-specific."""
    (li,) = load(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("median_price"),
            F.round(F.expr("percentile(l_extendedprice, 0.95)"), 4).alias("p95_price"),
            F.round(F.stddev_samp(x), 4).alias("sd_price"),
            F.min(x).alias("min_price"),
            F.max(x).alias("max_price"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q_PERCENTILES_SQL = """
SELECT l_returnflag, l_linestatus,
       round(quantile_cont(l_extendedprice, 0.5), 4)  AS median_price,
       round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price,
       round(stddev_samp(l_extendedprice), 4)         AS sd_price,
       min(l_extendedprice)                           AS min_price,
       max(l_extendedprice)                           AS max_price
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


_HIST_W = 25000


def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals per order-priority: bucket =
    floor(x / w) — a pure projection + one groupBy shuffle, the shape that
    holds at any scale (bucket cardinality is bounded by the value range,
    not the row count)."""
    (orders,) = load(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderpriority",
            F.floor(F.col("o_totalprice") / _HIST_W).alias("bucket"),
        )
        .groupBy("o_orderpriority", "bucket")
        .agg(F.count("*").alias("n"))
        .orderBy("o_orderpriority", "bucket")
    )


Q_HISTOGRAM_SQL = f"""
SELECT o_orderpriority,
       CAST(floor(o_totalprice / {_HIST_W}) AS BIGINT) AS bucket,
       count(*) AS n
FROM orders
GROUP BY 1, 2
ORDER BY o_orderpriority, bucket
"""


_HLL_B = 10
_KMV_K = 256


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL-sketch distinct orders per returnflag vs the exact count.
    The sketch (operators/sketches.py) shuffles at most 2^10 integer
    registers per group — the 100 TB COUNT(DISTINCT) shape — and is
    deterministic down to the value hash (md5-based shared hash, integer
    register sums, one final float division) so DuckDB replays the
    ESTIMATE, not just the row count."""
    from ..operators.sketches import hll_estimate, hll_registers

    (li,) = load(spark, sf_dir, "lineitem")
    regs = hll_registers(li, "l_orderkey", ["l_returnflag"], b=_HLL_B)
    est = hll_estimate(regs, ["l_returnflag"], b=_HLL_B)
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_exact")
    )
    return (
        exact.join(est, "l_returnflag")
        .select(
            "l_returnflag",
            "n_exact",
            F.round(F.col("hll_est"), 4).alias("hll_est"),
            F.round(F.abs(F.col("hll_est") / F.col("n_exact") - 1.0), 6).alias(
                "rel_err"
            ),
        )
        .orderBy("l_returnflag")
    )


def _hll_sql() -> str:
    from ..operators.sketches import hll_estimate_sql

    frag = hll_estimate_sql("lineitem", "l_orderkey", ["l_returnflag"], b=_HLL_B)
    return f"""
WITH est AS ({frag}),
exact AS (
  SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_exact
  FROM lineitem GROUP BY 1
)
SELECT exact.l_returnflag, n_exact,
       round(hll_est, 4) AS hll_est,
       round(abs(hll_est / n_exact - 1.0), 6) AS rel_err
FROM exact JOIN est USING (l_returnflag)
ORDER BY l_returnflag
"""


Q_HLL_SQL = _hll_sql()


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k) distinct orders per returnflag vs the exact count:
    per-partition partial bottom-k keeps the shuffle at <= k candidate
    hashes per partition-group (operators/sketches.py), and the k-th
    smallest distinct hash is integer-exact, so the estimate replays in
    DuckDB bit-for-bit."""
    from ..operators.sketches import kmv_distinct

    (li,) = load(spark, sf_dir, "lineitem")
    est = kmv_distinct(li, "l_orderkey", ["l_returnflag"], k=_KMV_K)
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_exact")
    )
    return (
        exact.join(est, "l_returnflag")
        .select(
            "l_returnflag",
            "n_exact",
            F.round(F.col("kmv_est"), 4).alias("kmv_est"),
            F.round(F.abs(F.col("kmv_est") / F.col("n_exact") - 1.0), 6).alias(
                "rel_err"
            ),
        )
        .orderBy("l_returnflag")
    )


def _kmv_sql() -> str:
    from ..operators.sketches import kmv_distinct_sql

    frag = kmv_distinct_sql("lineitem", "l_orderkey", ["l_returnflag"], k=_KMV_K)
    return f"""
WITH est AS ({frag}),
exact AS (
  SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_exact
  FROM lineitem GROUP BY 1
)
SELECT exact.l_returnflag, n_exact,
       round(kmv_est, 4) AS kmv_est,
       round(abs(kmv_est / n_exact - 1.0), 6) AS rel_err
FROM exact JOIN est USING (l_returnflag)
ORDER BY l_returnflag
"""


Q_KMV_SQL = _kmv_sql()


_QSK_W = 500.0


def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable histogram-quantile sketch vs the exact interpolated
    percentiles: bounded (bucket,count) state per group (the shape that
    survives 100 TB — see operators/sketches.py:histogram_quantiles),
    with the sketch's p50/p95 replayed exactly by DuckDB and the exact
    values alongside to exhibit the width-bounded error."""
    from ..operators.sketches import histogram_quantiles

    (li,) = load(spark, sf_dir, "lineitem")
    by = ["l_returnflag", "l_linestatus"]
    sk = histogram_quantiles(li, "l_extendedprice", by, width=_QSK_W, qs=(0.5, 0.95))
    exact = li.groupBy(*by).agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("exact_p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 4).alias("exact_p95"),
    )
    return (
        exact.join(sk, by)
        .select(
            *by,
            F.round(F.col("q_0_5"), 4).alias("sk_p50"),
            F.round(F.col("q_0_95"), 4).alias("sk_p95"),
            "exact_p50",
            "exact_p95",
        )
        .orderBy(*by)
    )


def _qsk_sql() -> str:
    from ..operators.sketches import histogram_quantiles_sql

    frag = histogram_quantiles_sql(
        "lineitem", "l_extendedprice", ["l_returnflag", "l_linestatus"],
        width=_QSK_W, qs=(0.5, 0.95),
    )
    return f"""
WITH sk AS ({frag}),
exact AS (
  SELECT l_returnflag, l_linestatus,
         round(quantile_cont(l_extendedprice, 0.5), 4)  AS exact_p50,
         round(quantile_cont(l_extendedprice, 0.95), 4) AS exact_p95
  FROM lineitem GROUP BY 1, 2
)
SELECT exact.l_returnflag, exact.l_linestatus,
       round(q_0_5, 4) AS sk_p50, round(q_0_95, 4) AS sk_p95,
       exact_p50, exact_p95
FROM exact JOIN sk USING (l_returnflag, l_linestatus)
ORDER BY l_returnflag, l_linestatus
"""


Q_QUANTILE_SKETCH_SQL = _qsk_sql()


def q03_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join + aggregate: customer (broadcast) ⋈ orders ⋈ lineitem.

    orders is hinted SHUFFLE_HASH (guide §3.1): at bench scale its file
    estimate sits under the broadcast threshold, and the serial ~1.5M-row
    HashedRelation build cost 2-3x the whole parallel shuffle join
    (measured 2.7-4.0s vs ~1.0s at sf1.0); at real scale a fact-fact
    join is never broadcastable anyway, so the hint states the honest
    shape. customer stays an explicit broadcast dimension."""
    cust, orders, li = load(spark, sf_dir, "customer", "orders", "lineitem")
    orders = orders.hint("shuffle_hash")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
        .orderBy("c_mktsegment")
    )


Q03_SQL = """
SELECT c_mktsegment,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(DISTINCT o_orderkey)                        AS n_orders
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def q05_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join through two broadcast dims (region -> nation -> customer)."""
    region, nation, cust, orders, li = load(
        spark, sf_dir, "region", "nation", "customer", "orders", "lineitem"
    )
    # same rationale as q03: fact-fact joins shuffle, dims broadcast
    orders = orders.hint("shuffle_hash")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy("r_name")
    )


Q05_SQL = """
SELECT r_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY r_name
"""


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per key via window row_number (the kNN/top-k primitive)."""
    (events,) = load(spark, sf_dir, "events")
    per_user = events.groupBy("event_type", "user_id").agg(
        F.round(F.sum("value"), 4).alias("total_value")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("total_value").desc(), F.col("user_id").asc()
    )
    return (
        per_user.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("event_type", "user_id", "total_value", "rank")
        .orderBy("event_type", "rank")
    )


Q_TOPK_SQL = """
WITH per_user AS (
  SELECT event_type, user_id, round(sum(value), 4) AS total_value
  FROM events GROUP BY event_type, user_id
)
SELECT event_type, user_id, total_value, rank FROM (
  SELECT event_type, user_id, total_value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY total_value DESC, user_id ASC) AS rank
  FROM per_user
) WHERE rank <= 3
ORDER BY event_type, rank
"""


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as left_semi: customers that placed a high-value order."""
    cust, orders = load(spark, sf_dir, "customer", "orders")
    big = orders.filter(F.col("o_totalprice") > 200000).select("o_custkey")
    return (
        cust.join(big, cust.c_custkey == big.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


Q_SEMI_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 200000)
ORDER BY c_custkey
"""


def q_anti_join_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS as left_anti — the checkpoint/resume primitive (SURVEY.md
    §2.D11): work units minus the completed-manifest set."""
    orders, li = load(spark, sf_dir, "orders", "lineitem")
    done = orders.filter(F.pmod(F.col("o_orderkey"), F.lit(10)) < 3).select("o_orderkey")
    return (
        li.join(done, li.l_orderkey == done.o_orderkey, "left_anti")
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("remaining_items"))
        .orderBy("l_returnflag")
    )


Q_ANTI_SQL = """
SELECT l_returnflag, count(*) AS remaining_items
FROM lineitem
WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderkey % 10 < 3)
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def q_iceberg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Iceberg-lite table LIFECYCLE under the value oracle
    (sources/iceberg_lite.py; north_rule's "Iceberg manifest" leg):
    two appends build the corpus partitioned by lang -> dynamic partition
    overwrite replaces the 'en' partition with n_chars doubled ->
    small-file compaction rewrites the layout (one "replace" snapshot,
    data bit-identical) -> expire_snapshots drops pre-corpus history and
    deletes orphaned files. The output unions the CURRENT state with a
    TIME-TRAVEL read of the retained pre-overwrite snapshot, so the
    oracle catches: lost/duplicated rows across any maintenance commit,
    overwrite leaking into untouched partitions, compaction corrupting
    values, expiry breaking a retained snapshot's file resolution, or the
    stats-pruned read (Z-order-clustered rewrite + manifest min/max file
    skipping + residual row filter) losing or duplicating rows."""
    import shutil
    import tempfile

    from vectortiles_spark.sources.iceberg_lite import IcebergLiteTable

    (docs,) = load(spark, sf_dir, "documents")
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    path = os.path.join(
        tempfile.gettempdir(), f"q_iceberg_maint_{tag}_{os.getpid()}"
    )
    if os.path.exists(path):
        shutil.rmtree(path)
    t = IcebergLiteTable(spark, path)
    t.append(docs.filter(F.col("doc_id") % 2 == 0), partition_by="lang")
    pre_snap = t.append(docs.filter(F.col("doc_id") % 2 == 1), partition_by="lang")
    t.overwrite_partitions(
        docs.filter(F.col("lang") == "en")
        .withColumn("n_chars", F.col("n_chars") * 2),
        partition_by="lang",
    )
    t.compact(target_rows_per_file=200, zorder_by=["doc_id", "n_chars"])
    t.expire_snapshots(keep_last=3)  # retains pre_snap, overwrite, compact

    def agg(df: DataFrame, state: str) -> DataFrame:
        return df.groupBy("lang").agg(
            F.count("*").alias("n_docs"), F.sum("n_chars").alias("sum_chars")
        ).withColumn("state", F.lit(state))

    return (
        agg(t.read(), "current")
        .unionByName(agg(t.read(snapshot_id=pre_snap), "pre_overwrite"))
        .unionByName(agg(t.read(where={"doc_id": (100, 299)}), "pruned"))
        .select("state", "lang", "n_docs", "sum_chars")
        .orderBy("state", "lang")
    )


Q_ICEBERG_MAINT_SQL = """
SELECT 'current' AS state, lang, count(*) AS n_docs,
       CAST(sum(CASE WHEN lang = 'en' THEN n_chars * 2 ELSE n_chars END) AS BIGINT)
           AS sum_chars
FROM documents GROUP BY lang
UNION ALL
SELECT 'pre_overwrite' AS state, lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY lang
UNION ALL
SELECT 'pruned' AS state, lang, count(*) AS n_docs,
       CAST(sum(CASE WHEN lang = 'en' THEN n_chars * 2 ELSE n_chars END) AS BIGINT)
           AS sum_chars
FROM documents WHERE doc_id BETWEEN 100 AND 299 GROUP BY lang
ORDER BY state, lang
"""


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregate (grouping-sets family)."""
    nation, cust, orders = load(spark, sf_dir, "nation", "customer", "orders")
    joined = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    return (
        joined.rollup("n_name", "o_orderstatus")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total"), F.count("*").alias("n"))
        .orderBy(F.col("n_name").asc_nulls_first(), F.col("o_orderstatus").asc_nulls_first())
    )


Q_ROLLUP_SQL = """
SELECT n_name, o_orderstatus, round(sum(o_totalprice), 2) AS total, count(*) AS n
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY ROLLUP (n_name, o_orderstatus)
ORDER BY n_name ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST
"""


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling time-window aggregate (batch twin of the streaming op)."""
    (events,) = load(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .orderBy("hour", "event_type")
    )


Q_EVENTS_HOURLY_SQL = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n, round(sum(value), 4) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY hour, event_type
"""


def q_events_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) time-window aggregate: 1-hour windows every 30
    minutes via the NATIVE F.window(slide) operator — each event lands in
    exactly duration/slide = 2 windows, epoch-aligned. The oracle replays
    the alignment arithmetically (floor(epoch/slide)*slide and its
    predecessor), pinning Spark's window placement, not just the sums."""
    (events,) = load(spark, sf_dir, "events")
    w = F.window(F.col("ts"), "1 hour", "30 minutes")
    return (
        events.groupBy(w.alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "n",
            "total_value",
        )
        .orderBy("win_start", "event_type")
    )


Q_EVENTS_HOPPING_SQL = """
WITH e AS (
  SELECT event_type, value,
         CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT) AS ws1
  FROM events
), x AS (
  SELECT event_type, value,
         unnest([ws1 - 1800, ws1]) AS ws
  FROM e
)
SELECT TIMESTAMP '1970-01-01 00:00:00' + ws * INTERVAL 1 SECOND AS win_start,
       event_type, count(*) AS n, round(sum(value), 4) AS total_value
FROM x
GROUP BY 1, 2
ORDER BY win_start, event_type
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag + gap>30min cumsum — the stateful-streaming
    semantics expressed as batch windows."""
    (events,) = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # FRACTIONAL epoch seconds (cast chain, not unix_timestamp which
    # truncates to whole seconds): DuckDB's epoch() keeps fractions, so a
    # 1800.4s gap must open a new session on BOTH sides. TIMESTAMP_NTZ
    # needs the hop through TIMESTAMP (session tz is pinned UTC).
    ep = F.col("ts").cast("timestamp").cast("double")
    gap = (ep - F.lag(ep).over(w)) > 1800
    sess = events.withColumn("new_sess", F.when(gap, 1).otherwise(0)).withColumn(
        "session_id", F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n_events"))
        .groupBy("n_events")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy("n_events")
    )


Q_SESSIONIZE_SQL = """
WITH lagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events
), sessions AS (
  SELECT user_id,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM lagged
), per_session AS (
  SELECT user_id, session_id, count(*) AS n_events FROM sessions GROUP BY 1, 2
)
SELECT n_events, count(*) AS n_sessions FROM per_session GROUP BY 1 ORDER BY 1
"""


_ASOF_TOL_S = 600


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operator Spark lacks): each click event picks up the
    most recent error within 10 minutes for the same user — pandas
    merge_asof / DuckDB ASOF JOIN semantics, implemented as the
    one-shuffle union+window formulation in operators/temporal.py."""
    from ..operators.temporal import asof_join

    (events,) = load(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    # right side unique per (user_id, ts): pre-agg duplicate timestamps
    errs = (
        events.filter(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("err_value"))
    )
    out = asof_join(
        clicks, errs, on="ts", by=["user_id"], value_cols=["err_value"],
        tolerance_s=_ASOF_TOL_S,
    )
    return out.select(
        "event_id", "user_id", "ts",
        F.col("ts_right").alias("err_ts"),
        F.col("err_value_right").alias("err_value"),
    ).orderBy("event_id")


Q_ASOF_SQL = f"""
WITH clicks AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'
), errs AS (
  SELECT user_id, ts, max(value) AS err_value
  FROM events WHERE event_type = 'error' GROUP BY 1, 2
)
SELECT c.event_id, c.user_id, c.ts,
       CASE WHEN epoch(c.ts) - epoch(e.ts) <= {_ASOF_TOL_S} THEN e.ts END AS err_ts,
       CASE WHEN epoch(c.ts) - epoch(e.ts) <= {_ASOF_TOL_S} THEN e.err_value END AS err_value
FROM clicks c ASOF LEFT JOIN errs e
  ON c.user_id = e.user_id AND c.ts >= e.ts
ORDER BY c.event_id
"""


_RANGE_EPOCH0 = 1704067200  # 2024-01-01 00:00:00 UTC
_RANGE_N_WINS = 500


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join: events against 500 half-open 30-minute
    maintenance windows anchored on the hour — the binned equi-join
    formulation in operators/temporal.py (never a cartesian/theta join)."""
    from ..operators.temporal import interval_join

    (events,) = load(spark, sf_dir, "events")
    pts = events.select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    wins = spark.range(_RANGE_N_WINS).select(
        F.col("id").alias("win_id"),
        F.timestamp_seconds(_RANGE_EPOCH0 + F.col("id") * 3600).alias("win_start"),
        F.timestamp_seconds(_RANGE_EPOCH0 + F.col("id") * 3600 + 1800).alias("win_end"),
    )
    pairs = interval_join(
        pts, wins, ts_col="ts", start_col="win_start", end_col="win_end", bin_s=1800.0
    )
    return (
        pairs.groupBy("win_id", "win_start", "win_end")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("win_id")
    )


Q_RANGE_JOIN_SQL = f"""
WITH wins AS (
  SELECT i AS win_id,
         TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL 3600 SECOND AS win_start,
         TIMESTAMP '2024-01-01 00:00:00' + (i * 3600 + 1800) * INTERVAL 1 SECOND AS win_end
  FROM range({_RANGE_N_WINS}) t(i)
)
SELECT w.win_id, w.win_start, w.win_end,
       count(*) AS n_events, round(sum(e.value), 4) AS sum_value
FROM events e JOIN wins w ON e.ts >= w.win_start AND e.ts < w.win_end
GROUP BY 1, 2, 3
ORDER BY win_id
"""


_GH_P = 6


def q_geohash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash bucketing (the third cell system next to XYZ/quadkey and
    Morton/Hilbert): encode each customer's derived point at precision 6
    — pure Column algebra (functions/cells.py:geohash_encode) — and roll
    up by the 3-char prefix (prefixes nest, so the rollup is one hash
    aggregate, the classic cheap spatial histogram)."""
    from ..functions.cells import geohash_encode

    (cust,) = load(spark, sf_dir, "customer")
    key = F.col("c_custkey")
    pts = cust.select("c_custkey", lon_of(key), lat_of(key))
    g = pts.select(
        "c_custkey",
        geohash_encode(F.col("lon"), F.col("lat"), _GH_P).alias("geohash"),
    )
    return (
        g.groupBy(F.substring("geohash", 1, 3).alias("gh3"))
        .agg(
            F.count("*").alias("n"),
            F.min("geohash").alias("min_gh"),
            F.max("geohash").alias("max_gh"),
        )
        .orderBy("gh3")
    )


def _geohash_sql() -> str:
    from ..functions.cells import geohash_sql

    gh = geohash_sql("lon", "lat", _GH_P)
    return f"""
WITH pts AS (
  SELECT c_custkey, {_sql_lon('c_custkey')} AS lon, {_sql_lat('c_custkey')} AS lat
  FROM customer
), g AS (
  SELECT c_custkey, {gh} AS geohash FROM pts
)
SELECT substr(geohash, 1, 3) AS gh3, count(*) AS n,
       min(geohash) AS min_gh, max(geohash) AS max_gh
FROM g GROUP BY 1 ORDER BY gh3
"""


Q_GEOHASH_SQL = _geohash_sql()


# ---------------- geo operators (SURVEY.md §2.D3, D5, D6) ----------------

_Z = 6


def q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile assignment + per-tile counts (D3's oracle-checkable twin)."""
    (cust,) = load(spark, sf_dir, "customer")
    pts = cust.select(
        "c_custkey", lon_of(F.col("c_custkey")), lat_of(F.col("c_custkey"))
    )
    return (
        pts.select(
            eq_tile_x(F.col("lon"), _Z).alias("tile_x"),
            eq_tile_y(F.col("lat"), _Z).alias("tile_y"),
        )
        .groupBy("tile_x", "tile_y")
        .agg(F.count("*").alias("n_points"))
        .orderBy("tile_x", "tile_y")
    )


Q_TILE_ASSIGN_SQL = f"""
WITH pts AS (
  SELECT c_custkey, {_sql_lon('c_custkey')} AS lon, {_sql_lat('c_custkey')} AS lat
  FROM customer
)
SELECT {_sql_eq_tile_x('lon', _Z)} AS tile_x,
       {_sql_eq_tile_y('lat', _Z)} AS tile_y,
       count(*) AS n_points
FROM pts
GROUP BY 1, 2
ORDER BY tile_x, tile_y
"""


_MERC_Z = 6


def q_tile_assign_merc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION WebMercator tile math (functions/tiles.py tile_x/y +
    the discrete px/py pixel grid with its nextafter edge clamp) under the
    DuckDB value oracle — not the equirect twin. DuckDB lacks asinh, so
    the oracle spells it ln(t + sqrt(t*t+1)).

    Cross-libm safety: the only transcendental inputs are the 0.01-degree
    key lattice latitudes; measured over keys 1..200000 at z=6, the only
    exact tile/pixel boundary hit is lat=0 (tan(0)=0 is exact in every
    IEEE libm, so both engines produce exactly 0.5 -> same floor) and the
    smallest NONZERO distance of norm_y*2^z*extent from an integer is
    1.6e-5 — nine orders of magnitude above any plausible ulp divergence
    between Spark's and DuckDB's tan/ln, so no floor can flip."""
    from ..functions.tiles import tile_px, tile_py, tile_x, tile_y

    (cust,) = load(spark, sf_dir, "customer")
    pts = cust.select(
        "c_custkey", lon_of(F.col("c_custkey")), lat_of(F.col("c_custkey"))
    )
    return (
        pts.select(
            tile_x(F.col("lon"), _MERC_Z).alias("tile_x"),
            tile_y(F.col("lat"), _MERC_Z).alias("tile_y"),
            tile_px(F.col("lon"), _MERC_Z).cast("bigint").alias("px"),
            tile_py(F.col("lat"), _MERC_Z).cast("bigint").alias("py"),
        )
        .groupBy("tile_x", "tile_y")
        .agg(
            F.count("*").alias("n_points"),
            F.sum("px").alias("sum_px"),
            F.sum("py").alias("sum_py"),
            F.min("py").alias("min_py"),
            F.max("py").alias("max_py"),
        )
        .orderBy("tile_x", "tile_y")
    )


def _merc_sql() -> str:
    import math as _m

    n = float(1 << _MERC_Z)
    clamp = repr(_m.nextafter(n, 0.0))  # repr roundtrips the exact double
    return f"""
WITH pts AS (
  SELECT {_sql_lon('c_custkey')} AS lon, {_sql_lat('c_custkey')} AS lat
  FROM customer
), m AS (
  SELECT (lon + 180.0) / 360.0 * {n} AS fx,
         (1.0 - ln(tan(radians(lat)) + sqrt(tan(radians(lat)) * tan(radians(lat)) + 1.0)) / pi()) / 2.0 * {n} AS fy
  FROM pts
), px AS (
  SELECT cast(least(floor(fx), {int(n) - 1}) AS INT) AS tile_x,
         cast(greatest(0, least(floor(fy), {int(n) - 1})) AS INT) AS tile_y,
         least(floor((least(fx, {clamp}) - floor(least(fx, {clamp}))) * 4096.0), 4095)::BIGINT AS px,
         least(floor((greatest(0.0, least(fy, {clamp})) - floor(greatest(0.0, least(fy, {clamp})))) * 4096.0), 4095)::BIGINT AS py
  FROM m
)
SELECT tile_x, tile_y, count(*) AS n_points,
       sum(px)::BIGINT AS sum_px, sum(py)::BIGINT AS sum_py,
       min(py)::BIGINT AS min_py, max(py)::BIGINT AS max_py
FROM px GROUP BY 1, 2 ORDER BY tile_x, tile_y
"""


Q_TILE_ASSIGN_MERC_SQL = _merc_sql()


def q_mvt_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship MVT point sink under the FULL value oracle: customers
    -> WebMercator point features with a string tag -> one blob per tile,
    checked on (n_features, mvt_bytes). The blob length is CLOSED-FORM:
    every varint length is a deterministic function of (custkey, px, py)
    and the tile's distinct segments, so the oracle recomputes the exact
    byte count of each tile — a one-byte deviation anywhere in the wire
    layout (framing, dictionaries, zigzag, packed geometry) fails the
    hash. Verified byte-exact against encode_tiles on sf0.001/sf0.01."""
    from vectortiles_spark.operators import tiling

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    pts = cust.select(
        "c_custkey", "c_mktsegment", lon_of(F.col("c_custkey")), lat_of(F.col("c_custkey"))
    )
    feats = tiling.point_features(
        pts, z=6, layer="customers", feature_id=F.col("c_custkey"),
        meta={"segment": F.col("c_mktsegment")},
    )
    return tiling.encode_tiles(feats).select(
        "tile_z", "tile_x", "tile_y",
        F.col("n_features").cast("bigint").alias("n_features"),
        F.length("mvt").cast("bigint").alias("mvt_bytes"),
    ).orderBy("tile_x", "tile_y")


def _vl(expr: str) -> str:
    """SQL varint byte length of a non-negative integer expression."""
    return (
        f"(CASE WHEN {expr} < 128 THEN 1 WHEN {expr} < 16384 THEN 2 "
        f"WHEN {expr} < 2097152 THEN 3 WHEN {expr} < 268435456 THEN 4 ELSE 5 END)"
    )


def _mvt_tiles_sql() -> str:
    """Closed-form blob bytes: layer fixed overhead 16 (name 'customers'
    2+9, version 2, extent 3) + keys 9 ('segment') + per-distinct-segment
    values (4 + strlen) + per-feature 2 + (1+vl(id)) + 4 (tags) + 2 (type)
    + (2 + 1 + vl(zig px) + vl(zig py)); blob = 1 + vl(L) + L."""
    import math as _m

    n = float(1 << _MERC_Z)
    clamp = repr(_m.nextafter(n, 0.0))
    fbytes = (
        f"2 + 1 + {_vl('c_custkey')} + 4 + 2 + 3 + {_vl('2 * px')} + {_vl('2 * py')}"
    )
    return f"""
WITH pts AS (
  SELECT c_custkey, c_mktsegment,
         {_sql_lon('c_custkey')} AS lon, {_sql_lat('c_custkey')} AS lat
  FROM customer
), m AS (
  SELECT c_custkey, c_mktsegment,
         (lon + 180.0) / 360.0 * {n} AS fx,
         (1.0 - ln(tan(radians(lat)) + sqrt(tan(radians(lat)) * tan(radians(lat)) + 1.0)) / pi()) / 2.0 * {n} AS fy
  FROM pts
), g AS (
  SELECT c_custkey, c_mktsegment,
         cast(least(floor(fx), {int(n) - 1}) AS INT) AS tile_x,
         cast(greatest(0, least(floor(fy), {int(n) - 1})) AS INT) AS tile_y,
         least(floor((least(fx, {clamp}) - floor(least(fx, {clamp}))) * 4096.0), 4095)::BIGINT AS px,
         least(floor((greatest(0.0, least(fy, {clamp})) - floor(greatest(0.0, least(fy, {clamp})))) * 4096.0), 4095)::BIGINT AS py
  FROM m
), agg AS (
  SELECT tile_x, tile_y, count(*) AS n_features, sum({fbytes})::BIGINT AS fb
  FROM g GROUP BY 1, 2
), seg AS (
  SELECT tile_x, tile_y, sum(4 + length(s))::BIGINT AS vbytes FROM (
    SELECT DISTINCT tile_x, tile_y, c_mktsegment AS s FROM g
  ) GROUP BY 1, 2
)
SELECT 6 AS tile_z, a.tile_x, a.tile_y, a.n_features::BIGINT AS n_features,
       (1 + {_vl('(25 + s.vbytes + a.fb)')} + 25 + s.vbytes + a.fb)::BIGINT AS mvt_bytes
FROM agg a JOIN seg s USING (tile_x, tile_y)
ORDER BY a.tile_x, a.tile_y
"""


Q_MVT_TILES_SQL = _mvt_tiles_sql()


def q_tile_rescale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extent requantization under the value oracle
    (operators/transform.py:rescale_tiles): the flagship customer point
    tiles are rewritten from extent 4096 to 512 blob-to-blob, decoded
    back, and checked on per-tile feature counts plus the SUMS of the
    decoded zigzag coordinate words — which the oracle recomputes in
    closed form (px' = px * 512 // 4096 = px // 8, zig = 2*px' for the
    non-negative pixel range), so a single mis-scaled or mis-framed
    coordinate anywhere fails the hash."""
    from vectortiles_spark.operators import tiling
    from vectortiles_spark.operators.transform import rescale_tiles

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    pts = cust.select("c_custkey", lon_of(F.col("c_custkey")), lat_of(F.col("c_custkey")))
    feats = tiling.point_features(
        pts, z=_MERC_Z, layer="customers", feature_id=F.col("c_custkey")
    )
    tiles = tiling.encode_tiles(feats)
    decoded = tiling.decode_tiles(rescale_tiles(tiles, 512), extent=512)
    return (
        decoded.groupBy("tile_x", "tile_y")
        .agg(
            F.count("*").alias("n_features"),
            F.sum(F.element_at("geom_cmds", 2)).alias("sum_zx"),
            F.sum(F.element_at("geom_cmds", 3)).alias("sum_zy"),
        )
        .orderBy("tile_x", "tile_y")
    )


def _tile_rescale_sql() -> str:
    import math as _m

    n = float(1 << _MERC_Z)
    clamp = repr(_m.nextafter(n, 0.0))
    return f"""
WITH pts AS (
  SELECT c_custkey, {_sql_lon('c_custkey')} AS lon, {_sql_lat('c_custkey')} AS lat
  FROM customer
), m AS (
  SELECT c_custkey,
         (lon + 180.0) / 360.0 * {n} AS fx,
         (1.0 - ln(tan(radians(lat)) + sqrt(tan(radians(lat)) * tan(radians(lat)) + 1.0)) / pi()) / 2.0 * {n} AS fy
  FROM pts
), g AS (
  SELECT c_custkey,
         cast(least(floor(fx), {int(n) - 1}) AS INT) AS tile_x,
         cast(greatest(0, least(floor(fy), {int(n) - 1})) AS INT) AS tile_y,
         least(floor((least(fx, {clamp}) - floor(least(fx, {clamp}))) * 4096.0), 4095)::BIGINT AS px,
         least(floor((greatest(0.0, least(fy, {clamp})) - floor(greatest(0.0, least(fy, {clamp})))) * 4096.0), 4095)::BIGINT AS py
  FROM m
)
SELECT tile_x, tile_y, count(*) AS n_features,
       sum(2 * (px // 8))::BIGINT AS sum_zx,
       sum(2 * (py // 8))::BIGINT AS sum_zy
FROM g GROUP BY 1, 2
ORDER BY tile_x, tile_y
"""


Q_TILE_RESCALE_SQL = _tile_rescale_sql()


def q_tile_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental tile maintenance under the FULL byte oracle: a previous
    tile set built from orders minus the (o_orderkey % 97 == 0) slice, an
    insert delta of exactly that slice, refresh_tiles re-encoding only the
    dirty tiles — and the oracle is the closed-form varint arithmetic for
    a full rebuild of the CURRENT state, i.e. the check IS the refresh
    invariant (kept + rebuilt ≡ rebuild-everything, to the byte)."""
    from vectortiles_spark.operators import tiling

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")

    def feats(df):
        pts = widen(df).select(
            "o_orderkey", "o_orderpriority",
            lon_of(F.col("o_orderkey")), lat_of(F.col("o_orderkey")),
        )
        return tiling.point_features(
            pts, z=_MERC_Z, layer="orders", feature_id=F.col("o_orderkey"),
            meta={"priority": F.col("o_orderpriority")},
        )

    prev_rows = orders.filter(F.col("o_orderkey") % 97 != 0)
    delta = orders.filter(F.col("o_orderkey") % 97 == 0)
    prev_tiles = tiling.encode_tiles(feats(prev_rows))
    dirty = tiling.dirty_tile_keys(feats(delta))
    out = tiling.refresh_tiles(feats(orders), prev_tiles, dirty)
    return out.select(
        "tile_z", "tile_x", "tile_y",
        F.col("n_features").cast("bigint").alias("n_features"),
        F.length("mvt").cast("bigint").alias("mvt_bytes"),
    ).orderBy("tile_x", "tile_y")


def _tile_refresh_sql() -> str:
    """Closed-form full-rebuild bytes for the orders point layer: layer
    fixed overhead 13 (name 'orders' 2+6, version 2, extent 3) + keys 10
    ('priority' 2+8) + per-distinct-priority value (4 + strlen) +
    the same per-feature shape as _mvt_tiles_sql with vl(o_orderkey)."""
    import math as _m

    n = float(1 << _MERC_Z)
    clamp = repr(_m.nextafter(n, 0.0))
    fbytes = (
        f"2 + 1 + {_vl('o_orderkey')} + 4 + 2 + 3 + {_vl('2 * px')} + {_vl('2 * py')}"
    )
    return f"""
WITH pts AS (
  SELECT o_orderkey, o_orderpriority,
         {_sql_lon('o_orderkey')} AS lon, {_sql_lat('o_orderkey')} AS lat
  FROM orders
), m AS (
  SELECT o_orderkey, o_orderpriority,
         (lon + 180.0) / 360.0 * {n} AS fx,
         (1.0 - ln(tan(radians(lat)) + sqrt(tan(radians(lat)) * tan(radians(lat)) + 1.0)) / pi()) / 2.0 * {n} AS fy
  FROM pts
), g AS (
  SELECT o_orderkey, o_orderpriority,
         cast(least(floor(fx), {int(n) - 1}) AS INT) AS tile_x,
         cast(greatest(0, least(floor(fy), {int(n) - 1})) AS INT) AS tile_y,
         least(floor((least(fx, {clamp}) - floor(least(fx, {clamp}))) * 4096.0), 4095)::BIGINT AS px,
         least(floor((greatest(0.0, least(fy, {clamp})) - floor(greatest(0.0, least(fy, {clamp})))) * 4096.0), 4095)::BIGINT AS py
  FROM m
), agg AS (
  SELECT tile_x, tile_y, count(*) AS n_features, sum({fbytes})::BIGINT AS fb
  FROM g GROUP BY 1, 2
), seg AS (
  SELECT tile_x, tile_y, sum(4 + length(s))::BIGINT AS vbytes FROM (
    SELECT DISTINCT tile_x, tile_y, o_orderpriority AS s FROM g
  ) GROUP BY 1, 2
)
SELECT {_MERC_Z} AS tile_z, a.tile_x, a.tile_y, a.n_features::BIGINT AS n_features,
       (1 + {_vl('(23 + s.vbytes + a.fb)')} + 23 + s.vbytes + a.fb)::BIGINT AS mvt_bytes
FROM agg a JOIN seg s USING (tile_x, tile_y)
ORDER BY a.tile_x, a.tile_y
"""


Q_TILE_REFRESH_SQL = _tile_refresh_sql()


def q_tile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile-set composition under the FULL byte oracle: the customers
    point tiles (q_mvt_tiles) and the orders point tiles (q_tile_refresh's
    full state) built as separate jobs, then merge_tile_sets splices the
    layer frames per (z,x,y) at the wire level — and n_features comes from
    the merger's tag-walk over the blobs, not from the encode stage. The
    oracle is COMPOSITIONAL: layer frames are independent in the MVT wire
    format, so the merged blob length is exactly the sum of the two
    layers' closed-form framed byte counts."""
    from vectortiles_spark.operators import tiling

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    cpts = cust.select(
        "c_custkey", "c_mktsegment", lon_of(F.col("c_custkey")), lat_of(F.col("c_custkey"))
    )
    cust_tiles = tiling.encode_tiles(
        tiling.point_features(
            cpts, z=_MERC_Z, layer="customers", feature_id=F.col("c_custkey"),
            meta={"segment": F.col("c_mktsegment")},
        )
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    opts = orders.select(
        "o_orderkey", "o_orderpriority", lon_of(F.col("o_orderkey")), lat_of(F.col("o_orderkey"))
    )
    ord_tiles = tiling.encode_tiles(
        tiling.point_features(
            opts, z=_MERC_Z, layer="orders", feature_id=F.col("o_orderkey"),
            meta={"priority": F.col("o_orderpriority")},
        )
    )
    merged = tiling.merge_tile_sets(cust_tiles, ord_tiles)
    return merged.select(
        "tile_z", "tile_x", "tile_y",
        F.col("n_features").cast("bigint").alias("n_features"),
        F.col("n_layers").cast("bigint").alias("n_layers"),
        F.length("mvt").cast("bigint").alias("mvt_bytes"),
    ).orderBy("tile_x", "tile_y")


Q_TILE_MERGE_SQL = f"""
WITH c AS (SELECT * FROM ({Q_MVT_TILES_SQL})), o AS (SELECT * FROM ({Q_TILE_REFRESH_SQL}))
SELECT {_MERC_Z} AS tile_z,
       coalesce(c.tile_x, o.tile_x) AS tile_x,
       coalesce(c.tile_y, o.tile_y) AS tile_y,
       (coalesce(c.n_features, 0) + coalesce(o.n_features, 0))::BIGINT AS n_features,
       ((CASE WHEN c.tile_x IS NULL THEN 0 ELSE 1 END)
        + (CASE WHEN o.tile_x IS NULL THEN 0 ELSE 1 END))::BIGINT AS n_layers,
       (coalesce(c.mvt_bytes, 0) + coalesce(o.mvt_bytes, 0))::BIGINT AS mvt_bytes
FROM c FULL JOIN o ON c.tile_x = o.tile_x AND c.tile_y = o.tile_y
ORDER BY tile_x, tile_y
"""


def q_overzoom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blob-to-blob overzoom under the FULL byte oracle: customers tiles
    at z=6 split into their four z=7 children by scaling the DECODED
    parent geometry (no source re-read, zero shuffle) — and the oracle
    replays the doubling arithmetic per point (child = px >= 2048, local
    = 2*px - 4096*child) plus the closed-form varint byte count of every
    child blob, so a one-pixel deviation in the scaled geometry or one
    byte in the re-encoded framing fails the hash."""
    from vectortiles_spark.operators import tiling
    from vectortiles_spark.operators.overzoom import overzoom_tiles

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    pts = cust.select(
        "c_custkey", "c_mktsegment", lon_of(F.col("c_custkey")), lat_of(F.col("c_custkey"))
    )
    parents = tiling.encode_tiles(
        tiling.point_features(
            pts, z=_MERC_Z, layer="customers", feature_id=F.col("c_custkey"),
            meta={"segment": F.col("c_mktsegment")},
        )
    )
    return overzoom_tiles(parents, levels=1).select(
        "tile_z", "tile_x", "tile_y",
        F.col("n_features").cast("bigint").alias("n_features"),
        F.length("mvt").cast("bigint").alias("mvt_bytes"),
    ).orderBy("tile_x", "tile_y")


def _overzoom_sql() -> str:
    """The q_mvt_tiles closed form, one level down: parent px doubles,
    the high bit picks the child, and the byte arithmetic re-runs on the
    child-local coordinates."""
    import math as _m

    n = float(1 << _MERC_Z)
    clamp = repr(_m.nextafter(n, 0.0))
    fbytes = (
        f"2 + 1 + {_vl('c_custkey')} + 4 + 2 + 3 + {_vl('2 * cpx')} + {_vl('2 * cpy')}"
    )
    return f"""
WITH pts AS (
  SELECT c_custkey, c_mktsegment,
         {_sql_lon('c_custkey')} AS lon, {_sql_lat('c_custkey')} AS lat
  FROM customer
), m AS (
  SELECT c_custkey, c_mktsegment,
         (lon + 180.0) / 360.0 * {n} AS fx,
         (1.0 - ln(tan(radians(lat)) + sqrt(tan(radians(lat)) * tan(radians(lat)) + 1.0)) / pi()) / 2.0 * {n} AS fy
  FROM pts
), g AS (
  SELECT c_custkey, c_mktsegment,
         cast(least(floor(fx), {int(n) - 1}) AS INT) AS tile_x,
         cast(greatest(0, least(floor(fy), {int(n) - 1})) AS INT) AS tile_y,
         least(floor((least(fx, {clamp}) - floor(least(fx, {clamp}))) * 4096.0), 4095)::BIGINT AS px,
         least(floor((greatest(0.0, least(fy, {clamp})) - floor(greatest(0.0, least(fy, {clamp})))) * 4096.0), 4095)::BIGINT AS py
  FROM m
), c AS (
  SELECT c_custkey, c_mktsegment,
         tile_x * 2 + (px >= 2048)::INT AS tile_x2,
         tile_y * 2 + (py >= 2048)::INT AS tile_y2,
         2 * px - 4096 * (px >= 2048)::BIGINT AS cpx,
         2 * py - 4096 * (py >= 2048)::BIGINT AS cpy
  FROM g
), agg AS (
  SELECT tile_x2, tile_y2, count(*) AS n_features, sum({fbytes})::BIGINT AS fb
  FROM c GROUP BY 1, 2
), seg AS (
  SELECT tile_x2, tile_y2, sum(4 + length(s))::BIGINT AS vbytes FROM (
    SELECT DISTINCT tile_x2, tile_y2, c_mktsegment AS s FROM c
  ) GROUP BY 1, 2
)
SELECT {_MERC_Z + 1} AS tile_z, a.tile_x2 AS tile_x, a.tile_y2 AS tile_y,
       a.n_features::BIGINT AS n_features,
       (1 + {_vl('(25 + s.vbytes + a.fb)')} + 25 + s.vbytes + a.fb)::BIGINT AS mvt_bytes
FROM agg a JOIN seg s USING (tile_x2, tile_y2)
ORDER BY a.tile_x2, a.tile_y2
"""


Q_OVERZOOM_SQL = _overzoom_sql()


def q_downzoom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blob-to-blob downzoom (overview derivation) under the FULL byte
    oracle: customers tiles at z=6 merge into their z=5 parents by
    halving coordinates (operators/downzoom.py — one bounded-group
    shuffle, no source re-read). The oracle replays the floor-halving per
    point (parent px = (px + 4096*(tile_x % 2)) // 2) plus the
    closed-form varint byte count of every parent blob, so a one-pixel
    deviation in the merged geometry or one byte of framing fails the
    hash."""
    from vectortiles_spark.operators import tiling
    from vectortiles_spark.operators.downzoom import downzoom_tiles

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    pts = widen(cust).select(
        "c_custkey", "c_mktsegment", lon_of(F.col("c_custkey")), lat_of(F.col("c_custkey"))
    )
    children = tiling.encode_tiles(
        tiling.point_features(
            pts, z=_MERC_Z, layer="customers", feature_id=F.col("c_custkey"),
            meta={"segment": F.col("c_mktsegment")},
        )
    )
    return downzoom_tiles(children, levels=1).select(
        "tile_z", "tile_x", "tile_y",
        F.col("n_features").cast("bigint").alias("n_features"),
        F.length("mvt").cast("bigint").alias("mvt_bytes"),
    ).orderBy("tile_x", "tile_y")


def _downzoom_sql() -> str:
    """The q_mvt_tiles closed form, one level UP: the tile key's low bit
    offsets the child into the parent frame and the coordinate floor-
    halves; the byte arithmetic re-runs on the parent-local points.
    Points are never dropped by downzoom, so counts are plain sums."""
    import math as _m

    n = float(1 << _MERC_Z)
    clamp = repr(_m.nextafter(n, 0.0))
    fbytes = (
        f"2 + 1 + {_vl('c_custkey')} + 4 + 2 + 3 + {_vl('2 * ppx')} + {_vl('2 * ppy')}"
    )
    return f"""
WITH pts AS (
  SELECT c_custkey, c_mktsegment,
         {_sql_lon('c_custkey')} AS lon, {_sql_lat('c_custkey')} AS lat
  FROM customer
), m AS (
  SELECT c_custkey, c_mktsegment,
         (lon + 180.0) / 360.0 * {n} AS fx,
         (1.0 - ln(tan(radians(lat)) + sqrt(tan(radians(lat)) * tan(radians(lat)) + 1.0)) / pi()) / 2.0 * {n} AS fy
  FROM pts
), g AS (
  SELECT c_custkey, c_mktsegment,
         cast(least(floor(fx), {int(n) - 1}) AS INT) AS tile_x,
         cast(greatest(0, least(floor(fy), {int(n) - 1})) AS INT) AS tile_y,
         least(floor((least(fx, {clamp}) - floor(least(fx, {clamp}))) * 4096.0), 4095)::BIGINT AS px,
         least(floor((greatest(0.0, least(fy, {clamp})) - floor(greatest(0.0, least(fy, {clamp})))) * 4096.0), 4095)::BIGINT AS py
  FROM m
), c AS (
  SELECT c_custkey, c_mktsegment,
         cast(floor(tile_x / 2.0) AS INT) AS tile_xp,
         cast(floor(tile_y / 2.0) AS INT) AS tile_yp,
         cast(floor((px + 4096 * (tile_x % 2)) / 2.0) AS BIGINT) AS ppx,
         cast(floor((py + 4096 * (tile_y % 2)) / 2.0) AS BIGINT) AS ppy
  FROM g
), agg AS (
  SELECT tile_xp, tile_yp, count(*) AS n_features, sum({fbytes})::BIGINT AS fb
  FROM c GROUP BY 1, 2
), seg AS (
  SELECT tile_xp, tile_yp, sum(4 + length(s))::BIGINT AS vbytes FROM (
    SELECT DISTINCT tile_xp, tile_yp, c_mktsegment AS s FROM c
  ) GROUP BY 1, 2
)
SELECT {_MERC_Z - 1} AS tile_z, a.tile_xp AS tile_x, a.tile_yp AS tile_y,
       a.n_features::BIGINT AS n_features,
       (1 + {_vl('(25 + s.vbytes + a.fb)')} + 25 + s.vbytes + a.fb)::BIGINT AS mvt_bytes
FROM agg a JOIN seg s USING (tile_xp, tile_yp)
ORDER BY a.tile_xp, a.tile_yp
"""


Q_DOWNZOOM_SQL = _downzoom_sql()


def q_tilestats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tileset statistics (the mbtiles-spec tilestats grain) under an
    exact oracle: customers encode at z=6 with a string attribute
    (segment) and a double attribute (acctbal), the finished BLOBS decode
    back, and per-attribute type/count/distinct/range plus the layer
    rollup must equal DuckDB's direct aggregation of the source relation
    — proving the meta typing survives the wire byte-exactly (VAL_DOUBLE
    is float64 on the wire, so min/max come back bit-identical)."""
    from vectortiles_spark.operators import tiling
    from vectortiles_spark.operators.tilestats import tilestats

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    pts = widen(cust).select(
        "c_custkey", "c_mktsegment", "c_acctbal",
        lon_of(F.col("c_custkey")), lat_of(F.col("c_custkey")),
    )
    tiles = tiling.encode_tiles(
        tiling.point_features(
            pts, z=_MERC_Z, layer="customers", feature_id=F.col("c_custkey"),
            meta={"segment": F.col("c_mktsegment"), "acctbal": F.col("c_acctbal")},
        )
    )
    return tilestats(tiles).select(
        "layer", "attribute", "att_type",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
        "min_num", "max_num", "min_str", "max_str",
        F.col("n_features").cast("bigint").alias("n_features"),
        F.col("n_points").cast("bigint").alias("n_points"),
        F.col("n_lines").cast("bigint").alias("n_lines"),
        F.col("n_polys").cast("bigint").alias("n_polys"),
        F.col("n_tiles").cast("bigint").alias("n_tiles"),
    ).orderBy("attribute")


def _tilestats_sql() -> str:
    import math as _m

    n = float(1 << _MERC_Z)
    clamp = repr(_m.nextafter(n, 0.0))
    return f"""
WITH pts AS (
  SELECT c_custkey, c_mktsegment, c_acctbal,
         {_sql_lon('c_custkey')} AS lon, {_sql_lat('c_custkey')} AS lat
  FROM customer
), m AS (
  SELECT c_custkey, c_mktsegment, c_acctbal,
         (lon + 180.0) / 360.0 * {n} AS fx,
         (1.0 - ln(tan(radians(lat)) + sqrt(tan(radians(lat)) * tan(radians(lat)) + 1.0)) / pi()) / 2.0 * {n} AS fy
  FROM pts
), g AS (
  SELECT c_custkey, c_mktsegment, c_acctbal,
         cast(least(floor(fx), {int(n) - 1}) AS INT) AS tile_x,
         cast(greatest(0, least(floor(fy), {int(n) - 1})) AS INT) AS tile_y
  FROM m
), lay AS (
  SELECT count(*)::BIGINT AS n_features,
         count(*)::BIGINT AS n_points,
         count(DISTINCT (tile_x, tile_y))::BIGINT AS n_tiles
  FROM g
)
SELECT 'customers' AS layer, 'acctbal' AS attribute, 'number' AS att_type,
       (SELECT count(*) FROM g)::BIGINT AS n_rows,
       (SELECT count(DISTINCT c_acctbal) FROM g)::BIGINT AS n_distinct,
       (SELECT min(c_acctbal) FROM g) AS min_num,
       (SELECT max(c_acctbal) FROM g) AS max_num,
       NULL::VARCHAR AS min_str, NULL::VARCHAR AS max_str,
       n_features, n_points, 0::BIGINT AS n_lines, 0::BIGINT AS n_polys, n_tiles
FROM lay
UNION ALL
SELECT 'customers', 'segment', 'string',
       (SELECT count(*) FROM g)::BIGINT,
       (SELECT count(DISTINCT c_mktsegment) FROM g)::BIGINT,
       NULL::DOUBLE, NULL::DOUBLE,
       (SELECT min(c_mktsegment) FROM g), (SELECT max(c_mktsegment) FROM g),
       n_features, n_points, 0::BIGINT, 0::BIGINT, n_tiles
FROM lay
ORDER BY attribute
"""


Q_TILESTATS_SQL = _tilestats_sql()


def q_tile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blob-to-blob feature filtering (tippecanoe -j parity) under the
    FULL byte oracle: customers tiles at z=6 keep only three of the five
    market segments; the rewritten blobs' exact byte counts must match
    the closed-form varint arithmetic of a tile built from the filtered
    relation — including the shrunken per-tile value dictionaries. Tiles
    whose features all drop must leave the relation entirely. Zero
    shuffle (operators/transform.py)."""
    from vectortiles_spark.operators import tiling
    from vectortiles_spark.operators.transform import filter_tile_features

    keep = {"AUTOMOBILE", "BUILDING", "MACHINERY"}
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    pts = cust.select(
        "c_custkey", "c_mktsegment", lon_of(F.col("c_custkey")), lat_of(F.col("c_custkey"))
    )
    tiles = tiling.encode_tiles(
        tiling.point_features(
            pts, z=_MERC_Z, layer="customers", feature_id=F.col("c_custkey"),
            meta={"segment": F.col("c_mktsegment")},
        )
    )
    kept = filter_tile_features(
        tiles, lambda name, f: f.metadata["segment"][1] in keep
    )
    return kept.select(
        "tile_z", "tile_x", "tile_y",
        F.col("n_features").cast("bigint").alias("n_features"),
        F.length("mvt").cast("bigint").alias("mvt_bytes"),
    ).orderBy("tile_x", "tile_y")


def _tile_filter_sql() -> str:
    import math as _m

    n = float(1 << _MERC_Z)
    clamp = repr(_m.nextafter(n, 0.0))
    fbytes = (
        f"2 + 1 + {_vl('c_custkey')} + 4 + 2 + 3 + {_vl('2 * px')} + {_vl('2 * py')}"
    )
    return f"""
WITH pts AS (
  SELECT c_custkey, c_mktsegment,
         {_sql_lon('c_custkey')} AS lon, {_sql_lat('c_custkey')} AS lat
  FROM customer
  WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING', 'MACHINERY')
), m AS (
  SELECT c_custkey, c_mktsegment,
         (lon + 180.0) / 360.0 * {n} AS fx,
         (1.0 - ln(tan(radians(lat)) + sqrt(tan(radians(lat)) * tan(radians(lat)) + 1.0)) / pi()) / 2.0 * {n} AS fy
  FROM pts
), g AS (
  SELECT c_custkey, c_mktsegment,
         cast(least(floor(fx), {int(n) - 1}) AS INT) AS tile_x,
         cast(greatest(0, least(floor(fy), {int(n) - 1})) AS INT) AS tile_y,
         least(floor((least(fx, {clamp}) - floor(least(fx, {clamp}))) * 4096.0), 4095)::BIGINT AS px,
         least(floor((greatest(0.0, least(fy, {clamp})) - floor(greatest(0.0, least(fy, {clamp})))) * 4096.0), 4095)::BIGINT AS py
  FROM m
), agg AS (
  SELECT tile_x, tile_y, count(*) AS n_features, sum({fbytes})::BIGINT AS fb
  FROM g GROUP BY 1, 2
), seg AS (
  SELECT tile_x, tile_y, sum(4 + length(s))::BIGINT AS vbytes FROM (
    SELECT DISTINCT tile_x, tile_y, c_mktsegment AS s FROM g
  ) GROUP BY 1, 2
)
SELECT {_MERC_Z} AS tile_z, a.tile_x, a.tile_y,
       a.n_features::BIGINT AS n_features,
       (1 + {_vl('(25 + s.vbytes + a.fb)')} + 25 + s.vbytes + a.fb)::BIGINT AS mvt_bytes
FROM agg a JOIN seg s USING (tile_x, tile_y)
ORDER BY a.tile_x, a.tile_y
"""


Q_TILE_FILTER_SQL = _tile_filter_sql()


def q_tile_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blob-to-blob attribute enrichment (tile-join -c parity) under an
    exact join oracle: a per-segment dimension (min custkey, member
    count) derived from the source joins onto every feature of the
    finished customer tiles, the blobs decode back, and each feature's
    appended typed metadata must equal DuckDB's direct relational join.
    The dimension broadcasts; the blob rewrite is zero-shuffle."""
    from vectortiles_spark.operators import tiling
    from vectortiles_spark.operators.transform import enrich_tile_features

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    pts = cust.select(
        "c_custkey", "c_mktsegment", lon_of(F.col("c_custkey")), lat_of(F.col("c_custkey"))
    )
    tiles = tiling.encode_tiles(
        tiling.point_features(
            pts, z=_MERC_Z, layer="customers", feature_id=F.col("c_custkey"),
            meta={"segment": F.col("c_mktsegment")},
        )
    )
    dim = cust.groupBy("c_mktsegment").agg(
        F.min("c_custkey").alias("seg_min_key"),
        F.count("*").alias("seg_n"),
    ).select(F.col("c_mktsegment").alias("segment"), "seg_min_key", "seg_n")
    enriched = enrich_tile_features(tiles, dim, on="segment")
    dec = tiling.decode_tiles(enriched)

    def meta_val(key, field):
        return F.element_at(
            F.filter("meta", lambda m: m["key"] == key), 1
        )[field]

    return dec.select(
        F.col("feature_id").alias("c_custkey"),
        meta_val("segment", "s").alias("segment"),
        meta_val("seg_min_key", "i").cast("bigint").alias("seg_min_key"),
        meta_val("seg_n", "i").cast("bigint").alias("seg_n"),
    ).orderBy("c_custkey")


Q_TILE_ENRICH_SQL = """
WITH dim AS (
  SELECT c_mktsegment, min(c_custkey) AS k, count(*) AS n
  FROM customer GROUP BY 1
)
SELECT c.c_custkey, c.c_mktsegment AS segment,
       d.k::BIGINT AS seg_min_key, d.n::BIGINT AS seg_n
FROM customer c JOIN dim d USING (c_mktsegment)
ORDER BY c.c_custkey
"""


def q_tile_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile-set change detection under a closed-form oracle: two builds of
    the customers layer from overlapping subsets (custkey % 11 != 0 vs
    % 7 != 0) diffed key-by-key. The Spark side classifies by comparing
    xxhash64 of the actual blobs; the oracle classifies by MEMBERSHIP
    (symmetric-difference count per tile) and recomputes both sides' exact
    varint byte counts — so a hash-based 'changed' can only match the
    membership-based verdict if the engine's encode is deterministic and
    byte-stable, which makes this query a determinism gate too."""
    from vectortiles_spark.operators import tiling

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")

    def tiles(df):
        pts = df.select(
            "c_custkey", "c_mktsegment",
            lon_of(F.col("c_custkey")), lat_of(F.col("c_custkey")),
        )
        return tiling.encode_tiles(
            tiling.point_features(
                pts, z=_MERC_Z, layer="customers", feature_id=F.col("c_custkey"),
                meta={"segment": F.col("c_mktsegment")},
            )
        )

    old = tiles(cust.filter(F.col("c_custkey") % 11 != 0))
    new = tiles(cust.filter(F.col("c_custkey") % 7 != 0))
    return tiling.diff_tile_sets(old, new, include_unchanged=True).orderBy(
        "tile_x", "tile_y"
    )


def _tile_diff_sql() -> str:
    """Both sides' blob bytes via the q_mvt_tiles closed form, statuses via
    per-tile membership: added = no old members, removed = no new members,
    unchanged = zero symmetric difference, else changed."""
    import math as _m

    n = float(1 << _MERC_Z)
    clamp = repr(_m.nextafter(n, 0.0))
    fbytes = (
        f"2 + 1 + {_vl('c_custkey')} + 4 + 2 + 3 + {_vl('2 * px')} + {_vl('2 * py')}"
    )
    blob = "1 + {vl} + 25 + vb{s} + fb{s}".format
    return f"""
WITH pts AS (
  SELECT c_custkey, c_mktsegment,
         {_sql_lon('c_custkey')} AS lon, {_sql_lat('c_custkey')} AS lat,
         (c_custkey % 11 <> 0) AS in_old, (c_custkey % 7 <> 0) AS in_new
  FROM customer
), m AS (
  SELECT c_custkey, c_mktsegment, in_old, in_new,
         (lon + 180.0) / 360.0 * {n} AS fx,
         (1.0 - ln(tan(radians(lat)) + sqrt(tan(radians(lat)) * tan(radians(lat)) + 1.0)) / pi()) / 2.0 * {n} AS fy
  FROM pts
), g AS (
  SELECT c_custkey, c_mktsegment, in_old, in_new,
         cast(least(floor(fx), {int(n) - 1}) AS INT) AS tile_x,
         cast(greatest(0, least(floor(fy), {int(n) - 1})) AS INT) AS tile_y,
         least(floor((least(fx, {clamp}) - floor(least(fx, {clamp}))) * 4096.0), 4095)::BIGINT AS px,
         least(floor((greatest(0.0, least(fy, {clamp})) - floor(greatest(0.0, least(fy, {clamp})))) * 4096.0), 4095)::BIGINT AS py
  FROM m
), agg AS (
  SELECT tile_x, tile_y,
         count(*) FILTER (WHERE in_old) AS n_old,
         count(*) FILTER (WHERE in_new) AS n_new,
         coalesce(sum({fbytes}) FILTER (WHERE in_old), 0)::BIGINT AS fbold,
         coalesce(sum({fbytes}) FILTER (WHERE in_new), 0)::BIGINT AS fbnew,
         count(*) FILTER (WHERE in_old <> in_new) AS n_sym
  FROM g GROUP BY 1, 2
), seg AS (
  SELECT tile_x, tile_y,
         coalesce(sum(4 + length(s)) FILTER (WHERE o), 0)::BIGINT AS vbold,
         coalesce(sum(4 + length(s)) FILTER (WHERE nn), 0)::BIGINT AS vbnew
  FROM (
    SELECT tile_x, tile_y, c_mktsegment AS s,
           bool_or(in_old) AS o, bool_or(in_new) AS nn
    FROM g GROUP BY 1, 2, 3
  ) GROUP BY 1, 2
)
SELECT {_MERC_Z} AS tile_z, a.tile_x, a.tile_y,
       CASE WHEN n_old = 0 THEN 'added'
            WHEN n_new = 0 THEN 'removed'
            WHEN n_sym = 0 THEN 'unchanged'
            ELSE 'changed' END AS status,
       CASE WHEN n_old = 0 THEN NULL ELSE n_old END::BIGINT AS n_features_old,
       CASE WHEN n_new = 0 THEN NULL ELSE n_new END::BIGINT AS n_features_new,
       CASE WHEN n_old = 0 THEN NULL ELSE
         {blob(vl=_vl('(25 + vbold + fbold)'), s='old')} END::BIGINT AS mvt_bytes_old,
       CASE WHEN n_new = 0 THEN NULL ELSE
         {blob(vl=_vl('(25 + vbnew + fbnew)'), s='new')} END::BIGINT AS mvt_bytes_new
FROM agg a JOIN seg s USING (tile_x, tile_y)
WHERE n_old > 0 OR n_new > 0
ORDER BY a.tile_x, a.tile_y
"""


Q_TILE_DIFF_SQL = _tile_diff_sql()


def q_rasterize_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector -> raster under the value oracle: customers binned into
    16x16 density grids per z=5 equirectangular tile with an account-
    balance weight — sparse (tile, cell) rows out, one hash aggregate,
    shuffle bounded by OUTPUT cardinality (the operator docstring's
    map-side-combine argument, exercised here against exact SQL)."""
    from vectortiles_spark.operators.raster import rasterize_points

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    pts = cust.select(
        "c_acctbal", lon_of(F.col("c_custkey")), lat_of(F.col("c_custkey"))
    )
    return rasterize_points(
        pts, z=5, cells=16, weight="c_acctbal", projection="equirect"
    ).orderBy("tile_x", "tile_y", "cell_x", "cell_y")


def _rasterize_sql() -> str:
    n = float(1 << 5)
    top = (1 << 5) - 1
    return f"""
WITH pts AS (
  SELECT c_acctbal, {_sql_lon('c_custkey')} AS lon, {_sql_lat('c_custkey')} AS lat
  FROM customer
), f AS (
  SELECT c_acctbal,
         (lon + 180.0) / 360.0 * {n} AS fx,
         (85.0 - lat) / 170.0 * {n} AS fy
  FROM pts
), g AS (
  SELECT c_acctbal,
         cast(least(floor(fx), {float(top)}) AS INT) AS tile_x,
         cast(least(floor(fy), {float(top)}) AS INT) AS tile_y,
         cast(least(floor((fx - floor(least(fx, {float(top)}))) * 4096.0), 4095.0) AS INT) AS px,
         cast(least(floor((fy - floor(least(fy, {float(top)}))) * 4096.0), 4095.0) AS INT) AS py
  FROM f
)
SELECT 5 AS tile_z, tile_x, tile_y, px // 256 AS cell_x, py // 256 AS cell_y,
       count(*) AS n, round(sum(c_acctbal), 2) AS w_sum
FROM g GROUP BY 1, 2, 3, 4, 5
ORDER BY tile_x, tile_y, cell_x, cell_y
"""


Q_RASTERIZE_DENSITY_SQL = _rasterize_sql()


def q_rasterize_polygons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon scanline fill under the value oracle
    (operators/raster.py:rasterize_polygons — the D7 inverse): one
    deterministic axis-aligned rectangle per customer, rasterized per
    tile at 64x64 with even-odd pixel-center sampling, aggregated to
    per-tile covered-cell count + index sum. The oracle replays coverage
    in closed form — a rect covers center (cx, cy) iff
    x0 <= 64*cx + 32 < x1 (integer-exact: vertical edges cross with no
    division) — and unions overlapping rects with DISTINCT, exactly the
    operator's union-across-features rule."""
    from vectortiles_spark.operators import tiling
    from vectortiles_spark.operators.raster import rasterize_polygons

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey")
    x0 = (k * 131 % 3000).cast("double")
    y0 = (k * 197 % 3000).cast("double")
    x1 = x0 + (k * 89 % 900).cast("double") + 64.0
    y1 = y0 + (k * 53 % 900).cast("double") + 64.0
    ring = F.array(
        F.array(x0, y0), F.array(x1, y0), F.array(x1, y1),
        F.array(x0, y1), F.array(x0, y0),
    )
    feats = tiling.geom_features(
        widen(cust).select(
            F.lit(3).alias("tile_z"),
            (k * 3 % 8).cast("int").alias("tile_x"),
            (k * 5 % 8).cast("int").alias("tile_y"),
            F.lit("rects").alias("layer"),
            F.lit(3).alias("geom_type"),
            k.alias("feature_id"),
            F.array(F.array(ring)).alias("geom"),
        )
    )
    cells = rasterize_polygons(feats, w=64, h=64, output="cells")
    return (
        cells.groupBy("tile_x", "tile_y")
        .agg(
            F.count("*").alias("n_cells"),
            F.sum(F.col("cell_y") * 64 + F.col("cell_x")).alias("sum_idx"),
        )
        .orderBy("tile_x", "tile_y")
    )


Q_RASTERIZE_POLYGONS_SQL = """
WITH r AS (
  SELECT (c_custkey * 3) % 8 AS tile_x, (c_custkey * 5) % 8 AS tile_y,
         (c_custkey * 131) % 3000 AS x0, (c_custkey * 197) % 3000 AS y0,
         (c_custkey * 131) % 3000 + (c_custkey * 89) % 900 + 64 AS x1,
         (c_custkey * 197) % 3000 + (c_custkey * 53) % 900 + 64 AS y1
  FROM customer
), cov AS (
  SELECT DISTINCT r.tile_x, r.tile_y, cx.range AS cx, cy.range AS cy
  FROM r, range(64) cx, range(64) cy
  WHERE x0 <= 64 * cx.range + 32 AND 64 * cx.range + 32 < x1
    AND y0 <= 64 * cy.range + 32 AND 64 * cy.range + 32 < y1
)
SELECT tile_x::INT AS tile_x, tile_y::INT AS tile_y,
       count(*) AS n_cells, sum(cy * 64 + cx)::BIGINT AS sum_idx
FROM cov GROUP BY 1, 2
ORDER BY tile_x, tile_y
"""


def q_trajectory_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory segmentation under the value oracle
    (operators/trajectory.py:segment_trajectories): events become pings
    (user, ts, deterministic lon/lat from the event id), split at 900 s
    gaps, aggregated to per-segment ping counts, exact fractional-epoch
    durations, and cm-rounded haversine distances. The DuckDB twin spells
    the identical window + haversine arithmetic."""
    from vectortiles_spark.operators.trajectory import segment_trajectories

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    pings = ev.select(
        "user_id", "ts", "event_id",
        lon_of(F.col("event_id")), lat_of(F.col("event_id")),
    )
    return (
        segment_trajectories(
            pings, gap_s=900.0, id_col="user_id", order_col="event_id"
        )
        .orderBy("user_id", "segment")
    )


def _trajectory_sql() -> str:
    from vectortiles_spark.functions.geodesic import haversine_sql

    hav = haversine_sql("plon", "plat", "lon", "lat")
    return f"""
WITH p AS (
  SELECT user_id, ts, event_id,
         {_sql_lon('event_id')} AS lon, {_sql_lat('event_id')} AS lat
  FROM events
), g AS (
  SELECT user_id, ts, event_id, lon, lat,
         lag(ts) OVER w AS pts,
         lag(lon) OVER w AS plon, lag(lat) OVER w AS plat
  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), f AS (
  SELECT user_id, ts, event_id,
         CASE WHEN pts IS NULL OR epoch(ts) - epoch(pts) > 900.0
              THEN 1 ELSE 0 END AS new_seg,
         CASE WHEN pts IS NULL OR epoch(ts) - epoch(pts) > 900.0
              THEN 0.0 ELSE {hav} END AS leg
  FROM g
), s AS (
  SELECT user_id, ts, leg,
         sum(new_seg) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING
         ) AS segment
  FROM f
)
SELECT user_id, segment::BIGINT AS segment, count(*) AS n_pings,
       min(ts) AS start_ts, max(ts) AS end_ts,
       epoch(max(ts)) - epoch(min(ts)) AS duration_s,
       round(sum(leg), 2) AS dist_m
FROM s GROUP BY user_id, segment
ORDER BY user_id, segment
"""


Q_TRAJECTORY_SEGMENTS_SQL = _trajectory_sql()


def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal statistics under the value oracle
    (operators/raster.py:zonal_stats): one deterministic rectangle per
    customer (same arithmetic as q_rasterize_polygons) against a
    deterministic 64x64 raster per tile whose pixel value is the closed
    form (tile_x*31 + row*17 + col*13) % 251 — so count/sum/min/max and
    the one-division mean all replay exactly in SQL."""
    import numpy as np
    import pandas as pd

    from vectortiles_spark.operators import tiling
    from vectortiles_spark.operators.raster import zonal_stats

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey")
    x0 = (k * 131 % 3000).cast("double")
    y0 = (k * 197 % 3000).cast("double")
    x1 = x0 + (k * 89 % 900).cast("double") + 64.0
    y1 = y0 + (k * 53 % 900).cast("double") + 64.0
    ring = F.array(
        F.array(x0, y0), F.array(x1, y0), F.array(x1, y1),
        F.array(x0, y1), F.array(x0, y0),
    )
    feats = tiling.geom_features(
        widen(cust).select(
            F.lit(3).alias("tile_z"),
            (k * 3 % 8).cast("int").alias("tile_x"),
            (k * 5 % 8).cast("int").alias("tile_y"),
            F.lit("rects").alias("layer"),
            F.lit(3).alias("geom_type"),
            k.alias("feature_id"),
            F.array(F.array(ring)).alias("geom"),
        )
    )
    rows, cols = np.arange(64)[:, None], np.arange(64)[None, :]
    rasters = spark.createDataFrame(
        pd.DataFrame(
            [
                {"tile_z": 3, "tile_x": tx, "tile_y": ty, "w": 64, "h": 64,
                 "px": ((tx * 31 + rows * 17 + cols * 13) % 251)
                 .astype(np.uint8).tobytes()}
                for tx in range(8) for ty in range(8)
            ]
        )
    )
    return (
        zonal_stats(feats, rasters)
        .select("feature_id", "n_px", "sum_val", "min_val", "max_val", "mean_val")
        .orderBy("feature_id")
    )


Q_ZONAL_STATS_SQL = """
WITH r AS (
  SELECT c_custkey AS feature_id,
         (c_custkey * 3) % 8 AS tile_x,
         (c_custkey * 131) % 3000 AS x0, (c_custkey * 197) % 3000 AS y0,
         (c_custkey * 131) % 3000 + (c_custkey * 89) % 900 + 64 AS x1,
         (c_custkey * 197) % 3000 + (c_custkey * 53) % 900 + 64 AS y1
  FROM customer
), cov AS (
  SELECT feature_id,
         (tile_x * 31 + cy.range * 17 + cx.range * 13) % 251 AS val
  FROM r, range(64) cx, range(64) cy
  WHERE x0 <= 64 * cx.range + 32 AND 64 * cx.range + 32 < x1
    AND y0 <= 64 * cy.range + 32 AND 64 * cy.range + 32 < y1
)
SELECT r.feature_id,
       coalesce(c.n_px, 0) AS n_px,
       coalesce(c.sum_val, 0) AS sum_val,
       c.min_val::INT AS min_val, c.max_val::INT AS max_val,
       c.mean_val AS mean_val
FROM r LEFT JOIN (
  SELECT feature_id, count(*) AS n_px, sum(val)::BIGINT AS sum_val,
         min(val) AS min_val, max(val) AS max_val,
         sum(val)::DOUBLE / count(*) AS mean_val
  FROM cov GROUP BY feature_id
) c USING (feature_id)
ORDER BY r.feature_id
"""


def q_cap_tile_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-budget tile cap under the value oracle
    (operators/tiling.py:cap_tile_bytes — the tippecanoe
    --maximum-tile-bytes analog): customer point features at z=3, each
    tile keeping the longest custkey-ordered prefix whose additive
    geometry wire cost stays within 64 bytes. The oracle restates the
    varint cost closed-form (same algebra as Q_MVT_TILES_SQL) and replays
    the running-sum prefix rule with a window."""
    from vectortiles_spark.operators import tiling

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    pts = cust.select(
        "c_custkey", lon_of(F.col("c_custkey")), lat_of(F.col("c_custkey"))
    )
    feats = tiling.point_features(
        pts, z=3, layer="customers", feature_id=F.col("c_custkey")
    )
    capped = tiling.cap_tile_bytes(feats, max_bytes=64)
    return (
        capped.withColumn("__b", tiling.geometry_wire_bytes(capped))
        .groupBy("tile_x", "tile_y")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("__b").alias("bytes_kept"),
            F.max("feature_id").alias("last_kept"),
        )
        .orderBy("tile_x", "tile_y")
    )


def _cap_tile_bytes_sql() -> str:
    import math as _m

    n = float(1 << 3)
    clamp = repr(_m.nextafter(n, 0.0))

    def vlen(v: str) -> str:
        return f"(CASE WHEN ({v}) < 128 THEN 1 WHEN ({v}) < 16384 THEN 2 ELSE 3 END)"

    payload = f"1 + {vlen('2 * px')} + {vlen('2 * py')}"
    return f"""
WITH pts AS (
  SELECT c_custkey, {_sql_lon('c_custkey')} AS lon, {_sql_lat('c_custkey')} AS lat
  FROM customer
), m AS (
  SELECT c_custkey,
         (lon + 180.0) / 360.0 * {n} AS fx,
         (1.0 - ln(tan(radians(lat)) + sqrt(tan(radians(lat)) * tan(radians(lat)) + 1.0)) / pi()) / 2.0 * {n} AS fy
  FROM pts
), g AS (
  SELECT c_custkey,
         cast(least(floor(fx), {int(n) - 1}) AS INT) AS tile_x,
         cast(greatest(0, least(floor(fy), {int(n) - 1})) AS INT) AS tile_y,
         least(floor((least(fx, {clamp}) - floor(least(fx, {clamp}))) * 4096.0), 4095)::BIGINT AS px,
         least(floor((greatest(0.0, least(fy, {clamp})) - floor(greatest(0.0, least(fy, {clamp})))) * 4096.0), 4095)::BIGINT AS py
  FROM m
), costed AS (
  SELECT c_custkey, tile_x, tile_y,
         ({payload}) + {vlen(payload)} + 1 AS b
  FROM g
), run AS (
  SELECT *, sum(b) OVER (
    PARTITION BY tile_x, tile_y ORDER BY c_custkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS rb
  FROM costed
)
SELECT tile_x, tile_y, count(*) AS n_kept, sum(b)::BIGINT AS bytes_kept,
       max(c_custkey) AS last_kept
FROM run WHERE rb <= 64
GROUP BY 1, 2 ORDER BY tile_x, tile_y
"""


Q_CAP_TILE_BYTES_SQL = _cap_tile_bytes_sql()


def q_zonal_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal majority under the value oracle
    (operators/raster.py:zonal_mode): q_zonal_stats's rectangles against
    a CATEGORICAL raster (class = (tile_x*5 + row//8 + col//8) % 11 —
    blocky landcover-style regions with real ties); the most frequent
    class per polygon with ties to the smallest value replays in SQL as
    ORDER BY count DESC, val ASC."""
    import numpy as np
    import pandas as pd

    from vectortiles_spark.operators import tiling
    from vectortiles_spark.operators.raster import zonal_mode

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey")
    x0 = (k * 131 % 3000).cast("double")
    y0 = (k * 197 % 3000).cast("double")
    x1 = x0 + (k * 89 % 900).cast("double") + 64.0
    y1 = y0 + (k * 53 % 900).cast("double") + 64.0
    ring = F.array(
        F.array(x0, y0), F.array(x1, y0), F.array(x1, y1),
        F.array(x0, y1), F.array(x0, y0),
    )
    feats = tiling.geom_features(
        widen(cust).select(
            F.lit(3).alias("tile_z"),
            (k * 3 % 8).cast("int").alias("tile_x"),
            (k * 5 % 8).cast("int").alias("tile_y"),
            F.lit("rects").alias("layer"),
            F.lit(3).alias("geom_type"),
            k.alias("feature_id"),
            F.array(F.array(ring)).alias("geom"),
        )
    )
    rows, cols = np.arange(64)[:, None], np.arange(64)[None, :]
    rasters = spark.createDataFrame(
        pd.DataFrame(
            [
                {"tile_z": 3, "tile_x": tx, "tile_y": ty, "w": 64, "h": 64,
                 "px": ((tx * 5 + rows // 8 + cols // 8) % 11)
                 .astype(np.uint8).tobytes()}
                for tx in range(8) for ty in range(8)
            ]
        )
    )
    return (
        zonal_mode(feats, rasters)
        .select("feature_id", "n_px", "mode_val", "mode_count")
        .orderBy("feature_id")
    )


Q_ZONAL_MODE_SQL = """
WITH r AS (
  SELECT c_custkey AS feature_id,
         (c_custkey * 3) % 8 AS tile_x,
         (c_custkey * 131) % 3000 AS x0, (c_custkey * 197) % 3000 AS y0,
         (c_custkey * 131) % 3000 + (c_custkey * 89) % 900 + 64 AS x1,
         (c_custkey * 197) % 3000 + (c_custkey * 53) % 900 + 64 AS y1
  FROM customer
), cov AS (
  SELECT feature_id,
         (tile_x * 5 + cy.range // 8 + cx.range // 8) % 11 AS val
  FROM r, range(64) cx, range(64) cy
  WHERE x0 <= 64 * cx.range + 32 AND 64 * cx.range + 32 < x1
    AND y0 <= 64 * cy.range + 32 AND 64 * cy.range + 32 < y1
), ranked AS (
  SELECT feature_id, val, count(*) AS cnt,
         row_number() OVER (
           PARTITION BY feature_id ORDER BY count(*) DESC, val ASC
         ) AS rn,
         sum(count(*)) OVER (PARTITION BY feature_id) AS n_px
  FROM cov GROUP BY feature_id, val
)
SELECT r.feature_id,
       coalesce(k.n_px, 0)::BIGINT AS n_px,
       k.val::INT AS mode_val, k.cnt::BIGINT AS mode_count
FROM r LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) k USING (feature_id)
ORDER BY r.feature_id
"""


def _full_tile_feats(spark: SparkSession):
    """One full-tile (extent-covering) rectangle feature per tile of the
    8x8 z=3 raster-oracle grid (tile_x = id % 8, tile_y = id // 8) — the
    shared zonal_stats probe the raster queries aggregate through."""
    from vectortiles_spark.operators import tiling

    grid = spark.range(64).select(
        F.lit(3).alias("tile_z"),
        (F.col("id") % 8).cast("int").alias("tile_x"),
        (F.col("id") / 8).cast("int").alias("tile_y"),
        F.lit("full").alias("layer"),
        F.lit(3).alias("geom_type"),
        F.col("id").alias("feature_id"),
        F.array(F.array(F.array(
            F.array(F.lit(0.0), F.lit(0.0)), F.array(F.lit(4096.0), F.lit(0.0)),
            F.array(F.lit(4096.0), F.lit(4096.0)), F.array(F.lit(0.0), F.lit(4096.0)),
            F.array(F.lit(0.0), F.lit(0.0)),
        ))).alias("geom"),
    )
    return tiling.geom_features(grid)


def q_raster_mosaic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster mosaicking under the value oracle
    (operators/raster.py:composite_rasters + zonal_stats composed): each
    tile of an 8x8 grid carries 1-3 deterministic 64x64 snapshots with
    pixel value (tile_x*31 + snap*59 + row*17 + col*13) % 251; the
    brightest-pixel (max) composite is then aggregated through
    zonal_stats with a full-tile rectangle. The oracle replays the
    per-pixel max and the stats in closed form."""
    import numpy as np
    import pandas as pd

    from vectortiles_spark.operators import tiling
    from vectortiles_spark.operators.raster import composite_rasters, zonal_stats

    rows_i, cols_i = np.arange(64)[:, None], np.arange(64)[None, :]
    snaps = []
    for tx in range(8):
        for ty in range(8):
            for i in range(1 + (tx + ty) % 3):
                snaps.append(
                    {"tile_z": 3, "tile_x": tx, "tile_y": ty, "w": 64, "h": 64,
                     "px": ((tx * 31 + i * 59 + rows_i * 17 + cols_i * 13) % 251)
                     .astype(np.uint8).tobytes()}
                )
    rasters = spark.createDataFrame(pd.DataFrame(snaps))
    comp = composite_rasters(rasters, method="max")
    feats = _full_tile_feats(spark)
    return (
        zonal_stats(feats, comp)
        .select("tile_x", "tile_y", "n_px", "sum_val", "min_val", "max_val",
                "mean_val")
        .orderBy("tile_x", "tile_y")
    )


Q_RASTER_MOSAIC_SQL = """
WITH t AS (
  SELECT tx.range AS tile_x, ty.range AS tile_y FROM range(8) tx, range(8) ty
), px AS (
  SELECT tile_x, tile_y, r.range AS r, c.range AS c,
         max((tile_x * 31 + i.range * 59 + r.range * 17 + c.range * 13) % 251)
           AS val
  FROM t, range(64) r, range(64) c, range(3) i
  WHERE i.range < 1 + (tile_x + tile_y) % 3
  GROUP BY 1, 2, 3, 4
)
SELECT tile_x::INT AS tile_x, tile_y::INT AS tile_y,
       count(*) AS n_px, sum(val)::BIGINT AS sum_val,
       min(val)::INT AS min_val, max(val)::INT AS max_val,
       sum(val)::DOUBLE / count(*) AS mean_val
FROM px GROUP BY 1, 2
ORDER BY tile_x, tile_y
"""


def q_focal_grad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Focal gradient with cross-tile halo exchange under the value
    oracle (operators/raster.py:focal_map): an 8x8 mosaic of 64x64 tiles
    whose GLOBAL pixel field is the closed form
    ``v(gx, gy) = (gx*13 + gy*17 + 7) % 251``; the 3x3
    central-difference gradient ``min(255, |E-W| + |S-N|)`` needs one
    pixel of neighbor context at every tile border (zero pad outside the
    mosaic), so a wrong or missing halo strip shifts border values and
    breaks the per-tile sums. Stats replay in closed form in SQL."""
    import numpy as np
    import pandas as pd

    from vectortiles_spark.operators import tiling
    from vectortiles_spark.operators.raster import focal_map, zonal_stats

    rows_i, cols_i = np.arange(64)[:, None], np.arange(64)[None, :]
    rasters = spark.createDataFrame(
        pd.DataFrame(
            [
                {"tile_z": 3, "tile_x": tx, "tile_y": ty, "w": 64, "h": 64,
                 "px": (((tx * 64 + cols_i) * 13 + (ty * 64 + rows_i) * 17
                         + 7) % 251).astype(np.uint8).tobytes()}
                for tx in range(8) for ty in range(8)
            ]
        )
    )
    grad = focal_map(rasters, op="grad")
    feats = _full_tile_feats(spark)
    return (
        zonal_stats(feats, grad)
        .select("tile_x", "tile_y", "n_px", "sum_val", "min_val", "max_val",
                "mean_val")
        .orderBy("tile_x", "tile_y")
    )


def _focal_grad_sql() -> str:
    # the same global pixel field focal_map sees, zero outside the mosaic
    def v(ax: str, ay: str) -> str:
        return (
            f"(CASE WHEN ({ax}) BETWEEN 0 AND 511 AND ({ay}) BETWEEN 0 AND 511 "
            f"THEN (({ax}) * 13 + ({ay}) * 17 + 7) % 251 ELSE 0 END)"
        )

    return f"""
WITH t AS (
  SELECT tx.range AS tile_x, ty.range AS tile_y FROM range(8) tx, range(8) ty
), g AS (
  SELECT tile_x, tile_y,
         least(255,
               abs({v("tile_x * 64 + c.range + 1", "tile_y * 64 + r.range")}
                   - {v("tile_x * 64 + c.range - 1", "tile_y * 64 + r.range")})
             + abs({v("tile_x * 64 + c.range", "tile_y * 64 + r.range + 1")}
                   - {v("tile_x * 64 + c.range", "tile_y * 64 + r.range - 1")}))
           AS val
  FROM t, range(64) r, range(64) c
)
SELECT tile_x::INT AS tile_x, tile_y::INT AS tile_y,
       count(*) AS n_px, sum(val)::BIGINT AS sum_val,
       min(val)::INT AS min_val, max(val)::INT AS max_val,
       sum(val)::DOUBLE / count(*) AS mean_val
FROM g GROUP BY 1, 2
ORDER BY tile_x, tile_y
"""


Q_FOCAL_GRAD_SQL = _focal_grad_sql()


def q_tile_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viewport tile cover under the value oracle
    (functions/tiles.py:tile_cover): per customer a 2x2-degree bbox from
    the deterministic corner, the z=6 WebMercator tiles covering it. The
    oracle replays the corner tile ids with the same mercator arithmetic
    as Q_TILE_ASSIGN_MERC_SQL and enumerates the rectangle."""
    from vectortiles_spark.functions.tiles import tile_cover

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey")
    df = cust.select(
        k.alias("point_id"),
        lon_of(k), lat_of(k),
    )
    cover = df.select(
        "point_id",
        F.explode(tile_cover(
            F.col("lon"), F.col("lat"),
            F.col("lon") + F.lit(2.0), F.col("lat") + F.lit(2.0), z=6,
        )).alias("t"),
    )
    return cover.select(
        "point_id", F.col("t.tile_x").alias("tile_x"),
        F.col("t.tile_y").alias("tile_y"),
    ).orderBy("point_id", "tile_x", "tile_y")


def _tile_cover_sql() -> str:
    n = float(1 << 6)

    def ty(lat: str) -> str:
        fy = (
            f"(1.0 - ln(tan(radians({lat})) + sqrt(tan(radians({lat})) "
            f"* tan(radians({lat})) + 1.0)) / pi()) / 2.0 * {n}"
        )
        return f"cast(greatest(0, least(floor({fy}), {int(n) - 1})) AS INT)"

    def tx(lon: str) -> str:
        return (
            f"cast(least(floor(({lon} + 180.0) / 360.0 * {n}), "
            f"{int(n) - 1}) AS INT)"
        )

    return f"""
WITH p AS (
  SELECT c_custkey AS point_id,
         {_sql_lon('c_custkey')} AS lon, {_sql_lat('c_custkey')} AS lat
  FROM customer
), ids AS (
  SELECT point_id,
         {tx('lon')} AS x0, {tx('lon + 2.0')} AS x1,
         least({ty('lat')}, {ty('lat + 2.0')}) AS y0,
         greatest({ty('lat')}, {ty('lat + 2.0')}) AS y1
  FROM p
)
SELECT point_id, tx.range::INT AS tile_x, ty.range::INT AS tile_y
FROM ids, range({1 << 6}) tx, range({1 << 6}) ty
WHERE tx.range BETWEEN x0 AND x1 AND ty.range BETWEEN y0 AND y1
ORDER BY point_id, tile_x, tile_y
"""


Q_TILE_COVER_SQL = _tile_cover_sql()


def q_overlay_areas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tabulate intersection under the value oracle
    (operators/raster.py:overlay_areas): two deterministic rectangle
    layers derived from supplier keys, co-tiled on an 8x8 grid; for every
    co-tiled pair the 64x64 pixel-center intersection count. The
    half-open pixel-center rule is integer-exact for rect edges, so the
    oracle replays coverage in closed form (same construction as
    q_zonal_stats/q_rasterize_polygons)."""
    from vectortiles_spark.operators import tiling
    from vectortiles_spark.operators.raster import overlay_areas

    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    k = F.col("s_suppkey")

    def rects(m0, m1, m2, m3, pad):
        x0 = (k * m0 % 3000).cast("double")
        y0 = (k * m1 % 3000).cast("double")
        x1 = x0 + (k * m2 % 900).cast("double") + float(pad)
        y1 = y0 + (k * m3 % 900).cast("double") + float(pad)
        ring = F.array(
            F.array(x0, y0), F.array(x1, y0), F.array(x1, y1),
            F.array(x0, y1), F.array(x0, y0),
        )
        return tiling.geom_features(
            widen(supp).select(
                F.lit(3).alias("tile_z"),
                (k * 3 % 8).cast("int").alias("tile_x"),
                (k * 5 % 8).cast("int").alias("tile_y"),
                F.lit("r").alias("layer"),
                F.lit(3).alias("geom_type"),
                k.alias("feature_id"),
                F.array(F.array(ring)).alias("geom"),
            )
        )

    a = rects(131, 197, 89, 53, 64)
    b = rects(71, 113, 43, 151, 128)
    # the key mapping (k*3%8, k*5%8) lands every supplier in one of 8
    # tiles, so pairs/tile grows as (sf/8)^2 — raise the per-tile guard
    # for THIS bounded construction (the matmul kernel makes 1.6M pairs
    # cheap); the operator default keeps protecting open-ended inputs
    return (
        overlay_areas(a, b, max_pairs_per_tile=8_000_000)
        .select("tile_x", "tile_y", "feature_a", "feature_b", "n_px")
        .orderBy("tile_x", "tile_y", "feature_a", "feature_b")
    )


Q_OVERLAY_AREAS_SQL = """
WITH a AS (
  SELECT s_suppkey AS fa,
         (s_suppkey * 3) % 8 AS tile_x, (s_suppkey * 5) % 8 AS tile_y,
         (s_suppkey * 131) % 3000 AS x0, (s_suppkey * 197) % 3000 AS y0,
         (s_suppkey * 131) % 3000 + (s_suppkey * 89) % 900 + 64 AS x1,
         (s_suppkey * 197) % 3000 + (s_suppkey * 53) % 900 + 64 AS y1
  FROM supplier
), b AS (
  SELECT s_suppkey AS fb,
         (s_suppkey * 3) % 8 AS tile_x, (s_suppkey * 5) % 8 AS tile_y,
         (s_suppkey * 71) % 3000 AS x0, (s_suppkey * 113) % 3000 AS y0,
         (s_suppkey * 71) % 3000 + (s_suppkey * 43) % 900 + 128 AS x1,
         (s_suppkey * 113) % 3000 + (s_suppkey * 151) % 900 + 128 AS y1
  FROM supplier
), cov AS (
  SELECT a.tile_x, a.tile_y, a.fa, b.fb, count(*) AS n_px
  FROM a
  JOIN b ON a.tile_x = b.tile_x AND a.tile_y = b.tile_y,
       range(64) cx, range(64) cy
  WHERE a.x0 <= 64 * cx.range + 32 AND 64 * cx.range + 32 < a.x1
    AND a.y0 <= 64 * cy.range + 32 AND 64 * cy.range + 32 < a.y1
    AND b.x0 <= 64 * cx.range + 32 AND 64 * cx.range + 32 < b.x1
    AND b.y0 <= 64 * cy.range + 32 AND 64 * cy.range + 32 < b.y1
  GROUP BY 1, 2, 3, 4
)
SELECT tile_x::INT AS tile_x, tile_y::INT AS tile_y,
       fa AS feature_a, fb AS feature_b, n_px
FROM cov
ORDER BY tile_x, tile_y, feature_a, feature_b
"""


def q_raster_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact raster resampling under the value oracle
    (operators/raster.py:resample_rasters): the zonal-stats closed-form
    field downsampled 64->16 (exact block mean, ONE combined floor
    division) and upsampled 64->128 (nearest repeat), both lanes then
    aggregated per tile through zonal_stats full-tile rectangles. The
    oracle replays block sums and pixel repetition in closed form."""
    import numpy as np
    import pandas as pd

    from vectortiles_spark.operators import tiling
    from vectortiles_spark.operators.raster import resample_rasters, zonal_stats

    rows_i, cols_i = np.arange(64)[:, None], np.arange(64)[None, :]
    rasters = spark.createDataFrame(
        pd.DataFrame(
            [
                {"tile_z": 3, "tile_x": tx, "tile_y": ty, "w": 64, "h": 64,
                 "px": ((tx * 31 + rows_i * 17 + cols_i * 13) % 251)
                 .astype(np.uint8).tobytes()}
                for tx in range(8) for ty in range(8)
            ]
        )
    )
    feats = _full_tile_feats(spark)

    def lane(df, name):
        return zonal_stats(feats, df).select(
            F.lit(name).alias("lane"), "tile_x", "tile_y",
            "n_px", "sum_val", "min_val", "max_val", "mean_val",
        )

    return (
        lane(resample_rasters(rasters, 16, 16), "down")
        .unionAll(lane(resample_rasters(rasters, 128, 128), "up"))
        .orderBy("lane", "tile_x", "tile_y")
    )


Q_RASTER_RESAMPLE_SQL = """
WITH t AS (
  SELECT tx.range AS tile_x, ty.range AS tile_y FROM range(8) tx, range(8) ty
), down AS (
  SELECT tile_x, tile_y, r.range // 4 AS br, c.range // 4 AS bc,
         sum((tile_x * 31 + r.range * 17 + c.range * 13) % 251) // 16 AS val
  FROM t, range(64) r, range(64) c
  GROUP BY 1, 2, 3, 4
), up AS (
  SELECT tile_x, tile_y,
         (tile_x * 31 + (r.range // 2) * 17 + (c.range // 2) * 13) % 251 AS val
  FROM t, range(128) r, range(128) c
), u AS (
  SELECT 'down' AS lane, tile_x, tile_y, val FROM down
  UNION ALL
  SELECT 'up' AS lane, tile_x, tile_y, val FROM up
)
SELECT lane, tile_x::INT AS tile_x, tile_y::INT AS tile_y,
       count(*) AS n_px, sum(val)::BIGINT AS sum_val,
       min(val)::INT AS min_val, max(val)::INT AS max_val,
       sum(val)::DOUBLE / count(*) AS mean_val
FROM u GROUP BY 1, 2, 3
ORDER BY lane, tile_x, tile_y
"""


def q_snap_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-segment snap join under the value oracle
    (operators/spatial_join.py:snap_join — the map-matching primitive):
    customers as planar points, suppliers as deterministic segments on a
    4000x4000 plane, radius 128. The oracle brute-forces every pair with
    the IDENTICAL projection-clamp arithmetic (same IEEE op order:
    clip(dot/len2), a + t*(b-a), squared distance) and the same
    (dist2, seg_id) argmin, proving the grid pruning lossless."""
    from vectortiles_spark.operators.spatial_join import snap_join

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    ck, sk = F.col("c_custkey"), F.col("s_suppkey")
    pts = widen(cust).select(
        ck.alias("point_id"),
        ((ck * 131 % 4000).cast("double") + 0.25).alias("x"),
        ((ck * 197 % 4000).cast("double") + 0.5).alias("y"),
    )
    segs = widen(supp).select(
        sk.alias("seg_id"),
        (sk * 37 % 4000).cast("double").alias("ax"),
        (sk * 61 % 4000).cast("double").alias("ay"),
        ((sk * 37 % 4000) + (sk * 13 % 400) - 200).cast("double").alias("bx"),
        ((sk * 61 % 4000) + (sk * 29 % 400) - 200).cast("double").alias("by"),
    )
    return snap_join(pts, segs, radius=128.0).orderBy("point_id")


Q_SNAP_SEGMENTS_SQL = """
WITH p AS (
  SELECT c_custkey AS point_id,
         (c_custkey * 131 % 4000)::DOUBLE + 0.25 AS x,
         (c_custkey * 197 % 4000)::DOUBLE + 0.5 AS y
  FROM customer
), s AS (
  SELECT s_suppkey AS seg_id,
         (s_suppkey * 37 % 4000)::DOUBLE AS ax,
         (s_suppkey * 61 % 4000)::DOUBLE AS ay,
         ((s_suppkey * 37 % 4000) + (s_suppkey * 13 % 400) - 200)::DOUBLE AS bx,
         ((s_suppkey * 61 % 4000) + (s_suppkey * 29 % 400) - 200)::DOUBLE AS by
  FROM supplier
), cand AS (
  SELECT point_id, seg_id, x, y, ax, ay, bx, by,
         CASE WHEN (bx-ax)*(bx-ax) + (by-ay)*(by-ay) = 0 THEN 0.0
              ELSE least(1.0, greatest(0.0,
                     ((x-ax)*(bx-ax) + (y-ay)*(by-ay))
                     / ((bx-ax)*(bx-ax) + (by-ay)*(by-ay)))) END AS t
  FROM p, s
), sn AS (
  SELECT point_id, seg_id, t,
         ax + t * (bx-ax) AS snap_x, ay + t * (by-ay) AS snap_y,
         (x - (ax + t * (bx-ax))) * (x - (ax + t * (bx-ax)))
       + (y - (ay + t * (by-ay))) * (y - (ay + t * (by-ay))) AS d2
  FROM cand
), best AS (
  SELECT point_id, seg_id, t, snap_x, snap_y, d2,
         row_number() OVER (PARTITION BY point_id ORDER BY d2, seg_id) AS rn
  FROM sn WHERE d2 <= 128.0 * 128.0
)
SELECT point_id, seg_id, t, snap_x, snap_y, d2 AS dist2, sqrt(d2) AS dist
FROM best WHERE rn = 1
ORDER BY point_id
"""


def q_cluster_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point clustering under the value oracle: customers grid-clustered
    at z=4 equirectangular tiles with 256px bins — one representative
    row per (tile, bin) carrying the INTEGER centroid (sum div count,
    bit-replayable), deterministic rep_id (min key), point_count, and a
    summed attribute. One hash aggregate; shuffle bounded by output
    cardinality (operators/cluster.py docstring)."""
    from vectortiles_spark.operators.cluster import cluster_points

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    pts = cust.select(
        "c_custkey", "c_acctbal",
        lon_of(F.col("c_custkey")), lat_of(F.col("c_custkey")),
    )
    return cluster_points(
        pts, z=4, radius_px=256, id_col="c_custkey",
        agg={"c_acctbal": "sum"}, projection="equirect",
    ).orderBy("tile_x", "tile_y", "bin_x", "bin_y")


def _cluster_sql() -> str:
    n = float(1 << 4)
    top = (1 << 4) - 1
    return f"""
WITH pts AS (
  SELECT c_custkey, c_acctbal,
         {_sql_lon('c_custkey')} AS lon, {_sql_lat('c_custkey')} AS lat
  FROM customer
), f AS (
  SELECT c_custkey, c_acctbal,
         (lon + 180.0) / 360.0 * {n} AS fx,
         (85.0 - lat) / 170.0 * {n} AS fy
  FROM pts
), g AS (
  SELECT c_custkey, c_acctbal,
         cast(least(floor(fx), {float(top)}) AS INT) AS tile_x,
         cast(least(floor(fy), {float(top)}) AS INT) AS tile_y,
         cast(least(floor((fx - floor(least(fx, {float(top)}))) * 4096.0), 4095.0) AS BIGINT) AS _px,
         cast(least(floor((fy - floor(least(fy, {float(top)}))) * 4096.0), 4095.0) AS BIGINT) AS _py
  FROM f
)
SELECT 4 AS tile_z, tile_x, tile_y,
       cast(_px // 256 AS INT) AS bin_x, cast(_py // 256 AS INT) AS bin_y,
       count(*) AS point_count,
       cast(sum(_px) // count(*) AS INT) AS px,
       cast(sum(_py) // count(*) AS INT) AS py,
       cast(min(c_custkey) AS BIGINT) AS rep_id,
       round(sum(c_acctbal), 2) AS c_acctbal_sum,
       cast(count(*) > 1 AS INT) AS is_cluster
FROM g GROUP BY 1, 2, 3, 4, 5
ORDER BY tile_x, tile_y, bin_x, bin_y
"""


Q_CLUSTER_POINTS_SQL = _cluster_sql()


def q_quadkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bing/Azure quadkey addressing under the value oracle: customer
    tiles at z=6 -> quadkey strings (pure Column bit arithmetic) and the
    TMS row flip, aggregated by the z=3 ANCESTOR PREFIX — quadkeys nest
    by prefix, and the oracle recomputes the same digits in SQL. The
    prefix equals the z=3 parent's own quadkey (checked by construction:
    digit k only reads bit k of x/y)."""
    from ..functions.tiles import quadkey, tms_y

    z = 6
    (cust,) = load(spark, sf_dir, "customer")
    t = cust.select(
        eq_tile_x(lon_of(F.col("c_custkey")), z).alias("tx"),
        eq_tile_y(lat_of(F.col("c_custkey")), z).alias("ty"),
    )
    qk = t.select(
        quadkey(z, F.col("tx"), F.col("ty")).alias("qk"),
        tms_y(z, F.col("ty")).alias("tms_row"),
    )
    return (
        qk.groupBy(F.substring("qk", 1, 3).alias("prefix"))
        .agg(
            F.count("*").alias("n"),
            F.min("qk").alias("min_qk"),
            F.max("qk").alias("max_qk"),
            F.min("tms_row").alias("min_tms_row"),
        )
        .orderBy("prefix")
    )


def _sql_quadkey_digits(z: int) -> str:
    return " || ".join(
        f"(((ty >> {k}) & 1) * 2 + ((tx >> {k}) & 1))::VARCHAR"
        for k in range(z - 1, -1, -1)
    )


Q_QUADKEY_SQL = f"""
WITH t AS (
  SELECT {_sql_eq_tile_x(_sql_lon('c_custkey'), 6)} AS tx,
         {_sql_eq_tile_y(_sql_lat('c_custkey'), 6)} AS ty
  FROM customer
), qk AS (
  SELECT {_sql_quadkey_digits(6)} AS qk, 63 - ty AS tms_row FROM t
)
SELECT substring(qk, 1, 3) AS prefix,
       count(*) AS n, min(qk) AS min_qk, max(qk) AS max_qk,
       min(tms_row)::INT AS min_tms_row
FROM qk GROUP BY 1 ORDER BY prefix
"""


_PYR_Z = 8


def q_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zoom pyramid rollup: per-tile counts + exact integer-cent balance
    sums at leaf z=8, rolled up to z=0 in ONE shuffle (tile_pyramid
    explodes each leaf row into its ancestor keys and aggregates once —
    see its docstring for why the level-by-level form is a Spark trap).
    Money rides as integer cents so every level's sum is exact and
    engine-portable."""
    from ..operators.tiling import tile_pyramid

    (cust,) = load(spark, sf_dir, "customer")
    leaf = (
        cust.select(
            eq_tile_x(lon_of(F.col("c_custkey")), _PYR_Z).alias("tile_x"),
            eq_tile_y(lat_of(F.col("c_custkey")), _PYR_Z).alias("tile_y"),
            F.round(F.col("c_acctbal") * 100).cast("bigint").alias("cents"),
        )
        .groupBy(F.lit(_PYR_Z).cast("int").alias("tile_z"), "tile_x", "tile_y")
        .agg(F.count("*").alias("n_pts"), F.sum("cents").alias("sum_cents"))
    )
    pyr = tile_pyramid(leaf, leaf_z=_PYR_Z, min_z=0, sum_cols=("n_pts", "sum_cents"))
    return pyr.orderBy("tile_z", "tile_x", "tile_y")


Q_TILE_PYRAMID_SQL = f"""
WITH pts AS (
  SELECT {_sql_lon('c_custkey')} AS lon, {_sql_lat('c_custkey')} AS lat,
         round(c_acctbal * 100)::BIGINT AS cents
  FROM customer
), leaf AS (
  SELECT {_sql_eq_tile_x('lon', _PYR_Z)} AS tile_x,
         {_sql_eq_tile_y('lat', _PYR_Z)} AS tile_y,
         count(*) AS n_pts, sum(cents)::BIGINT AS sum_cents
  FROM pts GROUP BY 1, 2
)
SELECT z::INT AS tile_z,
       (tile_x >> ({_PYR_Z} - z))::INT AS tile_x,
       (tile_y >> ({_PYR_Z} - z))::INT AS tile_y,
       sum(n_pts)::BIGINT AS n_pts, sum(sum_cents)::BIGINT AS sum_cents
FROM leaf CROSS JOIN (SELECT unnest(generate_series(0, {_PYR_Z})) AS z) zs
GROUP BY 1, 2, 3
ORDER BY tile_z, tile_x, tile_y
"""


def q_simplify_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Douglas-Peucker generalization under the value oracle, via a
    closed-form construction: each customer key builds a 9-vertex triangle
    polyline — peak amplitude A = 4*(key mod 11) at x=2000, leg interiors
    exactly collinear with the legs (y = min(z, 8-z)*(key mod 11) at
    x = 500z). At tolerance 20 DP provably keeps exactly the endpoints
    plus the peak iff A > 20 (peak deviation from the base chord is A,
    computed exactly in float64; leg interiors lie on their chords once
    the peak splits, distance 0), so n_vertices = 3 when (key mod 11) > 5
    else 2 — including the A == tol boundary, which removes (strict >).
    The general algorithm is pinned against a recursive reference in
    tests/test_simplify.py; this query gates the DISTRIBUTED pass."""
    from ..operators.simplify import simplify_geoms

    (cust,) = load(spark, sf_dir, "customer")
    amp = F.pmod(F.col("c_custkey"), F.lit(11)).cast("int")
    pts = F.array(
        *[
            F.array(F.lit(500 * z), (amp * min(z, 8 - z)).cast("int"))
            for z in range(9)
        ]
    )
    df = cust.select(
        F.lit(4).cast("int").alias("tile_z"),
        F.pmod(F.col("c_custkey"), F.lit(16)).cast("int").alias("tile_x"),
        F.pmod(F.col("c_custkey"), F.lit(13)).cast("int").alias("tile_y"),
        F.lit("tri").alias("layer"),
        F.lit(2).cast("int").alias("geom_type"),
        F.col("c_custkey").alias("feature_id"),
        F.array(F.array(pts)).alias("geom"),
    )
    simp = simplify_geoms(df, tolerance=20.0)
    return simp.select(
        "feature_id", F.size(F.col("geom")[0][0]).alias("n_vertices")
    ).orderBy("feature_id")


Q_SIMPLIFY_LINES_SQL = """
SELECT c_custkey AS feature_id,
       CASE WHEN 4 * (c_custkey % 11) > 20 THEN 3 ELSE 2 END AS n_vertices
FROM customer ORDER BY feature_id
"""


def q_clip_rects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometry-to-tile clipping under the value oracle: each customer key
    builds a world-space rectangle ON THE EXACT PIXEL LATTICE at z=2
    (equirect lon/lat chosen so the projection roundtrips to the integer
    pixel exactly in float64 — x*360/16384 and 85 - y*170/16384 are all
    exact dyadic-rational operations), spanning up to ~1.5 tiles so most
    rects clip across 2-4 tiles. clip_features (Sutherland-Hodgman) then
    yields per-tile fragments whose integer area must equal the
    closed-form rectangle/tile overlap the SQL oracle computes in pure
    BIGINT arithmetic. The general-polygon/polyline kernels are pinned in
    tests/test_clip.py; this query gates the DISTRIBUTED pass."""
    from ..operators.clip import clip_features

    (cust,) = load(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    x0 = F.pmod(k * 131, F.lit(12000))
    y0 = F.pmod(k * 173, F.lit(12000))
    x1 = F.least(x0 + F.pmod(k * 97, F.lit(6000)) + 300, F.lit(16384))
    y1 = F.least(y0 + F.pmod(k * 89, F.lit(6000)) + 300, F.lit(16384))
    lon = lambda x: x.cast("double") * 360.0 / 16384.0 - 180.0
    lat = lambda y: 85.0 - y.cast("double") * 170.0 / 16384.0
    ring = F.array(
        F.array(lon(x0), lat(y0)),
        F.array(lon(x1), lat(y0)),
        F.array(lon(x1), lat(y1)),
        F.array(lon(x0), lat(y1)),
        F.array(lon(x0), lat(y0)),
    )
    df = widen(cust).select(
        F.lit("boxes").alias("layer"),
        F.lit(3).cast("int").alias("geom_type"),
        k.alias("feature_id"),
        F.array(F.array(ring)).alias("geom"),
    )
    clipped = clip_features(df, z=2, projection="equirect")
    xs = F.transform(F.col("geom")[0][0], lambda p: p[0])
    ys = F.transform(F.col("geom")[0][0], lambda p: p[1])
    return clipped.select(
        "feature_id",
        "tile_x",
        "tile_y",
        (
            (F.array_max(xs) - F.array_min(xs)) * (F.array_max(ys) - F.array_min(ys))
        ).alias("area"),
    ).orderBy("feature_id", "tile_x", "tile_y")


Q_CLIP_RECTS_SQL = """
WITH rects AS (
  SELECT c_custkey AS feature_id,
         (c_custkey * 131) % 12000 AS x0,
         (c_custkey * 173) % 12000 AS y0,
         least((c_custkey * 131) % 12000 + (c_custkey * 97) % 6000 + 300, 16384) AS x1,
         least((c_custkey * 173) % 12000 + (c_custkey * 89) % 6000 + 300, 16384) AS y1
  FROM customer
), tiles AS (
  SELECT tx.x AS tx, ty.y AS ty
  FROM (SELECT unnest(generate_series(0, 3)) AS x) tx
  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS y) ty
)
SELECT feature_id, tx::INT AS tile_x, ty::INT AS tile_y,
       ((least(x1, (tx + 1) * 4096) - greatest(x0, tx * 4096)) *
        (least(y1, (ty + 1) * 4096) - greatest(y0, ty * 4096)))::BIGINT AS area
FROM rects CROSS JOIN tiles
WHERE least(x1, (tx + 1) * 4096) - greatest(x0, tx * 4096) > 0
  AND least(y1, (ty + 1) * 4096) - greatest(y0, ty * 4096) > 0
ORDER BY feature_id, tile_x, tile_y
"""


def q_clip_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point tile-ownership semantics of clip_features under the value
    oracle: lattice points INCLUDING exact tile boundaries and the world
    edge (px = (k mod 17)*1024, py = (k mod 33)*512 at z=2, span 16384 —
    multiples of 4096 land on boundaries; 16384 is the world edge).
    Exact tiling (buffer_px=0) assigns the high edge to the next tile,
    except the world edge which the last tile keeps — in SQL that is
    simply least(px // 4096, 3). Local coords are px - 4096*tile."""
    from ..operators.clip import clip_features

    (cust,) = load(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    px = F.pmod(k, F.lit(17)) * 1024
    py = F.pmod(k, F.lit(33)) * 512
    lon = px.cast("double") * 360.0 / 16384.0 - 180.0
    lat = 85.0 - py.cast("double") * 170.0 / 16384.0
    df = widen(cust).select(
        F.lit("pts").alias("layer"),
        F.lit(1).cast("int").alias("geom_type"),
        k.alias("feature_id"),
        F.array(F.array(F.array(F.array(lon, lat)))).alias("geom"),
    )
    clipped = clip_features(df, z=2, projection="equirect")
    return clipped.select(
        "feature_id",
        "tile_x",
        "tile_y",
        F.col("geom")[0][0][0][0].alias("local_x"),
        F.col("geom")[0][0][0][1].alias("local_y"),
    ).orderBy("feature_id")


Q_CLIP_POINTS_SQL = """
WITH pts AS (
  SELECT c_custkey AS feature_id,
         (c_custkey % 17) * 1024 AS px, (c_custkey % 33) * 512 AS py
  FROM customer
)
SELECT feature_id,
       least(px // 4096, 3)::INT AS tile_x,
       least(py // 4096, 3)::INT AS tile_y,
       (px - 4096 * least(px // 4096, 3))::BIGINT AS local_x,
       (py - 4096 * least(py // 4096, 3))::BIGINT AS local_y
FROM pts ORDER BY feature_id
"""


def q_geojson_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoJSON sink+source under the value oracle: customer points ride
    out as RFC 7946 Feature lines and back (JVM Column algebra both
    directions — the scan parses `coordinates` as a raw JSON subtree);
    per-segment aggregates of the ROUNDTRIPPED frame must equal straight
    SQL over the base table. JSON doubles are shortest-roundtrip, so the
    reread coordinates are bit-identical and the float sums differ only
    by summation order (absorbed by round, the proven oracle pattern)."""
    import re

    from ..sources.geojson import read_geojson, write_geojson

    (cust,) = load(spark, sf_dir, "customer")
    feats = cust.select(
        F.lit("pts").alias("layer"),
        F.lit(1).cast("int").alias("geom_type"),
        F.col("c_custkey").alias("feature_id"),
        F.create_map(F.lit("segment"), F.col("c_mktsegment")).alias("properties"),
        F.array(
            F.array(F.array(F.array(lon_of(F.col("c_custkey")), lat_of(F.col("c_custkey")))))
        ).alias("geom"),
    )
    path = "/tmp/q_geojson_rt_" + re.sub(r"\W", "_", sf_dir)
    write_geojson(feats, path)
    back = read_geojson(spark, path, layer="pts")
    return (
        back.select(
            F.col("properties")["segment"].alias("segment"),
            "feature_id",
            F.col("geom")[0][0][0][0].alias("lon"),
            F.col("geom")[0][0][0][1].alias("lat"),
        )
        .groupBy("segment")
        .agg(
            F.count("*").alias("n"),
            F.sum("feature_id").alias("sum_ids"),
            F.round(F.sum("lon"), 4).alias("sum_lon"),
            F.round(F.sum("lat"), 4).alias("sum_lat"),
        )
        .orderBy("segment")
    )


Q_GEOJSON_ROUNDTRIP_SQL = f"""
SELECT c_mktsegment AS segment,
       count(*) AS n,
       sum(c_custkey)::BIGINT AS sum_ids,
       round(sum({_sql_lon('c_custkey')}), 4) AS sum_lon,
       round(sum({_sql_lat('c_custkey')}), 4) AS sum_lat
FROM customer GROUP BY 1 ORDER BY 1
"""


def q_pip_rect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon join against a broadcast set of axis-aligned boxes
    (the coarse stage of the spatial hash join; exact ray-cast refinement
    for arbitrary rings is exercised in pytest + the MVT pipeline)."""
    (cust,) = load(spark, sf_dir, "customer")
    boxes = spark.createDataFrame(
        [
            ("nyc", -75.0, -73.0, 39.5, 41.5),
            ("europe", -10.0, 30.0, 35.0, 60.0),
            ("andes", -80.0, -60.0, -40.0, 0.0),
        ],
        "region_name string, lon_min double, lon_max double, lat_min double, lat_max double",
    )
    pts = cust.select("c_custkey", lon_of(F.col("c_custkey")), lat_of(F.col("c_custkey")))
    return (
        pts.join(
            F.broadcast(boxes),
            (F.col("lon") >= F.col("lon_min")) & (F.col("lon") < F.col("lon_max"))
            & (F.col("lat") >= F.col("lat_min")) & (F.col("lat") < F.col("lat_max")),
        )
        .groupBy("region_name")
        .agg(F.count("*").alias("n_inside"))
        .orderBy("region_name")
    )


Q_PIP_RECT_SQL = f"""
WITH pts AS (
  SELECT c_custkey, {_sql_lon('c_custkey')} AS lon, {_sql_lat('c_custkey')} AS lat
  FROM customer
), boxes(region_name, lon_min, lon_max, lat_min, lat_max) AS (
  VALUES ('nyc', -75.0, -73.0, 39.5, 41.5),
         ('europe', -10.0, 30.0, 35.0, 60.0),
         ('andes', -80.0, -60.0, -40.0, 0.0)
)
SELECT region_name, count(*) AS n_inside
FROM pts JOIN boxes
  ON lon >= lon_min AND lon < lon_max AND lat >= lat_min AND lat < lat_max
GROUP BY region_name
ORDER BY region_name
"""


def q_knn_ring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN over cell-ring neighborhoods (D6): suppliers are queries,
    customers are candidates; candidate generation = explode of the 3x3
    neighbor tiles at z, refinement = squared equirect distance, top-k per
    query. Semantics: k nearest WITHIN the ring-1 neighborhood
    (bounded-radius kNN), identical on both sides by construction.

    Plan shape (r6, guide §2.3/§2.5): same join + top-k window as r5,
    restructured around three measured costs at sf1.0 (BENCH_r05:
    127s wall ≈ 127s executor CPU — the whole query ran on ONE core):

    * both inputs are widened (round-robin, when narrower than the
      cluster) before the fan-out: the benchmark parquets are
      single-row-group files, so the scan (and with it the |queries| x 9
      x density ≈ 52M-row join fan-out) ran inside a single task. The
      exchange of |input| id+lon/lat rows is noise next to the 52M
      distance evaluations it parallelizes, and a table already as wide
      as the cluster gets none.
    * the window exchange carries only (s_suppkey, c_custkey, dk) — 24
      bytes/row instead of the full probe+candidate row. dk is an
      integer ranking key equivalent to the rounded distance (below).
    * round(_, 8) on a DOUBLE is a per-row BigDecimal construction in
      Spark; paying it 52M times before the window cost ~1s of 32-core
      time. The window instead ranks on dk = cast(dist2_raw * 1e8 + 0.5
      as bigint) and the rounded dist2 is recomputed from the ids for
      the |queries| x k winners only. Equivalence: lon/lat are exact
      multiples of 0.01, so every true dist2 is m * 1e-4 (integer m),
      float error <= ~1e-10; dk lands within 1e-2 of m * 1e4 + 0.5's
      floor target and round(_, 8) recovers exactly m * 1e-4 — both
      keys order pairs identically, ties broken by c_custkey on both
      sides (verified output-identical at sf1.0 and against the DuckDB
      oracle at sf0.01/sf0.1)."""
    z = 4
    k = 5
    cust, supp = load(spark, sf_dir, "customer", "supplier")
    cand = widen(cust).select(
        F.col("c_custkey"),
        lon_of(F.col("c_custkey")),
        lat_of(F.col("c_custkey")),
    ).withColumns(
        {
            "cand_tx": eq_tile_x(F.col("lon"), z),
            "cand_ty": eq_tile_y(F.col("lat"), z),
        }
    )
    queries = widen(supp).select(
        F.col("s_suppkey"),
        lon_of(F.col("s_suppkey")).alias("q_lon"),
        lat_of(F.col("s_suppkey")).alias("q_lat"),
    ).withColumns(
        {
            "q_tx": eq_tile_x(F.col("q_lon"), z),
            "q_ty": eq_tile_y(F.col("q_lat"), z),
        }
    )
    # the 3x3 ring as an ARRAY-LITERAL explode (matching
    # spatial_join.py's ring expansion): a generator inside the
    # projection, not a local-relation crossJoin — one fewer stage and
    # the explode stays inside whole-stage codegen
    ring = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    probes = queries.select(
        "s_suppkey", "q_lon", "q_lat", "q_tx", "q_ty", F.explode(ring).alias("o")
    ).select(
        "s_suppkey", "q_lon", "q_lat",
        (F.col("q_tx") + F.col("o.dx")).alias("cand_tx"),
        (F.col("q_ty") + F.col("o.dy")).alias("cand_ty"),
    )
    dlon = F.col("lon") - F.col("q_lon")
    dlat = F.col("lat") - F.col("q_lat")
    dk = ((dlon * dlon + dlat * dlat) * 1e8 + 0.5).cast("bigint")
    joined = probes.join(cand, ["cand_tx", "cand_ty"]).select(
        "s_suppkey", "c_custkey", dk.alias("dk")
    )
    w = Window.partitionBy("s_suppkey").orderBy(F.col("dk").asc(), F.col("c_custkey").asc())
    top = (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    # recompute + round the reported distance from the ids (winners only):
    # lon/lat are pure functions of the keys, so nothing else needs to
    # survive the window exchange
    lon_c, lat_c = lon_of(F.col("c_custkey")), lat_of(F.col("c_custkey"))
    lon_q, lat_q = lon_of(F.col("s_suppkey")), lat_of(F.col("s_suppkey"))
    dist2 = F.round(
        (lon_c - lon_q) * (lon_c - lon_q) + (lat_c - lat_q) * (lat_c - lat_q), 8
    )
    return (
        top.withColumn("dist2", dist2)
        .select("s_suppkey", "c_custkey", "dist2", "rank")
        .orderBy("s_suppkey", "rank")
    )


Q_KNN_SQL = f"""
WITH cand AS (
  SELECT c_custkey, {_sql_lon('c_custkey')} AS lon, {_sql_lat('c_custkey')} AS lat
  FROM customer
), cand_t AS (
  SELECT c_custkey, lon, lat,
         {_sql_eq_tile_x('lon', 4)} AS cand_tx, {_sql_eq_tile_y('lat', 4)} AS cand_ty
  FROM cand
), queries AS (
  SELECT s_suppkey, {_sql_lon('s_suppkey')} AS q_lon, {_sql_lat('s_suppkey')} AS q_lat
  FROM supplier
), queries_t AS (
  SELECT s_suppkey, q_lon, q_lat,
         {_sql_eq_tile_x('q_lon', 4)} AS q_tx, {_sql_eq_tile_y('q_lat', 4)} AS q_ty
  FROM queries
), offsets(dx, dy) AS (
  VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)
), probes AS (
  SELECT s_suppkey, q_lon, q_lat, q_tx + dx AS cand_tx, q_ty + dy AS cand_ty
  FROM queries_t CROSS JOIN offsets
), joined AS (
  SELECT s_suppkey, c_custkey,
         round((lon - q_lon) * (lon - q_lon) + (lat - q_lat) * (lat - q_lat), 8) AS dist2
  FROM probes JOIN cand_t USING (cand_tx, cand_ty)
)
SELECT s_suppkey, c_custkey, dist2, rank FROM (
  SELECT s_suppkey, c_custkey, dist2,
         row_number() OVER (PARTITION BY s_suppkey ORDER BY dist2 ASC, c_custkey ASC) AS rank
  FROM joined
) WHERE rank <= 5
ORDER BY s_suppkey, rank
"""


def q_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geodesic distance-band join (operators/spatial_join.py:distance_join):
    every (customer, supplier) pair within 500 km on the sphere, with the
    haversine distance in meters. The production path prunes via the
    latitude-banded cell grid + per-row longitude window; the oracle is the
    brute-force cross join with the IDENTICAL haversine expression
    (functions/geodesic.py emits both spellings), so the pair SET proves
    the pruning lossless and the values prove the formula twin.

    dist_m is rounded to 0.1 m: sin/cos/asin are the only non-correctly-
    rounded IEEE ops in the formula, so engines agree to ~2 ulp (~1e-9 m
    here) and one decimal absorbs it."""
    from vectortiles_spark.operators.spatial_join import distance_join

    cust, supp = load(spark, sf_dir, "customer", "supplier")
    left = cust.select(
        F.col("c_custkey"), lon_of(F.col("c_custkey")), lat_of(F.col("c_custkey"))
    )
    right = supp.select(
        F.col("s_suppkey"), lon_of(F.col("s_suppkey")), lat_of(F.col("s_suppkey"))
    )
    out = distance_join(
        left, right, 500_000.0, left_id="c_custkey", right_id="s_suppkey"
    )
    return out.select(
        "c_custkey", "s_suppkey", F.round("dist_m", 1).alias("dist_m")
    ).orderBy("c_custkey", "s_suppkey")


def _distance_join_sql() -> str:
    from vectortiles_spark.functions.geodesic import haversine_sql

    hav = haversine_sql("l.lon", "l.lat", "r.lon", "r.lat")
    return f"""
WITH l AS (
  SELECT c_custkey, {_sql_lon('c_custkey')} AS lon, {_sql_lat('c_custkey')} AS lat
  FROM customer
), r AS (
  SELECT s_suppkey, {_sql_lon('s_suppkey')} AS lon, {_sql_lat('s_suppkey')} AS lat
  FROM supplier
)
SELECT c_custkey, s_suppkey, round({hav}, 1) AS dist_m
FROM l, r
WHERE {hav} <= 500000.0
ORDER BY c_custkey, s_suppkey
"""


Q_DISTANCE_JOIN_SQL = _distance_join_sql()


def q_merge_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line dissolve (operators/lines.py:merge_lines) under a closed-form
    oracle. Construction: customer keys are cut into 8-segment chains
    (chain r = key // 8, only COMPLETE chains kept, so every chain spans
    x in [0, 16] at y = 2r on the lattice); odd keys flip their segment's
    endpoint order to exercise orientation repair. Chains with r % 5 == 0
    get a branch segment at the midpoint (8, 2r) -> (9, 2r+1), making
    that node degree 3, so the merge provably splits there: two 5-vertex
    halves plus the 2-vertex branch. Chains with r % 7 == 0 also get a
    disjoint 3-segment triangle whose merge is a single closed 4-vertex
    cycle rotated to its minimum vertex (100, 2r) and oriented through
    (101, 2r+1) — every output row is a CASE expression in SQL.

    Output: one row per merged part with its endpoints and vertex count;
    feature_id is the per-tile minimum input key the operator contract
    promises."""
    from ..operators.lines import merge_lines

    (cust,) = load(spark, sf_dir, "customer")
    max_key = cust.agg(F.max("c_custkey")).collect()[0][0]
    r_of = (F.col("c_custkey") / 8).cast("bigint")
    i_of = F.pmod(F.col("c_custkey"), F.lit(8)).cast("double")
    complete = cust.filter(
        (r_of >= 1) & (r_of * 8 + 7 <= F.lit(int(max_key)))
    ).select(
        F.col("c_custkey"), r_of.alias("r"), i_of.alias("i")
    )
    y = (F.col("r") * 2).cast("double")
    a = F.array(F.col("i") * 2.0, y)
    b = F.array(F.col("i") * 2.0 + 2.0, y)
    flip = F.pmod(F.col("c_custkey"), F.lit(2)) == 1
    seg = F.when(flip, F.array(b, a)).otherwise(F.array(a, b))
    segs = complete.select(
        F.col("c_custkey").alias("feature_id"), "r", seg.alias("line")
    )
    chains = complete.select("r").distinct()
    branch = chains.filter(F.col("r") % 5 == 0).select(
        (F.col("r") * 8).alias("feature_id"),
        "r",
        F.array(
            F.array(F.lit(8.0), F.col("r") * 2.0),
            F.array(F.lit(9.0), F.col("r") * 2.0 + 1.0),
        ).alias("line"),
    )
    tri_pts = [
        (F.lit(100.0), F.col("r") * 2.0),
        (F.lit(102.0), F.col("r") * 2.0),
        (F.lit(101.0), F.col("r") * 2.0 + 1.0),
    ]
    tris = chains.filter(F.col("r") % 7 == 0)
    tri_segs = [
        tris.select(
            (F.col("r") * 8).alias("feature_id"),
            "r",
            F.array(F.array(*tri_pts[j]), F.array(*tri_pts[(j + 1) % 3])).alias("line"),
        )
        for j in range(3)
    ]
    allsegs = segs.unionByName(branch)
    for t in tri_segs:
        allsegs = allsegs.unionByName(t)
    feats = allsegs.select(
        F.lit(0).cast("int").alias("tile_z"),
        F.pmod(F.col("r"), F.lit(4)).cast("int").alias("tile_x"),
        F.lit(0).cast("int").alias("tile_y"),
        F.lit("roads").alias("layer"),
        F.lit(2).cast("int").alias("geom_type"),
        "feature_id",
        F.array(F.array(F.col("line"))).alias("geom"),
    )
    merged = merge_lines(feats)
    part = F.col("part")[0]
    return (
        merged.select(
            "tile_x",
            "feature_id",
            F.explode("geom").alias("part"),
        )
        .select(
            "tile_x",
            "feature_id",
            part[0][0].alias("start_x"),
            part[0][1].alias("start_y"),
            F.element_at(part, -1)[0].alias("end_x"),
            F.element_at(part, -1)[1].alias("end_y"),
            F.size(part).alias("n_vertices"),
        )
        .orderBy("tile_x", "start_y", "start_x", "end_x", "end_y")
    )


Q_MERGE_LINES_SQL = """
WITH mx AS (SELECT max(c_custkey) AS m FROM customer),
chains AS (
  SELECT DISTINCT (c_custkey // 8) AS r
  FROM customer, mx
  WHERE (c_custkey // 8) >= 1 AND (c_custkey // 8) * 8 + 7 <= m
),
fid AS (  -- operator contract: feature_id = min input key per tile group
  SELECT r % 4 AS tile_x, min(r * 8) AS feature_id FROM chains GROUP BY 1
),
parts AS (
  -- plain chains: one merged 9-vertex line across x [0, 16]
  SELECT r, 0.0 AS start_x, r * 2.0 AS start_y,
         16.0 AS end_x, r * 2.0 AS end_y, 9 AS n_vertices
  FROM chains WHERE r % 5 <> 0
  UNION ALL
  -- branched chains split at the degree-3 node (8, 2r)
  SELECT r, 0.0, r * 2.0, 8.0, r * 2.0, 5 FROM chains WHERE r % 5 = 0
  UNION ALL
  SELECT r, 8.0, r * 2.0, 16.0, r * 2.0, 5 FROM chains WHERE r % 5 = 0
  UNION ALL
  SELECT r, 8.0, r * 2.0, 9.0, r * 2.0 + 1.0, 2 FROM chains WHERE r % 5 = 0
  UNION ALL
  -- triangles merge to one closed cycle rotated to the min vertex
  SELECT r, 100.0, r * 2.0, 100.0, r * 2.0, 4 FROM chains WHERE r % 7 = 0
)
SELECT CAST(r % 4 AS INT) AS tile_x, feature_id,
       start_x, start_y, end_x, end_y, n_vertices
FROM parts JOIN fid ON fid.tile_x = r % 4
ORDER BY tile_x, start_y, start_x, end_x, end_y
"""


def q_knn_geodesic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE kNN under the geodesic metric
    (operators/spatial_join.py:knn_join_geodesic): each supplier's 5
    nearest customers by haversine distance, found by expanding-radius
    search from a deliberately small 200 km start so several doubling
    rounds execute at oracle scale. The DuckDB oracle is the brute-force
    cross join ranked by the identical haversine expression with the same
    (distance, id) tie-break and the same 5000 km outer bound."""
    from ..operators.spatial_join import knn_join_geodesic

    cust, supp = load(spark, sf_dir, "customer", "supplier")
    queries = supp.select(
        F.col("s_suppkey"), lon_of(F.col("s_suppkey")), lat_of(F.col("s_suppkey"))
    )
    cands = cust.select(
        F.col("c_custkey"), lon_of(F.col("c_custkey")), lat_of(F.col("c_custkey"))
    )
    out = knn_join_geodesic(
        queries, cands, k=5, r0_m=200_000.0,
        query_id="s_suppkey", cand_id="c_custkey",
    )
    return out.select(
        "s_suppkey", "c_custkey", F.round("dist_m", 1).alias("dist_m"), "rank"
    ).orderBy("s_suppkey", "rank")


def _knn_geodesic_sql() -> str:
    from vectortiles_spark.functions.geodesic import haversine_sql

    hav = haversine_sql("q.lon", "q.lat", "c.lon", "c.lat")
    return f"""
WITH q AS (
  SELECT s_suppkey, {_sql_lon('s_suppkey')} AS lon, {_sql_lat('s_suppkey')} AS lat
  FROM supplier
), c AS (
  SELECT c_custkey, {_sql_lon('c_custkey')} AS lon, {_sql_lat('c_custkey')} AS lat
  FROM customer
), ranked AS (
  SELECT s_suppkey, c_custkey, {hav} AS d,
         row_number() OVER (
           PARTITION BY s_suppkey ORDER BY {hav} ASC, c_custkey ASC
         ) AS rank
  FROM q, c
  WHERE {hav} <= 5000000.0
)
SELECT s_suppkey, c_custkey, round(d, 1) AS dist_m, rank
FROM ranked WHERE rank <= 5
ORDER BY s_suppkey, rank
"""


Q_KNN_GEODESIC_SQL = _knn_geodesic_sql()


def q_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function battery: lag/lead/rank/dense_rank/running sum over
    the events stream — one row per (user, event) with all five."""
    (events,) = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sample = events.filter(F.col("user_id") < 50)
    return (
        sample.select(
            "user_id", "event_id",
            F.lag("event_type").over(w).alias("prev_type"),
            F.lead("event_type").over(w).alias("next_type"),
            F.rank().over(Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id"))).alias("value_rank"),
            F.round(F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 4).alias("running_value"),
        )
        .orderBy("user_id", "event_id")
    )


Q_WINDOW_SUITE_SQL = """
SELECT user_id, event_id,
       lag(event_type)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
       lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type,
       rank() OVER (PARTITION BY user_id ORDER BY value DESC, event_id)   AS value_rank,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING), 4)               AS running_value
FROM events
WHERE user_id < 50
ORDER BY user_id, event_id
"""


def q_case_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot as conditional aggregation (portable across engines)."""
    (orders,) = load(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            *[
                F.round(
                    F.sum(F.when(F.col("o_orderstatus") == s, F.col("o_totalprice")).otherwise(0.0)), 2
                ).alias(f"total_{s}")
                for s in ("F", "O", "P")
            ],
            F.count("*").alias("n"),
        )
        .orderBy("o_orderpriority")
    )


Q_CASE_PIVOT_SQL = """
SELECT o_orderpriority,
       round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0.0 END), 2) AS total_F,
       round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0.0 END), 2) AS total_O,
       round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice ELSE 0.0 END), 2) AS total_P,
       count(*) AS n
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q_mvt_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE codec gate as an oracle-checked query: customer points -> MVT
    encode -> MVT decode (both distributed) -> per-tile decoded feature
    counts and feature-id sums. The oracle computes the same from the raw
    table with pure SQL tile math — so a value match proves the entire
    encode→wire→decode loop preserves every feature and id."""
    from ..operators import tiling

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    pts = cust.select("c_custkey", lon_of(F.col("c_custkey")), lat_of(F.col("c_custkey")))
    # equirect tiles as tile ids so the oracle math is FP-portable; the
    # WebMercator path is pytest-verified against the NumPy twins
    feats = tiling.point_features(
        pts.withColumns({"eq_lat": (F.lit(0.0) - F.col("lat")) / F.lit(2.125)}),
        z=6, layer="customers", lat="eq_lat",
        feature_id=F.col("c_custkey"),
        meta={"segment_len": F.length(F.col("c_custkey").cast("string"))},
    )
    tiles = tiling.encode_tiles(feats)
    decoded = tiling.decode_tiles(tiles)
    return (
        decoded.groupBy("tile_x", "tile_y")
        .agg(
            F.count("*").alias("n_features"),
            F.sum("feature_id").alias("sum_ids"),
        )
        .orderBy("tile_x", "tile_y")
    )


# the oracle replays the exact tile assignment in SQL: tile_x from lon,
# tile_y via MIRRORED TRIG (DuckDB ln/tan/sqrt vs Spark asinh/tan) — NOT
# the pure-arithmetic bit-identity contract the other oracles use. Parity
# holds because no lat residue of this fixed key formula lands within
# libm-ulp of a 1/64 tile boundary (measured margin ~5.4e-5, ~1e10 ulps);
# if you change z, the 2.125 scale, or the lat formula, RE-CHECK that
# margin — a residue on a boundary can flip floor() between engines
Q_MVT_ROUNDTRIP_SQL = f"""
WITH pts AS (
  SELECT c_custkey, {_sql_lon('c_custkey')} AS lon,
         (0.0 - ({_sql_lat('c_custkey')})) / 2.125 AS eq_lat
  FROM customer
), assigned AS (
  SELECT c_custkey,
         cast(least(floor((lon + 180.0) / 360.0 * 64.0), 63) as int) AS tile_x,
         cast(greatest(least(floor((1.0 - ln(tan(radians(eq_lat)) + sqrt(tan(radians(eq_lat)) * tan(radians(eq_lat)) + 1.0)) / pi()) / 2.0 * 64.0), 63), 0) as int) AS tile_y
  FROM pts
)
SELECT tile_x, tile_y, count(*) AS n_features, sum(c_custkey)::BIGINT AS sum_ids
FROM assigned GROUP BY 1, 2 ORDER BY tile_x, tile_y
"""


def q_knn_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT kNN via expanding-ring search (D6, `knn_join_exact`): suppliers
    query, customers candidate. The oracle is a brute-force cross-product
    kNN — exactness means the two must agree row-for-row. dist2 uses only
    IEEE +/-/* and pmod, so floats are bit-identical across engines and
    ties break identically on c_custkey."""
    from vectortiles_spark.operators.spatial_join import knn_join_exact

    cust, supp = load(spark, sf_dir, "customer", "supplier")
    cand = widen(cust).select(
        F.col("c_custkey"), lon_of(F.col("c_custkey")), lat_of(F.col("c_custkey"))
    )
    qs = widen(supp).select(
        F.col("s_suppkey"), lon_of(F.col("s_suppkey")), lat_of(F.col("s_suppkey"))
    )
    res = knn_join_exact(qs, cand, k=5, z=4, query_id="s_suppkey", cand_id="c_custkey")
    return res.select(
        "s_suppkey", "c_custkey", F.round("dist2", 8).alias("dist2"), "rank"
    ).orderBy("s_suppkey", "rank")


Q_KNN_EXACT_SQL = f"""
WITH cand AS (
  SELECT c_custkey, {_sql_lon('c_custkey')} AS lon, {_sql_lat('c_custkey')} AS lat
  FROM customer
), queries AS (
  SELECT s_suppkey, {_sql_lon('s_suppkey')} AS q_lon, {_sql_lat('s_suppkey')} AS q_lat
  FROM supplier
), wrapped AS (
  -- mirror Spark's Pmod BRANCH exactly: the non-negative remainder is
  -- returned as-is (adding 360 and re-fmod'ing perturbs the last ulp)
  SELECT s_suppkey, c_custkey,
         fmod(lon - q_lon + 180.0, 360.0) AS r,
         lat - q_lat AS dlat
  FROM queries CROSS JOIN cand
), scored AS (
  SELECT s_suppkey, c_custkey,
         (CASE WHEN r < 0 THEN fmod(r + 360.0, 360.0) ELSE r END) - 180.0 AS dlon,
         dlat
  FROM wrapped
), ranked AS (
  SELECT s_suppkey, c_custkey, dlon * dlon + dlat * dlat AS dist2,
         row_number() OVER (
           PARTITION BY s_suppkey
           ORDER BY dlon * dlon + dlat * dlat ASC, c_custkey ASC
         ) AS rank
  FROM scored
)
SELECT s_suppkey, c_custkey, round(dist2, 8) AS dist2, rank
FROM ranked WHERE rank <= 5
ORDER BY s_suppkey, rank
"""


def q_mvt_roundtrip_geoms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed LINE + POLYGON encode/decode under the oracle gate: the
    reference's hardest semantics — ring grouping (Internal.hs:189-206),
    cursor carry across rings/parts (Internal.hs:165-174, 208-213), zigzag
    deltas — exercised through geom_features -> encode_tiles ->
    decode_tiles, then checked via per-tile aggregates whose expected
    values the oracle computes in closed form from the same integer keys.

    sum_cmds is the sum of every int in the regenerated command streams:
    any deviation in headers, LineTo batching, ClosePath count, winding
    order, ring order, or a single zigzag delta changes it."""
    from vectortiles_spark.operators import tiling

    rows = _lattice_geom_rows(spark, sf_dir)
    feats = tiling.geom_features(rows)
    decoded = tiling.decode_tiles(tiling.encode_tiles(feats))
    return _per_tile_stream_sums(decoded)


def _per_tile_stream_sums(decoded: DataFrame) -> DataFrame:
    """Shared closed-form-checkable aggregate for the decode round-trips:
    per (tile, layer) feature count, id sum, command-int count and sum."""
    return (
        decoded.groupBy("tile_x", "tile_y", "layer")
        .agg(
            F.count("*").alias("n_features"),
            F.sum("feature_id").alias("sum_ids"),
            F.sum(F.size("geom_cmds")).cast("bigint").alias("n_cmd_ints"),
            F.sum(
                F.aggregate("geom_cmds", F.lit(0).cast("bigint"), lambda a, x: a + x)
            ).alias("sum_cmds"),
        )
        .orderBy("tile_x", "tile_y", "layer")
    )


def _lattice_geom_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The closed-form line+polygon corpus shared by q_mvt_roundtrip_geoms
    and q_tileset_roundtrip (expected command streams documented below)."""
    (cust,) = load(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    i32 = lambda c: c.cast("int")

    def pt(x, y):
        return F.array(i32(x), i32(y))

    # deterministic integer-derived shapes (same arithmetic as the oracle)
    ox = 16 * (k % 7) + 16
    oy = 16 * ((k / 7).cast("long") % 7) + 16
    s = 8 + (k % 5) * 8          # divisible by 4 -> integer hole coords
    hx, hy, hs = ox + s / 4, oy + s / 4, s / 2
    ext = F.array(
        pt(ox, oy), pt(ox + s, oy), pt(ox + s, oy + s), pt(ox, oy + s), pt(ox, oy)
    )
    hole = F.array(
        pt(hx, hy), pt(hx, hy + hs), pt(hx + hs, hy + hs), pt(hx + hs, hy), pt(hx, hy)
    )
    # second PART (k % 8 == 2): a disjoint square 64 to the right — two
    # positive rings in one feature must decode as two polygons (ring
    # grouping, Internal.hs:202-206) with the cursor carrying across parts
    ox2 = ox + 64
    ext2 = F.array(
        pt(ox2, oy), pt(ox2 + s, oy), pt(ox2 + s, oy + s), pt(ox2, oy + s), pt(ox2, oy)
    )
    poly_geom = (
        F.when(k % 4 == 0, F.array(F.array(ext, hole)))
        .when(k % 8 == 2, F.array(F.array(ext), F.array(ext2)))
        .otherwise(F.array(F.array(ext)))
    )
    ax = 8 * (k % 9)
    ay = 8 * ((k / 9).cast("long") % 9) + 4
    d = 2 + k % 6
    line_geom = F.array(
        F.array(F.array(pt(ax, ay), pt(ax + d, ay + 2), pt(ax + 2 * d, ay)))
    )
    is_poly = (k % 2) == 0
    return cust.select(
        F.lit(4).alias("tile_z"),
        (k % 16).cast("int").alias("tile_x"),
        ((k / 16).cast("long") % 16).cast("int").alias("tile_y"),
        F.when(is_poly, F.lit("polys")).otherwise(F.lit("lines")).alias("layer"),
        F.when(is_poly, F.lit(3)).otherwise(F.lit(2)).alias("geom_type"),
        k.alias("feature_id"),
        F.when(is_poly, poly_geom).otherwise(line_geom).alias("geom"),
    )


def q_tileset_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole MVT INGEST circle under the value oracle: the lattice
    corpus -> encode_tiles -> write_tileset ({z}/{x}/{y}.mvt on disk,
    sources/tileset.py:26) -> read_tileset (binaryFile scan, :57) ->
    decode_tiles(layers=['polys']) — i.e. the reference's `tile` entry
    point (lib/Geography/VectorTile.hs:70-71) exercised as a FILESYSTEM
    source with layer-SELECTIVE partial decode (every tile carries both
    layers, so the 'lines' messages are genuinely length-skipped).

    Oracle: the q_mvt_roundtrip_geoms closed-form stream sums filtered to
    the polys layer. Any torn file, mis-addressed path, lost tile, or
    selective-decode divergence shifts the per-tile aggregates."""
    import shutil
    import tempfile

    from vectortiles_spark.operators import tiling
    from vectortiles_spark.sources.tileset import read_tileset, write_tileset

    rows = _lattice_geom_rows(spark, sf_dir)
    tiles = tiling.encode_tiles(tiling.geom_features(rows))
    # sf- AND pid-scoped scratch root: a caller interleaving two scale
    # factors (or a CONCURRENT PROCESS working the same sf, e.g. a bench
    # run beside check_oracles) must not have one write invalidate the
    # other's lazy read
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    root = os.path.join(
        tempfile.gettempdir(), f"q_tileset_roundtrip_{tag}_{os.getpid()}"
    )
    shutil.rmtree(root, ignore_errors=True)
    write_tileset(tiles, root)
    decoded = tiling.decode_tiles(read_tileset(spark, root, z=4), layers=["polys"])
    return _per_tile_stream_sums(decoded)


def q_vector_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multi-zoom OVERVIEW builder under the full value oracle:
    build_pyramid clips every feature to zooms 1..4 in ONE pass (lower
    zooms are exact halvings of the z=4 pixel lattice), Douglas-Peucker
    generalizes per zoom, and a single encode shuffle emits the whole
    pyramid — the tippecanoe-shaped loop, Spark-first.

    Closed-form construction: each customer key builds a right-angle
    L (legs d = 8<<(k%4) px at z=4) strictly interior to one z=4 tile,
    with every coordinate divisible by 8 so zoom halving is exact and the
    feature never touches a tile boundary at ANY requested zoom (no
    clip cuts — the multi-zoom assignment itself is the subject). DP at
    tolerance 1.0 keeps the corner iff its deviation d_z/sqrt(2) exceeds
    1 px, i.e. iff the integer d_z = d >> (4-z) is >= 2 — at (z=1, d=8)
    the corner provably vanishes (deviation 0.707) and everywhere else
    provably survives (>= 1.414), margins far beyond float noise. Per
    feature the expected stream is then closed-form: 8 ints summing to
    27 + 2*lx + 2*ly + 4*d_z with the corner, 6 ints summing to
    19 + 2*lx + 2*ly + 4*d_z without."""
    from vectortiles_spark.operators import tiling

    (cust,) = load(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    i64 = lambda c: c.cast("long")
    tx = k % 16
    ty = i64(k / 16) % 16
    rx = 1024 + 8 * ((k * 37) % 64)
    ry = 1024 + 8 * ((k * 53) % 64)
    d = (
        F.when(k % 4 == 0, 8).when(k % 4 == 1, 16).when(k % 4 == 2, 32).otherwise(64)
    ).cast("long")
    gx0 = 4096 * tx + rx
    gy0 = 4096 * ty + ry
    lon = lambda px: px.cast("double") * 360.0 / 65536.0 - 180.0
    lat = lambda py: F.lit(85.0) - py.cast("double") * 170.0 / 65536.0
    pt = lambda px, py: F.array(lon(px), lat(py))
    line = F.array(pt(gx0, gy0), pt(gx0 + d, gy0), pt(gx0 + d, gy0 + d))
    df = widen(cust).select(
        F.lit("lines").alias("layer"),
        F.lit(2).cast("int").alias("geom_type"),
        k.alias("feature_id"),
        F.array(F.array(line)).alias("geom"),
    )
    tiles = tiling.build_pyramid(df, zooms=[1, 2, 3, 4], tolerance=1.0, projection="equirect")
    decoded = tiling.decode_tiles(tiles)
    return (
        decoded.groupBy("tile_z", "tile_x", "tile_y")
        .agg(
            F.count("*").alias("n_features"),
            F.sum("feature_id").alias("sum_ids"),
            F.sum(F.size("geom_cmds")).cast("bigint").alias("n_cmd_ints"),
            F.sum(
                F.aggregate("geom_cmds", F.lit(0).cast("bigint"), lambda a, x: a + x)
            ).alias("sum_cmds"),
        )
        .orderBy("tile_z", "tile_x", "tile_y")
    )


Q_VECTOR_PYRAMID_SQL = """
WITH d AS (
  SELECT c_custkey AS k,
         c_custkey % 16 AS tx, (c_custkey // 16) % 16 AS ty,
         1024 + 8 * ((c_custkey * 37) % 64) AS rx,
         1024 + 8 * ((c_custkey * 53) % 64) AS ry,
         8 * (1 << (c_custkey % 4)) AS dd
  FROM customer
), z AS (
  SELECT unnest(generate_series(1, 4)) AS zoom
), per AS (
  SELECT k, zoom,
         (4096 * tx + rx) // (1 << (4 - zoom)) AS gx,
         (4096 * ty + ry) // (1 << (4 - zoom)) AS gy,
         dd // (1 << (4 - zoom)) AS dz
  FROM d CROSS JOIN z
), e AS (
  SELECT k, zoom, gx // 4096 AS tile_x, gy // 4096 AS tile_y,
         gx % 4096 AS lx, gy % 4096 AS ly, dz,
         dz >= 2 AS kept
  FROM per
)
SELECT zoom::INT AS tile_z, tile_x::INT AS tile_x, tile_y::INT AS tile_y,
       count(*) AS n_features, sum(k)::BIGINT AS sum_ids,
       sum(CASE WHEN kept THEN 8 ELSE 6 END)::BIGINT AS n_cmd_ints,
       sum((CASE WHEN kept THEN 27 ELSE 19 END) + 2 * lx + 2 * ly + 4 * dz)::BIGINT AS sum_cmds
FROM e GROUP BY 1, 2, 3
ORDER BY tile_z, tile_x, tile_y
"""


def q_mbtiles_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MBTiles distribution circle under the value oracle: lattice
    corpus -> encode_tiles -> write_mbtiles (single-file SQLite container,
    executor part-dbs + driver ATTACH merge, gzip tile_data, TMS row
    flip) -> read_mbtiles (concurrent rowid-range scans) -> decode_tiles,
    checked against the SAME closed-form stream sums as
    q_mvt_roundtrip_geoms — any defect in the row flip, the gzip
    round-trip, the merge, or the range fan-out shifts a per-tile sum.
    (sources/mbtiles.py; spec github.com/mapbox/mbtiles-spec)"""
    import tempfile

    from vectortiles_spark.operators import tiling
    from vectortiles_spark.sources.mbtiles import read_mbtiles, write_mbtiles

    rows = _lattice_geom_rows(spark, sf_dir)
    tiles = tiling.encode_tiles(tiling.geom_features(rows))
    # sf- and pid-scoped like q_tileset_roundtrip (concurrent processes)
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    path = os.path.join(
        tempfile.gettempdir(), f"q_mbtiles_roundtrip_{tag}_{os.getpid()}.mbtiles"
    )
    if os.path.exists(path):
        os.remove(path)
    write_mbtiles(tiles, path, metadata={"minzoom": 4, "maxzoom": 4})
    decoded = tiling.decode_tiles(read_mbtiles(spark, path, z=4))
    return _per_tile_stream_sums(decoded)


def q_pmtiles_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PMTiles distribution circle under the value oracle: lattice
    corpus -> encode_tiles -> write_pmtiles (single-file archive: Hilbert
    tile ids, varint directories, clustered gzip tile data, executor
    range-partitioned parts + driver directory assembly) -> read_pmtiles
    (entry-range pread fan-out, zoom pushdown) -> decode_tiles, checked
    against the SAME closed-form stream sums as q_mvt_roundtrip_geoms —
    any defect in the Hilbert math, directory codec, byte offsets, or
    the gzip circle shifts a per-tile sum. (sources/pmtiles.py; spec
    github.com/protomaps/PMTiles)"""
    import tempfile

    from vectortiles_spark.operators import tiling
    from vectortiles_spark.sources.pmtiles import read_pmtiles, write_pmtiles

    rows = _lattice_geom_rows(spark, sf_dir)
    tiles = tiling.encode_tiles(tiling.geom_features(rows))
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    path = os.path.join(
        tempfile.gettempdir(), f"q_pmtiles_roundtrip_{tag}_{os.getpid()}.pmtiles"
    )
    if os.path.exists(path):
        os.remove(path)
    write_pmtiles(tiles, path, metadata={"minzoom": 4, "maxzoom": 4})
    decoded = tiling.decode_tiles(read_pmtiles(spark, path, z=4))
    return _per_tile_stream_sums(decoded)


Q_TILESET_ROUNDTRIP_SQL = """
WITH derived AS (
  SELECT c_custkey AS k,
         cast(c_custkey % 16 AS INT) AS tile_x,
         cast((c_custkey // 16) % 16 AS INT) AS tile_y,
         (c_custkey % 4) = 0 AS has_hole,
         (c_custkey % 8) = 2 AS two_part,
         16 * (c_custkey % 7) + 16 AS ox,
         16 * ((c_custkey // 7) % 7) + 16 AS oy,
         8 + (c_custkey % 5) * 8 AS s
  FROM customer WHERE (c_custkey % 2) = 0
), expected AS (
  SELECT k, tile_x, tile_y, 'polys' AS layer,
         CASE WHEN has_hole OR two_part THEN 22 ELSE 11 END AS n_ints,
         CASE WHEN has_hole THEN 97 + 2 * ox + 2 * oy + 11 * s
              WHEN two_part THEN 225 + 2 * ox + 2 * oy + 14 * s
              ELSE 49 + 2 * ox + 2 * oy + 6 * s END AS stream_sum
  FROM derived
)
SELECT tile_x, tile_y, layer,
       count(*) AS n_features,
       sum(k)::BIGINT AS sum_ids,
       sum(n_ints)::BIGINT AS n_cmd_ints,
       sum(stream_sum)::BIGINT AS sum_cmds
FROM expected
GROUP BY tile_x, tile_y, layer
ORDER BY tile_x, tile_y, layer
"""


# closed-form expected command streams (zigzag: zig(n)=2n for n>=0, 2|n|-1
# for n<0; headers: MoveTo(1)=9, LineTo(c)=(c<<3)|2, ClosePath(1)=15):
#   line (3 pts):        [9, 2ax, 2ay, 18, 2d, 4, 2d, 3]         -> 8 ints,
#                        sum = 34 + 2ax + 2ay + 4d
#   square exterior:     [9, 2ox, 2oy, 26, 2s,0, 0,2s, 2s-1,0, 15] -> 11,
#                        sum = 49 + 2ox + 2oy + 6s
#   + hole (cursor carries from exterior's last vertex (ox, oy+s)):
#                        [9, s/2, 3s/2-1, 26, 0,s, s,0, 0,s-1, 15] -> 11,
#                        sum += 48 + 5s
#   + second part at (ox+64, oy) (cursor carry (64, -s) -> zig 128, 2s-1):
#                        [9, 128, 2s-1, 26, 2s,0, 0,2s, 2s-1,0, 15] -> 11,
#                        sum += 176 + 8s
Q_MVT_ROUNDTRIP_GEOMS_SQL = """
WITH derived AS (
  SELECT c_custkey AS k,
         cast(c_custkey % 16 AS INT) AS tile_x,
         cast((c_custkey // 16) % 16 AS INT) AS tile_y,
         (c_custkey % 2) = 0 AS is_poly,
         (c_custkey % 4) = 0 AS has_hole,
         (c_custkey % 8) = 2 AS two_part,
         16 * (c_custkey % 7) + 16 AS ox,
         16 * ((c_custkey // 7) % 7) + 16 AS oy,
         8 + (c_custkey % 5) * 8 AS s,
         8 * (c_custkey % 9) AS ax,
         8 * ((c_custkey // 9) % 9) + 4 AS ay,
         2 + c_custkey % 6 AS d
  FROM customer
), expected AS (
  SELECT k, tile_x, tile_y,
         CASE WHEN is_poly THEN 'polys' ELSE 'lines' END AS layer,
         CASE WHEN NOT is_poly THEN 8
              WHEN has_hole OR two_part THEN 22
              ELSE 11 END AS n_ints,
         CASE WHEN NOT is_poly THEN 34 + 2 * ax + 2 * ay + 4 * d
              WHEN has_hole THEN 97 + 2 * ox + 2 * oy + 11 * s
              WHEN two_part THEN 225 + 2 * ox + 2 * oy + 14 * s
              ELSE 49 + 2 * ox + 2 * oy + 6 * s END AS stream_sum
  FROM derived
)
SELECT tile_x, tile_y, layer,
       count(*) AS n_features,
       sum(k)::BIGINT AS sum_ids,
       sum(n_ints)::BIGINT AS n_cmd_ints,
       sum(stream_sum)::BIGINT AS sum_cmds
FROM expected
GROUP BY tile_x, tile_y, layer
ORDER BY tile_x, tile_y, layer
"""


def q_vector_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED vector tiler under the full value oracle: world
    features -> clip_features -> simplify_geoms (Douglas-Peucker) ->
    geom_features -> encode_tiles -> decode_tiles, checked end to end.

    Closed-form construction: each customer key builds an axis-aligned
    L-shaped polyline on the exact z=2 equirect pixel lattice (span
    16384; the dyadic lon/lat mapping roundtrips integer pixels exactly
    in float64, the q_clip_rects trick). Leg endpoints sit 101..3899 px
    inside their tiles (odd offsets — never ON a 4096 boundary), legs
    cross 1-2 tile boundaries per axis, and each leg carries its exact
    midpoint as an interior vertex so simplification has real work:

    * clip splits the L into per-tile chains: horizontal runs in row ay
      (tiles ax..bx-1), the 3-point corner chain in (bx, ay), vertical
      runs in column bx (rows ay+1..by);
    * DP at tolerance 1.0 deletes the exactly-collinear midpoints and
      boundary cut vertices (deviation 0) and provably keeps the corner
      (deviation >= 101*197/hypot >= ~90 px);
    * every surviving chain's MVT command stream is then closed-form —
      e.g. any horizontal run is [MoveTo, zig(lx), zig(ry), LineTo(1),
      zig(dx), 0] whose x-terms TELESCOPE to 8192, so its 6-int sum is
      8211 + 2*ry regardless of where the tile cut fell. A deviation
      anywhere in the composition — a lost fragment, a mis-simplified
      vertex, a wrong cursor delta, a bad tile assignment — shifts
      n_cmd_ints or sum_cmds.
    """
    from ..operators import tiling
    from ..operators.clip import clip_features
    from ..operators.simplify import simplify_geoms

    (cust,) = load(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    i64 = lambda c: c.cast("long")
    ax = k % 2
    bx = ax + 1 + i64(k / 2) % 2
    ay = i64(k / 4) % 2
    by = ay + 1 + i64(k / 8) % 2
    rx = 101 + 2 * ((k * 37) % 1900)
    rx2 = 101 + 2 * ((k * 61) % 1900)
    ry = 101 + 2 * ((k * 73) % 1900)
    ry2 = 101 + 2 * ((k * 89) % 1900)
    x0 = 4096 * ax + rx
    x1 = 4096 * bx + rx2
    y0 = 4096 * ay + ry
    y1 = 4096 * by + ry2
    midx = F.shiftright(x0 + x1, 1)  # both odd -> sum even -> exact
    midy = F.shiftright(y0 + y1, 1)
    lon = lambda px: px.cast("double") * 360.0 / 16384.0 - 180.0
    lat = lambda py: 85.0 - py.cast("double") * 170.0 / 16384.0
    pt = lambda px, py: F.array(lon(px), lat(py))
    line = F.array(pt(x0, y0), pt(midx, y0), pt(x1, y0), pt(x1, midy), pt(x1, y1))
    df = widen(cust).select(
        F.lit("lines").alias("layer"),
        F.lit(2).cast("int").alias("geom_type"),
        k.alias("feature_id"),
        F.array(F.array(line)).alias("geom"),
    )
    clipped = clip_features(df, z=2, projection="equirect")
    feats = tiling.geom_features(simplify_geoms(clipped, tolerance=1.0))
    decoded = tiling.decode_tiles(tiling.encode_tiles(feats))
    return (
        decoded.groupBy("tile_x", "tile_y")
        .agg(
            F.count("*").alias("n_features"),
            F.sum("feature_id").alias("sum_ids"),
            F.sum(F.size("geom_cmds")).cast("bigint").alias("n_cmd_ints"),
            F.sum(
                F.aggregate("geom_cmds", F.lit(0).cast("bigint"), lambda a, x: a + x)
            ).alias("sum_cmds"),
        )
        .orderBy("tile_x", "tile_y")
    )


# Closed-form piece inventory per feature (see q_vector_pipeline):
#   H runs   (t in ax..bx-1, ay): 6 ints, sum 8211 + 2*ry
#   corner   (bx, ay):            8 ints, sum 8219 + 2*rx2
#   V runs   (bx, t in ay+1..by-1): 6 ints, sum 8211 + 2*rx2
#   V tail   (bx, by):            6 ints, sum 19 + 2*rx2 + 2*ry2
Q_VECTOR_PIPELINE_SQL = """
WITH d AS (
  SELECT c_custkey AS k,
         c_custkey % 2 AS ax,
         c_custkey % 2 + 1 + (c_custkey // 2) % 2 AS bx,
         (c_custkey // 4) % 2 AS ay,
         (c_custkey // 4) % 2 + 1 + (c_custkey // 8) % 2 AS by,
         101 + 2 * ((c_custkey * 61) % 1900) AS rx2,
         101 + 2 * ((c_custkey * 73) % 1900) AS ry,
         101 + 2 * ((c_custkey * 89) % 1900) AS ry2
  FROM customer
), ts AS (
  SELECT unnest(generate_series(0, 3)) AS t
), pieces AS (
  SELECT k, t AS tx, ay AS ty, 6 AS n_ints, 8211 + 2 * ry AS s
  FROM d CROSS JOIN ts WHERE t BETWEEN ax AND bx - 1
  UNION ALL
  SELECT k, bx, ay, 8, 8219 + 2 * rx2 FROM d
  UNION ALL
  SELECT k, bx AS tx, t AS ty, 6, 8211 + 2 * rx2
  FROM d CROSS JOIN ts WHERE t BETWEEN ay + 1 AND by - 1
  UNION ALL
  SELECT k, bx, by, 6, 19 + 2 * rx2 + 2 * ry2 FROM d
)
SELECT tx::INT AS tile_x, ty::INT AS tile_y,
       count(*)::BIGINT AS n_features, sum(k)::BIGINT AS sum_ids,
       sum(n_ints)::BIGINT AS n_cmd_ints, sum(s)::BIGINT AS sum_cmds
FROM pieces GROUP BY 1, 2 ORDER BY tile_x, tile_y
"""


def q_raster_contours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster->vector contour tracing (D7) under the oracle gate: 32x32
    grids carrying 1-2 deterministic filled rectangles derived from integer
    keys are traced to polygon features; per-tile aggregates over the
    emitted command streams (int counts, stream sums) and area metadata are
    checked against closed-form SQL. Gates the trace start vertex, winding
    direction, perimeter walk, extent scaling (128 px/cell), and the
    smallest-area-first polygon ordering (via fid-weighted area)."""
    import pyarrow as pa

    from vectortiles_spark.operators.raster import raster_to_features

    GRID = 32  # extent 4096 -> scale 128
    (cust,) = load(spark, sf_dir, "customer")
    keys = widen(cust).select(
        F.col("c_custkey").alias("k"),
        (F.col("c_custkey") % 16).cast("int").alias("tile_x"),
        ((F.col("c_custkey") / 16).cast("long") % 16).cast("int").alias("tile_y"),
    )

    def synth(batches):
        import numpy as np

        for b in batches:
            ks = b["k"].to_numpy()
            px = []
            for k in ks:
                g = np.zeros((GRID, GRID), np.uint8)
                rx, ry = int(k % 8), int((k // 8) % 8)
                w, h = int(4 + k % 5), int(4 + (k // 5) % 5)
                g[ry:ry + h, rx:rx + w] = 255
                if k % 3 == 0:
                    g[20:22, 20:22] = 255  # disjoint second component
                px.append(g.tobytes())
            n = len(ks)
            yield pa.record_batch({
                "tile_z": pa.array([4] * n, pa.int32()),
                "tile_x": pa.array(b["tile_x"].to_numpy(), pa.int32()),
                "tile_y": pa.array(b["tile_y"].to_numpy(), pa.int32()),
                "w": pa.array([GRID] * n, pa.int32()),
                "h": pa.array([GRID] * n, pa.int32()),
                "px": pa.array(px, pa.binary()),
            })

    rasters = keys.mapInArrow(
        synth, "tile_z int, tile_x int, tile_y int, w int, h int, px binary"
    )
    feats = raster_to_features(rasters, extent=4096)
    area = F.element_at(F.col("meta"), 1).getField("d")
    return (
        feats.groupBy("tile_x", "tile_y")
        .agg(
            F.count("*").alias("n_features"),
            F.sum(F.size("geom_cmds")).cast("bigint").alias("n_cmd_ints"),
            F.sum(
                F.aggregate("geom_cmds", F.lit(0).cast("bigint"), lambda a, x: a + x)
            ).alias("sum_cmds"),
            F.round(F.sum(area), 1).alias("sum_area"),
            F.round(F.sum(F.col("feature_id").cast("double") * area), 1).alias(
                "fid_weighted_area"
            ),
        )
        .orderBy("tile_x", "tile_y")
    )


# closed-form expectations (scale s=128, so 2s=256, 2s-1=255): an axis-
# aligned rect (rx, ry, w, h) traces to an UNSIMPLIFIED unit-step ring of
# P = 2(w+h) points starting at the top-left corner going right:
#   ints  = 3 (MoveTo) + 1 + 2(P-1) (LineTo) + 1 (ClosePath) = 4(w+h) + 3
#   sum   = 9 + 256(rx+ry) + (8(P-1)+2)
#           + 256w (right) + 256h (down) + 255w (left) + 255(h-1) (up) + 15
#   area  = w*h*s^2 = 16384*w*h   (exterior positive)
# second component (k%3==0): constant 2x2 rect at (20,20): ints 19,
# sum 12111, area 65536; smallest-area-first ordering puts it at fid 0, so
# fid_weighted_area = area of the big rect exactly when ordering is right.
Q_RASTER_CONTOURS_SQL = """
WITH derived AS (
  SELECT c_custkey AS k,
         cast(c_custkey % 16 AS INT) AS tile_x,
         cast((c_custkey // 16) % 16 AS INT) AS tile_y,
         c_custkey % 8 AS rx, (c_custkey // 8) % 8 AS ry,
         4 + c_custkey % 5 AS w, 4 + (c_custkey // 5) % 5 AS h,
         (c_custkey % 3) = 0 AS two
  FROM customer
), per AS (
  SELECT tile_x, tile_y,
         CASE WHEN two THEN 2 ELSE 1 END AS nf,
         (4 * (w + h) + 3) + CASE WHEN two THEN 19 ELSE 0 END AS n_ints,
         (9 + 256 * (rx + ry) + (8 * (2 * (w + h) - 1) + 2)
            + 256 * w + 256 * h + 255 * w + 255 * (h - 1) + 15)
           + CASE WHEN two THEN 12111 ELSE 0 END AS ssum,
         16384.0 * w * h + CASE WHEN two THEN 65536.0 ELSE 0.0 END AS area,
         CASE WHEN two THEN 16384.0 * w * h ELSE 0.0 END AS fwa
  FROM derived
)
SELECT tile_x, tile_y,
       sum(nf)::BIGINT AS n_features,
       sum(n_ints)::BIGINT AS n_cmd_ints,
       sum(ssum)::BIGINT AS sum_cmds,
       round(sum(area), 1) AS sum_area,
       round(sum(fwa), 1) AS fid_weighted_area
FROM per GROUP BY tile_x, tile_y ORDER BY tile_x, tile_y
"""


def q_cell_colocate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial equi-join on cell id: customer/supplier pairs per tile —
    the 'spatial predicate as hash join' pattern (SURVEY.md §4.1)."""
    z = 5
    cust, supp = load(spark, sf_dir, "customer", "supplier")
    c = cust.select(
        eq_tile_x(lon_of(F.col("c_custkey")), z).alias("tx"),
        eq_tile_y(lat_of(F.col("c_custkey")), z).alias("ty"),
    ).groupBy("tx", "ty").agg(F.count("*").alias("n_cust"))
    s = supp.select(
        eq_tile_x(lon_of(F.col("s_suppkey")), z).alias("tx"),
        eq_tile_y(lat_of(F.col("s_suppkey")), z).alias("ty"),
    ).groupBy("tx", "ty").agg(F.count("*").alias("n_supp"))
    return c.join(s, ["tx", "ty"]).orderBy("tx", "ty")


Q_CELL_COLOCATE_SQL = f"""
WITH c AS (
  SELECT {_sql_eq_tile_x(_sql_lon('c_custkey'), 5)} AS tx,
         {_sql_eq_tile_y(_sql_lat('c_custkey'), 5)} AS ty,
         count(*) AS n_cust
  FROM customer GROUP BY 1, 2
), s AS (
  SELECT {_sql_eq_tile_x(_sql_lon('s_suppkey'), 5)} AS tx,
         {_sql_eq_tile_y(_sql_lat('s_suppkey'), 5)} AS ty,
         count(*) AS n_supp
  FROM supplier GROUP BY 1, 2
)
SELECT tx, ty, n_cust, n_supp FROM c JOIN s USING (tx, ty)
ORDER BY tx, ty
"""


def q_label_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon label points under the value oracle
    (operators/labels.py:label_points): per customer a rectangle with a
    concentric rectangular HOLE (hole orientation mirrored, so its ring
    signs are negative exactly as the decoder's grouping expects), pushed
    through geom_features -> label_points. The signed-area centroid's
    numerators are exact int64 identities for rect-minus-rect —
    sx = 3*(W*H*(x0+x1) - w*h*(hx0+hx1)) — so the SQL replays the
    arithmetic closed-form, including the single IEEE division and the
    zigzag of the emitted command stream (zx = 2*px for px >= 0)."""
    from vectortiles_spark.operators import tiling
    from vectortiles_spark.operators.labels import label_points

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey")
    x0 = (k * 131 % 3000).cast("bigint")
    y0 = (k * 197 % 3000).cast("bigint")
    x1 = x0 + (k * 89 % 900) + 64
    y1 = y0 + (k * 53 % 900) + 64
    d = (k * 37 % 17) + 8
    outer = F.array(
        F.array(x0, y0), F.array(x1, y0), F.array(x1, y1),
        F.array(x0, y1), F.array(x0, y0),
    )
    hole = F.array(
        F.array(x0 + d, y0 + d), F.array(x0 + d, y1 - d),
        F.array(x1 - d, y1 - d), F.array(x1 - d, y0 + d),
        F.array(x0 + d, y0 + d),
    )
    feats = tiling.geom_features(
        widen(cust).select(
            F.lit(3).alias("tile_z"),
            (k * 3 % 8).cast("int").alias("tile_x"),
            (k * 5 % 8).cast("int").alias("tile_y"),
            F.lit("districts").alias("layer"),
            F.lit(3).alias("geom_type"),
            k.alias("feature_id"),
            F.array(F.array(outer, hole)).alias("geom"),
        )
    )
    out = label_points(feats)
    return out.select(
        "feature_id", "layer", "geom_type", "px", "py", "area2",
        F.element_at("geom_cmds", 1).alias("cmd0"),
        F.element_at("geom_cmds", 2).alias("zx"),
        F.element_at("geom_cmds", 3).alias("zy"),
    ).orderBy("feature_id")


Q_LABEL_POINTS_SQL = """
WITH r AS (
  SELECT c_custkey AS feature_id,
         (c_custkey * 131) % 3000 AS x0, (c_custkey * 197) % 3000 AS y0,
         (c_custkey * 89) % 900 + 64 AS bw, (c_custkey * 53) % 900 + 64 AS bh,
         (c_custkey * 37) % 17 + 8 AS d
  FROM customer
), m AS (
  SELECT feature_id, x0, y0, bw, bh,
         bw - 2 * d AS hw, bh - 2 * d AS hh,
         x0 + d AS hx0, x0 + bw - d AS hx1,
         y0 + d AS hy0, y0 + bh - d AS hy1
  FROM r
), acc AS (
  SELECT feature_id,
         2 * (bw * bh) - 2 * (hw * hh) AS sa,
         3 * (bw * bh * (x0 + (x0 + bw)) - hw * hh * (hx0 + hx1)) AS sx,
         3 * (bw * bh * (y0 + (y0 + bh)) - hw * hh * (hy0 + hy1)) AS sy
  FROM m
)
SELECT feature_id, 'districts_labels' AS layer, 1 AS geom_type,
       CAST(floor(sx / (3.0 * sa) + 0.5) AS INT) AS px,
       CAST(floor(sy / (3.0 * sa) + 0.5) AS INT) AS py,
       sa::BIGINT AS area2,
       9::BIGINT AS cmd0,
       2 * CAST(floor(sx / (3.0 * sa) + 0.5) AS BIGINT) AS zx,
       2 * CAST(floor(sy / (3.0 * sa) + 0.5) AS BIGINT) AS zy
FROM acc ORDER BY feature_id
"""


def q_convex_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group convex hull under the value oracle
    (operators/labels.py:convex_hull): deterministic point clouds from
    customer keys (5 groups), hull via integer monotone chain. The
    oracle states the DEFINING property instead of replaying the
    algorithm: with collinear boundary points dropped (strict turns), a
    point is a hull VERTEX iff it is not inside-or-on any nondegenerate
    triangle of its group's other points (Caratheodory) — an O(n^4)
    check DuckDB brute-forces at oracle scale. n_hull rides along so
    cardinality mismatches surface even if the vertex set collides."""
    from vectortiles_spark.operators.labels import convex_hull

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey")
    pts = cust.filter(k % 7 == 0).select(
        (k % 5).cast("int").alias("g"),
        (k * 131 % 997).cast("bigint").alias("px"),
        (k * 197 % 983).cast("bigint").alias("py"),
    )
    hull = convex_hull(pts, ["g"], "px", "py")
    w = Window.partitionBy("g")
    return (
        hull.withColumn("n_hull", F.count("*").over(w).cast("bigint"))
        .select("g", "px", "py", "n_hull")
        .orderBy("g", "px", "py")
    )


Q_CONVEX_HULL_SQL = """
WITH p AS (
  SELECT DISTINCT (c_custkey % 5)::INT AS g,
         (c_custkey * 131) % 997 AS px, (c_custkey * 197) % 983 AS py
  FROM customer WHERE c_custkey % 7 = 0
), hull AS (
  SELECT g, px, py FROM p
  WHERE NOT EXISTS (
    SELECT 1 FROM p a, p b, p c
    WHERE a.g = p.g AND b.g = p.g AND c.g = p.g
      AND (b.px - a.px) * (c.py - a.py) - (b.py - a.py) * (c.px - a.px) != 0
      AND NOT (a.px = p.px AND a.py = p.py)
      AND NOT (b.px = p.px AND b.py = p.py)
      AND NOT (c.px = p.px AND c.py = p.py)
      AND (
        ( (b.px - a.px) * (p.py - a.py) - (b.py - a.py) * (p.px - a.px) >= 0
      AND (c.px - b.px) * (p.py - b.py) - (c.py - b.py) * (p.px - b.px) >= 0
      AND (a.px - c.px) * (p.py - c.py) - (a.py - c.py) * (p.px - c.px) >= 0 )
       OR
        ( (b.px - a.px) * (p.py - a.py) - (b.py - a.py) * (p.px - a.px) <= 0
      AND (c.px - b.px) * (p.py - b.py) - (c.py - b.py) * (p.px - b.px) <= 0
      AND (a.px - c.px) * (p.py - c.py) - (a.py - c.py) * (p.px - c.px) <= 0 )
      )
  )
)
SELECT g, px::BIGINT AS px, py::BIGINT AS py,
       count(*) OVER (PARTITION BY g) AS n_hull
FROM hull ORDER BY g, px, py
"""


def q_hexbin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hexagonal density binning under the value oracle
    (operators/cluster.py:hexbin_points): customers at z=4 equirect,
    1024 px pointy-top hexes over the GLOBAL pixel plane (big enough
    that metro keys collide, so the count/rep/sum aggregates are
    exercised on real multi-point bins). Every float step
    (axial transform, cube rounding + largest-error correction, center
    back-projection) is shared-IEEE arithmetic on embedded double
    literals in a pinned operation order, so DuckDB replays the entire
    assignment — including tie-side behavior on hex boundaries —
    bit-for-bit."""
    from vectortiles_spark.operators.cluster import hexbin_points

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    pts = cust.select(
        "c_custkey", "c_acctbal",
        lon_of(F.col("c_custkey")), lat_of(F.col("c_custkey")),
    )
    return hexbin_points(
        pts, z=4, size_px=1024, id_col="c_custkey",
        agg={"c_acctbal": "sum"}, projection="equirect",
    ).orderBy("hq", "hr")


def _hexbin_sql() -> str:
    n, top = float(1 << 4), float((1 << 4) - 1)
    return f"""
WITH pts AS (
  SELECT c_custkey, c_acctbal,
         {_sql_lon('c_custkey')} AS lon, {_sql_lat('c_custkey')} AS lat
  FROM customer
), f AS (
  SELECT c_custkey, c_acctbal,
         (lon + 180.0) / 360.0 * {n} AS fx,
         (85.0 - lat) / 170.0 * {n} AS fy
  FROM pts
), g AS (
  SELECT c_custkey, c_acctbal,
         cast(least(floor(fx), {top}) AS INT) AS tile_x,
         cast(least(floor(fy), {top}) AS INT) AS tile_y,
         cast(least(floor((fx - floor(least(fx, {top}))) * 4096.0), 4095.0) AS BIGINT) AS _px,
         cast(least(floor((fy - floor(least(fy, {top}))) * 4096.0), 4095.0) AS BIGINT) AS _py
  FROM f
), gg AS (
  SELECT c_custkey, c_acctbal,
         CAST(tile_x * 4096 + _px AS DOUBLE) AS gx,
         CAST(tile_y * 4096 + _py AS DOUBLE) AS gy
  FROM g
), ax AS (
  SELECT c_custkey, c_acctbal,
         (0.5773502691896258 * gx - gy / 3.0) / 1024.0 AS qf,
         (0.6666666666666666 * gy) / 1024.0 AS rf
  FROM gg
), cr AS (
  SELECT c_custkey, c_acctbal, qf, rf,
         floor(qf + 0.5) AS rq,
         floor(-qf - rf + 0.5) AS ry,
         floor(rf + 0.5) AS rr
  FROM ax
), hx AS (
  SELECT c_custkey, c_acctbal,
         CASE WHEN abs(rq - qf) > abs(ry - (-qf - rf))
                AND abs(rq - qf) > abs(rr - rf)
              THEN CAST(-ry - rr AS BIGINT) ELSE CAST(rq AS BIGINT) END AS hq,
         CASE WHEN NOT (abs(rq - qf) > abs(ry - (-qf - rf))
                        AND abs(rq - qf) > abs(rr - rf))
                AND NOT (abs(ry - (-qf - rf)) > abs(rr - rf))
              THEN CAST(-rq - ry AS BIGINT) ELSE CAST(rr AS BIGINT) END AS hr
  FROM cr
)
SELECT 4 AS zoom, hq, hr, count(*) AS point_count,
       (1.7320508075688772 * hq + 0.8660254037844386 * hr) * 1024.0 AS cx_px,
       1.5 * hr * 1024.0 AS cy_px,
       CAST(min(c_custkey) AS BIGINT) AS rep_id,
       round(sum(c_acctbal), 2) AS c_acctbal_sum
FROM hx GROUP BY hq, hr ORDER BY hq, hr
"""


Q_HEXBIN_SQL = _hexbin_sql()


def q_hillshade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hillshade with cross-tile halo exchange under the value oracle
    (operators/raster.py:focal_map op='hillshade'): q_focal_grad's 8x8
    closed-form elevation mosaic lit from the default NW 315/45 sun. The
    trig-free Horn formulation leaves only shared-IEEE +,*,/,sqrt in the
    per-pixel path (the four sin/cos constants are Python-computed
    double literals embedded in BOTH engines), so per-tile stats replay
    bit-for-bit, halo strips included."""
    import numpy as np
    import pandas as pd

    from vectortiles_spark.operators.raster import focal_map, zonal_stats

    rows_i, cols_i = np.arange(64)[:, None], np.arange(64)[None, :]
    rasters = spark.createDataFrame(
        pd.DataFrame(
            [
                {"tile_z": 3, "tile_x": tx, "tile_y": ty, "w": 64, "h": 64,
                 "px": (((tx * 64 + cols_i) * 13 + (ty * 64 + rows_i) * 17
                         + 7) % 251).astype(np.uint8).tobytes()}
                for tx in range(8) for ty in range(8)
            ]
        )
    )
    hs = focal_map(rasters, op="hillshade")
    feats = _full_tile_feats(spark)
    return (
        zonal_stats(feats, hs)
        .select("tile_x", "tile_y", "n_px", "sum_val", "min_val", "max_val",
                "mean_val")
        .orderBy("tile_x", "tile_y")
    )


def _hillshade_sql() -> str:
    import math

    alt = math.radians(45.0)
    azm = math.radians(360.0 - 315.0 + 90.0)
    sin_alt, zf_cos_alt = math.sin(alt), 1.0 * math.cos(alt)
    sin_az, cos_az = math.sin(azm), math.cos(azm)
    zf2 = 1.0

    def v(ax: str, ay: str) -> str:
        return (
            f"(CASE WHEN ({ax}) BETWEEN 0 AND 511 AND ({ay}) BETWEEN 0 AND 511 "
            f"THEN (({ax}) * 13 + ({ay}) * 17 + 7) % 251 ELSE 0 END)"
        )

    gx, gy = "tile_x * 64 + c.range", "tile_y * 64 + r.range"
    dzdx = (
        f"(({v(f'{gx} + 1', f'{gy} - 1')} + 2 * {v(f'{gx} + 1', gy)}"
        f" + {v(f'{gx} + 1', f'{gy} + 1')})"
        f" - ({v(f'{gx} - 1', f'{gy} - 1')} + 2 * {v(f'{gx} - 1', gy)}"
        f" + {v(f'{gx} - 1', f'{gy} + 1')})) / 8.0"
    )
    dzdy = (
        f"(({v(f'{gx} - 1', f'{gy} + 1')} + 2 * {v(gx, f'{gy} + 1')}"
        f" + {v(f'{gx} + 1', f'{gy} + 1')})"
        f" - ({v(f'{gx} - 1', f'{gy} - 1')} + 2 * {v(gx, f'{gy} - 1')}"
        f" + {v(f'{gx} + 1', f'{gy} - 1')})) / 8.0"
    )
    return f"""
WITH t AS (
  SELECT tx.range AS tile_x, ty.range AS tile_y FROM range(8) tx, range(8) ty
), d AS (
  SELECT tile_x, tile_y, {dzdx} AS dzdx, {dzdy} AS dzdy
  FROM t, range(64) r, range(64) c
), s AS (
  SELECT tile_x, tile_y,
         CAST(floor(least(greatest(
           255.0 * ({sin_alt!r} + {zf_cos_alt!r} * ({sin_az!r} * dzdy - {cos_az!r} * dzdx))
             / sqrt(1.0 + {zf2!r} * (dzdx * dzdx + dzdy * dzdy)),
           0.0), 255.0) + 0.5) AS INT) AS val
  FROM d
)
SELECT tile_x::INT AS tile_x, tile_y::INT AS tile_y,
       count(*) AS n_px, sum(val)::BIGINT AS sum_val,
       min(val)::INT AS min_val, max(val)::INT AS max_val,
       sum(val)::DOUBLE / count(*) AS mean_val
FROM s GROUP BY 1, 2
ORDER BY tile_x, tile_y
"""


Q_HILLSHADE_SQL = _hillshade_sql()


def q_line_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line label anchors under the value oracle
    (operators/labels.py:line_label_anchors): per customer an axis-
    aligned 4-vertex staircase polyline whose three segment lengths are
    exact integers (sqrt of a perfect square is exact), so the
    sequential running-length fold, the half-length comparison, and the
    chosen anchor VERTEX all replay exactly in SQL CASE arithmetic."""
    from vectortiles_spark.operators import tiling
    from vectortiles_spark.operators.labels import line_label_anchors

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey")
    x0 = (k * 131 % 2000).cast("bigint")
    y0 = (k * 197 % 2000).cast("bigint")
    a = (k * 89 % 500) + 10
    b = (k * 53 % 400) + 10
    c = (k * 37 % 300) + 10
    part = F.array(
        F.array(x0, y0),
        F.array(x0 + a, y0),
        F.array(x0 + a, y0 + b),
        F.array(x0 + a + c, y0 + b),
    )
    feats = tiling.geom_features(
        widen(cust).select(
            F.lit(3).alias("tile_z"),
            (k * 3 % 8).cast("int").alias("tile_x"),
            (k * 5 % 8).cast("int").alias("tile_y"),
            F.lit("roads").alias("layer"),
            F.lit(2).alias("geom_type"),
            k.alias("feature_id"),
            F.array(F.array(part)).alias("geom"),
        )
    )
    out = line_label_anchors(feats)
    return out.select(
        "feature_id", "layer", "geom_type", "px", "py", "part_idx", "len_px",
        F.element_at("geom_cmds", 2).alias("zx"),
        F.element_at("geom_cmds", 3).alias("zy"),
    ).orderBy("feature_id")


Q_LINE_LABELS_SQL = """
WITH r AS (
  SELECT c_custkey AS feature_id,
         (c_custkey * 131) % 2000 AS x0, (c_custkey * 197) % 2000 AS y0,
         (c_custkey * 89) % 500 + 10 AS a,
         (c_custkey * 53) % 400 + 10 AS b,
         (c_custkey * 37) % 300 + 10 AS c
  FROM customer
), pick AS (
  SELECT feature_id, x0, y0, a, b, c,
         CAST(a + b + c AS DOUBLE) AS tot,
         CASE WHEN CAST(a AS DOUBLE) >= CAST(a + b + c AS DOUBLE) / 2.0 THEN 1
              WHEN CAST(a + b AS DOUBLE) >= CAST(a + b + c AS DOUBLE) / 2.0 THEN 2
              ELSE 3 END AS j
  FROM r
)
SELECT feature_id, 'roads_labels' AS layer, 1 AS geom_type,
       CAST(CASE WHEN j = 1 THEN x0 + a
                 WHEN j = 2 THEN x0 + a
                 ELSE x0 + a + c END AS INT) AS px,
       CAST(CASE WHEN j = 1 THEN y0
                 ELSE y0 + b END AS INT) AS py,
       0 AS part_idx, tot AS len_px,
       2 * (CASE WHEN j = 3 THEN x0 + a + c ELSE x0 + a END) AS zx,
       2 * (CASE WHEN j = 1 THEN y0 ELSE y0 + b END) AS zy
FROM pick ORDER BY feature_id
"""


def q_plan_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced shard planning under the value oracle
    (operators/sharding.py:plan_shards): customer counts per z=6
    equirect tile as the load, split into 8 contiguous quadkey ranges.
    The operator's distributed exclusive prefix sum (data-independent
    quadkey-prefix boundaries) must equal the single window cumsum the
    SQL states — pure bigint arithmetic, no floats to drift."""
    from vectortiles_spark.operators.sharding import plan_shards

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey")
    tiles = (
        cust.select(
            eq_tile_x(lon_of(k), 6).alias("tile_x"),
            eq_tile_y(lat_of(k), 6).alias("tile_y"),
        )
        .groupBy("tile_x", "tile_y")
        .agg(F.count("*").alias("n"))
        .withColumn("tile_z", F.lit(6))
    )
    return plan_shards(tiles, 8, weight_col="n").select(
        "tile_x", "tile_y", "qk", "weight", "prefix_excl", "shard_id"
    ).orderBy("qk")


Q_PLAN_SHARDS_SQL = f"""
WITH t AS (
  SELECT {_sql_eq_tile_x(_sql_lon('c_custkey'), 6)} AS tx,
         {_sql_eq_tile_y(_sql_lat('c_custkey'), 6)} AS ty,
         count(*) AS n
  FROM customer GROUP BY 1, 2
), qk AS (
  SELECT tx, ty, n, {_sql_quadkey_digits(6)} AS qk FROM t
), scan AS (
  SELECT tx, ty, n, qk,
         coalesce(sum(n) OVER (ORDER BY qk
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pe,
         sum(n) OVER () AS total
  FROM qk
)
SELECT tx::INT AS tile_x, ty::INT AS tile_y, qk,
       n::BIGINT AS weight, pe::BIGINT AS prefix_excl,
       least(greatest(pe * 8 // total, 0), 7)::INT AS shard_id
FROM scan ORDER BY qk
"""


def q_isolines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marching-squares isolines under the value oracle
    (operators/raster.py:isolines): the q_focal_grad 8x8 closed-form
    mosaic contoured at level 125.5 (never equal to a uint8 value, so
    every crossing is strictly interior). The oracle SQL is GENERATED
    from the operator's own MS_SEGMENTS case table — one source of truth
    for the 14 cases and the pinned saddle topology — and every endpoint
    is "integer + one IEEE division", so the full segment set (including
    cross-tile halo cells) replays bit-for-bit."""
    import numpy as np
    import pandas as pd

    from vectortiles_spark.operators.raster import isolines

    rows_i, cols_i = np.arange(64)[:, None], np.arange(64)[None, :]
    rasters = spark.createDataFrame(
        pd.DataFrame(
            [
                {"tile_z": 3, "tile_x": tx, "tile_y": ty, "w": 64, "h": 64,
                 "px": (((tx * 64 + cols_i) * 13 + (ty * 64 + rows_i) * 17
                         + 7) % 251).astype(np.uint8).tobytes()}
                for tx in range(8) for ty in range(8)
            ]
        )
    )
    return (
        isolines(rasters, level=125.5)
        .select("tile_x", "tile_y", "gx1", "gy1", "gx2", "gy2")
        .orderBy("gx1", "gy1", "gx2", "gy2")
    )


def _isolines_sql() -> str:
    from ..operators.raster import MS_SEGMENTS

    L = "125.5"

    def pt(e: str) -> tuple[str, str]:
        if e == "T":
            return f"gx + ({L} - a) / (b - a)", "gy + 0.0"
        if e == "R":
            return "gx + 1.0", f"gy + ({L} - b) / (c - b)"
        if e == "B":
            return f"gx + ({L} - d) / (c - d)", "gy + 1.0"
        return "gx + 0.0", f"gy + ({L} - a) / (d - a)"

    arms = []
    for k, segs in sorted(MS_SEGMENTS.items()):
        for e1, e2 in segs:
            x1, y1 = pt(e1)
            x2, y2 = pt(e2)
            arms.append(
                f"SELECT tile_x, tile_y, {x1} AS gx1, {y1} AS gy1, "
                f"{x2} AS gx2, {y2} AS gy2 FROM cells WHERE cse = {k}"
            )
    union = "\nUNION ALL\n".join(arms)

    def v(ax: str, ay: str) -> str:
        return f"((({ax}) * 13 + ({ay}) * 17 + 7) % 251)"

    return f"""
WITH g AS (
  SELECT cx.range AS gx, cy.range AS gy FROM range(511) cx, range(511) cy
), c0 AS (
  SELECT gx, gy,
         {v('gx', 'gy')} AS a, {v('gx + 1', 'gy')} AS b,
         {v('gx + 1', 'gy + 1')} AS c, {v('gx', 'gy + 1')} AS d
  FROM g
), cells AS (
  SELECT (gx // 64)::INT AS tile_x, (gy // 64)::INT AS tile_y,
         gx, gy, a, b, c, d,
         (CASE WHEN a >= {L} THEN 8 ELSE 0 END
        + CASE WHEN b >= {L} THEN 4 ELSE 0 END
        + CASE WHEN c >= {L} THEN 2 ELSE 0 END
        + CASE WHEN d >= {L} THEN 1 ELSE 0 END) AS cse
  FROM c0
)
{union}
ORDER BY gx1, gy1, gx2, gy2
"""


Q_ISOLINES_SQL = _isolines_sql()


def q_point_buffers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point buffers under the value oracle THROUGH THE FULL MVT CODEC
    (operators/labels.py:point_buffers): per customer an 8-gon buffer,
    encoded by the distributed sink and decoded back; the per-feature
    command-stream sum + length replay in SQL closed form (vertices are
    "int + floor(R*cos_k + 0.5)" with the cos/sin table imported from
    the operator — one source; deltas and zigzags are exact integer
    algebra per the wire spec)."""
    from vectortiles_spark.operators.labels import point_buffers
    from vectortiles_spark.operators.tiling import decode_tiles, encode_tiles

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey")
    pts = widen(cust).select(
        F.lit(3).alias("tile_z"),
        (k * 3 % 8).cast("int").alias("tile_x"),
        (k * 5 % 8).cast("int").alias("tile_y"),
        k.alias("feature_id"),
        ((k * 131 % 3000) + 500).cast("int").alias("px"),
        ((k * 197 % 3000) + 500).cast("int").alias("py"),
    )
    feats = point_buffers(pts, radius_px=40, n_vertices=8)
    back = decode_tiles(encode_tiles(feats))
    return back.select(
        "feature_id",
        F.size("geom_cmds").alias("stream_len"),
        F.aggregate(
            F.col("geom_cmds"), F.lit(0).cast("bigint"), lambda a, x: a + x
        ).alias("stream_sum"),
    ).orderBy("feature_id")


def _point_buffers_sql() -> str:
    from ..operators.labels import buffer_cos_sin

    n = 8
    table = buffer_cos_sin(n)
    # 40.0 and the cos/sin literals must multiply as DOUBLEs (DuckDB
    # types bare decimal literals as DECIMAL, which overflows and rounds
    # differently)
    vx = [
        f"px + CAST(floor(CAST(40.0 AS DOUBLE) * CAST({c!r} AS DOUBLE) + 0.5)"
        f" AS BIGINT)" for c, _ in table
    ]
    vy = [
        f"py + CAST(floor(CAST(40.0 AS DOUBLE) * CAST({s!r} AS DOUBLE) + 0.5)"
        f" AS BIGINT)" for _, s in table
    ]

    def zig(e: str) -> str:
        return f"(CASE WHEN ({e}) >= 0 THEN 2 * ({e}) ELSE -2 * ({e}) - 1 END)"

    cols = ", ".join(
        f"{vx[i]} AS vx{i}, {vy[i]} AS vy{i}" for i in range(n)
    )
    zig0 = f"{zig('vx0')} + {zig('vy0')}"
    deltas = " + ".join(
        f"{zig(f'vx{i} - vx{i - 1}')} + {zig(f'vy{i} - vy{i - 1}')}"
        for i in range(1, n)
    )
    # stream: MoveTo(1)=9, zig(v0); LineTo(n-1)=((n-1)<<3)|2; n-1 zigzag
    # delta pairs; ClosePath(1)=15
    lineto = ((n - 1) << 3) | 2
    return f"""
WITH p AS (
  SELECT c_custkey AS feature_id,
         (c_custkey * 131) % 3000 + 500 AS px,
         (c_custkey * 197) % 3000 + 500 AS py
  FROM customer
), v AS (
  SELECT feature_id, {cols} FROM p
)
SELECT feature_id,
       {2 * n + 3} AS stream_len,
       (9 + {lineto} + 15 + {zig0} + {deltas})::BIGINT AS stream_sum
FROM v ORDER BY feature_id
"""


Q_POINT_BUFFERS_SQL = _point_buffers_sql()

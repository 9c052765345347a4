package graft.warehouse

import graft.sources.Partitioned
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sketch-columned serving tables — the Doris/ClickHouse HLL-column
  * analogue (the reference's DWS tables store uv as a pre-aggregated
  * distinct-count per window; Doris' HLL type keeps it MERGEABLE
  * across partitions, which is what a date-range dashboard needs).
  *
  * Here each day's partition stores a binary DataSketches HLL of the
  * user ids (`hll_sketch_agg`) next to the exact additive counters;
  * a cross-day read merges sketches with `hll_union_agg` — one small
  * scan of pre-aggregated partitions, NEVER a rescan of the raw
  * events. That asymmetry (build once per partition at write time,
  * merge many times at read time) is the whole point of sketch
  * columns at 100 TB: distinct counts stop being a full-data query.
  */
object Sketched {

  /** Build the per-day serving rows: additive counters + an HLL
    * sketch of user ids, one row per (dt, event_type).
    */
  def dailyTraffic(events: DataFrame): DataFrame =
    events
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("dt"),
        col("event_type"))
      .agg(
        count(lit(1)).as("pv_ct"),
        hll_sketch_agg(col("user_id")).as("uv_sketch"))

  /** Write the sketch table date-partitioned (hive layout). */
  def write(events: DataFrame, path: String): Unit =
    Partitioned.write(dailyTraffic(events), path, "dt")

  /** Dashboard read: UV + PV for a date range, merging the stored
    * sketches — partition-pruned scan of pre-aggregated rows only.
    */
  def uvAcrossDays(s: SparkSession, path: String, from: String,
      to: String): DataFrame =
    s.read.parquet(path)
      .filter(col("dt") >= from && col("dt") <= to)
      .groupBy(col("event_type"))
      .agg(
        sum(col("pv_ct")).as("pv_ct"),
        hll_sketch_estimate(hll_union_agg(col("uv_sketch")))
          .as("uv_estimate"))

  /** KMV (k-minimum-values / bottom-k) distinct sketch — the OTHER
    * classic mergeable distinct counter next to HLL, and the one
    * whose whole state is plain rows: the k smallest 48-bit hashes of
    * the key per group. Estimate = (k-1) · 2^48 / h_k — ALL-LONG
    * integer arithmetic (48-bit hashes keep (k-1)·2^48 ≪ 2^63), so
    * unlike HLL the sketch AND the estimate are engine-exact and the
    * DuckDB oracle replays them bit-for-bit: a hash-graded
    * approximate-distinct, where [[uvAcrossDays]]'s HLL can only be
    * tolerance-graded.
    *
    * Merge = union two row-sets, keep the k smallest — the same
    * build-once/merge-many serving contract as the HLL columns.
    * Shape: distinct (map-side-combinable) then per-group bottom-k
    * via the WindowGroupLimit partial top-k — executors forward at
    * most k hashes per group, never their full key slice.
    */
  /** The same KMV sketch through the native
    * [[graft.functions.KmvSketchAgg]] TypedImperativeAggregate — the
    * TRUE scale path: [[kmvDistinct]]'s window form shuffles every
    * distinct (group, hash) pair; this one partial-aggregates a
    * bounded k-set map-side and ships k longs per group per
    * partition. Answer is identical — the driver grades it against
    * the very same DuckDB oracle.
    */
  def kmvDistinctNative(s: SparkSession, d: String,
      k: Int = 64): DataFrame = {
    val h = conv(substring(md5(col("user_id").cast("string")), 1, 12),
      16, 10).cast("long")
    graft.sources.Tables.events(s, d)
      .select(col("event_type"), h.as("h"))
      .groupBy("event_type")
      .agg(call_function("graft_kmv", col("h"), lit(k)).as("sk"))
      .select(col("event_type"),
        element_at(col("sk"), 1).as("n_kept"),
        when(element_at(col("sk"), 1) < k, element_at(col("sk"), 1))
          .otherwise(expr(
            s"${(k - 1).toLong * (1L << 48)}L div element_at(sk, 2)"))
          .cast("long").as("est_distinct"))
  }

  def kmvDistinct(s: SparkSession, d: String, k: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = conv(substring(md5(col("user_id").cast("string")), 1, 12),
      16, 10).cast("long")
    val w = Window.partitionBy("event_type").orderBy("h")
    graft.sources.Tables.events(s, d)
      .select(col("event_type"), h.as("h")).distinct()
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .groupBy("event_type")
      .agg(max(col("h")).as("hk"), count(lit(1)).as("n_kept"))
      .select(col("event_type"), col("n_kept"),
        when(col("n_kept") < k, col("n_kept"))
          // `div`, not `/`: Spark's `/` on longs is double division
          .otherwise(expr(s"${(k - 1).toLong * (1L << 48)}L div hk"))
          .cast("long").as("est_distinct"))
  }

  /** KMV set-INTERSECTION estimate — the sketch algebra the serving
    * layer needs for audience overlap ("users who viewed AND
    * carted") without a distinct-pair shuffle: keep the bottom-k of
    * the UNION's hash set, count how many of those k sit in both
    * input sets (ρ), and scale the union estimate by ρ/k. Every
    * number is deterministic integer arithmetic over the same 48-bit
    * md5-prefix hashes as [[kmvDistinct]], so the estimate is
    * engine-exact and hash-gradeable — the sketch contract itself is
    * the graded object, not a tolerance band. Membership flags are
    * reduced per HASH (not per user) before the bottom-k, so a
    * 48-bit collision resolves identically in any engine.
    *
    * Scale shape: one scan, per-user flag reduce, per-hash reduce,
    * then a global bottom-k that the WindowGroupLimit partial top-k
    * bounds at k rows per executor — the driver never sees more
    * than k hashes.
    */
  def kmvIntersection(s: SparkSession, d: String,
      typeA: String = "view", typeB: String = "cart",
      k: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = conv(substring(md5(col("user_id").cast("string")), 1, 12),
      16, 10).cast("long")
    val perUser = graft.sources.Tables.events(s, d)
      .filter(col("event_type").isin(typeA, typeB))
      .groupBy("user_id").agg(
        max(when(col("event_type") === typeA, 1).otherwise(0)).as("in_a"),
        max(when(col("event_type") === typeB, 1).otherwise(0)).as("in_b"))
    val perHash = perUser.select(h.as("h"), col("in_a"), col("in_b"))
      .groupBy("h").agg(max(col("in_a")).as("in_a"),
        max(col("in_b")).as("in_b"))
    perHash
      .withColumn("rk", row_number().over(Window.orderBy("h")))
      .filter(col("rk") <= k)
      .agg(count(lit(1)).as("n_kept"), max(col("h")).as("hk"),
        sum(col("in_a") * col("in_b")).cast("long").as("n_both"))
      .select(col("n_kept"), col("n_both"),
        when(col("n_kept") < k, col("n_kept"))
          .otherwise(expr(s"${(k - 1).toLong * (1L << 48)}L div hk"))
          .cast("long").as("est_union"))
      .withColumn("est_inter", expr("n_both * est_union DIV n_kept"))
  }

  /** Daily UV through the native EXACT bitmap aggregate
    * ([[graft.functions.BitmapDistinctAgg]]) — the ClickHouse/Doris
    * `groupBitmap` serving shape the reference's UV boards run on.
    * Same answer as `COUNT(DISTINCT user_id)` (that IS the oracle),
    * but the shuffle carries one bitmap per (day, partition) instead
    * of every distinct (day, user) pair, and day bitmaps OR together
    * for any date-range UV without a rescan. The domain bound is a
    * config constant (ids here are already dense warehouse keys; a
    * sparse domain goes through stable-id enumeration first).
    */
  def bitmapDailyUv(s: SparkSession, d: String): DataFrame = {
    graft.sources.Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("dt"))
      .agg(call_function("graft_bitmap_distinct", col("user_id"),
        lit(1L << 24)).as("uv"))
  }

  /** Cohort set algebra over two serving bitmaps — the EXACT dual of
    * [[kmvIntersection]] and the reason a Doris/ClickHouse board
    * stores bitmaps instead of counts: build ONE bitmap per behavior
    * cohort (here "clicked" and "purchased" — each a single-pass
    * map-side bitmap reduce, no per-user shuffle), then |A|, |B|,
    * |A∩B|, |A\B|, |B\A| are word-wise popcounts over two binary
    * blobs ([[graft.functions.BitmapAndCount]] /
    * [[graft.functions.BitmapAndNotCount]]). Any further audience
    * composition ("clicked, purchased, but never errored") stays in
    * bitmap space — the fact table is never rescanned. Oracle: the
    * same five numbers via COUNT(DISTINCT) set algebra.
    *
    * Scale shape: two aggregations over one filtered scan, each
    * shipping ⌈domain/8⌉ bytes per partition; the final algebra is a
    * 1×1 crossJoin of two single-row frames. Reference serving
    * semantic: the UV/overlap boards of
    * DwsTradeSkuOrderWindow.java:1's Doris layer.
    */
  def bitmapAudience(s: SparkSession, d: String,
      typeA: String = "click", typeB: String = "purchase"): DataFrame = {
    val ev = graft.sources.Tables.events(s, d)
      .filter(col("event_type").isin(typeA, typeB))
    def cohort(t: String, alias: String) =
      ev.filter(col("event_type") === t)
        .agg(call_function("graft_bitmap_bytes", col("user_id"),
          lit(1L << 24)).as(alias))
    cohort(typeA, "bm_a").crossJoin(cohort(typeB, "bm_b"))
      .select(
        call_function("graft_bitmap_card", col("bm_a")).as("n_a"),
        call_function("graft_bitmap_card", col("bm_b")).as("n_b"),
        call_function("graft_bitmap_and_count", col("bm_a"), col("bm_b"))
          .as("n_both"),
        call_function("graft_bitmap_andnot_count", col("bm_a"), col("bm_b"))
          .as("n_a_only"),
        call_function("graft_bitmap_andnot_count", col("bm_b"), col("bm_a"))
          .as("n_b_only"))
  }

  /** Trailing-window UV served from STORED day bitmaps — the full
    * Doris BITMAP_UNION aggregate-table loop: the fact table reduces
    * ONCE to one bitmap per day (`graft_bitmap_bytes`), and every
    * 7-day window answer is an OR + popcount over ≤7 stored bitmaps
    * (`graft_bitmap_or_count` over a RANGE-frame collect) — no
    * rescan, no per-(user, day) distinct shuffle, exact. Same answer
    * as the semi-join rolling-WAU formulation, which is the oracle.
    * The range frame is calendar days (day-index integer), so gap
    * days don't silently widen the window.
    */
  def bitmapRangeUv(s: SparkSession, d: String,
      windowDays: Int = 7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = graft.sources.Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(call_function("graft_bitmap_bytes", col("user_id"),
        lit(1L << 24)).as("bm"))
      .withColumn("day_idx", datediff(col("day"),
        lit("1970-01-01").cast("date")))
    val w = Window.orderBy(col("day_idx"))
      .rangeBetween(-(windowDays - 1), 0)
    daily
      .withColumn("wau_ct", call_function("graft_bitmap_or_count",
        collect_list(col("bm")).over(w)))
      .select(col("day"), col("wau_ct"))
  }
}

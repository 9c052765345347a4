package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.DecimalType

/** Structured Streaming re-expressions of the reference's Flink
  * topology (SURVEY.md §2.3). Each job is a pure transform from
  * streaming DataFrame(s) to a streaming DataFrame, so tests drive
  * them with file sources + memory sinks and production would bind
  * Kafka + a ClickHouse/Doris-shaped sink without touching the logic.
  */
object Jobs {

  /** Attach observed health metrics to any stream (or batch frame):
    * per-micro-batch row count, value sum, and null-key count surface
    * through `StreamingQueryProgress.observedMetrics` (or
    * `QueryExecutionListener` for batch) WITHOUT a second aggregation
    * pass — the accumulator rides the existing plan. This is the
    * Flink-metrics analogue the reference exposes per job; at scale
    * it is the difference between monitoring a pipeline and
    * re-running it to count its rows.
    */
  def withObservedMetrics(df: DataFrame,
      name: String = "graft_metrics"): DataFrame =
    df.observe(name,
      count(lit(1)).as("rows"),
      sum(col("value")).as("value_sum"),
      count_if(col("user_id").isNull).as("null_users"))

  /** Watermarked tumbling-window traffic aggregation — the
    * DwsTrafficVcChArIsNewPageViewWindow.java:118 window, with pv,
    * approximate uv (HLL — the streaming-safe distinct; exact UV is
    * [[uvFirstVisit]]'s job) and value sum per hour × event_type.
    * Watermark bounds state exactly like the reference's watermark
    * strategy bounds window GC.
    */
  def pageViewWindow(events: DataFrame, watermark: String = "10 minutes")
      : DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("pv_ct"),
        approx_count_distinct(col("user_id")).as("uv_ct_approx"),
        sum(col("value")).as("value_sum"))
      .select(col("window.start").as("wstart"), col("event_type"),
        col("pv_ct"), col("uv_ct_approx"), col("value_sum"))

  /** Session-window aggregation — gap-based sessions in streaming
    * (the stateful dual of `Analytics.sessionize`): Spark's
    * `session_window` merges events within `gap` of each other per
    * user, watermark-bounded so closed sessions emit and their state
    * is GC'd. The reference closes sessions implicitly per page visit
    * (sv_ct in DwsTrafficVcChArIsNewPageViewWindow.java:95); this is
    * the general inactivity-gap form.
    */
  def sessionWindow(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("value_sum"))
      .select(col("user_id"),
        col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"),
        col("n_events"), col("value_sum"))

  /** One fired record per (user, day). */
  case class UvHit(user_id: Long, cur_date: String, event_id: Long)
  /** Internal row shape for [[uvFirstVisit]] (public: encoder codegen
    * needs access).
    */
  case class UvEvent(event_id: Long, user_id: Long, cur_date: String)

  /** Exact first-visit-per-day dedup via per-key state — the direct
    * analogue of the reference's `lastVisitDateState` ValueState with
    * 1-day TTL (DwsTrafficVcChArIsNewPageViewWindow.java:66-92).
    * State is one date string per user, so state size is bounded by
    * users, not events. Pass `stateTtl` to expire idle users (the
    * reference's StateTtlConfig) — it costs timeout-driven
    * micro-batches, so leave it off when the key space is bounded.
    */
  def uvFirstVisit(events: DataFrame, stateTtl: Option[String] = None)
      : Dataset[UvHit] = {
    val s = events.sparkSession
    import s.implicits._
    val timeoutConf = if (stateTtl.isDefined)
      GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    events
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd").as("cur_date"))
      .as[UvEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        (uid: Long, evs: Iterator[UvEvent], state: GroupState[String]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var last = state.getOption.getOrElse("")
            val out = scala.collection.mutable.ArrayBuffer[UvHit]()
            evs.toSeq.sortBy(e => (e.cur_date, e.event_id)).foreach { e =>
              if (e.cur_date != last) {
                out += UvHit(uid, e.cur_date, e.event_id)
                last = e.cur_date
              }
            }
            state.update(last)
            stateTtl.foreach(state.setTimeoutDuration)
            out.iterator
          }
        })
  }

  /** Stream-stream interval join: detail events join order events
    * within [0, tolerance] of the order time — the Flink intervalJoin
    * in DwdTradeOrderDetail.java:1 / Test01_IntervalJoin.java:1.
    * Watermarks on both sides + the range predicate let Spark GC join
    * state; without them the join state grows unboundedly.
    */
  def intervalJoin(orders: DataFrame, details: DataFrame,
      tolerance: String = "interval 120 days"): DataFrame = {
    val o = orders.withWatermark("o_time", "1 hour")
    val d = details.withWatermark("d_time", "1 hour")
    d.join(o,
      d("d_orderkey") === o("o_orderkey") &&
      d("d_time") >= o("o_time") &&
      d("d_time") <= o("o_time") + expr(tolerance))
  }

  /** LEFT-OUTER stream-stream interval join: order rows emit even if
    * no detail arrives inside the tolerance — nulls surface once the
    * watermark passes the window end, exactly the late-data semantics
    * the reference gets from its cancel-detail left join
    * (DwdTradeOrderCancelDetail.java:1 keeps orders whose cancel
    * event may never come). Both watermarks + the range bound the
    * join state.
    */
  def intervalJoinLeftOuter(orders: DataFrame, details: DataFrame,
      tolerance: String = "interval 120 days"): DataFrame = {
    val o = orders.withWatermark("o_time", "1 hour")
    val d = details.withWatermark("d_time", "1 hour")
    o.join(d,
      d("d_orderkey") === o("o_orderkey") &&
      d("d_time") >= o("o_time") &&
      d("d_time") <= o("o_time") + expr(tolerance),
      "leftOuter")
  }

  /** Stream-static broadcast dim join — the DimMapFunction/
    * DimAsyncFunction HBase+Redis lookup (realtime-common/.../
    * DimAsyncFunction.java:1) collapses to a broadcast hash join: the
    * dim ships once per executor and the stream never shuffles.
    */
  def dimJoin(stream: DataFrame, dim: DataFrame, streamKey: String,
      dimKey: String): DataFrame =
    stream.join(broadcast(dim), col(streamKey) === col(dimKey), "left")

  /** Streaming exact dedup: keep the first arrival per key, dropping
    * replays/duplicates across micro-batches; watermark bounds the
    * dedup state (the streaming form of the exact-dedup groupBy, and
    * the idempotence guard the reference gets from ClickHouse
    * ReplacingMergeTree).
    */
  def streamingDedup(df: DataFrame, keys: Seq[String], tsCol: String,
      watermark: String = "1 hour"): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Streaming DQ quarantine router — the circuit-breaker between
    * ingestion and the warehouse: every micro-batch splits ONCE into
    * rows passing the constraint set (forward) and violations
    * (quarantine sink, kept with full payload for replay after the
    * upstream fix). Both sides of one batch write atomically-enough
    * for at-least-once (append + downstream dedup, the same contract
    * as the CDC router); the rules mirror the batch
    * [[graft.warehouse.Quality]] constraints so batch and stream
    * gate identically.
    */
  def quarantineRoute(stream: DataFrame, goodPath: String,
      badPath: String, checkpoint: String,
      allowedTypes: Seq[String] =
        Seq("view", "click", "purchase", "signup", "error", "cart"))
      : StreamingQuery = {
    val bad = col("user_id").isNull || col("value") < 0 ||
      !col("event_type").isin(allowedTypes: _*)
    stream.withColumn("__bad", bad)
      .writeStream.option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = batch.persist()
        b.filter(col("__bad")).drop("__bad")
          .write.mode("append").parquet(badPath)
        b.filter(!col("__bad")).drop("__bad")
          .write.mode("append").parquet(goodPath)
        b.unpersist()
        ()
      }
      .start()
  }

  /** Streaming-maintained trending score state: the decayed
    * "trending now" board ([[graft.warehouse.Analytics
    * .decayedScore]] is the batch form) kept fresh by a streaming
    * job WITHOUT rescanning history. The trick that makes the decay
    * incrementally maintainable: store per (item, week-bucket)
    * purchase COUNTS (exact, additive — a summing upsert snapshot),
    * and fold the shift-decay only AT READ TIME anchored to the max
    * stored week: score = Σ_w count_w · (10⁶ >> (max_week − w)).
    * Counts never decay in storage, so late/replayed data lands in
    * its own bucket and the serve stays exact; the stored state is
    * bounded by items × active weeks. Pair with [[streamingDedup]]
    * upstream — weekly counts are additive, so at-least-once
    * delivery needs the dedup guard (same contract as
    * [[ReplacingSink.startSumming]]).
    */
  def trendingWeeklyCounts(events: DataFrame,
      halfLifeDays: Int = 7): DataFrame =
    streamingDedup(events, Seq("event_id"), "ts")
      .filter(col("event_type") === "purchase")
      .select((col("event_id") % 100).as("item_id"),
        expr(s"unix_micros(ts) DIV (${halfLifeDays}L * 86400000000)")
          .as("week"),
        lit(1L).as("cnt"))

  /** Serving read over the [[trendingWeeklyCounts]] snapshot: fold
    * stored week buckets into the decayed score and cut the top-k.
    */
  def serveTrending(s: SparkSession, snapPath: String,
      k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val snap = s.read.parquet(snapPath)
    val anchor = broadcast(snap.agg(max(col("week")).as("maxw")))
    snap.crossJoin(anchor)
      .select(col("item_id"),
        (col("cnt") * expr(
          "shiftright(1000000L, CAST(least(maxw - week, 30) AS INT))"))
          .as("wt"), col("cnt"))
      .groupBy("item_id")
      .agg(sum(col("wt")).as("score_ppm"), sum(col("cnt")).as("n_events"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("score_ppm").desc, col("item_id"))))
      .filter(col("rk") <= k)
  }

  /** One emitted candidate near-dup pair (id_a < id_b). */
  case class NearDupPair(id_a: Long, id_b: Long)
  /** Internal row shape for [[streamingNearDup]]. */
  case class BandedDoc(bkey: String, doc_id: Long, sig: Seq[Long])

  /** Streaming MinHash near-dup detection: each arriving document is
    * shingled and minhash-signed MAP-SIDE (native expressions), then
    * exploded into LSH band buckets; per-bucket keyed state holds the
    * signatures seen so far, and a new arrival emits a pair for every
    * stored doc whose signature agrees on ≥ `simThreshold` of the
    * minhash components. The streaming dual of [[graft.operators.
    * Dedup.minhashLsh]]: state is bounded per bucket (`maxPerBucket`,
    * oldest evicted), the same pair may surface from several bands —
    * consumers dedup downstream, exactly like the batch candidate
    * stage. Input needs (doc_id long, text string).
    */
  def streamingNearDup(docs: DataFrame, ngram: Int = 12, perms: Int = 64,
      bands: Int = 16, simThreshold: Double = 0.7,
      maxPerBucket: Int = 64): Dataset[NearDupPair] = {
    val s = docs.sparkSession
    import s.implicits._
    val r = perms / bands
    val banded = docs
      .select(col("doc_id"),
        call_function("graft_minhash_sig",
          call_function("graft_shingle_hashes", col("text"), lit(ngram)),
          lit(perms)).as("sig"))
      .select(col("doc_id"), col("sig"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => hash(slice(col("sig"), b * r + 1, lit(r)), b))))
      .toDF("doc_id", "sig", "band", "bucket")
      .select(concat_ws(":", col("band"), col("bucket")).as("bkey"),
        col("doc_id"), col("sig"))
      .as[BandedDoc]
    banded
      .groupByKey(_.bkey)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: String, it: Iterator[BandedDoc],
         state: GroupState[List[BandedDoc]]) => {
          var seen = state.getOption.getOrElse(Nil)
          val out = scala.collection.mutable.LinkedHashSet[NearDupPair]()
          it.toSeq.sortBy(_.doc_id).foreach { d =>
            if (!seen.exists(_.doc_id == d.doc_id)) {
              seen.foreach { o =>
                val eq = d.sig.iterator.zip(o.sig.iterator)
                  .count(p => p._1 == p._2).toDouble / d.sig.length
                if (eq >= simThreshold)
                  out += NearDupPair(math.min(d.doc_id, o.doc_id),
                    math.max(d.doc_id, o.doc_id))
              }
              seen = (d :: seen).take(maxPerBucket)
            }
          }
          state.update(seen)
          out.iterator
        })
  }

  /** State container for [[temporalJoinChangelog]]: right-side
    * versions and left rows parked until the watermark certifies
    * their match set is complete. Kryo-encoded (rows carry dynamic
    * schemas).
    */
  case class TemporalState(
      rights: List[(Long, org.apache.spark.sql.Row)],
      pending: List[(Long, org.apache.spark.sql.Row)])

  /** Event-time temporal (as-of) join where the RIGHT side is a
    * CHANGELOG STREAM — the full Flink temporal-join semantics the
    * reference approximates with its HBase+Redis latest-version
    * lookup (DimAsyncFunction.java:42): every left fact is enriched
    * with the right version in effect AT ITS EVENT TIME, and the
    * answer is independent of batching and arrival order.
    *
    * Both streams union into one keyed envelope; per key,
    * `flatMapGroupsWithState` parks left rows until the shared
    * watermark passes their timestamp — at that point every right
    * version with `rightTs <= leftTs` has arrived (that is the
    * watermark contract), so the match is final. Emission is
    * left-outer with null values, identical to the batch
    * [[graft.plans.AsOfJoin]] operator, which is exactly what the
    * spec asserts under deliberately out-of-order multi-batch
    * arrival.
    *
    * State is bounded the same way Flink bounds it: per key, ONLY
    * the latest right version at-or-below the watermark survives
    * (older versions are dominated for every future left row), plus
    * versions still inside the watermark window and lefts not yet
    * certifiable. An event-time timeout re-flushes parked lefts when
    * the watermark advances without new rows for the key.
    */
  def temporalJoinChangelog(left: DataFrame, right: DataFrame,
      key: String, leftTs: String, rightTs: String, vals: Seq[String],
      delay: String = "0 seconds"): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.StructType
    val lSchema = left.schema
    val valsSchema = StructType(vals.map(right.schema(_)))
    val outSchema = StructType(
      lSchema.fields ++ valsSchema.fields.map(_.copy(nullable = true)))
    val lEnv = left.select(
      col(key).cast("string").as("__gk"), lit(0).as("__side"),
      col(leftTs).cast("timestamp").as("__ts"),
      unix_micros(col(leftTs).cast("timestamp")).as("__us"),
      struct(lSchema.fieldNames.toIndexedSeq.map(col): _*).as("__lpay"),
      lit(null).cast(valsSchema).as("__rvals"))
    val rEnv = right.select(
      col(key).cast("string").as("__gk"), lit(1).as("__side"),
      col(rightTs).cast("timestamp").as("__ts"),
      unix_micros(col(rightTs).cast("timestamp")).as("__us"),
      lit(null).cast(lSchema).as("__lpay"),
      struct(vals.toIndexedSeq.map(col): _*).as("__rvals"))
    val env = lEnv.unionByName(rEnv).withWatermark("__ts", delay)
    val nVals = valsSchema.length
    env.groupByKey((r: Row) => r.getString(0))(Encoders.STRING)
      .flatMapGroupsWithState[TemporalState, Row](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String, it: Iterator[Row], state: GroupState[TemporalState]) =>
          val st = state.getOption.getOrElse(TemporalState(Nil, Nil))
          var rights = st.rights
          var pending = st.pending
          it.foreach { r =>
            val us = r.getLong(3)
            if (r.getInt(1) == 0) pending ::= (us -> r.getStruct(4))
            else rights ::= (us -> r.getStruct(5))
          }
          // batch execution strips the watermark node (no watermark
          // exists to read) — treat it as +∞: every right version is
          // already present, so all lefts certify in this one pass
          // and the result is exactly the batch as-of join
          val wmUs =
            try state.getCurrentWatermarkMs() * 1000L
            catch { case _: UnsupportedOperationException => Long.MaxValue }
          // STRICTLY below the watermark: a row AT the watermark can
          // still be joined by an equal-timestamp right arrival
          val (ready, hold) = pending.partition(_._1 < wmUs)
          val sortedRights = rights.sortBy(_._1)
          val out = ready.sortBy(_._1).map { case (lus, lrow) =>
            val m = sortedRights.takeWhile(_._1 <= lus).lastOption
            Row.fromSeq(lrow.toSeq ++ (m match {
              case Some((_, rv)) => rv.toSeq
              case None => Seq.fill(nVals)(null)
            }))
          }
          // eviction: the latest version at-or-below the watermark
          // dominates all older ones for every future left row
          val kept = sortedRights.filter(_._1 < wmUs).lastOption.toList ++
            sortedRights.filter(_._1 >= wmUs)
          if (hold.isEmpty && kept.isEmpty) state.remove()
          else {
            state.update(TemporalState(kept, hold))
            if (hold.nonEmpty)
              state.setTimeoutTimestamp(math.max(
                hold.map(_._1).min / 1000L + 1,
                state.getCurrentWatermarkMs() + 1))
          }
          out.iterator
      }(Encoders.kryo[TemporalState], Encoders.row(outSchema))
      .toDF(outSchema.fieldNames.toIndexedSeq: _*)
  }

  /** Versioned-dim enrichment: each micro-batch as-of joins against a
    * VERSIONED dimension table — every fact picks the dim row in
    * effect at its event time, not the current snapshot. This is the
    * exact semantics the reference approximates with its HBase+Redis
    * lookup (DimAsyncFunction.java:1 serves only the latest version;
    * facts arriving late get the wrong dim). Runs the custom
    * [[graft.plans.AsOfJoinExec]] operator per batch via foreachBatch
    * — the batch/streaming unification the declarative layer buys.
    */
  def asOfDimEnrich(stream: DataFrame, dimVersions: DataFrame,
      key: String, ts: String, vals: Seq[String], outPath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.plans.AsOfJoin(batch, dimVersions, key, ts, vals)
          .write.mode("append").parquet(outPath)
      }
      .start()

  /** Keyword window count — the streaming form of
    * DwsTrafficSourceKeywordPageViewWindow.java:1: extract the search
    * term from the page log (here: the JSON props payload), explode
    * via the generator (Spark's UDTF analogue of KeywordUDTF.java:1),
    * tumbling-window count. Works on any stream with (ts, props).
    */
  def keywordWindow(events: DataFrame, watermark: String = "10 minutes",
      win: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .select(col("ts"), explode(split(
        concat_ws(" ", lit("kw"),
          get_json_object(col("props"), "$.k")), " ")).as("keyword"))
      .groupBy(window(col("ts"), win), col("keyword"))
      .agg(count(lit(1)).as("keyword_ct"))
      .select(col("window.start").as("wstart"), col("keyword"),
        col("keyword_ct"))

  /** The full DWS trade topology in one job — detail stream ⋈
    * broadcast dim → watermarked tumbling window → money agg
    * (DwsTradeSkuOrderWindow.java:1: window + reduce + async dim
    * enrichment, collapsed to a declarative plan). `details` needs
    * (d_time timestamp, sku_id, amount); `dim` needs (sku_id key +
    * attributes).
    */
  def skuOrderWindow(details: DataFrame, dim: DataFrame, dimKey: String,
      groupCol: String, watermark: String = "1 hour",
      win: String = "1 day"): DataFrame =
    details
      .withWatermark("d_time", watermark)
      .join(broadcast(dim), col("sku_id") === col(dimKey))
      .groupBy(window(col("d_time"), win), col(groupCol))
      .agg(
        count(lit(1)).as("order_ct"),
        sum(col("amount")).as("order_amount"))
      .select(col("window.start").as("wstart"), col(groupCol),
        col("order_ct"), col("order_amount"))

  /** Log splitter — DwdBaseLog.java:1 fans the raw log into page /
    * err / start / action side-output streams. Structured Streaming
    * expresses each side output as a filter on the shared source; the
    * source is read once per micro-batch and the filters are
    * codegen'd predicates, so this costs one scan, not four.
    */
  def logSplit(logs: DataFrame): Map[String, DataFrame] = Map(
    "err" -> logs.filter(col("event_type") === "error"),
    "start" -> logs.filter(col("event_type") === "signup"),
    "action" -> logs.filter(col("event_type").isin("click", "purchase")),
    "page" -> logs.filter(col("event_type") === "view"))

  /** STREAMING-MAINTAINED SCD2 dimension — the reference's DimApp
    * loop (CDC stream → dim table, DimSinkFunction.java:1) upgraded
    * from latest-version-only to FULL version history: each
    * micro-batch of change rows (key, ts, values) lands in an
    * append-only change archive, and the SCD2 dim
    * ([[graft.operators.Temporal.scd2Build]] semantics —
    * `[valid_from_us, valid_to_us)` half-open, last version open)
    * is refreshed INCREMENTALLY: only keys touched by this batch
    * recompute their version chains from the archive; every other
    * key's rows carry over untouched. At 100 TB that makes the
    * per-batch cost O(touched keys' history + |dim|) instead of
    * O(full history) — the key-scoped work is an equi-semi-join.
    *
    * Replay-safe like [[maintainDailySummary]]: the archive carries
    * `__batch`, and a replayed micro-batch (batchId ≤ max applied)
    * appends nothing. Every call — replay included — rebuilds and
    * swaps in the keys of the archive rows tagged with its batchId,
    * so a crash between the archive append and the dim swap is
    * repaired by the replay, and at-least-once foreachBatch delivery
    * yields exactly-once dim state.
    */
  def scd2Maintain(key: String, ts: String, valueCols: Seq[String],
      archivePath: String, dimPath: String)
      : (DataFrame, Long) => Unit = (batch: DataFrame, batchId: Long) => {
    val spark = batch.sparkSession
    val archived =
      if (new java.io.File(archivePath).exists())
        Some(spark.read.parquet(archivePath))
      else None
    val lastApplied = archived.map { a =>
      val r = a.agg(max(col("__batch"))).head()
      if (r.isNullAt(0)) -1L else r.getLong(0)
    }.getOrElse(-1L)
    // this batchId's archive rows: appended now, or (on a replay)
    // already there from a run that may have crashed before its swap
    val tagged =
      if (batchId > lastApplied) {
        if (batch.isEmpty) None
        else {
          val incoming = batch
            .select(Seq(col(key), col(ts)) ++ valueCols.map(col): _*)
            .withColumn("__batch", lit(batchId))
          incoming.write.mode("append").parquet(archivePath)
          Some(incoming)
        }
      } else archived.map(_.filter(col("__batch") === batchId))
        .filterNot(_.isEmpty)
    tagged.foreach { rows =>
      val all = spark.read.parquet(archivePath)
      val touched = rows.select(col(key)).distinct()
      val rebuilt = graft.operators.Temporal.scd2Build(
        all.join(touched, Seq(key), "left_semi"), key, ts, valueCols)
      val dim =
        if (graft.sources.Compaction.recover(dimPath)) {
          spark.read.parquet(dimPath)
            .join(touched, Seq(key), "left_anti")
            .unionByName(rebuilt)
        } else rebuilt
      graft.sources.Compaction.replaceDir(dim, dimPath)
    }
  }

  /** Incremental materialized-view maintenance: each micro-batch of
    * raw events folds into the day-grain summary via sum-merge
    * (counts and decimal sums are decomposable), then the serving
    * copy is published with the canonical schema so
    * [[graft.plans.SummaryRewrite]] can route dashboard queries onto
    * it. This closes the reference's whole loop — Flink window
    * aggregation → Doris aggregate table → dashboards — as: stream →
    * incremental summary → optimizer rewrite. Returns a foreachBatch
    * function for `writeStream`.
    *
    * Replay-safe: foreachBatch is AT-LEAST-ONCE, and a sum-merge is
    * not idempotent, so the state carries the last-applied batchId
    * (`__last_batch`, committed ATOMICALLY with the fold by the
    * `replaceDir` snapshot swap). A replayed micro-batch (batchId ≤
    * last applied) skips the fold — no double counting — and only
    * refreshes the serving copy, which is what a replay after a
    * crash-between-writes needs.
    */
  def maintainDailySummary(statePath: String, servingPath: String)
      : (DataFrame, Long) => Unit = (batch: DataFrame, batchId: Long) => {
    val spark = batch.sparkSession
    val cur =
      if (graft.sources.Compaction.recover(statePath))
        Some(spark.read.parquet(statePath))
      else None
    val lastApplied = cur.map { c =>
      val r = c.agg(max(col("__last_batch"))).head()
      if (r.isNullAt(0)) -1L else r.getLong(0)
    }.getOrElse(-1L)
    if (batchId > lastApplied) {
      val part = batch
        .groupBy(col("ts").cast("date").as("day"), col("event_type"))
        .agg(count(lit(1)).as("pv_ct"),
          sum(col("value").cast(DecimalType(12, 2)))
            .cast(DecimalType(22, 2)).as("value_sum"))
      val merged = cur match {
        case Some(c) =>
          c.drop("__last_batch").unionByName(part)
            .groupBy(col("day"), col("event_type"))
            .agg(sum(col("pv_ct")).cast("long").as("pv_ct"),
              sum(col("value_sum"))
                .cast(DecimalType(22, 2)).as("value_sum"))
        case None => part
      }
      graft.sources.Compaction.replaceDir(
        merged.withColumn("__last_batch", lit(batchId)), statePath)
    }
    // publish with the canonical serving schema (always — a replayed
    // batch may follow a crash before the serving copy landed)
    graft.sources.Compaction.replaceDir(
      spark.read.parquet(statePath)
        .select(col("day"), col("event_type"), col("pv_ct"),
          col("value_sum").cast(DecimalType(22, 2)).as("value_sum")),
      servingPath)
  }

  /** Input shape for [[paymentTimeoutAlerts]]: `kind` is "order" or
    * "pay".
    */
  case class OrderKindEvent(order_id: Long, kind: String,
      ts: java.sql.Timestamp)
  /** One alert per order whose payment never arrived in time. */
  case class TimeoutAlert(order_id: Long, order_ts: java.sql.Timestamp,
      deadline_ts: java.sql.Timestamp)

  /** Payment-timeout detection — the Flink-CEP "A not followed by B
    * within T" pattern (the reference's order/payment timeout apps
    * side-output unpaid orders; the CDC cancel fact
    * DwdTradeOrderCancelDetail.java:1 is the batch echo of the same
    * business rule), rebuilt on `flatMapGroupsWithState` with EVENT-
    * TIME timeouts: per order key the state holds (order_ts, paid);
    * an unpaid order arms `setTimeoutTimestamp(order_ts + T)` and the
    * alert fires exactly when the WATERMARK — not wall clock —
    * passes the deadline, so replays and backfills produce identical
    * alerts (processing-time CEP would not).
    *
    * Out-of-order safe: a payment that arrives before its order row
    * marks the key paid and parks a cleanup timeout, so neither
    * arrival order leaks state nor alerts. State is O(open orders
    * inside the watermark), the same bound the reference's CEP
    * within-clause guarantees.
    */
  def paymentTimeoutAlerts(events: DataFrame, timeoutMs: Long = 900000L,
      watermark: String = "10 minutes"): Dataset[TimeoutAlert] = {
    val s = events.sparkSession
    import s.implicits._
    // state: (order_ts_millis or MinValue if unseen, paid)
    events
      .withWatermark("ts", watermark)
      .select(col("order_id"), col("kind"), col("ts"))
      .as[OrderKindEvent]
      .groupByKey(_.order_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(
        (oid: Long, evs: Iterator[OrderKindEvent],
            state: GroupState[(Long, Boolean)]) => {
          if (state.hasTimedOut) {
            val (orderTs, paid) = state.get
            state.remove()
            if (!paid && orderTs != Long.MinValue)
              Iterator.single(TimeoutAlert(oid,
                new java.sql.Timestamp(orderTs),
                new java.sql.Timestamp(orderTs + timeoutMs)))
            else Iterator.empty
          } else {
            var (orderTs, paid) = state.getOption
              .getOrElse((Long.MinValue, false))
            var maxSeen = Long.MinValue
            evs.foreach { e =>
              val ms = e.ts.getTime
              maxSeen = math.max(maxSeen, ms)
              if (e.kind == "pay") paid = true
              else if (orderTs == Long.MinValue || ms < orderTs) orderTs = ms
            }
            if (paid && orderTs != Long.MinValue) {
              // pattern satisfied (or refuted) — drop the key now
              state.remove()
            } else {
              state.update((orderTs, paid))
              // unpaid order: alert when the watermark passes the
              // deadline; orphan payment: park a cleanup timeout so
              // the key cannot leak if the order row never shows
              val base = if (orderTs != Long.MinValue) orderTs else maxSeen
              state.setTimeoutTimestamp(base + timeoutMs)
            }
            Iterator.empty
          }
        })
  }
}

package graft

import graft.sources.Tables
import graft.streaming.{CdcRouter, Jobs, ReplacingSink, Sources}
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val d = TestSpark.sf
  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** FileStreamSource wants a directory; stage the single parquet
    * file behind a symlink in a temp dir.
    */
  private def stage(table: String): String = {
    val dir = Files.createTempDirectory(s"stream-$table")
    Files.createSymbolicLink(dir.resolve(s"$table.parquet"),
      java.nio.file.Paths.get(s"$d/$table.parquet"))
    dir.toString
  }

  private def eventsStream = Sources.events(s, stage("events"))

  test("pageViewWindow matches the batch aggregation (pv + value)") {
    val q = Jobs.pageViewWindow(eventsStream)
      .writeStream.format("memory").queryName("pvw")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = s.sql("SELECT sum(pv_ct), count(*) FROM pvw").collect()(0)
      val batch = Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("pv"))
      assert(got.getLong(0) === Tables.events(s, d).count())
      assert(got.getLong(1) === batch.count())
    } finally q.stop()
  }

  test("uvFirstVisit emits exactly one hit per (user, day)") {
    val q = Jobs.uvFirstVisit(eventsStream)
      .writeStream.format("memory").queryName("uvh")
      .outputMode("append")
      .option("checkpointLocation", tmp("uv-ck")).start()
    try {
      q.processAllAvailable()
      val hits = s.sql("SELECT count(*), count(DISTINCT user_id, cur_date) FROM uvh")
        .collect()(0)
      val expected = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("dd")).distinct().count()
      assert(hits.getLong(0) === expected, "one emit per user-day")
      assert(hits.getLong(1) === expected, "no duplicate user-days")
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch range join") {
    val o = s.readStream.schema(Tables.orders(s, d).schema)
      .parquet(stage("orders"))
      .select(col("o_orderkey"),
        col("o_orderdate").cast("timestamp").as("o_time"))
    val li = s.readStream.schema(Tables.lineitem(s, d).schema)
      .parquet(stage("lineitem"))
      .select(col("l_orderkey").as("d_orderkey"),
        col("l_shipdate").cast("timestamp").as("d_time"))
    val q = Jobs.intervalJoin(o, li)
      .writeStream.format("memory").queryName("ivj")
      .outputMode("append")
      .option("checkpointLocation", tmp("ivj-ck")).start()
    try {
      q.processAllAvailable()
      val got = s.sql("SELECT count(*) FROM ivj").collect()(0).getLong(0)
      val expected = Tables.lineitem(s, d).join(Tables.orders(s, d),
        col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") >= col("o_orderdate") &&
        col("l_shipdate") <= col("o_orderdate") + expr("interval 120 days"))
        .count()
      assert(got === expected)
      assert(got > 0)
    } finally q.stop()
  }

  test("left-outer stream-stream interval join emits unmatched orders") {
    val o = s.readStream.schema(Tables.orders(s, d).schema)
      .parquet(stage("orders"))
      .select(col("o_orderkey"),
        col("o_orderdate").cast("timestamp").as("o_time"))
    // details restricted to half the keyspace so some orders CANNOT match
    val li = s.readStream.schema(Tables.lineitem(s, d).schema)
      .parquet(stage("lineitem"))
      .filter(col("l_orderkey") % 2 === 0)
      .select(col("l_orderkey").as("d_orderkey"),
        col("l_shipdate").cast("timestamp").as("d_time"))
    val q = Jobs.intervalJoinLeftOuter(o, li)
      .writeStream.format("memory").queryName("ivjlo")
      .outputMode("append")
      .option("checkpointLocation", tmp("ivjlo-ck")).start()
    try {
      q.processAllAvailable()
      // null-side rows emit only after the watermark passes; with a
      // bounded file source the final batch closes all state
      val matched = s.sql(
        "SELECT count(*) FROM ivjlo WHERE d_orderkey IS NOT NULL")
        .collect()(0).getLong(0)
      val expectedMatched = Tables.lineitem(s, d)
        .filter(col("l_orderkey") % 2 === 0)
        .join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") >= col("o_orderdate") &&
          col("l_shipdate") <= col("o_orderdate") + expr("interval 120 days"))
        .count()
      assert(matched === expectedMatched)
      assert(matched > 0)
    } finally q.stop()
  }

  test("streaming dedup drops cross-batch replays") {
    // stage the same file twice → the source delivers every event
    // twice; dedup on event_id must keep exactly one of each
    val dir = Files.createTempDirectory("dedup-src")
    Files.createSymbolicLink(dir.resolve("a.parquet"),
      java.nio.file.Paths.get(s"$d/events.parquet"))
    Files.copy(java.nio.file.Paths.get(s"$d/events.parquet"),
      dir.resolve("b.parquet"))
    val stream = Sources.events(s, dir.toString)
    val q = Jobs.streamingDedup(stream, Seq("event_id"), "ts")
      .writeStream.format("memory").queryName("sdedup")
      .outputMode("append")
      .option("checkpointLocation", tmp("sdedup-ck")).start()
    try {
      q.processAllAvailable()
      val got = s.sql("SELECT count(*), count(DISTINCT event_id) FROM sdedup")
        .collect()(0)
      val expected = Tables.events(s, d).count()
      assert(got.getLong(0) === expected, "each event exactly once")
      assert(got.getLong(1) === expected)
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark: built-in bounded-state dedup == keyed-state job") {
    // the built-in alternative to Jobs.streamingDedup: state expires
    // with the watermark instead of living forever — the form a
    // 100 TB deployment uses when replays can only arrive within the
    // lateness bound. Same doubled-delivery staging as above; within
    // one bounded run both paths must agree exactly.
    val dir = Files.createTempDirectory("dedup-wm-src")
    Files.createSymbolicLink(dir.resolve("a.parquet"),
      java.nio.file.Paths.get(s"$d/events.parquet"))
    Files.copy(java.nio.file.Paths.get(s"$d/events.parquet"),
      dir.resolve("b.parquet"))
    val stream = Sources.events(s, dir.toString)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    val q = stream.writeStream.format("memory").queryName("wmdedup")
      .outputMode("append")
      .option("checkpointLocation", tmp("wmdedup-ck")).start()
    try {
      q.processAllAvailable()
      val got = s.sql(
        "SELECT count(*), count(DISTINCT event_id) FROM wmdedup")
        .collect()(0)
      val expected = Tables.events(s, d).count()
      assert(got.getLong(0) === expected, "each event exactly once")
      assert(got.getLong(1) === expected)
      // state is BOUNDED: the query carries a watermark, unlike the
      // unbounded dropDuplicates the keyed-state job replaces
      assert(q.lastProgress.eventTime.containsKey("watermark") ||
        q.recentProgress.exists(_.eventTime.containsKey("watermark")),
        "watermark must be active so dedup state can expire")
    } finally q.stop()
  }

  test("keywordWindow: streaming explode + window count matches batch") {
    val q = Jobs.keywordWindow(eventsStream)
      .writeStream.format("memory").queryName("kww")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = s.sql("SELECT sum(keyword_ct) FROM kww").collect()(0).getLong(0)
      // each event yields 2 keywords: the "kw" marker + the props value
      assert(got === Tables.events(s, d).count() * 2)
    } finally q.stop()
  }

  test("skuOrderWindow: stream dim-join + window agg matches batch") {
    val li = s.readStream.schema(Tables.lineitem(s, d).schema)
      .parquet(stage("lineitem"))
      .select(col("l_shipdate").cast("timestamp").as("d_time"),
        col("l_partkey").as("sku_id"),
        col("l_extendedprice").as("amount"))
    val dim = Tables.part(s, d).select(col("p_partkey"), col("p_brand"))
    val q = Jobs.skuOrderWindow(li, dim, "p_partkey", "p_brand")
      .writeStream.format("memory").queryName("skuw")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = s.sql("SELECT count(*), sum(order_ct) FROM skuw").collect()(0)
      val batch = Tables.lineitem(s, d)
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .groupBy(window(col("l_shipdate").cast("timestamp"), "1 day"),
          col("p_brand")).count()
      assert(got.getLong(0) === batch.count())
      assert(got.getLong(1) === Tables.lineitem(s, d).count())
    } finally q.stop()
  }

  test("ordered replay staging: no window lost to the watermark, state bounded") {
    // Replay.stageOrdered is the STREAMBENCH harness's staging step:
    // files time-ranged with monotone mod times, so the watermarked
    // flagship consumes the historical fact in event-time order. The
    // invariants graded here are the ones the committed throughput
    // artifact relies on: every staged row consumed, the sink holds
    // EVERY (window, group) the batch replay produces (a random-order
    // replay measurably drops updates as late), and peak state stays
    // strictly below the group universe (the watermark evicts).
    val stageDir = tmp("replay-stage")
    val src = Tables.lineitem(s, d)
      .select(col("l_shipdate").cast("timestamp").as("d_time"),
        col("l_partkey").as("sku_id"),
        col("l_extendedprice").as("amount"))
    val staged = graft.streaming.Replay
      .stageOrdered(src, "d_time", stageDir, 8)
    assert(staged === Tables.lineitem(s, d).count())
    val stream = s.readStream.schema(s.read.parquet(stageDir).schema)
      .option("maxFilesPerTrigger", "2").parquet(stageDir).drop("ck")
    val dim = Tables.part(s, d).select(col("p_partkey"), col("p_brand"))
    val q = Jobs.skuOrderWindow(stream, dim, "p_partkey", "p_brand")
      .writeStream.format("memory").queryName("replayw")
      .outputMode("update")
      .option("checkpointLocation", tmp("replay-ck"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(120000)
    finally q.stop()
    val progress = q.recentProgress.toSeq
    assert(progress.map(_.numInputRows).sum === staged, "all rows consumed")
    assert(progress.count(_.numInputRows > 0) > 1, "a real multi-batch replay")
    val batchGroups = s.read.parquet(stageDir)
      .join(dim, col("sku_id") === col("p_partkey"))
      .groupBy(window(col("d_time"), "1 day"), col("p_brand"))
      .count().count()
    val sinkGroups = s.sql(
      "SELECT count(*) FROM (SELECT DISTINCT wstart, p_brand FROM replayw)")
      .collect()(0).getLong(0)
    assert(sinkGroups === batchGroups, "no window lost to the watermark")
    val statePeak = progress.flatMap(_.stateOperators.toSeq)
      .map(_.numRowsTotal).max
    assert(statePeak < batchGroups,
      "watermark must evict closed windows (bounded state)")
  }

  test("dim broadcast join enriches the stream without shuffling it") {
    val dim = Tables.nation(s, d)
    val enriched = Jobs.dimJoin(
      eventsStream.withColumn("nk", (col("user_id") % 25).cast("int")),
      dim, "nk", "n_nationkey")
    val q = enriched.writeStream.format("memory").queryName("dimj")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = s.sql("SELECT count(*), count(n_name) FROM dimj").collect()(0)
      assert(rows.getLong(0) === Tables.events(s, d).count())
      assert(rows.getLong(1) === rows.getLong(0), "every event enriched")
    } finally q.stop()
  }

  test("log splitter partitions the stream by type (one scan, four sinks)") {
    val splits = Jobs.logSplit(eventsStream)
    val queries = splits.map { case (name, df) =>
      name -> df.writeStream.format("memory").queryName(s"split_$name")
        .outputMode("append").start()
    }
    try {
      queries.values.foreach(_.processAllAvailable())
      val counts = splits.keys.map(n =>
        n -> s.sql(s"SELECT count(*) FROM split_$n").collect()(0).getLong(0)).toMap
      val byType = Tables.events(s, d).groupBy("event_type").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts("err") === byType("error"))
      assert(counts("start") === byType("signup"))
      assert(counts("page") === byType("view"))
      assert(counts("action") === byType("click") + byType("purchase"))
    } finally queries.values.foreach(_.stop())
  }

  test("CDC router writes configured tables, drops deletes and unknowns") {
    val base = tmp("cdc-out")
    val routes = Map(
      "click" -> CdcRouter.Route(s"$base/click"),
      "error" -> CdcRouter.Route(s"$base/error", keepDeletes = true))
    val q = CdcRouter.start(Sources.cdcFromEvents(eventsStream), routes,
      tmp("cdc-ck"))
    try q.processAllAvailable() finally q.stop()
    val cdcBatch = Sources.cdcFromEvents(Tables.events(s, d))
    val clicks = s.read.parquet(s"$base/click")
    assert(clicks.count() === cdcBatch
      .filter(col("table") === "click" && col("op") =!= "delete").count())
    assert(clicks.filter(col("op") === "delete").count() === 0)
    val errors = s.read.parquet(s"$base/error")
    assert(errors.count() === cdcBatch.filter(col("table") === "error").count())
    assert(!new java.io.File(s"$base/view").exists(), "unrouted table dropped")
  }

  test("router default is single-pass: one write job per batch, loop parity") {
    // 5 routes > loopThreshold (4) → the staged partitionBy path.
    // Every data file written by one Spark write job carries the same
    // job UUID in its name (part-<task>-<uuid>-...), so the distinct
    // UUID count across ALL route dirs == write jobs per batch.
    val base = tmp("cdc-sp-out")
    val types = Seq("click", "view", "error", "signup", "purchase")
    val routes = types.map(t =>
      t -> CdcRouter.Route(s"$base/$t", keepDeletes = t == "error")).toMap
    val q = CdcRouter.start(Sources.cdcFromEvents(eventsStream), routes,
      tmp("cdc-sp-ck"))
    try q.processAllAvailable() finally q.stop()
    val cdcBatch = Sources.cdcFromEvents(Tables.events(s, d))
    types.foreach { t =>
      val got = s.read.parquet(s"$base/$t")
      val want = cdcBatch.filter(col("table") === t &&
        (if (t == "error") lit(true) else col("op") =!= "delete"))
      assert(got.count() === want.count(), s"row count for $t")
      // the partitioned write must keep the `table` column the loop
      // writes (it is duplicated into the partition key, not moved)
      assert(got.columns.sorted === Array("data", "op", "table", "ts"),
        s"schema for $t")
      assert(got.filter(col("table") =!= t).count() === 0L)
    }
    val uuidRe = "part-\\d+-([0-9a-f\\-]{36})".r
    val uuids = types.flatMap { t =>
      new java.io.File(s"$base/$t").listFiles.toSeq
        .flatMap(f => uuidRe.findFirstMatchIn(f.getName).map(_.group(1)))
    }.toSet
    assert(uuids.size === 1,
      s"expected ONE write job across all 5 routes, saw ${uuids.size}")
  }

  test("CDC router picks up config changes between batches (no restart)") {
    // two micro-batches: stage one file, process, stage another with a
    // widened config — the second batch must route the newly-added table
    val srcDir = Files.createTempDirectory("cdc-dyn-src")
    val base = tmp("cdc-dyn-out")
    @volatile var routes = Map("click" -> CdcRouter.Route(s"$base/click"))
    val cdc = Sources.cdcFromEvents(Sources.events(s, srcDir.toString))
    val q = CdcRouter.startDynamic(cdc, () => routes, tmp("cdc-dyn-ck"))
    try {
      Files.createSymbolicLink(srcDir.resolve("events.parquet"),
        java.nio.file.Paths.get(s"$d/events.parquet"))
      q.processAllAvailable()
      assert(new java.io.File(s"$base/click").exists)
      assert(!new java.io.File(s"$base/error").exists, "not yet configured")
      routes = routes + ("error" -> CdcRouter.Route(s"$base/error", true))
      // second batch: a copy of the data under a new file name
      Files.copy(java.nio.file.Paths.get(s"$d/events.parquet"),
        srcDir.resolve("events2.parquet"))
      q.processAllAvailable()
      assert(new java.io.File(s"$base/error").exists,
        "new route active without restart")
      val errs = s.read.parquet(s"$base/error").count()
      val expect = Sources.cdcFromEvents(Tables.events(s, d))
        .filter(col("table") === "error").count()
      assert(errs === expect, "only the second batch routed to error")
    } finally q.stop()
  }

  test("summing sink merges batches like a Doris sum-agg table") {
    import s.implicits._
    val out = tmp("sum-out") + "/snap"
    val b1 = Seq(("a", 1L, 2.0), ("b", 2L, 3.0), ("a", 3L, 4.0))
      .toDF("k", "pv", "amt")
    val b2 = Seq(("a", 10L, 1.0), ("c", 1L, 1.0)).toDF("k", "pv", "amt")
    ReplacingSink.sumUpsert(b1, Seq("k"), Seq("pv", "amt"), out)
    ReplacingSink.sumUpsert(b2, Seq("k"), Seq("pv", "amt"), out)
    val got = s.read.parquet(out).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got === Map("a" -> (14L, 7.0), "b" -> (2L, 3.0), "c" -> (1L, 1.0)))
  }

  test("replacing sink keeps the max-version row per key across batches") {
    import s.implicits._
    val out = tmp("rep-out") + "/snap"
    val b1 = Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("k", "v", "ver")
    val b2 = Seq((1L, "a2", 2L), (3L, "c", 1L)).toDF("k", "v", "ver")
    val b0 = Seq((1L, "stale", 0L)).toDF("k", "v", "ver")
    ReplacingSink.upsert(b1, Seq("k"), "ver", out)
    ReplacingSink.upsert(b2, Seq("k"), "ver", out)
    ReplacingSink.upsert(b0, Seq("k"), "ver", out) // replay of older data
    val got = s.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toMap
    assert(got === Map(1L -> "a2", 2L -> "b", 3L -> "c"))
  }

  test("replacing sink: an upsert over a snapshot is one Spark job and leaves one file") {
    // a stateful stream's micro-batch session: Spark runs those
    // batches without AQE, so a write's shuffles belong to its one job
    val mb = s.newSession()
    mb.conf.set("spark.sql.adaptive.enabled", "false")
    import mb.implicits._
    def files(dir: String): Int = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    def table(dir: String): Set[(Long, String, Long)] =
      mb.read.parquet(dir).as[(Long, String, Long)].collect().toSet
    val b1 = Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("k", "v", "ver")
    val b2 = Seq((1L, "a2", 2L), (3L, "c", 1L), (3L, "c0", 0L))
      .toDF("k", "v", "ver")
    val want = Set((1L, "a2", 2L), (2L, "b", 1L), (3L, "c", 1L))

    val out = tmp("rep-one") + "/snap"
    ReplacingSink.upsert(b1, Seq("k"), "ver", out)
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    ListenerBusDrain(s.sparkContext)
    s.sparkContext.addSparkListener(listener)
    try {
      ReplacingSink.upsert(b2, Seq("k"), "ver", out)
      ListenerBusDrain(s.sparkContext)
    } finally s.sparkContext.removeSparkListener(listener)
    assert(jobs.get === 1)
    assert(files(out) === 1)
    assert(table(out) === want)

    // a snapshot spread over 4 files, as a merge sized by the shuffle
    // partition count left it, merges into one file
    val four = tmp("rep-four") + "/snap"
    val spread = Seq((1L, "a", 1L), (2L, "b", 1L), (4L, "d", 1L), (5L, "e", 3L))
    for (r <- spread) Seq(r).toDF("k", "v", "ver").write.mode("append").parquet(four)
    assert(files(four) === 4)
    ReplacingSink.upsert(b2, Seq("k"), "ver", four)
    assert(files(four) === 1)
    assert(table(four) === want ++ spread.drop(2))
  }

  test("a swap that crashed between its renames loses no row on the next upsert") {
    import s.implicits._
    // the state a crash between replaceDir's two renames leaves: the
    // snapshot moved to `__old`, nothing promoted in its place
    def crashed(prefix: String, snap: org.apache.spark.sql.DataFrame): String = {
      val out = tmp(prefix) + "/snap"
      snap.write.parquet(out)
      assert(new java.io.File(out).renameTo(new java.io.File(out + "__old")))
      out
    }
    val up = crashed("rep-crash",
      Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("k", "v", "ver"))
    ReplacingSink.upsert(Seq((3L, "c", 1L)).toDF("k", "v", "ver"),
      Seq("k"), "ver", up)
    assert(s.read.parquet(up).as[(Long, String, Long)].collect().toSet ===
      Set((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L)))
    assert(!new java.io.File(up + "__old").exists())

    val sum = crashed("sum-crash",
      Seq(("a", 1L, 2.0), ("b", 2L, 3.0)).toDF("k", "pv", "amt"))
    ReplacingSink.sumUpsert(Seq(("c", 1L, 1.0)).toDF("k", "pv", "amt"),
      Seq("k"), Seq("pv", "amt"), sum)
    assert(s.read.parquet(sum).as[(String, Long, Double)].collect().toSet ===
      Set(("a", 1L, 2.0), ("b", 2L, 3.0), ("c", 1L, 1.0)))
  }

  test("observed metrics ride the stream without a second aggregation") {
    val observed = Jobs.withObservedMetrics(eventsStream)
    val q = observed.writeStream.format("noop").start()
    try q.processAllAvailable() finally q.stop()
    val metrics = q.recentProgress.flatMap(p =>
      Option(p.observedMetrics.get("graft_metrics")))
    assert(metrics.nonEmpty, "no observed metrics in progress events")
    val totalRows = metrics.map(_.getAs[Long]("rows")).sum
    val exact = Tables.events(s, d).count()
    assert(totalRows === exact,
      s"observed row count $totalRows != table count $exact")
    val valueSum = metrics.map(_.getAs[Double]("value_sum")).sum
    val exactSum = Tables.events(s, d)
      .agg(sum(col("value"))).collect()(0).getDouble(0)
    assert(math.abs(valueSum - exactSum) < 1e-6 * math.abs(exactSum))
    assert(metrics.map(_.getAs[Long]("null_users")).sum === 0L)
  }

  test("JDBC sink: transactional ledger makes replayed batches exactly-once") {
    import graft.streaming.JdbcSink
    import s.implicits._
    val cfg = JdbcSink.Config("jdbc:derby:memory:graftsink;create=true",
      "kv_serve", Seq("k"), Seq("pv", "amt"), batchSize = 2)
    val conn = java.sql.DriverManager.getConnection(cfg.url)
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        "CREATE TABLE kv_serve (k VARCHAR(40) NOT NULL PRIMARY KEY, " +
        "pv BIGINT, amt DOUBLE)")
      st.executeUpdate(JdbcSink.ledgerDdl(cfg))
      st.close()
    } finally conn.close()
    def snapshot(): Map[String, (Long, Double)] = {
      val c = java.sql.DriverManager.getConnection(cfg.url)
      try {
        val rs = c.createStatement()
          .executeQuery("SELECT k, pv, amt FROM kv_serve")
        val b = Map.newBuilder[String, (Long, Double)]
        while (rs.next()) b += rs.getString(1) -> (rs.getLong(2), rs.getDouble(3))
        b.result()
      } finally c.close()
    }
    val b0 = Seq(("a", 1L, 2.0), ("b", 2L, 3.0), ("c", 3L, 4.0))
      .toDF("k", "pv", "amt")
    JdbcSink.upsertBatch(b0, 0L, cfg)
    assert(snapshot() === Map("a" -> (1L, 2.0), "b" -> (2L, 3.0), "c" -> (3L, 4.0)))
    // upsert semantics: batch 1 overwrites a, adds d
    val b1 = Seq(("a", 10L, 9.0), ("d", 4L, 1.0)).toDF("k", "pv", "amt")
    JdbcSink.upsertBatch(b1, 1L, cfg)
    val afterB1 = snapshot()
    assert(afterB1("a") === (10L, 9.0) && afterB1("d") === (4L, 1.0))
    // checkpoint replay: the SAME batch ids fire again after a
    // "restart" — the ledger must swallow both without changes, even
    // if the replayed content were stale
    JdbcSink.upsertBatch(b0, 0L, cfg)
    JdbcSink.upsertBatch(b1, 1L, cfg)
    assert(snapshot() === afterB1, "replayed batches must be no-ops")
    // and a genuinely new batch still lands
    JdbcSink.upsertBatch(Seq(("b", 99L, 0.5)).toDF("k", "pv", "amt"), 2L, cfg)
    assert(snapshot()("b") === (99L, 0.5))
    // the reference-engine DDL emitters stay coherent with the config
    val types = Map("k" -> "String", "pv" -> "UInt64", "amt" -> "Float64")
    assert(JdbcSink.clickhouseDdl(cfg, types).contains("ReplacingMergeTree"))
    assert(JdbcSink.dorisAggDdl(cfg, types).contains("AGGREGATE KEY (k)"))
  }

  test("raw-SQL graft_asof_join runs ON A STREAM against the versioned dim") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import s.implicits._
    implicit val sq = s.sqlContext
    // versioned dim: 3 versions per key
    val dim = (1L to 5L).flatMap(k => Seq(
      (k, 100L * k, s"v1_$k"), (k, 100L * k + 30, s"v2_$k"),
      (k, 100L * k + 60, s"v3_$k"))).toDF("k", "us", "dimval")
    dim.createOrReplaceTempView("asof_dim_v")
    val facts = (1L to 5L).flatMap(k =>
      Seq((k, 100L * k - 1), (k, 100L * k + 45), (k, 100L * k + 99)))
    val mem = MemoryStream[(Long, Long)]
    mem.toDF().toDF("k", "us").createOrReplaceTempView("stream_facts_v")
    // the SAME TVF SQL a batch user writes, over the streaming view —
    // each micro-batch plans the custom AsOfJoinExec
    val sdf = s.sql("SELECT * FROM graft_asof_join(" +
      "'stream_facts_v', 'asof_dim_v', 'k', 'us', 'dimval')")
    assert(sdf.isStreaming)
    val q = sdf.writeStream.format("memory").queryName("asofsql")
      .outputMode("append").start()
    try {
      val (h1, h2) = facts.splitAt(7)
      mem.addData(h1); q.processAllAvailable()
      mem.addData(h2); q.processAllAvailable()
      val got = s.sql("SELECT k, us, dimval FROM asofsql").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      val want = graft.plans.AsOfJoin(
        facts.toDF("k", "us"), dim, "k", "us", Seq("dimval")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(got === want)
      assert(got.exists(_._3 == null), "pre-first-version facts stay null")
    } finally q.stop()
  }

  test("changelog temporal join equals batch as-of under out-of-order batching") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import s.implicits._
    implicit val sq = s.sqlContext
    val dimRows = (1L to 4L).flatMap(k => Seq(
      (k, 1000L * k, s"v1_$k"), (k, 1000L * k + 300, s"v2_$k"),
      (k, 1000L * k + 600, s"v3_$k")))
    val factRows = (1L to 4L).flatMap(k => Seq(
      (k, 1000L * k - 5, 0.1 * k), (k, 1000L * k + 299, 0.2 * k),
      (k, 1000L * k + 300, 0.3 * k), (k, 1000L * k + 900, 0.4 * k)))
    val lMem = MemoryStream[(Long, Long, Double)]
    val rMem = MemoryStream[(Long, Long, String)]
    val joined = Jobs.temporalJoinChangelog(
      lMem.toDF().toDF("k", "us", "amt"),
      rMem.toDF().toDF("k", "us", "dimval"),
      // the lateness budget must cover the test's whole disorder
      // window — rows beyond it are dropped by watermark contract
      "k", "us", "us", Seq("dimval"), delay = "2 hours")
    val q = joined.writeStream.format("memory").queryName("tjoin")
      .outputMode("append").start()
    try {
      // deliberately out of order: late facts land AFTER newer dim
      // versions, dim versions split across batches
      val (d1, d2) = dimRows.partition(_._2 % 2 == 0)
      val (f1, f2) = factRows.partition(_._2 % 3 == 0)
      rMem.addData(d2); lMem.addData(f2); q.processAllAvailable()
      rMem.addData(d1); lMem.addData(f1); q.processAllAvailable()
      // two sentinel advances flush every parked left via watermark +
      // event-time timeout
      lMem.addData((999L, 10_000_000L, 0.0)); q.processAllAvailable()
      lMem.addData((999L, 20_000_000L, 0.0)); q.processAllAvailable()
      val got = s.sql(
        "SELECT k, us, amt, dimval FROM tjoin WHERE k < 900").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getString(3))).toSet
      val want = graft.plans.AsOfJoin(
        factRows.toDF("k", "us", "amt"),
        dimRows.toDF("k", "us", "dimval"),
        "k", "us", Seq("dimval")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getString(3))).toSet
      assert(got === want)
      assert(got.exists(_._4 == null), "pre-first-version facts stay null")
      assert(got.exists(_._4 != null), "matched facts carry dim versions")
    } finally q.stop()
  }

  test("changelog temporal join runs on BATCH frames (no watermark → one pass)") {
    // batch execution strips the watermark node; the operator treats
    // the missing watermark as +∞ so every left certifies in one
    // pass — the scaladoc's "works on batch frames too" contract
    import s.implicits._
    val dimRows = (1L to 4L).flatMap(k => Seq(
      (k, 1000L * k, s"v1_$k"), (k, 1000L * k + 300, s"v2_$k")))
    val factRows = (1L to 4L).flatMap(k => Seq(
      (k, 1000L * k - 5, 0.1 * k), (k, 1000L * k + 299, 0.2 * k),
      (k, 1000L * k + 301, 0.3 * k)))
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3))
    val got = Jobs.temporalJoinChangelog(
      factRows.toDF("k", "us", "amt"), dimRows.toDF("k", "us", "dimval"),
      "k", "us", "us", Seq("dimval")).collect().map(key).toSet
    val want = graft.plans.AsOfJoin(
      factRows.toDF("k", "us", "amt"), dimRows.toDF("k", "us", "dimval"),
      "k", "us", Seq("dimval")).collect().map(key).toSet
    assert(got === want)
    assert(got.exists(_._4 == null), "pre-first-version facts stay null")
    assert(got.exists(_._4 != null), "matched facts carry dim versions")
  }

  test("raw-SQL graft_temporal_join TVF: changelog streams via SQL == batch as-of") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import s.implicits._
    implicit val sq = s.sqlContext
    val dimRows = (1L to 3L).flatMap(k => Seq(
      (k, 1000L * k, s"v1_$k", k * 10), (k, 1000L * k + 400, s"v2_$k", k * 20)))
    val factRows = (1L to 3L).flatMap(k => Seq(
      (k, 1000L * k - 5, 0.1 * k), (k, 1000L * k + 400, 0.2 * k),
      (k, 1000L * k + 800, 0.3 * k)))
    val lMem = MemoryStream[(Long, Long, Double)]
    val rMem = MemoryStream[(Long, Long, String, Long)]
    lMem.toDF().toDF("k", "us", "amt").createOrReplaceTempView("tj_facts_v")
    rMem.toDF().toDF("k", "us", "dimval", "region")
      .createOrReplaceTempView("tj_dim_v")
    // the Flink `FOR SYSTEM_TIME AS OF` surface as a TVF — no Scala;
    // MULTIPLE value columns via the varargs tail
    val sdf = s.sql("SELECT * FROM graft_temporal_join(" +
      "'tj_facts_v', 'tj_dim_v', 'k', 'us', 'us', '2 hours', " +
      "'dimval', 'region')")
    assert(sdf.isStreaming)
    val q = sdf.writeStream.format("memory").queryName("tjsql")
      .outputMode("append").start()
    try {
      rMem.addData(dimRows.filter(_._1 != 2L))
      lMem.addData(factRows); q.processAllAvailable()
      rMem.addData(dimRows.filter(_._1 == 2L)); q.processAllAvailable()
      lMem.addData((999L, 10_000_000L, 0.0)); q.processAllAvailable()
      lMem.addData((999L, 20_000_000L, 0.0)); q.processAllAvailable()
      val got = s.sql(
        "SELECT k, us, amt, dimval, region FROM tjsql WHERE k < 900")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getString(3), if (r.isNullAt(4)) -1L else r.getLong(4))).toSet
      val want = graft.plans.AsOfJoin(
        factRows.toDF("k", "us", "amt"),
        dimRows.toDF("k", "us", "dimval", "region"),
        "k", "us", Seq("dimval", "region")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getString(3), if (r.isNullAt(4)) -1L else r.getLong(4))).toSet
      assert(got === want)
    } finally q.stop()
  }

  test("graft_temporal_join TVF: STRUCT value column and '*' expansion == batch as-of") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import s.implicits._
    implicit val sq = s.sqlContext
    val dimRows = (1L to 3L).flatMap(k => Seq(
      (k, 1000L * k, s"v1_$k", k * 10), (k, 1000L * k + 400, s"v2_$k", k * 20)))
    val factRows = (1L to 3L).flatMap(k => Seq(
      (k, 1000L * k - 5, 0.1 * k), (k, 1000L * k + 400, 0.2 * k),
      (k, 1000L * k + 800, 0.3 * k)))
    val lMem = MemoryStream[(Long, Long, Double)]
    val rMem = MemoryStream[(Long, Long, String, Long)]
    lMem.toDF().toDF("k", "us", "amt")
      .createOrReplaceTempView("tjs_facts_v")
    // the dim is ONE nested struct column — no flattening required
    rMem.toDF().toDF("k", "us", "dimval", "region")
      .select(col("k"), col("us"),
        struct(col("dimval"), col("region")).as("info"))
      .createOrReplaceTempView("tjs_dim_v")
    val sdf = s.sql("SELECT * FROM graft_temporal_join(" +
      "'tjs_facts_v', 'tjs_dim_v', 'k', 'us', 'us', '2 hours', 'info')")
    assert(sdf.isStreaming)
    assert(sdf.schema("info").dataType.isInstanceOf[
      org.apache.spark.sql.types.StructType], "struct carried whole")
    // '*' expands to every right column except key and version ts —
    // here that is exactly the one struct column, same output shape
    val star = s.sql("SELECT * FROM graft_temporal_join(" +
      "'tjs_facts_v', 'tjs_dim_v', 'k', 'us', 'us', '2 hours', '*')")
    assert(star.schema.fieldNames.toSeq === sdf.schema.fieldNames.toSeq)
    val q = sdf.writeStream.format("memory").queryName("tjstruct")
      .outputMode("append").start()
    try {
      rMem.addData(dimRows.filter(_._1 != 2L))
      lMem.addData(factRows); q.processAllAvailable()
      rMem.addData(dimRows.filter(_._1 == 2L)); q.processAllAvailable()
      lMem.addData((999L, 10_000_000L, 0.0)); q.processAllAvailable()
      lMem.addData((999L, 20_000_000L, 0.0)); q.processAllAvailable()
      def flat(r: org.apache.spark.sql.Row, st: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getDouble(2),
          if (st == null) null else st.getString(0),
          if (st == null) -1L else st.getLong(1))
      val got = s.sql("SELECT * FROM tjstruct WHERE k < 900").collect()
        .map(r => flat(r, if (r.isNullAt(3)) null else r.getStruct(3))).toSet
      val want = graft.plans.AsOfJoin(
        factRows.toDF("k", "us", "amt"),
        dimRows.toDF("k", "us", "dimval", "region")
          .select(col("k"), col("us"),
            struct(col("dimval"), col("region")).as("info")),
        "k", "us", Seq("info")).collect()
        .map(r => flat(r, if (r.isNullAt(3)) null else r.getStruct(3))).toSet
      assert(got === want)
      assert(got.exists(_._4 == null), "pre-first-version facts stay null")
      assert(got.exists(_._4 != null), "matched facts carry the struct dim")
    } finally q.stop()
  }

  test("Kafka source: LIVE end-to-end pageViewWindow topology (env-gated, skips without a broker)") {
    // mirrors the live-JDBC gate below: export
    // SPARK_GRAFT_KAFKA_BOOTSTRAP (and put spark-sql-kafka on the
    // classpath — this container ships neither) and this runs the
    // reference's ODS→DWS hourly-traffic topology from a real topic:
    // seed JSON events via the batch kafka writer, consume through
    // Sources.eventsKafka, window with Jobs.pageViewWindow, assert
    // the aggregate. Canceled by default — the file-source specs
    // remain the CI gate for the topology itself.
    val bootstrap = sys.env.get("SPARK_GRAFT_KAFKA_BOOTSTRAP")
    assume(bootstrap.isDefined,
      "no Kafka broker configured — file-source specs remain the CI gate")
    import s.implicits._
    val topic = s"graft_pv_${System.currentTimeMillis()}"
    val seed = Seq(
      """{"event_id":1,"ts":"2026-01-01T10:05:00","user_id":7,"event_type":"view","value":1.0,"props":"{}"}""",
      """{"event_id":2,"ts":"2026-01-01T10:25:00","user_id":8,"event_type":"view","value":2.0,"props":"{}"}""",
      """{"event_id":3,"ts":"2026-01-01T11:05:00","user_id":7,"event_type":"cart","value":3.0,"props":"{}"}""")
    seed.toDF("value").write.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap.get)
      .option("topic", topic).save()
    val out = graft.streaming.Jobs.pageViewWindow(
      graft.streaming.Sources.eventsKafka(s, topic), watermark = "0 seconds")
    val q = out.writeStream.format("memory").queryName("kafka_pv")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(60000) finally q.stop()
    val rows = s.sql(
      "SELECT event_type, pv_ct FROM kafka_pv ORDER BY event_type")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows === Seq(("cart", 1L), ("view", 2L)))
  }

  test("streaming-maintained SCD2 dim: incremental key-scoped rebuild == batch scd2Build; replay is a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import s.implicits._
    implicit val sq = s.sqlContext
    val base = tmp("scd2-maintain")
    val (archive, dim) = (s"$base/archive", s"$base/dim")
    // a view change feed (user, event-time micros, value), replayed
    // as a stream in two out-of-order halves (odd users first)
    val views = graft.sources.Tables.events(s, d)
      .filter(col("event_type") === "view")
      .select(col("user_id"),
        unix_micros(col("ts")).as("us"), col("value"))
      .groupBy("user_id", "us")
      .agg(max(col("value")).as("last_view_value"))
    val rows = views.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val mem = MemoryStream[(Long, Long, Double)]
    val q = mem.toDF().toDF("user_id", "us", "last_view_value")
      .writeStream.option("checkpointLocation", s"$base/ck")
      .foreachBatch(graft.streaming.Jobs.scd2Maintain(
        "user_id", "us", Seq("last_view_value"), archive, dim))
      .start()
    val (odd, even) = rows.partition(_._1 % 2 == 1)
    mem.addData(odd.toSeq); q.processAllAvailable()
    mem.addData(even.toSeq); q.processAllAvailable()
    q.stop()
    val streamed = s.read.parquet(dim)
      .select("user_id", "valid_from_us", "valid_to_us",
        "last_view_value")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)), r.getDouble(3))).toSet
    val batch = graft.operators.Temporal.scd2Build(
        views, "user_id", "us", Seq("last_view_value"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)), r.getDouble(3))).toSet
    assert(streamed === batch,
      "incremental SCD2 must equal the batch build over full history")
    // replayed batchId appends nothing and the dim is unchanged
    val fn = graft.streaming.Jobs.scd2Maintain(
      "user_id", "us", Seq("last_view_value"), archive, dim)
    fn(views, 0L)
    val after = s.read.parquet(dim)
      .select("user_id", "valid_from_us", "valid_to_us",
        "last_view_value")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)), r.getDouble(3))).toSet
    assert(after === batch, "replayed micro-batch must be a no-op")
  }

  test("streaming-maintained SCD2 dim: a crash between the archive append and the dim swap loses no batch on replay") {
    val base = tmp("scd2-crash")
    val (archive, dim) = (s"$base/archive", s"$base/dim")
    val views = graft.sources.Tables.events(s, d)
      .filter(col("event_type") === "view")
      .select(col("user_id"),
        unix_micros(col("ts")).as("us"), col("value"))
      .groupBy("user_id", "us")
      .agg(max(col("value")).as("last_view_value"))
    val batch0 = views.filter(col("user_id") % 2 === 1)
    val batch1 = views.filter(col("user_id") % 2 === 0)
    val fn = graft.streaming.Jobs.scd2Maintain(
      "user_id", "us", Seq("last_view_value"), archive, dim)
    fn(batch0, 0L)
    // the state a crash after batch 1's archive append leaves: its
    // rows are archived under __batch = 1, the dim never saw them
    batch1.withColumn("__batch", lit(1L))
      .write.mode("append").parquet(archive)
    fn(batch1, 1L)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("user_id", "valid_from_us", "valid_to_us", "last_view_value")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)), r.getDouble(3))).toSet
    val want = rows(graft.operators.Temporal.scd2Build(
      views, "user_id", "us", Seq("last_view_value")))
    assert(rows(s.read.parquet(dim)) === want,
      "the replayed batch must republish its archived keys")
  }

  test("Debezium envelope projection: op mapping, delete takes before, non-row lines drop") {
    // CI gate for the cdcKafka parsing semantics — the same contract
    // the graft-cdc batch connector's Debezium mode implements
    // (CdcEnvelope.Debezium): c/r→insert, u→update, d→delete with
    // the BEFORE image, table from source.table, ts from ts_ms;
    // schema-change lines (no op/table) drop out
    import s.implicits._
    val lines = Seq(
      """{"op":"c","ts_ms":1000,"source":{"table":"order_info"},"after":{"id":1,"amt":5}}""",
      """{"op":"r","ts_ms":2000,"source":{"table":"order_info"},"after":{"id":2,"amt":7}}""",
      """{"op":"u","ts_ms":3000,"source":{"table":"user_info"},"before":{"id":3,"v":0},"after":{"id":3,"v":1}}""",
      """{"op":"d","ts_ms":4000,"source":{"table":"user_info"},"before":{"id":4,"v":9},"after":null}""",
      """{"type":"schema-change","ddl":"ALTER TABLE x"}""")
    val got = graft.streaming.Sources
      .debeziumEnvelope(lines.toDF("value"))
      .orderBy("ts")
      .collect()
      .map(r => (r.getAs[java.sql.Timestamp]("ts").getTime,
        r.getString(1), r.getString(2), r.getString(3)))
    assert(got.length === 4, "the schema-change line must drop")
    assert(got(0) === ((1000L, "order_info", "insert", """{"id":1,"amt":5}""")))
    assert(got(1) === ((2000L, "order_info", "insert", """{"id":2,"amt":7}""")))
    assert(got(2) === ((3000L, "user_info", "update", """{"id":3,"v":1}""")))
    assert(got(3) === ((4000L, "user_info", "delete", """{"id":4,"v":9}""")),
      "delete must carry the BEFORE image")
  }

  test("Kafka CDC: LIVE Debezium-over-Kafka through CdcRouter to per-table sinks (env-gated)") {
    // the last reference integration without a live-wire analogue
    // (FlinkSourceUtil.java:14's MySQL-binlog topic): export
    // SPARK_GRAFT_KAFKA_BOOTSTRAP (+ spark-sql-kafka on the
    // classpath) and this seeds Debezium envelopes into a topic,
    // consumes via Sources.cdcKafka and routes through CdcRouter —
    // the DwdBaseDb topology end to end. Canceled by default; the
    // projection spec above and the file-backed CdcRouter specs
    // remain the CI gate.
    val bootstrap = sys.env.get("SPARK_GRAFT_KAFKA_BOOTSTRAP")
    assume(bootstrap.isDefined,
      "no Kafka broker configured — file-source CDC specs remain the CI gate")
    import s.implicits._
    val topic = s"graft_cdc_${System.currentTimeMillis()}"
    Seq(
      """{"op":"c","ts_ms":1000,"source":{"table":"order_info"},"after":{"id":1}}""",
      """{"op":"u","ts_ms":2000,"source":{"table":"order_info"},"before":{"id":1},"after":{"id":1,"amt":2}}""",
      """{"op":"d","ts_ms":3000,"source":{"table":"order_info"},"before":{"id":1,"amt":2}}""",
      """{"op":"d","ts_ms":4000,"source":{"table":"user_info"},"before":{"id":9}}""")
      .toDF("value").write.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap.get)
      .option("topic", topic).save()
    val base = tmp("kafka-cdc-out")
    val routes = Map(
      "order_info" -> CdcRouter.Route(s"$base/order_info"),
      "user_info" -> CdcRouter.Route(s"$base/user_info", keepDeletes = true))
    val q = CdcRouter.start(
      graft.streaming.Sources.cdcKafka(s, topic), routes,
      tmp("kafka-cdc-ck"))
    try {
      q.processAllAvailable()
      val order = s.read.parquet(s"$base/order_info")
        .select("op").as[String].collect().sorted
      assert(order === Array("insert", "update"),
        "order_info drops deletes")
      val user = s.read.parquet(s"$base/user_info")
        .select("op").as[String].collect()
      assert(user === Array("delete"), "user_info keeps deletes")
    } finally q.stop()
  }

  test("JDBC sink: LIVE ClickHouse/Doris integration (env-gated, skips without a server)") {
    import graft.streaming.JdbcSink
    import s.implicits._
    // ready the moment the sandbox grows a server: export
    // SPARK_GRAFT_CH_URL (or SPARK_GRAFT_DORIS_URL) pointing at a
    // JDBC endpoint with CREATE/DROP rights and this test exercises
    // the identical ledgered-upsert path Derby gates in CI
    val live = sys.env.get("SPARK_GRAFT_CH_URL")
      .orElse(sys.env.get("SPARK_GRAFT_DORIS_URL"))
    assume(live.isDefined,
      "no live JDBC server configured — the Derby specs remain the CI gate")
    val url = live.get
    val cfg = JdbcSink.Config(url, "graft_live_uv", Seq("day"), Seq("uv"))
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      Seq(s"DROP TABLE ${cfg.table}", s"DROP TABLE ${cfg.table}_batches")
        .foreach(sql => try st.executeUpdate(sql) catch { case _: Exception => })
      st.executeUpdate(
        s"CREATE TABLE ${cfg.table} (day VARCHAR(10) NOT NULL PRIMARY KEY, uv BIGINT)")
      st.executeUpdate(JdbcSink.ledgerDdl(cfg))
      st.close()
    } finally conn.close()
    JdbcSink.upsertBatch(
      Seq(("2026-08-01", 2L), ("2026-08-02", 1L)).toDF("day", "uv"), 0L, cfg)
    // replayed batch id: ledger must dedup, not double-apply
    JdbcSink.upsertBatch(
      Seq(("2026-08-01", 2L), ("2026-08-02", 1L)).toDF("day", "uv"), 0L, cfg)
    JdbcSink.upsertBatch(Seq(("2026-08-01", 3L)).toDF("day", "uv"), 1L, cfg)
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(
        s"SELECT day, uv FROM ${cfg.table} ORDER BY day")
      val got = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      while (rs.next()) got += rs.getString(1) -> rs.getLong(2)
      assert(got.toSeq === Seq("2026-08-01" -> 3L, "2026-08-02" -> 1L))
    } finally c.close()
  }

  test("JDBC sink: streaming foreachBatch path lands micro-batches") {
    import graft.streaming.JdbcSink
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import s.implicits._
    val cfg = JdbcSink.Config("jdbc:derby:memory:graftstream;create=true",
      "uv_serve", Seq("day"), Seq("uv"))
    val conn = java.sql.DriverManager.getConnection(cfg.url)
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        "CREATE TABLE uv_serve (day VARCHAR(10) NOT NULL PRIMARY KEY, uv BIGINT)")
      st.executeUpdate(JdbcSink.ledgerDdl(cfg))
      st.close()
    } finally conn.close()
    implicit val sq = s.sqlContext
    val mem = MemoryStream[(String, Long)]
    val agg = mem.toDF().toDF("day", "user_id")
      .groupBy("day").agg(count(col("user_id")).as("uv"))
    val q = agg.writeStream.outputMode("update")
      .option("checkpointLocation", tmp("jdbc-ckpt"))
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        JdbcSink.upsertBatch(batch, id, cfg)
      }.start()
    mem.addData(("2026-08-01", 1L), ("2026-08-01", 2L), ("2026-08-02", 1L))
    q.processAllAvailable()
    mem.addData(("2026-08-01", 3L))
    q.processAllAvailable()
    q.stop()
    val c = java.sql.DriverManager.getConnection(cfg.url)
    try {
      val rs = c.createStatement().executeQuery(
        "SELECT day, uv FROM uv_serve ORDER BY day")
      val got = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      while (rs.next()) got += rs.getString(1) -> rs.getLong(2)
      assert(got.toSeq === Seq("2026-08-01" -> 3L, "2026-08-02" -> 1L))
    } finally c.close()
  }

  test("end-to-end: stream -> summing sink -> partitioned serving -> pruned read") {
    // the full reference topology in one pass: events stream, Doris-style
    // sum-merge sink, date-partitioned serving table, dashboard query
    val snap = tmp("e2e-snap") + "/daily"
    val serving = tmp("e2e-serve") + "/daily_dt"
    // per-batch INCREMENTS sum-merge into the snapshot (the Doris
    // sum-agg model): correct under any micro-batching, no state
    val q = eventsStream.writeStream
      .option("checkpointLocation", tmp("e2e-ck"))
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val part = batch
          .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("dt"))
          .agg(count(lit(1)).as("pv"), sum(col("value")).as("value_sum"))
        ReplacingSink.sumUpsert(part, Seq("dt"), Seq("pv", "value_sum"), snap)
      }.start()
    try q.processAllAvailable() finally q.stop()
    // publish the snapshot as a date-partitioned serving table
    graft.sources.Partitioned.write(s.read.parquet(snap), serving, "dt")
    // dashboard query: one day, pruned scan, equals the batch answer
    val day = "2024-01-15"
    val got = graft.sources.Partitioned.readDay(s, serving, "dt", day)
      .select(col("pv")).collect()
    val expected = Tables.events(s, d)
      .filter(date_format(col("ts"), "yyyy-MM-dd") === day).count()
    assert(got.length === 1)
    assert(got(0).getLong(0) === expected,
      s"served pv for $day must equal the batch count")
  }

  test("sessionWindow: streaming gap sessions match the batch window count") {
    val q = Jobs.sessionWindow(eventsStream)
      .writeStream.format("memory").queryName("sess")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = s.sql("SELECT count(*), sum(n_events) FROM sess").collect()(0)
      val batch = graft.warehouse.Analytics.sessionize(s, d)
      assert(got.getLong(0) === batch.count(),
        "session count matches the batch gap-sessionization")
      assert(got.getLong(1) === Tables.events(s, d).count(),
        "every event lands in exactly one session")
    } finally q.stop()
  }

  test("Trigger.AvailableNow: the streaming topology doubles as a bounded backfill") {
    // the operational pattern: one topology serves both the live
    // stream and historical backfill — AvailableNow processes
    // everything staged (in micro-batches, here forced to ≥2 via
    // maxFilesPerTrigger) then STOPS on its own, unlike
    // processAllAvailable which needs the driver to decide when done
    val dir = Files.createTempDirectory("backfill-src")
    Files.createSymbolicLink(dir.resolve("a.parquet"),
      java.nio.file.Paths.get(s"$d/events.parquet"))
    val stream = s.readStream
      .schema(Sources.eventsSchemaFor(s, s"$d/events.parquet"))
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
    val counted = graft.sources.Tables.normalizeTs(stream)
      .groupBy(col("event_type")).agg(count(lit(1)).as("pv"))
    val q = counted.writeStream.format("memory").queryName("backfill")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      assert(q.awaitTermination(120000), "AvailableNow must self-terminate")
      val got = s.sql("SELECT event_type, pv FROM backfill").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val batch = Tables.events(s, d).groupBy("event_type")
        .agg(count(lit(1)).as("pv")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === batch, "backfill result equals the batch aggregate")
    } finally q.stop()
  }

  test("sketching sink merges HLL state across micro-batches") {
    // two staged copies of half the events each + maxFilesPerTrigger=1
    // forces at least two micro-batches with overlapping users
    val dir = Files.createTempDirectory("sketch-src")
    Files.createSymbolicLink(dir.resolve("a.parquet"),
      java.nio.file.Paths.get(s"$d/events.parquet"))
    Files.copy(java.nio.file.Paths.get(s"$d/events.parquet"),
      dir.resolve("b.parquet"))
    val stream = s.readStream
      .schema(s.read.parquet(s"$d/events.parquet").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
    val out = tmp("sketch-sink") + "/snap"
    val q = ReplacingSink.startSketching(
      stream.select(col("event_type"), col("user_id")),
      Seq("event_type"), "user_id", out, tmp("sketch-sink-ck"))
    try q.processAllAvailable() finally q.stop()
    val got = s.read.parquet(out)
      .select(col("event_type"), col("pv_ct"),
        hll_sketch_estimate(col("uv_sketch")).as("uv_est"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = Tables.events(s, d).groupBy("event_type")
      .agg(count(lit(1)).as("pv"), countDistinct(col("user_id")).as("uv"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.keySet === exact.keySet)
    exact.foreach { case (et, (pv, uv)) =>
      // events delivered twice → pv doubles; uv (distinct) must NOT
      assert(got(et)._1 === 2 * pv, s"pv additive for $et")
      assert(math.abs(got(et)._2.toDouble - uv) <= math.max(1.0, uv * 0.05),
        s"uv estimate ${got(et)._2} vs exact $uv for $et")
    }
  }

  test("bitmap sink: exact per-key UV under doubled (at-least-once) delivery") {
    // same two-copy forcing shape as the HLL sink test — but the
    // bitmap UV must be EXACT, not within tolerance, and the OR's
    // idempotence is precisely what absorbs the duplicate delivery
    val dir = Files.createTempDirectory("bm-src")
    Files.createSymbolicLink(dir.resolve("a.parquet"),
      java.nio.file.Paths.get(s"$d/events.parquet"))
    Files.copy(java.nio.file.Paths.get(s"$d/events.parquet"),
      dir.resolve("b.parquet"))
    val stream = s.readStream
      .schema(s.read.parquet(s"$d/events.parquet").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
    val out = tmp("bm-sink") + "/snap"
    val q = ReplacingSink.startBitmap(
      stream.select(col("event_type"), col("user_id")),
      Seq("event_type"), "user_id", 1L << 24, out, tmp("bm-sink-ck"))
    try q.processAllAvailable() finally q.stop()
    val got = s.read.parquet(out)
      .select(col("event_type"), col("pv_ct"),
        call_function("graft_bitmap_card", col("uv_bm")).as("uv"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val exact = Tables.events(s, d).groupBy("event_type")
      .agg(count(lit(1)).as("pv"), countDistinct(col("user_id")).as("uv"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got.keySet === exact.keySet)
    exact.foreach { case (et, (pv, uv)) =>
      assert(got(et)._1 === 2 * pv, s"pv additive for $et")
      assert(got(et)._2 === uv, s"bitmap UV must be EXACT for $et")
    }
  }

  test("per-batch dim refresh: a foreachBatch re-read sees dim updates between micro-batches") {
    // the operational contract behind every stream-static dim join: a
    // DataFrame captured OUTSIDE foreachBatch pins its file listing,
    // so dim updates are invisible; re-reading INSIDE the batch body
    // picks up the current snapshot — the Spark analogue of the
    // reference's per-record dim lookup freshness (DimApp broadcast
    // state updates)
    import s.implicits._
    val dimPath = tmp("dimref") + "/dim"
    Seq((1L, "v1")).toDF("k", "dim_v").write.mode("overwrite")
      .parquet(dimPath)
    val srcDir = Files.createTempDirectory("dimref-src")
    Seq((1L, "a")).toDF("k", "payload").write
      .parquet(srcDir.toString + "/b1")
    val outRows = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val stream = s.readStream
      .schema("k LONG, payload STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.toString + "/*")
    val q = stream.writeStream
      .option("checkpointLocation", tmp("dimref-ck"))
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val dimNow = s.read.parquet(dimPath)   // fresh listing per batch
        val joined = batch.join(dimNow, "k")
          .select(col("payload"), col("dim_v")).collect()
        outRows.synchronized {
          outRows ++= joined.map(r => (r.getString(0), r.getString(1)))
        }
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      // update the dim, then land a second micro-batch
      Seq((1L, "v2")).toDF("k", "dim_v").write.mode("overwrite")
        .parquet(dimPath)
      Seq((1L, "b")).toDF("k", "payload").write
        .parquet(srcDir.toString + "/b2")
      q.processAllAvailable()
    } finally q.stop()
    val got = outRows.toMap
    assert(got("a") === "v1", "first batch must see the original dim")
    assert(got("b") === "v2", "second batch must see the UPDATED dim")
  }

  test("asOfDimEnrich: streamed facts join the dim version in effect") {
    val ev = Tables.events(s, d)
    // versioned dim: each (user, time) view value is one dim version
    val dim = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), unix_micros(col("ts")).as("us"))
      .agg(max(col("value")).as("dim_v"))
    val facts = eventsStream.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
    val out = tmp("asof-out") + "/enriched"
    val q = Jobs.asOfDimEnrich(facts, dim, "user_id", "us",
      Seq("dim_v"), out, tmp("asof-ck"))
    try q.processAllAvailable() finally q.stop()
    val got = s.read.parquet(out)
    val batchFacts = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
    val expected = graft.plans.AsOfJoin(batchFacts, dim, "user_id", "us",
      Seq("dim_v")).select(got.columns.map(col): _*)
    assert(got.count() === batchFacts.count())
    assert(got.exceptAll(expected).isEmpty &&
      expected.exceptAll(got).isEmpty,
      "streamed enrichment must equal the batch as-of join")
  }

  test("streamingNearDup emits the same pairs as the batch banding rule") {
    val docs = s.readStream.schema(Tables.documents(s, d).schema)
      .parquet(stage("documents"))
      .select(col("doc_id"), col("text"))
    val q = Jobs.streamingNearDup(docs)
      .writeStream.format("memory").queryName("snd")
      .outputMode("append")
      .option("checkpointLocation", tmp("snd-ck")).start()
    try {
      q.processAllAvailable()
      val got = s.sql("SELECT DISTINCT id_a, id_b FROM snd").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // batch reference: identical signatures/banding, agreement >= 0.7
      val sig = Tables.documents(s, d).select(col("doc_id"),
        call_function("graft_minhash_sig",
          call_function("graft_shingle_hashes", col("text"), lit(12)),
          lit(64)).as("sig"))
      val banded = sig.select(col("doc_id"), col("sig"), posexplode(
        transform(sequence(lit(0), lit(15)),
          b => hash(slice(col("sig"), b * 4 + 1, lit(4)), b))))
        .toDF("doc_id", "sig", "band", "bucket")
      val cand = banded.as("a").join(banded.as("b"),
          col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          col("a.sig").as("sa"), col("b.sig").as("sb"))
        .distinct()
      val expected = cand.withColumn("agree",
          size(filter(zip_with(col("sa"), col("sb"), (x, y) => x === y),
            p => p)).cast("double") / size(col("sa")))
        .filter(col("agree") >= 0.7)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === expected)
      assert(got.nonEmpty, "corpus contains near-dups by construction")
    } finally q.stop()
  }

  test("kill-and-resume: RocksDB state + JDBC sink stay exactly-once across restart") {
    import graft.streaming.JdbcSink
    val conf = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(conf)
    s.conf.set(conf,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val srcDir = java.nio.file.Files.createTempDirectory("resume-src")
      val ckpt = tmp("resume-ck")
      val cfg = JdbcSink.Config("jdbc:derby:memory:graftresume;create=true",
        "et_counts", Seq("event_type"), Seq("n"))
      val conn = java.sql.DriverManager.getConnection(cfg.url)
      try {
        val st = conn.createStatement()
        st.executeUpdate("CREATE TABLE et_counts (" +
          "event_type VARCHAR(20) NOT NULL PRIMARY KEY, n BIGINT)")
        st.executeUpdate(JdbcSink.ledgerDdl(cfg))
        st.close()
      } finally conn.close()
      val all = Tables.events(s, d)
        .select(col("event_id"), col("event_type"))
      val Array(part1, part2) = all.randomSplit(Array(0.5, 0.5), seed = 11)
      def runOnce(): Unit = {
        val stream = s.readStream.schema(all.schema)
          .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
          .groupBy("event_type").agg(count(lit(1)).as("n"))
        val q = stream.writeStream.outputMode("update")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
            JdbcSink.upsertBatch(b, id, cfg)
          }.start()
        try q.processAllAvailable() finally q.stop()
      }
      def snapshot(): Map[String, Long] = {
        val c = java.sql.DriverManager.getConnection(cfg.url)
        try {
          val rs = c.createStatement()
            .executeQuery("SELECT event_type, n FROM et_counts")
          val b = Map.newBuilder[String, Long]
          while (rs.next()) b += rs.getString(1) -> rs.getLong(2)
          b.result()
        } finally c.close()
      }
      // FileStreamSource lists the root dir: stage each part as a
      // single file there
      def addPart(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
        val t = java.nio.file.Files.createTempDirectory(s"stage-$name")
        df.coalesce(1).write.mode("overwrite").parquet(t.toString)
        val part = new java.io.File(t.toString).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.copy(part.toPath, srcDir.resolve(s"$name.parquet"))
      }
      addPart(part1, "p1")
      runOnce() // processes part1, then is STOPPED (the kill)
      val mid = snapshot()
      assert(mid.values.sum > 0, "first run must land rows")
      addPart(part2, "p2")
      runOnce() // restart from the same checkpoint
      val fin = snapshot()
      val exact = all.groupBy("event_type").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(fin === exact,
        "running counts after kill+resume must equal the batch counts " +
        "(state recovered, no double-count)")
      // a third restart with no new data must change nothing
      runOnce()
      assert(snapshot() === exact, "idle restart must be a no-op")
    } finally {
      prev match {
        case Some(v) => s.conf.set(conf, v)
        case None => s.conf.unset(conf)
      }
    }
  }

  test("uvFirstVisit runs on the RocksDB state store provider") {
    // the state-store backend is a config swap, not a code change —
    // exactly what a large keyed-state deployment flips on
    val conf = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(conf)
    s.conf.set(conf,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val q = Jobs.uvFirstVisit(eventsStream)
        .writeStream.format("memory").queryName("uvr")
        .outputMode("append")
        .option("checkpointLocation", tmp("uv-rocks-ck")).start()
      try {
        q.processAllAvailable()
        val n = s.sql("SELECT count(*) FROM uvr").collect()(0).getLong(0)
        val expected = Tables.events(s, d)
          .select(col("user_id"), to_date(col("ts")).as("dd"))
          .distinct().count()
        assert(n === expected)
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => s.conf.set(conf, v)
        case None => s.conf.unset(conf)
      }
    }
  }

  test("late-data accounting: numRowsDroppedByWatermark matches the late rows exactly") {
    // the operational contract monitoring teams alert on: every row
    // the watermark silently discards must be VISIBLE in the query
    // progress metrics — "silently dropped" is acceptable for
    // results, never for accounting
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import s.implicits._
    implicit val sq = s.sqlContext
    def ts(min: Long) = new java.sql.Timestamp((100 + min) * 60000L)
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val agg = mem.toDF().toDF("user_id", "ts")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"))
      .agg(count(lit(1)).as("ct"))
    val q = agg.writeStream.format("memory").queryName("late_acct")
      .outputMode("update")
      .option("checkpointLocation", tmp("late-acct-ckpt")).start()
    try {
      // batch 1: on-time rows push the watermark to 50 (60 − 10)
      mem.addData((1L, ts(0)), (2L, ts(30)), (3L, ts(60)))
      q.processAllAvailable()
      // batch 2: three rows land strictly below the watermark (< 50),
      // one lands above it
      mem.addData((4L, ts(10)), (5L, ts(20)), (6L, ts(49)), (7L, ts(55)))
      q.processAllAvailable()
      val dropped = q.recentProgress
        .flatMap(p => p.stateOperators.map(_.numRowsDroppedByWatermark))
        .sum
      assert(dropped === 3L, s"dropped=$dropped")
      // and the surviving row really aggregated: its window is present
      val counted = s.sql(
        "SELECT sum(ct) FROM late_acct").collect()(0).getLong(0)
      assert(counted >= 4L, "on-time rows must all be counted")
    } finally q.stop()
  }

  test("payment timeout: watermark-driven alerts for unpaid orders only") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import s.implicits._
    implicit val sq = s.sqlContext
    // base time well past the epoch: the initial watermark is 0, and
    // Structured Streaming drops input rows with event time <= the
    // current watermark as late — an epoch-0 event is silently lost
    def ts(min: Long) = new java.sql.Timestamp((100 + min) * 60000L)
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val alerts = graft.streaming.Jobs.paymentTimeoutAlerts(
      mem.toDF().toDF("order_id", "kind", "ts"),
      timeoutMs = 15 * 60000L, watermark = "10 minutes")
    val q = alerts.writeStream.format("memory").queryName("pay_timeout")
      .outputMode("append")
      .option("checkpointLocation", tmp("cep-ckpt")).start()
    // order 1 pays in time; order 2 never pays; order 3's payment
    // arrives BEFORE its order row (out-of-order); order 4 unpaid
    mem.addData((1L, "order", ts(0)), (2L, "order", ts(0)),
      (3L, "pay", ts(1)), (4L, "order", ts(2)))
    q.processAllAvailable()
    mem.addData((1L, "pay", ts(5)), (3L, "order", ts(0)))
    q.processAllAvailable()
    // no watermark movement yet: nothing may have fired
    assert(s.sql("SELECT * FROM pay_timeout").count() === 0)
    // push the watermark past every deadline (evt 60 → wm 50 > 17)
    mem.addData((99L, "order", ts(60)))
    q.processAllAvailable()
    // one more batch so armed timeouts fire against the new watermark
    mem.addData((99L, "pay", ts(61)))
    q.processAllAvailable()
    q.stop()
    val fired = s.sql("SELECT order_id, order_ts, deadline_ts FROM pay_timeout")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2)))
    assert(fired.map(_._1).sorted.toSeq === Seq(2L, 4L),
      s"got ${fired.toSeq}")
    fired.foreach { case (_, o, dl) =>
      assert(dl.getTime - o.getTime === 15 * 60000L)
    }
  }

  test("payment timeout on transformWithState == flatMapGroupsWithState") {
    // the Spark 4.x operator-state API with real event-time timers —
    // same input script as the FMGWS test above, same alerts out.
    // TWS requires the RocksDB state store provider.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import s.implicits._
    implicit val sq = s.sqlContext
    val conf = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(conf)
    s.conf.set(conf,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def ts(min: Long) = new java.sql.Timestamp((100 + min) * 60000L)
      val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
      val alerts = graft.streaming.Tws.paymentTimeoutAlerts(
        mem.toDF().toDF("order_id", "kind", "ts"),
        timeoutMs = 15 * 60000L, watermark = "10 minutes")
      val q = alerts.writeStream.format("memory").queryName("pay_tws")
        .outputMode("append")
        .option("checkpointLocation", tmp("tws-ckpt")).start()
      try {
        mem.addData((1L, "order", ts(0)), (2L, "order", ts(0)),
          (3L, "pay", ts(1)), (4L, "order", ts(2)))
        q.processAllAvailable()
        mem.addData((1L, "pay", ts(5)), (3L, "order", ts(0)))
        q.processAllAvailable()
        assert(s.sql("SELECT * FROM pay_tws").count() === 0,
          "nothing may fire before the watermark moves")
        mem.addData((99L, "order", ts(60)))
        q.processAllAvailable()
        mem.addData((99L, "pay", ts(61)))
        q.processAllAvailable()
      } finally q.stop()
      val fired = s.sql("SELECT order_id, order_ts, deadline_ts FROM pay_tws")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2)))
      assert(fired.map(_._1).sorted.toSeq === Seq(2L, 4L),
        s"got ${fired.toSeq}")
      fired.foreach { case (_, o, dl) =>
        assert(dl.getTime - o.getTime === 15 * 60000L)
      }
    } finally {
      prev match {
        case Some(v) => s.conf.set(conf, v)
        case None => s.conf.unset(conf)
      }
    }
  }

  test("timer-driven gap sessionization closes on watermark and in-batch gaps") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import s.implicits._
    implicit val sq = s.sqlContext
    val conf = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(conf)
    s.conf.set(conf,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def ts(min: Long) = new java.sql.Timestamp((100 + min) * 60000L)
      val mem = MemoryStream[(Long, java.sql.Timestamp)]
      val sess = graft.streaming.Tws.sessionizeTimers(
        mem.toDF().toDF("user_id", "ts"),
        gapMs = 30 * 60000L, watermark = "10 minutes")
      val q = sess.writeStream.format("memory").queryName("gap_sess")
        .outputMode("append")
        .option("checkpointLocation", tmp("sess-ckpt")).start()
      try {
        // user 1: one session 0..20; user 3: TWO sessions in one
        // batch (gap exceeded inline at 100)
        mem.addData((1L, ts(0)), (1L, ts(10)), (1L, ts(20)),
          (3L, ts(0)), (3L, ts(5)), (3L, ts(100)), (3L, ts(105)))
        q.processAllAvailable()
        // user 1 reopens long after its gap; user 2 single event
        mem.addData((1L, ts(120)), (2L, ts(125)))
        q.processAllAvailable()
        // watermark carrier: pushes WM past every armed timer
        mem.addData((99L, ts(300)))
        q.processAllAvailable()
        mem.addData((99L, ts(301)))
        q.processAllAvailable()
      } finally q.stop()
      val got = s.sql(
        "SELECT user_id, session_start, session_end, n_events FROM gap_sess")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1),
          r.getTimestamp(2), r.getLong(3))).toSet
      val expect = Set(
        (1L, ts(0), ts(20), 3L),
        (1L, ts(120), ts(120), 1L),
        (2L, ts(125), ts(125), 1L),
        (3L, ts(0), ts(5), 2L),
        (3L, ts(100), ts(105), 2L))
      assert(got === expect, s"got $got")
    } finally {
      prev match {
        case Some(v) => s.conf.set(conf, v)
        case None => s.conf.unset(conf)
      }
    }
  }

  test("gap-session stragglers merge under the gap rule (r8 ADVICE)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import s.implicits._
    implicit val sq = s.sqlContext
    val conf = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(conf)
    s.conf.set(conf,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def ts(min: Long) = new java.sql.Timestamp((1000 + min) * 60000L)
      val mem = MemoryStream[(Long, java.sql.Timestamp)]
      // gap SHORTER than the watermark delay, so rows older than
      // start-gap are admitted by the watermark — the straggler path
      val sess = graft.streaming.Tws.sessionizeTimers(
        mem.toDF().toDF("user_id", "ts"),
        gapMs = 5 * 60000L, watermark = "60 minutes")
      val q = sess.writeStream.format("memory").queryName("gap_stragglers")
        .outputMode("append")
        .option("checkpointLocation", tmp("sess-stg-ckpt")).start()
      try {
        // open session [100, 101]
        mem.addData((7L, ts(100)), (7L, ts(101)))
        q.processAllAvailable()
        // two stragglers within gap of each other MERGE into one
        // retro session [60, 62]; 80 exceeds the retro gap and emits
        // as its own singleton (not three singletons)
        mem.addData((7L, ts(60)), (7L, ts(62)), (7L, ts(80)))
        q.processAllAvailable()
        // bridge: 96 extends the main session's start to 96, which
        // pulls the retro chain [91] within gap — ONE merged session
        mem.addData((7L, ts(91)), (7L, ts(96)))
        q.processAllAvailable()
        // watermark carriers close the merged main session via timer
        mem.addData((99L, ts(300)))
        q.processAllAvailable()
        mem.addData((99L, ts(301)))
        q.processAllAvailable()
      } finally q.stop()
      val got = s.sql("""SELECT session_start, session_end, n_events
          FROM gap_stragglers WHERE user_id = 7""")
        .collect()
        .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2)))
        .toSet
      val expect = Set(
        (ts(60), ts(62), 2L),
        (ts(80), ts(80), 1L),
        (ts(91), ts(101), 4L))
      assert(got === expect, s"got $got")
    } finally {
      prev match {
        case Some(v) => s.conf.set(conf, v)
        case None => s.conf.unset(conf)
      }
    }
  }

  test("ListState recent-event buffer matches the batch last-k aggregate") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import s.implicits._
    implicit val sq = s.sqlContext
    val conf = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(conf)
    s.conf.set(conf,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def ts(min: Long) = new java.sql.Timestamp((1000 + min) * 60000L)
      val mem = MemoryStream[(Long, Long, java.sql.Timestamp, Long)]
      val q = graft.streaming.Tws.recentEventBuffer(
          mem.toDF().toDF("user_id", "event_id", "ts", "amount"),
          k = 3)
        .writeStream.format("memory").queryName("recent_buf")
        .outputMode("append")
        .option("checkpointLocation", tmp("buf-ckpt")).start()
      val fed = scala.collection.mutable
        .ArrayBuffer.empty[(Long, Long, java.sql.Timestamp, Long)]
      def feed(xs: (Long, Long, java.sql.Timestamp, Long)*): Unit = {
        mem.addData(xs: _*); q.processAllAvailable(); fed ++= xs
      }
      try {
        feed((1L, 10L, ts(0), 5L), (1L, 11L, ts(2), 7L),
          (2L, 20L, ts(1), 100L))
        // buffer overflows k=3 for user 1; user 2 gets an
        // out-of-order row admitted by the watermark
        feed((1L, 12L, ts(4), 11L), (1L, 13L, ts(6), 13L),
          (2L, 21L, ts(0), 50L))
        feed((1L, 14L, ts(3), 99L)) // mid-buffer straggler
      } finally q.stop()
      // batch replay: last-k rows per user by (ts, event_id)
      val expect = fed.groupBy(_._1).map { case (uid, xs) =>
        val kept = xs.sortBy(e => (e._3.getTime, e._2)).takeRight(3)
        uid -> ((kept.size.toLong, kept.map(_._4).sum,
          kept.head._3.getTime, kept.last._3.getTime))
      }
      // the LAST emitted changelog row per user is the final buffer
      val got = s.sql("""SELECT user_id, n_buf, sum_amount, min_ms,
            max_ms FROM recent_buf""")
        .collect().zipWithIndex
        .groupBy(_._1.getLong(0))
        .map { case (uid, rs) =>
          val r = rs.maxBy(_._2)._1
          uid -> ((r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4)))
        }
      assert(got === expect, s"got $got")
    } finally {
      prev match {
        case Some(v) => s.conf.set(conf, v)
        case None => s.conf.unset(conf)
      }
    }
  }

  test("ListState TTL evicts idle buffer entries (processing-time mode)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import s.implicits._
    implicit val sq = s.sqlContext
    val conf = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(conf)
    s.conf.set(conf,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def ts(min: Long) = new java.sql.Timestamp((1000 + min) * 60000L)
      val mem = MemoryStream[(Long, Long, java.sql.Timestamp, Long)]
      val q = graft.streaming.Tws.recentEventBuffer(
          mem.toDF().toDF("user_id", "event_id", "ts", "amount"),
          k = 3, ttlMs = 1000L)
        .writeStream.format("memory").queryName("recent_buf_ttl")
        .outputMode("append")
        .option("checkpointLocation", tmp("buf-ttl-ckpt")).start()
      // TTL requires ProcessingTime mode, where transformWithState
      // fires a batch per trigger (the TTL sweep) — noNewData never
      // latches, so processAllAvailable would HANG; poll the sink
      def awaitRows(n: Long): Unit = {
        val deadline = System.nanoTime + 90L * 1000000000L
        while (s.sql("SELECT * FROM recent_buf_ttl").count() < n &&
            System.nanoTime < deadline) Thread.sleep(100)
      }
      try {
        mem.addData((1L, 10L, ts(0), 5L), (1L, 11L, ts(2), 7L))
        awaitRows(1)
        Thread.sleep(3000) // > 3× TTL: both entries expire
        mem.addData((1L, 14L, ts(3), 99L))
        awaitRows(2)
      } finally q.stop()
      val rows = s.sql(
          "SELECT n_buf, sum_amount FROM recent_buf_ttl")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(rows.head === ((2L, 12L)), s"got $rows")
      // post-expiry batch sees an EMPTY list: only the new event
      assert(rows.last === ((1L, 99L)),
        s"TTL did not evict the idle entries: $rows")
    } finally {
      prev match {
        case Some(v) => s.conf.set(conf, v)
        case None => s.conf.unset(conf)
      }
    }
  }

  test("MapState event-type counter converges to the batch group count") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import s.implicits._
    implicit val sq = s.sqlContext
    val conf = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(conf)
    s.conf.set(conf,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def ts(min: Long) = new java.sql.Timestamp((100 + min) * 60000L)
      val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
      val q = graft.streaming.Tws.eventTypeCounts(
          mem.toDF().toDF("user_id", "event_type", "ts"))
        .writeStream.format("memory").queryName("type_counts")
        .outputMode("append")
        .option("checkpointLocation", tmp("tc-ckpt")).start()
      val fed = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
      def feed(xs: (Long, String, java.sql.Timestamp)*): Unit = {
        mem.addData(xs: _*); q.processAllAvailable()
        fed ++= xs.map(x => (x._1, x._2))
      }
      try {
        feed((1L, "view", ts(0)), (1L, "view", ts(1)),
          (1L, "click", ts(2)), (2L, "view", ts(3)))
        feed((1L, "view", ts(10)), (2L, "purchase", ts(11)),
          (2L, "view", ts(12)))
      } finally q.stop()
      // the LAST emitted count per (user, type) is the total so far
      val rows = s.sql("SELECT user_id, event_type, n FROM type_counts")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      val last = rows.zipWithIndex
        .groupBy(x => (x._1._1, x._1._2)).view
        .mapValues(_.maxBy(_._2)._1._3).toMap
      val expect = fed.groupBy(identity).view
        .mapValues(_.size.toLong).toMap
      assert(last === expect, s"got $last vs $expect")
      // changelog property: per key the emitted counts strictly rise
      rows.groupBy(x => (x._1, x._2)).values.foreach { es =>
        val ns = es.map(_._3)
        assert(ns.distinct.size === ns.size)
      }
    } finally {
      prev match {
        case Some(v) => s.conf.set(conf, v)
        case None => s.conf.unset(conf)
      }
    }
  }

  test("quarantine router: violations split losslessly from the forward stream") {
    import s.implicits._
    val dir = Files.createTempDirectory("quar-src")
    Files.createSymbolicLink(dir.resolve("a.parquet"),
      java.nio.file.Paths.get(s"$d/events.parquet"))
    // poison: negative value, unknown type, null user
    val base = Tables.events(s, d).limit(3).collect()
    val poison = Seq(
      (90001L, new java.sql.Timestamp(0), 1L, "view", -5.0, "{}"),
      (90002L, new java.sql.Timestamp(0), 2L, "hack", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .unionByName(Seq((90003L, new java.sql.Timestamp(0), 3L, "view",
        1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .withColumn("user_id", lit(null).cast("long")))
    val stage = Files.createTempDirectory("quar-stage")
    poison.repartition(1).write.mode("overwrite").parquet(stage.toString)
    val part = Files.list(stage).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.copy(part, dir.resolve("poison.parquet"))
    val stream = Sources.events(s, dir.toString)
    val good = tmp("quar-good"); val bad = tmp("quar-bad")
    val q = Jobs.quarantineRoute(stream, s"$good/p", s"$bad/p",
      tmp("quar-ck"))
    try q.processAllAvailable() finally q.stop()
    val goodDf = s.read.parquet(s"$good/p")
    val badDf = s.read.parquet(s"$bad/p")
    val total = Tables.events(s, d).count() + 3
    assert(goodDf.count() + badDf.count() === total, "lossless split")
    assert(badDf.count() === 3, "exactly the poisoned rows quarantine")
    assert(badDf.select("event_id").collect().map(_.getLong(0)).sorted
      === Array(90001L, 90002L, 90003L))
    // nothing in the forward stream violates any rule
    assert(goodDf.filter(col("user_id").isNull || col("value") < 0 ||
      !col("event_type").isin("view", "click", "purchase", "signup",
        "error", "cart")).count() === 0)
  }

  test("streaming trending score: weekly-bucket snapshot serves the exact batch fold") {
    // doubled delivery: the upstream dedup guard must absorb the
    // replay before the additive weekly counts (summing sink)
    val dir = Files.createTempDirectory("trend-src")
    Files.createSymbolicLink(dir.resolve("a.parquet"),
      java.nio.file.Paths.get(s"$d/events.parquet"))
    Files.copy(java.nio.file.Paths.get(s"$d/events.parquet"),
      dir.resolve("b.parquet"))
    val stream = Sources.events(s, dir.toString)
    val out = tmp("trend-sink") + "/snap"
    val q = ReplacingSink.startSumming(
      Jobs.trendingWeeklyCounts(stream),
      Seq("item_id", "week"), Seq("cnt"), out, tmp("trend-ck"))
    try q.processAllAvailable() finally q.stop()
    val got = Jobs.serveTrending(s, out).collect()
      .map(r => (r.getAs[Long]("item_id"), r.getAs[Long]("score_ppm"),
        r.getAs[Long]("n_events"), r.getAs[Int]("rk")))
    assert(got.length === 20)
    // batch fold with the same bucket anchoring over the raw events
    val ev = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select((col("event_id") % 100).as("i"),
        expr("unix_micros(ts) DIV (7L * 86400000000)").as("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val maxw = ev.map(_._2).max
    val scores = ev.groupBy(_._1).view.mapValues { xs =>
      (xs.map(x => 1000000L >> math.min(maxw - x._2, 30L).toInt).sum,
        xs.length.toLong)
    }.toMap
    got.foreach { case (item, sc, n, _) =>
      assert(scores(item) === ((sc, n)),
        s"stream-served score for item $item") }
    assert(got.sortBy(_._4).map(_._2).sliding(2).forall {
      case Array(a, b) => a >= b; case _ => true })
  }
}

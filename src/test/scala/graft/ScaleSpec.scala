package graft

import graft.operators.{Multimodal, Skew}
import graft.sources.{Bucketing, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-pattern checks: bucketed joins elide shuffles, salted joins
  * preserve results, multimodal batch ops keep their contracts.
  */
class ScaleSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val d = TestSpark.sf

  test("bucketed order-detail join plans with zero Exchange") {
    Bucketing.bucketTradeTables(s, d, buckets = 8)
    val joined = Bucketing.bucketedOrderDetail(s)
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed join should not shuffle:\n$plan")
    assert(joined.count() === Tables.lineitem(s, d).count())
  }

  test("bucketed write runs parallel tasks yet yields one file per bucket") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val buckets = 8
    val taskCount = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        taskCount.incrementAndGet()
    }
    s.sparkContext.addSparkListener(listener)
    try {
      Bucketing.writeBucketed(Tables.orders(s, d), "orders_pw",
        "o_orderkey", buckets)
      // listener delivery is async; wait for the task-end events
      val deadline = System.nanoTime() + 10e9.toLong
      while (taskCount.get() <= 1 && System.nanoTime() < deadline)
        Thread.sleep(50)
    } finally s.sparkContext.removeSparkListener(listener)
    // the final write stage is `buckets` tasks — a coalesce(1) writer
    // would show up here as a single-task serialization point
    assert(taskCount.get() > 1,
      s"bucketed write used ${taskCount.get()} task(s); must parallelize")
    // still exactly one data file per bucket, so the scan can report
    // per-bucket sort order to the planner
    val loc = s.sql("DESCRIBE TABLE EXTENDED orders_pw").collect()
      .find(_.getString(0) == "Location").get.getString(1)
    val dataFiles = new java.io.File(new java.net.URI(loc)).listFiles()
      .filter(f => f.getName.startsWith("part-"))
    assert(dataFiles.length === buckets,
      s"expected $buckets bucket files, got ${dataFiles.length}")
    // and the bucketed scan still elides the Exchange
    val joined = s.table("orders_pw").hint("merge")
      .join(s.table("orders_pw").hint("merge"), "o_orderkey")
    assert(!joined.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("typed revenue aggregator matches the DataFrame decimal sum") {
    import org.apache.spark.sql.types.DecimalType
    val typed = graft.warehouse.Typed.revenueByFlag(s, d).collect()
      .map { case (flag, rev) => flag -> rev }.toMap
    val df = Tables.lineitem(s, d).groupBy("l_returnflag")
      .agg(sum(col("l_extendedprice").cast(DecimalType(12, 2)) *
        (lit(1) - col("l_discount").cast(DecimalType(12, 2))))
        .cast("double").as("revenue")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(typed.keySet === df.keySet)
    typed.foreach { case (k, v) =>
      assert(math.abs(v - df(k)) < 1e-6, s"$k: $v vs ${df(k)}")
    }
  }

  test("native functions are usable from raw SQL once registered") {
    val r = s.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dp")
      .collect()(0).getDouble(0)
    assert(r === 11.0)
    val sig = s.sql(
      "SELECT size(graft_minhash_sig(array(1L, 2L, 3L), 64)) AS n")
      .collect()(0).getInt(0)
    assert(sig === 64)
    // the PQ / intersect / KMV families reach raw SQL too
    val isect = s.sql(
      "SELECT graft_sorted_intersect_gt(array(1L,3L,5L), array(3L,5L,7L), 3L)")
      .collect()(0).getSeq[Long](0)
    assert(isect === Seq(5L))
    val kmv = s.sql(
      """SELECT graft_kmv(h, 2) FROM
        |(SELECT CAST(id * 37 % 101 AS BIGINT) AS h FROM range(50))""".stripMargin)
      .collect()(0).getSeq[Long](0)
    assert(kmv(0) === 2L && kmv(1) > 0L)
    // the extensions class itself must inject without throwing
    new graft.GraftExtensions()(new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("native functions resolve from raw SQL through the extensions alone") {
    // nothing registers functions at runtime: a new session resolves
    // these through GraftExtensions' injectFunction alone
    val fresh = s.newSession()
    assert(fresh.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))")
      .collect()(0).getDouble(0) === 11.0)
    assert(fresh.sql("SELECT size(graft_minhash_sig(array(1L, 2L, 3L), 64))")
      .collect()(0).getInt(0) === 64)
    // every one of the 22 injected names, not just the two above
    val injected = Seq("graft_dot", "graft_minhash_sig",
      "graft_shingle_hashes", "graft_simhash64", "graft_rep_stats",
      "graft_dict_segment", "graft_pq_encode", "graft_pq_lut",
      "graft_pq_adc", "graft_winnow_fps", "graft_sorted_intersect_count",
      "graft_sorted_intersect_gt", "graft_kmv", "graft_bitmap_distinct",
      "graft_bitmap_bytes", "graft_bitmap_or_count", "graft_bitmap_union",
      "graft_bitmap_card", "graft_bitmap_and_count",
      "graft_bitmap_andnot_count", "graft_cms_estimate", "graft_bloom_any")
    assert(injected.distinct.size === 22)
    assert(GraftExtensions.functions.map(_._1).toSet === injected.toSet)
    val missing = injected.filterNot(n => fresh.catalog.functionExists(n))
    assert(missing.isEmpty, s"not resolvable in a new session: $missing")
  }

  test("native functions reject wrong input types at analysis") {
    // array<float> must not be bytewise-reinterpreted as array<double>
    val floatArr = "SELECT graft_dot(a, a) FROM " +
      "(SELECT array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)) AS a)"
    val e1 = intercept[Exception](s.sql(floatArr).collect())
    assert(e1.getMessage.contains("graft_dot"), e1.getMessage)
    val e2 = intercept[Exception](
      s.sql("SELECT graft_simhash64(42)").collect())
    assert(e2.getMessage.contains("graft_simhash64"), e2.getMessage)
    val e3 = intercept[Exception](
      s.sql("SELECT graft_shingle_hashes('abc', 'x')").collect())
    assert(e3.getMessage.contains("graft_shingle_hashes"), e3.getMessage)
    val e4 = intercept[Exception](
      s.sql("SELECT graft_minhash_sig(array('a', 'b'), 64)").collect())
    assert(e4.getMessage.contains("graft_minhash_sig"), e4.getMessage)
  }

  test("segmentKeywords is safe on empty and single-token inputs") {
    import s.implicits._
    val df = Seq("", "hello", "苹果手机 case", "苹果").toDF("kw")
      .select(col("kw"), graft.functions.Text.segmentKeywords(col("kw")).as("seg"))
    val rows = df.collect().map(r => r.getString(0) ->
      r.getSeq[String](1)).toMap
    assert(rows("") === Seq.empty)
    assert(rows("hello") === Seq("hello"))
    assert(rows("苹果") === Seq("苹果"))
    assert(rows("苹果手机 case").contains("case"))
    assert(rows("苹果手机 case").exists(_ == "苹果"))
  }

  test("date-partitioned serving table prunes to one partition") {
    val out = java.nio.file.Files.createTempDirectory("part-gmv").toString + "/gmv"
    val daily = Tables.orders(s, d)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("dt"))
      .agg(sum(col("o_totalprice").cast("decimal(12,2)")).cast("double")
        .as("gmv"))
    graft.sources.Partitioned.write(daily, out, "dt")
    val days = daily.count()
    assert(days > 1, "need multiple partitions for the pruning test")
    val someDay = daily.select("dt").orderBy("dt").first().getString(0)
    val pruned = graft.sources.Partitioned.readDay(s, out, "dt", someDay)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), s"no partition filter:\n$plan")
    // the pruned scan must read exactly the one day
    assert(pruned.count() === 1)
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head
    val meta = scan.metrics
    // FileSourceScanExec reports number of files read; pruning means 1
    // partition directory (not `days`)
    pruned.collect()
    val filesRead = meta.get("numFiles").map(_.value).getOrElse(-1L)
    assert(filesRead >= 1 && filesRead < days,
      s"expected pruned file count, got $filesRead of $days partitions")
  }

  test("native as-of join over bucketed+sorted tables plans ZERO exchanges") {
    val ev = Tables.events(s, d)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), unix_micros(col("ts")).as("us"))
      .agg(max(col("value")).as("last_view_value"))
    graft.sources.Bucketing.writeBucketed(p, "purchases_b", "user_id", 4,
      Seq("user_id", "us"))
    graft.sources.Bucketing.writeBucketed(v, "views_b", "user_id", 4,
      Seq("user_id", "us"))
    val joined = graft.plans.AsOfJoin(
      s.table("purchases_b"), s.table("views_b"),
      "user_id", "us", Seq("last_view_value"))
    joined.collect() // force final AQE plan
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed as-of must not shuffle:\n$plan")
    // same answer as the shuffling plan over the raw frames
    val expected = graft.plans.AsOfJoin(p, v, "user_id", "us",
      Seq("last_view_value")).select(joined.columns.map(col): _*)
    assert(joined.exceptAll(expected).isEmpty &&
      expected.exceptAll(joined).isEmpty)
  }

  test("HLL sketch serving table: mergeable cross-day UV within 5% of exact") {
    val out = java.nio.file.Files.createTempDirectory("sketch").toString + "/uv"
    val ev = Tables.events(s, d)
    graft.warehouse.Sketched.write(ev, out)
    // partitions hold pre-aggregated rows (one per (dt, event_type))
    val served = s.read.parquet(out)
    assert(served.count() ===
      ev.select(to_date(col("ts")), col("event_type")).distinct().count())
    // cross-day merge: sketches union instead of rescanning raw events
    val merged = graft.warehouse.Sketched
      .uvAcrossDays(s, out, "0000-01-01", "9999-12-31")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    val exact = ev.groupBy("event_type")
      .agg(count(lit(1)).as("pv"), countDistinct(col("user_id")).as("uv"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    assert(merged.keySet === exact.keySet)
    exact.foreach { case (et, (pv, uv)) =>
      assert(merged(et)._1 === pv, s"pv additive-exact for $et")
      val est = merged(et)._2.toDouble
      assert(math.abs(est - uv) <= math.max(1.0, uv * 0.05),
        s"uv estimate $est vs exact $uv for $et")
    }
  }

  test("CBO: collected stats reorder a join, selective dim first") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    Tables.lineitem(s, d).write.mode("overwrite").saveAsTable("cbo_li")
    Tables.orders(s, d).write.mode("overwrite").saveAsTable("cbo_o")
    Tables.nation(s, d).write.mode("overwrite").saveAsTable("cbo_n")
    Seq("cbo_li", "cbo_o", "cbo_n").foreach(t =>
      s.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS"))
    // the query text joins the two FACT tables first; the selective
    // nation filter comes last syntactically
    def plan() = s.sql(
      """SELECT count(*) FROM cbo_li l
        |JOIN cbo_o o ON l.l_orderkey = o.o_orderkey
        |JOIN cbo_n n ON o.o_custkey % 25 = n.n_nationkey
        |WHERE n.n_name = 'CHINA'""".stripMargin)
      .queryExecution.optimizedPlan
    def innermostTables(p: org.apache.spark.sql.catalyst.plans.logical
        .LogicalPlan): Set[String] = {
      val joins = p.collect { case j: Join => j }
      val inner = joins.last // bottom-most in collect order
      inner.collectLeaves().map(_.toString)
        .map(t => Seq("cbo_li", "cbo_o", "cbo_n").find(t.contains)
          .getOrElse("?")).toSet
    }
    s.conf.set("spark.sql.cbo.enabled", "true")
    s.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    try {
      // stats-driven reorder: the innermost join becomes
      // orders ⋈ (filtered nation) — the selective pair — and the
      // big lineitem side joins last
      assert(innermostTables(plan()) === Set("cbo_o", "cbo_n"),
        s"CBO should join the selective dim first:\n${plan().treeString}")
    } finally {
      s.conf.unset("spark.sql.cbo.enabled")
      s.conf.unset("spark.sql.cbo.joinReorder.enabled")
    }
    // without CBO the syntactic order stands (fact ⋈ fact first)
    assert(innermostTables(plan()) === Set("cbo_li", "cbo_o"),
      s"without CBO the written order should hold:\n${plan().treeString}")
  }

  test("dynamic partition overwrite: backfilled day replaced, others untouched") {
    import s.implicits._
    import graft.sources.Partitioned
    val path = java.nio.file.Files.createTempDirectory("dynpart").toString + "/t"
    Partitioned.write(Seq(
      ("2026-08-01", 1L, 10.0), ("2026-08-01", 2L, 20.0),
      ("2026-08-02", 3L, 30.0)).toDF("dt", "id", "v"), path, "dt")
    // backfill ONLY day 2 with corrected rows
    Partitioned.overwritePartitions(
      Seq(("2026-08-02", 99L, 99.9)).toDF("dt", "id", "v"), path, "dt")
    val after = s.read.parquet(path).collect()
      .map(r => s"${r.getAs[Any]("dt")}|${r.getAs[Any]("id")}|" +
        s"${r.getAs[Any]("v")}").toSet
    assert(after === Set("2026-08-01|1|10.0", "2026-08-01|2|20.0",
      "2026-08-02|99|99.9"),
      s"day 1 must survive, day 2 must be replaced: $after")
    // the session conf must not leak out of the call
    assert(s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      .forall(_ != "dynamic"))
  }

  test("z-ordered files cover small rectangles of BOTH dimensions") {
    import graft.sources.ZOrder
    val out = java.nio.file.Files.createTempDirectory("zorder").toString + "/li"
    // two comparable-cardinality 8-bit dimensions (suppkey has ~10
    // distinct values at this SF — nothing to cluster there)
    val li = Tables.lineitem(s, d).select(
      (col("l_partkey") % 256).as("x"), (col("l_orderkey") % 256).as("y"))
    val files = 16
    ZOrder.clusterWrite(li, col("x"), col("y"), out, files)
    val parts = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString)
    assert(parts.length === files)
    // per-file spans on each dimension: z-clustering should shrink
    // BOTH well below the global span (1-D sorting shrinks only one)
    def avgSpan(c: String): Double = parts.map { p =>
      val r = s.read.parquet(p).agg(min(col(c)), max(col(c))).head()
      (r.getLong(1) - r.getLong(0)).toDouble
    }.sum / parts.length
    val g = li.agg(max("x") - min("x"), max("y") - min("y")).head()
    assert(avgSpan("x") < g.getLong(0) * 0.55, "x span must shrink per file")
    assert(avgSpan("y") < g.getLong(1) * 0.55, "y span must shrink per file")
  }

  test("composed layout: date-partition pruning AND z-order file skipping") {
    import graft.sources.ZOrder
    val out = java.nio.file.Files.createTempDirectory("zpart").toString + "/ev"
    // controlled frame: the sf0.001 events generator correlates
    // user ids with days (in-day span ~14) and days hold ~33 rows —
    // nothing to cluster. 10 days x 2000 rows with decorrelated
    // dimensions is the shape the layout exists for.
    val ev = s.range(20000).select(
      concat(lit("2024-01-"),
        lpad((col("id") % 10 + 1).cast("string"), 2, "0")).as("dt"),
      pmod(hash(col("id")), lit(256)).cast("long").as("x"),
      pmod(hash(col("id") * 7 + 3), lit(256)).cast("long").as("y"))
    ZOrder.clusterWritePartitioned(ev, "dt", col("x"), col("y"), out, 48)
    val days = ev.select("dt").distinct().collect().map(_.getString(0)).sorted
    assert(days.length > 5, "need many partitions")
    // 1) the date predicate prunes whole directories at plan time
    val someDay = days(days.length / 2)
    val pruned = s.read.parquet(out).filter(col("dt") === someDay)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), s"no partition filter:\n$plan")
    pruned.collect()
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head
    val allFiles = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("dt="))
      .flatMap(_.listFiles().filter(_.getName.endsWith(".parquet")))
    val dayFiles = new java.io.File(s"$out/dt=$someDay").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    val filesRead = scan.metrics.get("numFiles").map(_.value).getOrElse(-1L)
    assert(filesRead === dayFiles.length.toLong,
      s"pruned scan read $filesRead files, day dir has ${dayFiles.length}")
    assert(filesRead < allFiles.length,
      "pruning must skip the other days' files")
    // 2) WITHIN the surviving day, per-file rectangles shrink on both
    // z dimensions, so footer min/max skips files too
    // judge the shrink on the BUSIEST days — a boundary day with a
    // handful of rows has nothing to cluster
    val multiFileDays = days
      .map(dd => dd -> new java.io.File(s"$out/dt=$dd").listFiles()
        .count(_.getName.endsWith(".parquet")))
      .filter(_._2 >= 3).sortBy(-_._2).map(_._1)
    assert(multiFileDays.nonEmpty, "need a day with several files")
    multiFileDays.take(3).foreach { dd =>
      val fs = new java.io.File(s"$out/dt=$dd").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.toString)
      def avgSpan(c: String): Double = fs.map { p =>
        val r = s.read.parquet(p).agg(min(col(c)), max(col(c))).head()
        (r.getLong(1) - r.getLong(0)).toDouble
      }.sum / fs.length
      val g = s.read.parquet(s"$out/dt=$dd")
        .agg(max("x") - min("x"), max("y") - min("y")).head()
      assert(avgSpan("x") < g.getLong(0) * 0.8,
        s"day $dd: x span must shrink per file")
      assert(avgSpan("y") < g.getLong(1) * 0.8,
        s"day $dd: y span must shrink per file")
    }
  }

  test("native KMV aggregate == window KMV, with map-side partials") {
    val native = graft.warehouse.Sketched.kmvDistinctNative(s, d)
    val window = graft.warehouse.Sketched.kmvDistinct(s, d)
    assert(native.exceptAll(window).isEmpty &&
      window.exceptAll(native).isEmpty,
      "the two formulations must produce identical sketches")
    // the aggregate path must be a partial/final ObjectHashAggregate
    // pair (k-sized states over the wire), not a distinct + window
    val plan = native.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.take(1500))
    assert(!plan.contains("Window"), "native path must not sort/window")
    assert("graft_kmv".r.findAllIn(plan).size >= 2,
      "partial + final aggregate expected:\n" + plan.take(1500))
  }

  test("3-D z-order: per-file rectangles shrink on ALL THREE dimensions") {
    import graft.sources.ZOrder
    val out = java.nio.file.Files.createTempDirectory("zorder3").toString + "/li"
    val li = Tables.lineitem(s, d).select(
      (col("l_partkey") % 256).as("x"), (col("l_orderkey") % 256).as("y"),
      (floor(col("l_extendedprice")).cast("long") % 256).as("z"))
    val files = 16
    ZOrder.clusterWriteKey(li,
      ZOrder.zkey3(col("x"), col("y"), col("z")), out, files)
    val parts = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString)
    assert(parts.length === files)
    def avgSpan(c: String): Double = parts.map { p =>
      val r = s.read.parquet(p).agg(min(col(c)), max(col(c))).head()
      (r.getLong(1) - r.getLong(0)).toDouble
    }.sum / parts.length
    val g = li.agg(max("x") - min("x"), max("y") - min("y"),
      max("z") - min("z")).head()
    // 16 files over a 3-D space: coarser per-dim split than 2-D, but
    // every dimension must still shrink below the global span. The
    // bound is 0.85, not tighter: range-partition boundaries come
    // from reservoir sampling seeded by rdd.id, which shifts with
    // every other suite sharing the session — at 0.75 the x span
    // (≈0.75±0.01 across seeds) flipped red from an unrelated suite
    // adding tests (full-suite run r10; isolated run green).
    assert(avgSpan("x") < g.getLong(0) * 0.85, "x span must shrink")
    assert(avgSpan("y") < g.getLong(1) * 0.85, "y span must shrink")
    assert(avgSpan("z") < g.getLong(2) * 0.85, "z span must shrink")
  }

  test("KMV sketch: estimate tracks exact distinct; merge == rebuild") {
    val kmv = graft.warehouse.Sketched.kmvDistinct(s, d)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val exact = Tables.events(s, d).groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("uv"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kmv.keySet === exact.keySet)
    exact.foreach { case (et, uv) =>
      // k=64 gives ~1/sqrt(62) ≈ 13% standard error; allow 3σ
      assert(math.abs(kmv(et) - uv) <= math.max(3.0, uv * 0.4),
        s"$et: est ${kmv(et)} vs exact $uv")
    }
  }

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    // at warehouse scale a selective dim predicate should cut the
    // fact scan BEFORE the shuffle: Spark's InjectRuntimeFilter adds
    // a bloom built from the filtered build side and applies it as
    // might_contain on the probe side. Thresholds are tuned for test
    // data sizes; the assertion is the plan SHAPE, which is
    // size-independent.
    val confs = Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtimeFilter.number.threshold" -> "10",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.keys.map(k => k -> s.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val li = Tables.lineitem(s, d).select("l_orderkey", "l_quantity")
      val sel = Tables.orders(s, d)
        .filter(col("o_totalprice") > 400000.0) // selective build side
        .select("o_orderkey", "o_orderstatus")
      val joined = li.join(sel, li("l_orderkey") === sel("o_orderkey"))
      val opt = joined.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain") || opt.contains("bloom_filter"),
        s"no runtime bloom filter injected:\n$opt")
      // and the result is unchanged by the pruning
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val plain = li.join(sel, li("l_orderkey") === sel("o_orderkey")).count()
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      assert(joined.count() === plain)
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  test("salted join is row-identical to the plain join") {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
    val o = Tables.orders(s, d).select("o_orderkey", "o_orderstatus")
    val plain = li.join(o, Seq("o_orderkey")).count()
    val salted = Skew.saltedJoin(li, o, "o_orderkey", salts = 4).count()
    assert(salted === plain)
  }

  test("hot-key suite: salting spreads a 20% key; pagerank survives the hub") {
    // one user owns 20% of all events — the celebrity-key shape.
    // (AQE's runtime split of the same shape is the next test;
    // triangle counting's hub bound lives in GraphSpec.)
    val n = 20000L
    val hot = 42L
    val ev = s.range(n).select(
      when(col("id") % 5 === 0, lit(hot))
        .otherwise(pmod(col("id"), lit(500L))).as("user_id"),
      (col("id") % 97).cast("double").as("value"))
    val dim = s.range(500).select(col("id").as("user_id"),
      (col("id") % 25).as("nk"))
    // row-identical to the plain join, per group and in total
    val plain = ev.join(dim, "user_id").groupBy("nk")
      .agg(count(lit(1)).as("ct"), sum("value").as("v")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val salted = graft.operators.Skew.saltedJoin(ev, dim, "user_id", 8)
    val got = salted.groupBy("nk")
      .agg(count(lit(1)).as("ct"), sum("value").as("v")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet === plain.keySet)
    got.foreach { case (k, (ct, v)) =>
      assert(ct === plain(k)._1)
      assert(math.abs(v - plain(k)._2) < 1e-6)
    }
    // the scale property: with the broadcast escape hatch closed
    // (the 100 TB dim doesn't broadcast), the unsalted shuffle join
    // funnels the hot key into one task; the salted join balances it
    // (AQE coalescing would merge these tiny test partitions into
    // one and hide the distribution; at real scale it coalesces to
    // the advisory size, which preserves the salting benefit)
    val skewConfs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val prevSkew = skewConfs.keys.map(k => k -> s.conf.getOption(k)).toMap
    skewConfs.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      def partSizes(df: org.apache.spark.sql.DataFrame): Seq[Long] =
        df.rdd.mapPartitions(it => Iterator(it.size.toLong))
          .collect().toSeq.filter(_ > 0)
      val unsaltedSizes = partSizes(ev.join(dim, "user_id"))
      val saltedSizes = partSizes(
        graft.operators.Skew.saltedJoin(ev, dim, "user_id", 8))
      val avg = n.toDouble / saltedSizes.length
      assert(unsaltedSizes.max > saltedSizes.max,
        s"salting did not reduce the max task: ${unsaltedSizes.max} vs " +
          s"${saltedSizes.max}")
      assert(saltedSizes.max <= avg * 1.4,
        s"salted join still imbalanced: max ${saltedSizes.max}, avg $avg")
    } finally prevSkew.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
    // two-phase aggregation on the same hot key: exact totals
    val direct = ev.groupBy("user_id").agg(count(lit(1)).as("ct"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val twoPhase = graft.operators.Skew.twoPhaseAgg(ev, "user_id", 8,
      Seq(count(lit(1)).as("pct")), Seq(sum("pct").cast("long").as("ct")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(twoPhase === direct)
    // pagerank over a hub co-purchase graph: completes, deterministic,
    // hub gets the top rank
    val dir = java.nio.file.Files.createTempDirectory("graft-hub-pr").toString
    import s.implicits._
    (1 to 300).flatMap { ok =>
      val ring = Seq(ok % 60, (ok % 60) + 1).map(_.toLong + 100L)
      (if (ok % 5 == 0) ring :+ 9999L else ring).map(pk => (ok.toLong, pk))
    }.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(dir + "/lineitem.parquet")
    val pr = graft.operators.Graph.pagerankCoPurchase(s, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pr.maxBy(_._2)._1 === 9999L, "hub must take the top rank")
    assert(pr === graft.operators.Graph.pagerankCoPurchase(s, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  test("AQE splits a skewed join partition at runtime (no manual salting)") {
    import s.implicits._
    val confs = Map(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.keys.map(k => k -> s.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      // hot key 0 carries ~all left rows; the static plan would put
      // them in ONE task — AQE must split that partition at runtime
      val left = s.range(0, 300000)
        .select(when(col("id") % 100 =!= 0, lit(0L)).otherwise(col("id"))
          .as("k"), col("id").as("payload"))
      val right = s.range(0, 1000).select(col("id").as("k"),
        (col("id") * 2).as("rv"))
      val joined = left.join(right, "k")
      // execute THIS dataframe's own QueryExecution so ITS adaptive
      // plan finalizes (count()/write() would finalize a copy)
      joined.queryExecution.executedPlan.execute().count()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the skewed join:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  test("two-phase salted aggregation matches direct aggregation") {
    val ev = Tables.events(s, d)
    val direct = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Skew.twoPhaseAgg(ev, "event_type", salts = 4,
      partial = Seq(count(lit(1)).as("pn")),
      merge = Seq(sum(col("pn")).cast("long").as("n"))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted === direct)
  }

  test("compaction bin-packs small files and preserves every row") {
    import graft.sources.Compaction
    val dir = java.nio.file.Files.createTempDirectory("compact").toString + "/t"
    val df = Tables.orders(s, d).limit(5000)
    df.repartition(40).write.parquet(dir) // fragmented: 40 small files
    val before = s.read.parquet(dir)
    val beforeRows = before.collect().toSet
    val stats = Compaction.compact(s, dir, targetBytes = 512L << 10)
    assert(stats.filesBefore === 40)
    assert(stats.filesAfter < 40 && stats.filesAfter >= 1,
      s"expected fewer files, got ${stats.filesAfter}")
    assert(stats.rows === beforeRows.size)
    assert(s.read.parquet(dir).collect().toSet === beforeRows,
      "compaction must preserve the exact rows")
    // idempotent: already-compact tables are left untouched
    val again = Compaction.compact(s, dir, targetBytes = 512L << 10)
    assert(again.filesAfter === stats.filesAfter)
  }

  test("multimodal resize shrinks payloads, frame sampling keeps every 4th") {
    val resized = Multimodal.resize(s, d, targetBytes = 64).collect()
    assert(resized.forall(r => r.payload.length <= 64 && r.payload.nonEmpty))
    val frames = Multimodal.sampleFrames(s, d, frameBytes = 32, every = 4)
      .collect()
    assert(frames.nonEmpty)
    assert(frames.forall(_.frame_idx % 4 === 0))
    // doc 0: n_chars=128 → 4 frames of 32B → frames 0 kept
    val doc0 = frames.filter(_.doc_id == 0L)
    assert(doc0.map(_.frame_idx).toSet === Set(0))
    // default parameters: resize keeps one row per doc, frames fan out
    val docs = Tables.documents(s, d).count()
    assert(Multimodal.resize(s, d).count() === docs)
    val defaultFrames = Multimodal.sampleFrames(s, d).count()
    assert(defaultFrames > docs, s"$defaultFrames frames from $docs docs")
  }

  test("real PNG codec: encode → decode roundtrip reproduces geometry and pixels") {
    val dims = Multimodal.imageDims(s, d).collect()
    assert(dims.nonEmpty)
    dims.foreach { r =>
      val id = r.getLong(0)
      assert(r.getLong(1) === 8 + id % 24, s"width of doc $id")
      assert(r.getLong(2) === 8 + (id * 7) % 24, s"height of doc $id")
      assert(r.getLong(3) === (id * 31) % 256, s"px00 of doc $id")
    }
    // payloads are spec-compliant PNGs (magic bytes)
    val png = Multimodal.imageTable(s, d).limit(1).collect()(0)
      .getAs[Array[Byte]]("png")
    assert(png.take(4).map(_ & 0xff).toSeq === Seq(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt))
  }

  test("image dHash: decoded-pixel hash replays the pixel formula, groups conserve") {
    val got = Multimodal.imageDHash(s, d).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_images"),
        r.getAs[Long]("rep_id"))).toMap
    val ids = graft.sources.Tables.documents(s, d)
      .select(col("doc_id")).collect().map(_.getLong(0))
    def hash(id: Long): Long = {
      val w = (8 + id % 24).toInt; val h = (8 + (id * 7) % 24).toInt
      var bits = 0L
      for (y <- 0 until 8; x <- 0 until 8) {
        val gy = y * h / 8
        val p1 = (31 * id + 7 * (x * w / 9) + 13 * gy) % 256
        val p2 = (31 * id + 7 * ((x + 1) * w / 9) + 13 * gy) % 256
        bits = (bits << 1) | (if (p1 < p2) 1L else 0L)
      }
      bits
    }
    val expect = ids.groupBy(hash).map { case (hh, xs) =>
      hh -> (xs.length.toLong, xs.min) }
    assert(got === expect)
    // conservation: every image lands in exactly one group
    assert(got.values.map(_._1).sum === ids.length.toLong)
  }

  test("dHash hamming bands: 4×16-bit banding recalls every radius-≤3 pair") {
    import s.implicits._
    // distinct signatures from the graded dedup query
    val hs = Multimodal.imageDHash(s, d).select(col("dhash"))
      .as[Long].collect()
    assert(hs.length > 10)
    // the SPARK-side banded candidate join (the stated scale path):
    // explode each signature into 4 16-bit bands, equi-join on
    // (band_idx, band_val), confirm with native xor+popcount
    val sig = hs.toSeq.toDF("h")
    val bands = sig.select(col("h"), explode(expr(
      "transform(sequence(0, 3), i -> struct(i AS bi, " +
        "shiftright(h, i * 16) & 65535 AS bv))")).as("b"))
      .select(col("h"), col("b.bi"), col("b.bv"))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.bi") === col("b.bi") && col("a.bv") === col("b.bv") &&
          col("a.h") < col("b.h"))
      .select(col("a.h").as("ha"), col("b.h").as("hb")).distinct()
      .filter(bit_count(col("ha").bitwiseXOR(col("hb"))) <= 3)
      .as[(Long, Long)].collect().toSet
    // driver brute force over all signature pairs
    val brute = (for {
      i <- hs.indices.iterator; j <- (i + 1) until hs.length
      a = math.min(hs(i), hs(j)); b = math.max(hs(i), hs(j))
      dist = java.lang.Long.bitCount(a ^ b)
      if dist >= 1 && dist <= 3
    } yield (a, b)).toSet
    // pigeonhole: ≤3 differing bits cannot touch all 4 bands, so
    // banding must recall EVERY true near pair
    assert(brute.nonEmpty, "corpus should contain near-dup signatures")
    assert(brute.subsetOf(cand))
  }

  test("real image resize re-encodes valid PNGs at the target geometry") {
    val resized = Multimodal.resizeImages(s, d, w = 16, h = 12).collect()
    assert(resized.nonEmpty)
    resized.foreach { r =>
      val img = Multimodal.decodeImage(r.payload)
        .getOrElse(fail(s"doc ${r.doc_id}: resized payload not decodable"))
      assert(img.getWidth === 16 && img.getHeight === 12)
    }
  }

  test("extractFeatures routes PNG payloads through the real decoder") {
    import org.apache.spark.sql.functions.{col => c}
    // a PNG payload decodes: features are per-channel means, so for
    // doc 0 (gray gradient starting at 0) the sum over all features
    // equals the mean-normalized pixel sum — just assert decode path
    // picked up real geometry-dependent values, not the byte stub
    val png = Multimodal.makePng(0L)
    val viaCodec = Multimodal.decodeImage(png)
    assert(viaCodec.isDefined)
    val img = viaCodec.get
    assert(img.getWidth === 8 && img.getHeight === 8)
    assert((img.getRGB(1, 0) & 0xff) === 7, "pixel formula must survive")
  }

  test("schema evolution: mergeSchema widens old files, rename maps through a view") {
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("schema-evo").toString
    // v1 files: (id, amount); v2 adds a nullable channel column —
    // the files-written-years-apart reality of any long-lived table
    Seq((1L, 10.0), (2L, 20.0)).toDF("id", "amount")
      .write.parquet(s"$dir/d=2024-01-01")
    Seq((3L, 30.0, "app"), (4L, 40.0, "web"))
      .toDF("id", "amount", "channel")
      .write.parquet(s"$dir/d=2024-01-02")
    val merged = s.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet === Set("id", "amount", "channel", "d"))
    // old rows surface the new column as NULL, no rewrite of v1 files
    assert(merged.filter(col("channel").isNull).count() === 2)
    assert(merged.count() === 4)
    // rename without rewrite: serving views map old names to new —
    // parquet has no column-mapping metadata (that's a table-format
    // feature), so the view IS the compatibility layer
    merged.withColumnRenamed("amount", "gross_amount")
      .createOrReplaceTempView("evo_serving")
    val got = s.sql(
      "SELECT sum(gross_amount) FROM evo_serving").head().getDouble(0)
    assert(got === 100.0)
  }

  test("parquet aggregate pushdown: COUNT/MIN/MAX answered from footer stats") {
    val df = graft.warehouse.Analytics.tableStatsPushdown(s, d)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation"),
      s"aggregates must push into the scan:\n${plan.take(2000)}")
    assert(plan.contains("COUNT(*)") && plan.contains("MIN(o_orderkey)") &&
      plan.contains("MAX(o_orderkey)"),
      s"all three aggregates must push:\n${plan.take(2000)}")
    // and the metadata answer equals the row-scan answer
    val direct = Tables.orders(s, d).agg(
      count(lit(1)), min(col("o_orderkey")), max(col("o_orderkey"))).head()
    assert(df.head() === direct)
  }
  test("derived layouts rebuild over a stale warehouse location (fresh-metastore crash recovery)") {
    import s.implicits._
    import graft.operators.{Dedup, Graph, Similarity}
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.catalyst.TableIdentifier
    import org.apache.spark.sql.catalyst.catalog.BucketSpec
    import scala.jdk.CollectionConverters._
    val wh = s.sessionState.conf.warehousePath
    val fs = new Path(wh).getFileSystem(s.sparkContext.hadoopConfiguration)
    // simulate a previous JVM's leftover: data on disk, no catalog row
    def plantOrphan(tbl: String): Path = {
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      val path = new Path(wh, tbl)
      fs.mkdirs(path)
      val f = fs.create(new Path(path, "junk.parquet"))
      f.write(Array[Byte](1, 2, 3)); f.close()
      assert(!s.catalog.tableExists(tbl) && fs.exists(path))
      path
    }
    // the bucketed writer must clear the orphan and succeed — this
    // exact shape took all six graph queries down in a fresh-JVM
    // verify before the fix
    val probe = "graft_stale_layout_probe"
    plantOrphan(probe)
    Bucketing.writeBucketed(
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), probe, "k", 2)
    assert(s.table(probe).count() === 2)
    s.sql(s"DROP TABLE $probe")

    // the layout primitive, on a copy of the tables: a new dataset
    // path, so nothing of it is held or cataloged yet. One plain
    // layout, the three bucketed graph layouts (copdeg builds on
    // copurchase, which builds on orderpart) and one two-table layout.
    val dir = java.nio.file.Files.createTempDirectory("graft_stale_layouts")
    new java.io.File(d).listFiles().foreach { f =>
      java.nio.file.Files.copy(f.toPath, dir.resolve(f.getName)) }
    val dd = dir.toString
    val tag = Bucketing.datasetTag(dd)
    val plain = s"graft_bftopk_${tag}_20_5"
    val bucketed = Map(
      s"graft_orderpart_$tag" -> BucketSpec(16, Seq("ok"), Seq("ok", "pk")),
      s"graft_copurchase_$tag" -> BucketSpec(16, Seq("s"), Seq("s", "t")),
      s"graft_copdeg_$tag" -> BucketSpec(16, Seq("v"), Seq("v")))
    val twoTable =
      Seq(s"graft_shingle_cooc_${tag}_12", s"graft_shingle_sizes_${tag}_12")
    val tables = plain +: (bucketed.keys.toSeq ++ twoTable)
    val orphans = tables.map(plantOrphan)
    def callAll(): Seq[org.apache.spark.sql.DataFrame] = {
      Dedup.containment(s, dd)
      Seq(Similarity.bruteForceTopK(s, dd), Graph.coPurchaseDegrees(s, dd))
    }
    val first = callAll()
    // every orphan cleared, every table rebuilt and readable
    orphans.foreach(p => assert(!fs.exists(new Path(p, "junk.parquet"))))
    tables.foreach(t => assert(s.catalog.tableExists(t), t))
    assert(s.table(plain).count() === 20 * 5)
    assert(s.table(s"graft_copdeg_$tag").count() > 0)
    // one log entry per build, under the first table's name
    val logged = Bucketing.buildLog.keySet.asScala.filter(_.contains(tag))
    assert(logged === Set(plain, twoTable.head) ++ bucketed.keys)
    bucketed.foreach { case (t, spec) =>
      assert(s.sessionState.catalog.getTableMetadata(TableIdentifier(t))
        .bucketSpec === Some(spec), t)
    }
    // a second call returns the held frames: no new build, no job
    val before = Bucketing.buildLog.size
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    s.sparkContext.addSparkListener(listener)
    val second = try {
      s.sparkContext.setJobGroup("layout_second_call", "second call")
      val held = try callAll() finally s.sparkContext.clearJobGroup()
      // events arrive in order: once the marker job is seen, every
      // job the second calls started has been seen too
      s.sparkContext.setJobGroup("layout_marker", "marker")
      try s.range(1).count() finally s.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 10e9.toLong
      while (!jobs.contains("layout_marker") && System.nanoTime() < deadline)
        Thread.sleep(50)
      held
    } finally s.sparkContext.removeSparkListener(listener)
    assert(jobs.contains("layout_marker"))
    assert(!jobs.contains("layout_second_call"))
    first.zip(second).foreach { case (a, b) => assert(a eq b) }
    assert(Bucketing.buildLog.size === before)
    fs.delete(new Path(dir.toUri), true)
  }

  /** `file:line: text` of every src/main line that `banned` matches,
    * outside the one file allowed to hold it (which must exist).
    */
  private def srcMainOffenders(allowed: String)(banned: String => Boolean)
      : Seq[String] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(root)
    val sources =
      try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    val own = root.resolve(allowed)
    assert(sources.contains(own))
    sources.filter(_ != own).flatMap { f =>
      java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (l, i) if banned(l) => s"$f:${i + 1}: ${l.trim}"
      }
    }
  }

  test("only Bucketing writes or probes catalog tables in src/main") {
    // the layout decision (name, memo, catalog check, orphan clear,
    // write) stays in one module
    val offenders = srcMainOffenders("graft/sources/Bucketing.scala")(l =>
      l.contains("saveAsTable(") || l.contains("catalog.tableExists("))
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("only GraftExtensions wires functions, strategies and rules into a session") {
    // functions, planner strategies and optimizer rules are injected
    // at session build time; a second, runtime registration path
    // would re-declare them (and double-register the rules)
    val banned = Seq("createOrReplaceTempFunction",
      "experimental.extraStrategies", "experimental.extraOptimizations",
      "ensureRegistered", "ensureStrategy")
    val offenders = srcMainOffenders("graft/GraftExtensions.scala")(l =>
      banned.exists(l.contains))
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("retention sweep: TTL drops only expired partitions, dry-run deletes nothing") {
    import s.implicits._
    import graft.sources.Partitioned
    val out = java.nio.file.Files.createTempDirectory("graft-ttl")
      .toString + "/t"
    Partitioned.write(Seq(
      ("2024-01-01", 1L), ("2024-01-02", 2L),
      ("2024-01-03", 3L), ("2024-01-04", 4L))
      .toDF("dt", "v"), out, "dt")
    // dry run: full report, zero deletes
    val dry = Partitioned.retentionSweep(s, out, "dt", "2024-01-03",
      dryRun = true).collect()
    assert(dry.count(_.getString(3) == "would_drop") === 2)
    assert(dry.count(_.getString(3) == "keep") === 2)
    assert(s.read.parquet(out).count() === 4, "dry run must not delete")
    // live sweep: expired gone, fresh intact, report matches
    val live = Partitioned.retentionSweep(s, out, "dt", "2024-01-03")
      .collect()
    assert(live.count(_.getString(3) == "drop") === 2)
    val left = s.read.parquet(out)
    assert(left.count() === 2)
    // the partition column reads back as DateType (hive inference)
    assert(left.select("dt").collect().map(_.get(0).toString).toSet ===
      Set("2024-01-03", "2024-01-04"))
    // idempotent: a re-run (crash recovery) drops nothing further
    val again = Partitioned.retentionSweep(s, out, "dt", "2024-01-03")
      .collect()
    assert(again.forall(_.getString(3) == "keep"))
  }

  test("interchange formats round-trip: ORC, JSON lines, CSV reproduce the rows") {
    // the lake's interchange surface beyond parquet: a table written
    // to each format and read back WITH AN EXPLICIT SCHEMA must be
    // row-identical — timestamps (µs precision), nested-quote JSON
    // props, and nullable doubles are the traps this pins
    val dir = java.nio.file.Files.createTempDirectory("fmt-rt").toString
    val ev = Tables.events(s, d).limit(500)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val schema = ev.schema
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.mkString("")).sorted.toSeq
    val expect = canon(ev)
    ev.write.mode("overwrite").orc(s"$dir/orc")
    assert(canon(s.read.schema(schema).orc(s"$dir/orc")) === expect, "orc")
    // JSON/CSV need a µs-precision timestamp format BOTH ways (the
    // text defaults keep only millis), header for CSV column order,
    // and quote-escaping for the embedded-JSON props column
    val tsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    ev.write.mode("overwrite").option("timestampFormat", tsFmt)
      .json(s"$dir/json")
    assert(canon(s.read.schema(schema).option("timestampFormat", tsFmt)
      .json(s"$dir/json")) === expect, "json")
    ev.write.mode("overwrite").option("header", "true")
      .option("timestampFormat", tsFmt).csv(s"$dir/csv")
    assert(canon(s.read.schema(schema).option("header", "true")
      .option("timestampFormat", tsFmt).csv(s"$dir/csv")) === expect, "csv")
  }
}

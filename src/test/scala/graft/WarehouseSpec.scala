package graft

import graft.warehouse.{Dwd, Dws, Publisher}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite

class WarehouseSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val d = TestSpark.sf

  test("registerViews enables raw SQL over every table (BaseSQLApp parity)") {
    graft.sources.Tables.registerViews(s, d)
    val r = s.sql("""
      SELECT n_name, count(*) AS ct FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1""").count()
    assert(r === 25)
    // events view carries the converted timestamp
    val ts = s.sql("SELECT min(ts) FROM events").collect()(0)
    assert(ts.get(0) != null)
    // native functions work in SQL over the views
    val simhashed = s.sql(
      "SELECT graft_simhash64(text) AS h FROM documents LIMIT 5").count()
    assert(simhashed === 5)
  }

  test("driver entry() smoke: nonempty on a plain queries path") {
    assert(SparkEntry.entry(s).count() > 0)
  }

  test("query table: 439 distinct names, 437 oracles, two rows-only") {
    val t = SparkEntry.table
    assert(t.size === 439)
    assert(t.map(_.name).distinct.size === 439)
    assert(t.count(_.oracle.isDefined) === 437)
    assert(t.filter(_.oracle.isEmpty).map(_.name).toSet ===
      Set("graph_mst", "text_compress_ratio"))
    assert(SparkEntry.queries.keySet === t.map(_.name).toSet)
    assert(SparkEntry.oracleSql.keySet ===
      t.filter(_.oracle.isDefined).map(_.name).toSet)
    // a repeated name fails when the table is built
    val e = intercept[IllegalArgumentException](
      SparkEntry.unique(Seq(t.head, t.last, t.head)))
    assert(e.getMessage.contains(t.head.name))
  }

  test("select rejects an unknown query name before any Spark job") {
    // select takes no session: the mains call it before starting one
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Seq("q1_pricing_summary", "no_such_query")))
    assert(e.getMessage.contains("no_such_query"))
    assert(!e.getMessage.contains("q1_pricing_summary"))
    assert(SparkEntry.select(Seq("q5_star_join", "dq_audit"))
      .map(_.name) === Seq("q5_star_join", "dq_audit"))
    val all = SparkEntry.select(Nil).map(_.name)
    assert(all.size === 439 && all === all.sorted)
  }

  test("pricing summary: 6 flag×status groups, totals reconcile") {
    val q1 = Dws.pricingSummary(s, d).collect()
    assert(q1.length === 6)
    val totalOrders = q1.map(_.getAs[Long]("count_order")).sum
    val liCount = graft.sources.Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("2000-12-01").cast("timestamp")).count()
    assert(totalOrders === liCount)
  }

  test("order detail join preserves lineitem grain") {
    val det = Dwd.tradeOrderDetail(s, d)
    assert(det.count() === graft.sources.Tables.lineitem(s, d).count())
    // cancel + pay + open partition the same grain
    val byStatus = Dwd.tradeOrderCancel(s, d).count() +
      Dwd.tradePaySuc(s, d).count()
    assert(byStatus < det.count())
  }

  test("province order: every nation appears exactly once per region") {
    val p = Dws.tradeProvinceOrder(s, d).collect()
    assert(p.length === 25)
    assert(p.map(_.getAs[String]("province_name")).distinct.length === 25)
  }

  test("province topN is rank-ordered and deterministic") {
    val top = Publisher.provinceTopN(s, d).orderBy("rk").collect()
    assert(top.map(_.getAs[Long]("rk")).toSeq === (1L to 10L))
    val amounts = top.map(_.getAs[Double]("order_amount"))
    assert(amounts.zip(amounts.tail).forall { case (a, b) => a >= b })
  }

  test("visitor state repair marks each user new exactly once per first day") {
    val rep = Dwd.visitorStateRepair(s, d)
    val newPerUser = rep.filter(col("is_new") === 1)
      .groupBy("user_id").count().collect()
    // a user can have several events on their first day — all flagged new;
    // but every user must have at least one is_new event
    val users = graft.sources.Tables.events(s, d)
      .select("user_id").distinct().count()
    assert(newPerUser.length.toLong === users)
  }

  test("data-quality primitives count violations exactly") {
    import s.implicits._
    import graft.warehouse.Quality
    val dup = Seq((1L, "a"), (1L, "a"), (1L, "b"), (2L, "c"))
      .toDF("k", "v")
    assert(Quality.uniquenessViolations(dup, "u", Seq("k"))
      .head().getLong(1) === 2L) // 4 rows, 2 distinct keys
    assert(Quality.uniquenessViolations(dup, "u", Seq("k", "v"))
      .head().getLong(1) === 1L) // only the exact duplicate pair
    val parent = Seq(1L, 2L).toDF("pk")
    val child = Seq(1L, 1L, 3L).toDF("fk")
    assert(Quality.orphanViolations(child, "fk", parent, "pk", "o")
      .head().getLong(1) === 1L)
    val vals = Seq(0.5, 1.5, 2.5, -1.0).toDF("x")
    assert(Quality.rangeViolations(vals, "x", 0.0, 2.0, "r")
      .head().getLong(1) === 2L)
    assert(Quality.nullViolations(
      Seq(Some("a"), None, Some("b")).toDF("c"), "c", "n")
      .head().getLong(1) === 1L)
    // the graded report: structural rules hold on the warehouse
    // tables, tight business rules count nonzero rows
    val report = Quality.audit(s, d)
    val audit = report.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(audit("orders_pk_unique") === 0L)
    assert(audit("lineitem_order_orphans") === 0L)
    assert(audit("lineitem_qty_gt40") > 0L)
    // the audit is FUSED: each fact's scan-shaped rules share one
    // aggregation pass, so the plan scans orders 3× (fused pass +
    // both orphan-join sides) and lineitem 2× — not once per rule
    // after execution AQE prints Final AND Initial trees — count
    // scans in the final tree only
    val plan = report.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    def nScans(t: String) = plan.linesIterator.count(l =>
      l.contains("FileScan") && l.contains(s"$t.parquet"))
    assert(nScans("orders") <= 3, s"orders scanned ${nScans("orders")}×")
    assert(nScans("lineitem") <= 2, s"lineitem scanned ${nScans("lineitem")}×")
  }

  test("approx sketches are within 5% of exact values") {
    val rows = graft.warehouse.Analytics.approxStats(s, d).collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      assert(r.getAs[Long]("uu_exact") > 0)
      // the graded tolerance flags must actually be TRUE — the
      // sketches honor their error contracts on this data
      assert(r.getAs[Int]("uu_ok") === 1, s"HLL off by >5%: $r")
      assert(r.getAs[Int]("p50_ok") === 1, s"approx p50 off by >5%: $r")
      assert(r.getAs[Int]("p95_ok") === 1, s"approx p95 off by >5%: $r")
    }
  }

  test("sessionize: session stats reconcile with event counts") {
    val sess = graft.warehouse.Analytics.sessionize(s, d).collect()
    val events = graft.sources.Tables.events(s, d).count()
    assert(sess.map(_.getAs[Long]("n_events")).sum === events)
    assert(sess.forall(_.getAs[Long]("dur_us") >= 0))
  }

  test("heavy hitters: CMS prefilter answer equals the exact groupBy") {
    import org.apache.spark.sql.functions._
    val got = graft.warehouse.Analytics.heavyHitters(s, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ev = graft.sources.Tables.events(s, d)
    val n = ev.count(); val u = ev.select("user_id").distinct().count()
    val t = (6L * n) / (5L * u)
    val exact = ev.groupBy("user_id").count()
      .filter(col("count") >= t).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === exact)
    assert(got.nonEmpty, "threshold should catch someone at this SF")
  }

  test("skew profile: totals reconcile and max>=min") {
    val rows = graft.warehouse.Analytics.keySkewProfile(s, d).collect()
    assert(rows.length === 4)
    rows.foreach { r =>
      assert(r.getAs[Long]("max_ct") >= r.getAs[Long]("min_ct"))
      assert(r.getAs[Long]("n_keys") > 0)
      assert(r.getAs[Long]("hot_keys") >= 0)
    }
    val li = graft.sources.Tables.lineitem(s, d).count()
    assert(rows.find(_.getString(0) == "lineitem.l_partkey").get
      .getAs[Long]("total_rows") === li)
  }

  test("merge upsert: every base row survives, updates take the newest value") {
    import org.apache.spark.sql.functions._
    val out = graft.operators.Temporal.mergeUpsert(s, d)
    val byOp = out.groupBy("op").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nCust = graft.sources.Tables.customer(s, d).count()
    assert(byOp.getOrElse("keep", 0L) + byOp.getOrElse("update", 0L) === nCust)
    // one output row per merged key
    assert(out.select("cust_id").distinct().count() === out.count())
    // an updated row carries its user's newest event value
    val sample = out.filter(col("op") === "update").limit(1).collect()(0)
    val newest = graft.sources.Tables.events(s, d)
      .filter(col("user_id") === sample.getAs[Long]("cust_id"))
      .orderBy(unix_micros(col("ts")).desc, col("event_id").desc)
      .select("value").collect()(0).getDouble(0)
    assert(sample.getAs[Double]("acctbal") === newest)
  }

  test("user login back_ct never exceeds uu_ct") {
    val rows = Dws.userLogin(s, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("back_ct") <= r.getAs[Long]("uu_ct"))
    }
  }

  test("outliers: every flagged event is beyond 3 sigma of its type") {
    val flagged = graft.warehouse.Analytics.valueOutliers(s, d).collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[String]("etype"),
        r.getAs[Double]("value")))
    assert(flagged.nonEmpty)
    val rows = graft.sources.Tables.events(s, d)
      .select(col("event_id"), col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        BigDecimal(r.getDouble(2)).setScale(2,
          BigDecimal.RoundingMode.HALF_UP).toDouble))
    val stats = rows.groupBy(_._2).view.mapValues { rs =>
      val xs = rs.map(_._3)
      val mu = xs.sum / xs.length
      (mu, math.sqrt(xs.map(x => x * x).sum / xs.length - mu * mu))
    }.toMap
    flagged.foreach { case (_, p, x) =>
      val (mu, sig) = stats(p)
      assert(math.abs(x - mu) > 2.9 * sig, s"$x not an outlier for $p")
    }
  }

  test("pseudonymization is join-preserving and 1:1 per user") {
    val tok = graft.warehouse.Analytics.pseudonymize(s, d)
    val raw = graft.sources.Tables.events(s, d)
    // same per-key histogram: grouping by token == grouping by raw id
    val tokCounts = tok.groupBy("user_token").count()
      .select(col("count")).collect().map(_.getLong(0)).sorted.toSeq
    val rawCounts = raw.groupBy("user_id").count()
      .select(col("count")).collect().map(_.getLong(0)).sorted.toSeq
    assert(tokCounts === rawCounts)
    // bijection on this corpus: distinct tokens == distinct users
    assert(tok.select("user_token").distinct().count() ===
      raw.select("user_id").distinct().count())
  }

  test("winsorize: clamped rows sit exactly on a bound, others unchanged") {
    val rows = graft.warehouse.Analytics.winsorizedValues(s, d).collect()
    val clamped = rows.filter(_.getAs[Int]("clamped") == 1)
    assert(clamped.nonEmpty && clamped.length < rows.length / 10,
      s"${clamped.length}/${rows.length} clamped — expected a small tail")
    val byType = rows.groupBy(_.getAs[String]("etype"))
    byType.foreach { case (_, rs) =>
      val ws = rs.map(_.getAs[Double]("value_w"))
      val bounds = Set(ws.min, ws.max)
      rs.filter(_.getAs[Int]("clamped") == 1).foreach { r =>
        assert(bounds.contains(r.getAs[Double]("value_w")),
          "clamped value must land on a percentile bound")
      }
    }
  }

  test("table checksum: order-independent, and a 1-row mutation changes it") {
    import s.implicits._
    val base = graft.warehouse.Analytics.tableChecksum(s, d).head()
    // row order cannot matter: commutative folds over a shuffled copy
    val again = graft.warehouse.Analytics.tableChecksum(s, d).head()
    assert(base === again)
    // mutate one row's status through the same hash pipeline: the
    // checksum MUST move (that's the whole point of the audit)
    val mutated = graft.sources.Tables.orders(s, d)
      .withColumn("o_orderstatus",
        when(col("o_orderkey") === 1L, lit("X"))
          .otherwise(col("o_orderstatus")))
    val rowStr = concat_ws("|",
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(12, 2))
        .cast("string"),
      col("o_orderdate").cast("date").cast("string"),
      col("o_orderpriority"))
    val mc = mutated.select(
        conv(substring(md5(rowStr), 1, 12), 16, 10).cast("long").as("h"))
      .agg(count(lit(1)).as("n"), sum("h").as("sh"),
        expr("bit_xor(h)").as("xh")).head()
    assert(mc.getAs[Long]("n") === base.getAs[Long]("n_rows"))
    assert(mc.getAs[Long]("sh") !== base.getAs[Long]("sum_hash"))
    assert(mc.getAs[Long]("xh") !== base.getAs[Long]("xor_hash"))
  }

  test("gap fill: contiguous spine per group, carry-forward holds value") {
    val rows = graft.warehouse.Analytics.gapFillDaily(s, d).collect()
    val byPrio = rows.groupBy(_.getAs[String]("prio"))
    byPrio.foreach { case (p, rs) =>
      val days = rs.map(_.getAs[java.sql.Date]("day").toLocalDate).sorted
      // spine is gapless: day count == span
      assert(days.length.toLong ===
        java.time.temporal.ChronoUnit.DAYS.between(days.head, days.last) + 1,
        s"$p spine has gaps")
      // carry-forward: once a value appears it never goes null, and on
      // zero-order days it equals the previous day's carry
      val sortedRows = rs.sortBy(_.getAs[java.sql.Date]("day").toLocalDate
        .toEpochDay)
      sortedRows.sliding(2).foreach {
        case Array(a, b) =>
          if (!a.isNullAt(a.fieldIndex("gmv_carry")))
            assert(!b.isNullAt(b.fieldIndex("gmv_carry")), s"$p carry lost")
          if (b.getAs[Long]("n_orders") == 0 &&
              !a.isNullAt(a.fieldIndex("gmv_carry")))
            assert(b.getAs[Double]("gmv_carry") ===
              a.getAs[Double]("gmv_carry"), s"$p carry changed on gap day")
        case _ =>
      }
    }
  }

  test("incremental merge equals the one-shot recompute exactly") {
    val merged = graft.warehouse.Incremental.dailyGmv(s, d)
    val full = graft.sources.Tables.orders(s, d)
      .groupBy(col("o_orderdate").cast("date").as("day"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice")
          .cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("gmv"))
    assert(merged.exceptAll(full).isEmpty && full.exceptAll(merged).isEmpty)
    // the merge stage reads agg-grain rows, not the fact table: both
    // inputs to the final groupBy are already day-grain
    assert(merged.count() === full.count())
  }
  test("PSI drift bands: ppm shares sum to ~1e6, counts partition the table") {
    val rs = graft.warehouse.Quality.driftPsi(s, d).collect()
    assert(rs.nonEmpty && rs.length <= 10)
    val aTot = rs.map(_.getAs[Long]("a_ct")).sum
    val bTot = rs.map(_.getAs[Long]("b_ct")).sum
    assert(aTot + bTot === graft.sources.Tables.orders(s, d).count())
    // integer-floor ppm shares: within one ulp-per-band of 1e6
    val aPpm = rs.map(_.getAs[Long]("a_ppm")).sum
    val bPpm = rs.map(_.getAs[Long]("b_ppm")).sum
    assert(aPpm > 1000000L - rs.length && aPpm <= 1000000L, s"a_ppm=$aPpm")
    assert(bPpm > 1000000L - rs.length && bPpm <= 1000000L, s"b_ppm=$bPpm")
  }

  test("autocorr: two lags, each in [-1, 1], n matches the series") {
    val rs = graft.warehouse.Analytics.autocorrGmv(s, d).collect()
    assert(rs.map(_.getAs[Int]("lag_d")).toSet === Set(1, 7))
    val days = graft.sources.Tables.orders(s, d)
      .select(to_date(col("o_orderdate"))).distinct().count()
    rs.foreach { r =>
      val ac = r.getAs[Double]("autocorr")
      assert(ac >= -1.0 && ac <= 1.0, s"autocorr out of range: $ac")
      assert(r.getAs[Long]("n") === days - r.getAs[Int]("lag_d"))
    }
  }

  test("bitmap aggregate: exact daily UV equals COUNT(DISTINCT), merges across partitions") {
    val got = graft.warehouse.Sketched.bitmapDailyUv(s, d).collect()
      .map(r => r.getAs[java.sql.Date]("dt").toString -> r.getAs[Long]("uv"))
      .toMap
    val exact = graft.sources.Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("dt"))
      .agg(countDistinct(col("user_id")).as("uv")).collect()
      .map(r => r.getAs[java.sql.Date]("dt").toString -> r.getAs[Long]("uv"))
      .toMap
    assert(got === exact)
    // the map-side partial path is exercised: events scan at sf0.001
    // spreads over defaultParallelism partitions, so every group's
    // bitmap merged >1 partial
    assert(got.size > 1)
  }

  test("bitmap aggregate fails loudly on an id outside the declared domain") {
    import s.implicits._
    val bad = Seq(1L, 7L, 1024L).toDF("id")
    val e = intercept[Exception] {
      bad.agg(call_function("graft_bitmap_distinct", col("id"), lit(1024L)))
        .collect()
    }
    assert(e.getMessage != null)
  }

  test("KMV intersection: estimator consistency and contract vs exact overlap") {
    val r = graft.warehouse.Sketched.kmvIntersection(s, d).collect()(0)
    val nKept = r.getAs[Long]("n_kept")
    val nBoth = r.getAs[Long]("n_both")
    val estU = r.getAs[Long]("est_union")
    val estI = r.getAs[Long]("est_inter")
    assert(nBoth <= nKept && estI <= estU)
    val ev = graft.sources.Tables.events(s, d)
    val a = ev.filter(col("event_type") === "view")
      .select("user_id").distinct()
    val b = ev.filter(col("event_type") === "cart")
      .select("user_id").distinct()
    val exactU = a.union(b).distinct().count()
    val exactI = a.intersect(b).count()
    // sketch error at k=64 is ~1/sqrt(64) = 12.5%; allow 3 sigma
    assert(math.abs(estU - exactU).toDouble <= 0.4 * exactU + 2,
      s"union est $estU vs exact $exactU")
    assert(math.abs(estI - exactI).toDouble <= 0.4 * exactU + 2,
      s"inter est $estI vs exact $exactI")
  }
  test("seq pattern: regex hits replay exactly on driver-sorted paths") {
    val got = graft.warehouse.Analytics.seqPattern(s, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val paths = graft.sources.Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .groupBy(_._1).map { case (u, evs) =>
        u -> evs.sortBy(e => (e._2, e._3)).map(_._4).mkString(",")
      }
    val re = "view,(click,)+purchase".r
    val expect = paths.map { case (u, p) =>
      u -> re.findAllIn(p).length.toLong }.filter(_._2 > 0)
    assert(got === expect)
  }

  test("window funnel: DP fold equals the brute-force EXISTS definition") {
    val wUs = 86400L * 1000000L
    val got = graft.warehouse.Analytics.windowFunnel(s, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byUser = graft.sources.Tables.events(s, d)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .groupBy(_._1)
    val levels = byUser.values.map { evs =>
      val v = evs.filter(_._3 == "view").map(_._2)
      val c = evs.filter(_._3 == "click").map(_._2)
      val p = evs.filter(_._3 == "purchase").map(_._2)
      val l3 = v.exists(t1 => c.exists(t2 => t2 > t1 &&
        p.exists(t3 => t3 > t2 && t3 <= t1 + wUs)))
      val l2 = v.exists(t1 => c.exists(t2 => t2 > t1 && t2 <= t1 + wUs))
      if (l3) 3L else if (l2) 2L else if (v.nonEmpty) 1L else 0L
    }
    val expect = levels.groupBy(identity).map { case (l, xs) =>
      l -> xs.size.toLong }
    assert(got === expect)
  }

  test("window funnel: microsecond ties never chain (strict order)") {
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("wf-ties").toString
    val t0 = 1700000000000000L
    // user 1: view and click share one microsecond -> level 1 only;
    // user 2: strict chain inside the window -> level 3;
    // user 3: chain whose purchase misses the window -> level 2
    Seq(
      (1L, t0, 1L, "view"), (2L, t0, 1L, "click"),
      (3L, t0, 2L, "view"), (4L, t0 + 10L, 2L, "click"),
      (5L, t0 + 20L, 2L, "purchase"),
      (6L, t0, 3L, "view"), (7L, t0 + 10L, 3L, "click"),
      (8L, t0 + 86400L * 1000000L + 1L, 3L, "purchase"))
      .toDF("event_id", "us", "user_id", "event_type")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.warehouse.Analytics.windowFunnel(s, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("bitmap audience: AND/ANDNOT popcounts equal distinct set algebra") {
    val r = graft.warehouse.Sketched.bitmapAudience(s, d).collect()(0)
    val ev = graft.sources.Tables.events(s, d)
    val a = ev.filter(col("event_type") === "click")
      .select("user_id").distinct()
    val b = ev.filter(col("event_type") === "purchase")
      .select("user_id").distinct()
    assert(r.getAs[Long]("n_a") === a.count())
    assert(r.getAs[Long]("n_b") === b.count())
    assert(r.getAs[Long]("n_both") === a.intersect(b).count())
    assert(r.getAs[Long]("n_a_only") === a.exceptAll(a.intersect(b)).count())
    // identities: |A| = |A∩B| + |A\B|, |B| = |A∩B| + |B\A|
    assert(r.getAs[Long]("n_a") === r.getAs[Long]("n_both") + r.getAs[Long]("n_a_only"))
    assert(r.getAs[Long]("n_b") === r.getAs[Long]("n_both") + r.getAs[Long]("n_b_only"))
  }

  test("temperature mixing: monotone, budget-bounded, flattens the natural mix") {
    val rs = graft.warehouse.Analytics // keep import side-effect free
    val rows = graft.operators.TextAnalysis.mixTemperature(s, d).collect()
    assert(rows.length > 1)
    // α=0.5 compresses: bigger sources lose share, smaller gain
    val sorted = rows.sortBy(_.getAs[Long]("n_docs"))
    val small = sorted.head; val big = sorted.last
    if (big.getAs[Long]("n_docs") > small.getAs[Long]("n_docs")) {
      assert(big.getAs[Long]("temp_ppm") <= big.getAs[Long]("natural_ppm"))
      assert(small.getAs[Long]("temp_ppm") >= small.getAs[Long]("natural_ppm"))
    }
    // floor-div shares can undershoot 1e6 but never overshoot
    val totPpm = rows.map(_.getAs[Long]("temp_ppm")).sum
    assert(totPpm <= 1000000L && totPpm > 1000000L - rows.length)
    assert(rows.map(_.getAs[Long]("target_docs")).sum <= 100000L)
  }

  test("SPC c-chart: integer decision replays the BigInt moments, sides agree") {
    val flagged = graft.warehouse.Quality.spcOrders(s, d).collect()
      .map(r => r.getAs[java.sql.Date]("dt").toString ->
        (r.getAs[Long]("x"), r.getAs[String]("side"))).toMap
    val daily = graft.sources.Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(count(lit(1)).as("x")).collect()
      .map(r => r.getAs[java.sql.Date]("dt").toString -> r.getAs[Long]("x"))
    val n = BigInt(daily.length)
    val sx = daily.map(x => BigInt(x._2)).sum
    val sxx = daily.map(x => BigInt(x._2) * BigInt(x._2)).sum
    val expect = daily.filter { case (_, x) =>
      val lhs = (n * x - sx) * (n * x - sx)
      lhs > 9 * (n * sxx - sx * sx)
    }.map { case (dt, x) =>
      dt -> (x, if (n * x > sx) "hi" else "lo") }.toMap
    assert(flagged === expect)
    assert(flagged.nonEmpty, "control chart should fire on this series")
  }

  test("string parity: known literals round-trip every derived column") {
    val r = graft.warehouse.Analytics.stringParity(s, d)
      .orderBy(col("p_partkey")).limit(1).collect()(0)
    val src = graft.sources.Tables.part(s, d)
      .orderBy(col("p_partkey")).limit(1).collect()(0)
    val name = src.getAs[String]("p_name")
    val brand = src.getAs[String]("p_brand")
    assert(r.getAs[String]("up") === name.toUpperCase)
    assert(r.getAs[String]("rev") === brand.reverse)
    assert(r.getAs[String]("rep2") === brand * 2)
    assert(r.getAs[Long]("pos_o") === name.indexOf('o') + 1L)
    assert(r.getAs[String]("first2") === name.split(" ").take(2).mkString(" "))
    assert(r.getAs[Long]("trim_len") === name.trim.length.toLong)
  }

  test("rollup top-k: levels nest (every level-0 top name rolls into its level-1 region)") {
    val rs = graft.warehouse.Analytics.rollupTopK(s, d).collect()
      .map(r => (r.getAs[Long]("lvl"), r.getAs[String]("region_name"),
        r.getAs[String]("nation_name"), r.getAs[Long]("cents"),
        r.getAs[Int]("rk")))
    // exactly k per level except the 1-row grand total
    val byLvl = rs.groupBy(_._1)
    assert(byLvl(0L).length === 3 && byLvl(1L).length === 3)
    assert(byLvl(2L).length === 1 &&
      byLvl(2L).head._2 === "ALL" && byLvl(2L).head._3 === "ALL")
    // ranks are 1..k and revenue is non-increasing in rank
    byLvl.values.foreach { xs =>
      val sorted = xs.sortBy(_._5)
      assert(sorted.map(_._5) === (1 to sorted.length))
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a._4 >= b._4; case _ => true })
    }
    // grand total >= any level-1 entry, level-1 entries >= their nations
    val total = byLvl(2L).head._4
    assert(byLvl(1L).forall(_._4 <= total))
  }

  test("shard manifest: shards partition the corpus, checksum moves on any edit") {
    val rs = graft.warehouse.Analytics // anchor
    val m = graft.operators.TextAnalysis.shardManifest(s, d).collect()
      .map(r => r.getAs[Long]("shard") -> (r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("checksum")))
    val nDocs = graft.sources.Tables.documents(s, d).count()
    assert(m.map(_._2._1).sum === nDocs, "shards must partition the corpus")
    assert(m.length > 1 && m.forall(_._2._3 > 0L))
    // determinism: a second evaluation is bit-identical
    val again = graft.operators.TextAnalysis.shardManifest(s, d).collect()
      .map(r => r.getAs[Long]("shard") -> (r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("checksum")))
    assert(m.toMap === again.toMap)
  }

  test("array parity: HOF derivations agree with driver recomputation") {
    val rs = graft.warehouse.Analytics.arrayParity(s, d).collect()
    assert(rs.nonEmpty)
    rs.foreach { r =>
      val types = r.getAs[String]("types_csv").split(",").toSeq
      assert(types === types.sorted && types.distinct === types)
      assert(r.getAs[Long]("n_types") === types.length.toLong)
      assert(r.getAs[Long]("char_sum") === types.map(_.length).sum.toLong)
      assert(r.getAs[String]("c_types") ===
        types.filter(_.startsWith("c")).mkString("|"))
      assert(r.getAs[String]("first2") === types.take(2).mkString(","))
      assert(r.getAs[Long]("max_event_id") >= r.getAs[Long]("first_event_id"))
    }
  }

  test("decayed score: shift weights replay per item, ranking is by score") {
    val got = graft.warehouse.Analytics.decayedScore(s, d).collect()
      .map(r => (r.getAs[Long]("item_id"), r.getAs[Long]("score_ppm"),
        r.getAs[Long]("n_events"), r.getAs[Int]("rk")))
    assert(got.length === 20)
    val ev = graft.sources.Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select((col("event_id") % 100).as("i"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val now = ev.map(_._2).max
    val scores = ev.groupBy(_._1).view.mapValues { xs =>
      (xs.map { case (_, us) =>
        1000000L >> math.min((now - us) / (7L * 86400000000L), 30L).toInt
      }.sum, xs.length.toLong)
    }.toMap
    got.foreach { case (item, sc, n, _) =>
      assert(scores(item) === ((sc, n)), s"item $item") }
    // ranking is by (score desc, item) and scores are non-increasing
    assert(got.sortBy(_._4).map(_._2).sliding(2).forall {
      case Array(a, b) => a >= b; case _ => true })
  }

  test("top paths: counts replay the driver path build, ranks are dense") {
    val got = graft.warehouse.Analytics.topPaths(s, d).collect()
      .map(r => (r.getString(0), r.getAs[Long]("n_users"), r.getAs[Int]("rk")))
    val paths = graft.sources.Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .groupBy(_._1).map { case (_, evs) =>
        evs.sortBy(e => (e._2, e._3)).map(_._4).take(8).mkString(",")
      }.toSeq
    val counts = paths.groupBy(identity).view.mapValues(_.size.toLong)
    val expect = counts.toSeq.sortBy { case (p, n) => (-n, p) }.take(5)
      .zipWithIndex.map { case ((p, n), i) => (p, n, i + 1) }
    assert(got.sortBy(_._3) === expect)
  }

  test("funnel time: rank-select quantiles replay the driver sort") {
    val r = graft.warehouse.Analytics.funnelTime(s, d).collect()(0)
    val ev = graft.sources.Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us")).collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(2)))
    val byUser = ev.groupBy(_._1)
    val delays = byUser.values.flatMap { evs =>
      val views = evs.filter(_._2 == "view").map(_._3)
      if (views.isEmpty) None
      else {
        val v = views.min
        val ps = evs.filter(e => e._2 == "purchase" && e._3 > v).map(_._3)
        if (ps.isEmpty) None else Some(ps.min - v)
      }
    }.toArray.sorted
    val n = delays.length
    assert(n > 2)
    assert(r.getAs[Long]("q50_us") === delays((n - 1) / 2))
    assert(r.getAs[Long]("q90_us") === delays((n - 1) * 9 / 10))
  }

  test("markov 2-step: distributions near-normalize, chain replays a driver walk") {
    val rs = graft.warehouse.Analytics.markovTwoStep(s, d).collect()
      .map(r => (r.getString(0), r.getAs[Long]("p1_ppm"),
        r.getAs[Long]("p2_ppm")))
    // truncated-DIV chains undershoot 1e6, never overshoot
    val s1 = rs.map(_._2).sum; val s2 = rs.map(_._3).sum
    assert(s1 <= 1000000L && s1 > 990000L, s"p1 sums to $s1")
    assert(s2 <= 1000000L && s2 > 980000L, s"p2 sums to $s2")
    // driver replay
    val ev = graft.sources.Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val trans = ev.groupBy(_._1).toSeq.flatMap { case (_, xs) =>
      val sorted = xs.sortBy(e => (e._2, e._3)).map(_._4)
      sorted.zip(sorted.drop(1))
    }
    val counts = trans.groupBy(identity).map { case (k, v) =>
      k -> v.size.toLong }
    val rows = counts.groupBy(_._1._1).map { case (a, xs) =>
      a -> xs.values.sum }
    val p = counts.map { case ((a, b), c) => (a, b) -> c * 1000000L / rows(a) }
    val p1 = p.collect { case (("view", b), v) => b -> v }.toMap
    val p2 = p1.toSeq.flatMap { case (a, v1) =>
      p.collect { case ((`a`, b), v) => b -> v1 * v / 1000000L }
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    rs.foreach { case (t, g1, g2) =>
      assert(g1 === p1.getOrElse(t, 0L), s"p1 for $t")
      assert(g2 === p2.getOrElse(t, 0L), s"p2 for $t")
    }
  }

  test("SPC residual: fires differently from the raw chart (seasonality stripped)") {
    val res = graft.warehouse.Quality.spcResidual(s, d).collect()
      .map(r => r.getAs[java.sql.Date]("dt").toString)
    val raw = graft.warehouse.Quality.spcOrders(s, d).collect()
      .map(r => r.getAs[java.sql.Date]("dt").toString)
    assert(res.nonEmpty, "residual alarm should fire on real anomalies")
    assert(res.toSet != raw.toSet,
      "stripping trend+seasonality must change WHICH days alarm")
  }

  test("season strength: ppm bounded, ties to the decompose components") {
    val r = graft.warehouse.Analytics.seasonStrength(s, d).collect()(0)
    val ppm = r.getAs[Long]("strength_ppm")
    assert(ppm >= 0L && ppm <= 1000000L)
    val comp = graft.warehouse.Analytics.decomposeGmv(s, d).collect()
      .map(x => (BigInt(x.getAs[Long]("residual_cents")),
        BigInt(x.getAs[Long]("seasonal_cents") +
          x.getAs[Long]("residual_cents"))))
    val n = BigInt(comp.length)
    assert(r.getAs[Long]("n") === comp.length.toLong)
    def varNum(xs: Seq[BigInt]) = n * xs.map(x => x * x).sum -
      xs.sum * xs.sum
    val expect = (BigInt(1000000) -
      varNum(comp.map(_._1)) * 1000000 / varNum(comp.map(_._2)))
      .max(BigInt(0))
    assert(BigInt(ppm) === expect)
  }

  test("price index: base month indexes at exactly 1e6 ppm") {
    val rs = graft.warehouse.Analytics.priceIndex(s, d).collect()
      .map(r => (r.getAs[java.sql.Date]("m").toLocalDate,
        r.getAs[Long]("laspeyres_ppm"), r.getAs[Long]("paasche_ppm"),
        r.getAs[Long]("n_parts")))
    assert(rs.length > 12)
    val base = rs.minBy(_._1.toEpochDay)
    assert(base._2 === 1000000L && base._3 === 1000000L,
      "base period must index at unity by construction")
    rs.foreach { case (_, l, p, np) =>
      assert(l > 0L && p > 0L && np > 0L) }
  }

  test("runs test: run counting and the cleared decision replay in BigInt") {
    val r = graft.warehouse.Quality.runsTest(s, d).collect()(0)
    val daily = graft.sources.Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum((col("o_totalprice").cast(DecimalType(12, 2)) * 100)
        .cast("long")).as("g")).collect()
      .map(x => (x.getAs[java.sql.Date]("dt").toLocalDate.toEpochDay,
        x.getAs[Long]("g"))).sortBy(_._1)
    val ups = daily.sliding(2).collect {
      case Array(a, b) if a._2 != b._2 => b._2 > a._2
    }.toArray
    val nUp = ups.count(identity).toLong
    val nDown = ups.length - nUp
    val runs = if (ups.isEmpty) 0L
      else 1L + ups.sliding(2).count {
        case Array(a, b) => a != b; case _ => false }
    assert(r.getAs[Long]("n_up") === nUp)
    assert(r.getAs[Long]("n_down") === nDown)
    assert(r.getAs[Long]("runs") === runs)
    val n = BigInt(nUp + nDown)
    val a = BigInt(runs) * n - n - 2 * nUp * nDown
    val flag = if (a * a * 10000 * (n - 1) >
      BigInt(38416) * 2 * nUp * nDown * (2 * nUp * nDown - n)) 1L else 0L
    assert(r.getAs[Long]("nonrandom_flag") === flag)
  }

  test("theil-sen: median pairwise slope replays the driver sort, robust to a spike") {
    val r = graft.warehouse.Analytics.theilSen(s, d).collect()(0)
    val daily = graft.sources.Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum((col("o_totalprice").cast(DecimalType(12, 2)) * 100)
        .cast("long")).as("g")).collect()
      .map(x => (x.getAs[java.sql.Date]("dt").toLocalDate.toEpochDay,
        x.getAs[Long]("g"))).sortBy(_._1)
    val pairs = for {
      i <- daily.indices; j <- (i + 1) until daily.length
    } yield {
      val (xi, yi) = daily(i); val (xj, yj) = daily(j)
      ((yj - yi).toDouble / (xj - xi), xi, xj, yj - yi, xj - xi)
    }
    val sorted = pairs.sortBy(p => (p._1, p._2, p._3))
    val med = sorted((pairs.length - 1) / 2)
    assert(r.getAs[Long]("n_pairs") === pairs.length.toLong)
    assert(r.getAs[Long]("dy") === med._4 && r.getAs[Long]("dx") === med._5)
    val expSlope = (if (med._4 >= 0) 1L else -1L) *
      (math.abs(med._4) * 1000000L / med._5)
    assert(r.getAs[Long]("slope_micro") === expSlope)
  }

  test("SRM guardrail: decision replays the chi-square cross-multiplication") {
    val r = graft.warehouse.Analytics.abSrm(s, d).collect()(0)
    val n1 = r.getAs[Long]("n1"); val n2 = r.getAs[Long]("n2")
    val ev = graft.sources.Tables.events(s, d)
    assert(n1 === ev.filter(col("user_id") % 2 === 0).count())
    assert(n1 + n2 === ev.count())
    assert(r.getAs[Long]("diff_sq") === (n1 - n2) * (n1 - n2))
    assert(r.getAs[Long]("srm_flag") ===
      (if ((n1 - n2) * (n1 - n2) * 100 > (n1 + n2) * 384) 1L else 0L))
  }

  test("calendar dim: contiguous, gap days included, attributes agree with java.time") {
    val rs = graft.operators.Temporal.calendarDim(s, d).collect()
      .map(r => (r.getAs[java.sql.Date]("dt").toLocalDate,
        r.getAs[Long]("dow"), r.getAs[Long]("y"), r.getAs[Long]("mo"),
        r.getAs[Long]("dom"), r.getAs[Long]("q"),
        r.getAs[Long]("is_month_start"), r.getAs[Long]("is_month_end")))
      .sortBy(_._1.toEpochDay)
    // contiguous day coverage (this is what the fact scan lacks)
    assert(rs.sliding(2).forall {
      case Array(a, b) => b._1.toEpochDay === a._1.toEpochDay + 1
      case _ => true })
    val factDays = graft.sources.Tables.orders(s, d)
      .select(to_date(col("o_orderdate"))).distinct().count()
    assert(rs.length >= factDays.toInt, "gap days must be present")
    rs.foreach { case (dt, dow, y, mo, dom, q, ms, me) =>
      assert(dow === java.lang.Math.floorMod(dt.toEpochDay, 7L))
      assert(y === dt.getYear.toLong && mo === dt.getMonthValue.toLong)
      assert(dom === dt.getDayOfMonth.toLong)
      assert(q === ((dt.getMonthValue - 1) / 3 + 1).toLong)
      assert(ms === (if (dt.getDayOfMonth == 1) 1L else 0L))
      assert(me === (if (dt.getDayOfMonth == dt.lengthOfMonth) 1L else 0L))
    }
  }

  test("forecast interval: empirical band brackets ~80% of residuals") {
    val rs = graft.warehouse.Analytics.forecastInterval(s, d).collect()
      .map(r => (r.getAs[Long]("g"), r.getAs[Long]("lo"),
        r.getAs[Long]("hi"), r.getAs[Long]("covered")))
    // ≤30 calendar days; sparse feeds have gap days
    assert(rs.length >= 10 && rs.length <= 30)
    rs.foreach { case (g, lo, hi, cov) =>
      assert(lo <= hi)
      assert(cov === (if (g >= lo && g <= hi) 1L else 0L))
    }
    // the p10..p90 band should cover most (the quantiles are global,
    // the window is the tail — allow slack but demand signal)
    assert(rs.count(_._4 == 1L) >= rs.length / 2, "band lost coverage")
  }

  test("LTTB: the greedy largest-triangle selection replays on the driver") {
    val got = graft.warehouse.Analytics.downsampleLttb(s, d).collect()
      .sortBy(_.getAs[Long]("sel_idx"))
      .map(r => (r.getAs[Long]("day_idx"), r.getAs[Long]("gmv_cents")))
    val series = graft.sources.Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum((col("o_totalprice").cast(DecimalType(12, 2)) * 100)
        .cast("long")).as("y")).collect()
      .map(r => (r.getAs[java.sql.Date]("dt").toLocalDate.toEpochDay,
        r.getAs[Long]("y"))).sortBy(_._1)
    val n = series.length; val nb = 48
    val interior = series.slice(1, n - 1).zipWithIndex
      .map { case (p, i) => (i.toLong * nb / (n - 2), p) }
    val buckets = interior.groupBy(_._1).view
      .mapValues(_.map(_._2)).toMap
    var prev = series.head
    val sel = (0 until nb).map { b =>
      val anchor = if (b < nb - 1) {
        val np = buckets(b + 1L)
        (np.map(_._1).sum, np.map(_._2).sum, np.length.toLong)
      } else (series.last._1, series.last._2, 1L)
      val (ax, ay, am) = anchor
      val best = buckets(b.toLong).maxBy { case (x, y) =>
        val area = (BigInt(prev._1 * am - ax) * (y * am - ay) -
          BigInt(x * am - ax) * (prev._2 * am - ay)).abs
        (area, -x)
      }
      prev = best
      best
    }
    val expect = (series.head +: sel) :+ series.last
    assert(got.toSeq === expect.toSeq)
    // endpoints always kept, output is k points in day order
    assert(got.length === 50 && got.head === series.head &&
      got.last === series.last)
  }

  test("apportionment: allocations sum exactly to the budget, monotone in share") {
    val rs = graft.warehouse.Analytics.apportionBudget(s, d).collect()
      .map(r => (r.getString(0), r.getAs[Long]("gmv"),
        r.getAs[Long]("base"), r.getAs[Long]("bonus"),
        r.getAs[Long]("alloc")))
    assert(rs.map(_._5).sum === 1000000L, "Hamilton conservation")
    rs.foreach { case (_, _, base, bonus, alloc) =>
      assert(bonus === 0L || bonus === 1L)
      assert(alloc === base + bonus)
    }
    // a nation with strictly larger gmv never gets a smaller base
    val byGmv = rs.sortBy(_._2)
    assert(byGmv.sliding(2).forall {
      case Array(a, b) => a._3 <= b._3; case _ => true })
  }

  test("growth accounting: ΔMAU identity holds and statuses partition actives") {
    val rs = graft.warehouse.Analytics.growthAccounting(s, d).collect()
      .map(r => r.getAs[java.sql.Date]("m").toLocalDate ->
        (r.getAs[Long]("new_ct"), r.getAs[Long]("retained_ct"),
          r.getAs[Long]("resurrected_ct"), r.getAs[Long]("churned_ct"),
          r.getAs[Long]("mau"))).toMap
    val mau = graft.sources.Tables.orders(s, d)
      .select(col("o_custkey"),
        date_trunc("month", col("o_orderdate")).cast("date").as("m"))
      .distinct().groupBy("m").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getAs[java.sql.Date]("m").toLocalDate -> r.getAs[Long]("n"))
      .toMap
    rs.foreach { case (m, (nw, ret, res, chn, gm)) =>
      assert(gm === nw + ret + res, s"status partition at $m")
      assert(gm === mau.getOrElse(m, 0L), s"MAU at $m")
      val prev = mau.getOrElse(m.minusMonths(1), 0L)
      assert(gm - prev === nw + res - chn, s"ΔMAU identity at $m")
    }
    // churn and resurrection genuinely occur on this feed
    assert(rs.values.exists(_._4 > 0L) && rs.values.exists(_._3 > 0L))
  }

  test("revenue bridge: the waterfall conserves — effects sum to the true GMV delta") {
    val rs = graft.warehouse.Analytics.revenueBridge(s, d).collect()
      .map(r => r.getAs[java.sql.Date]("m").toString ->
        (r.getAs[Long]("volume_effect"), r.getAs[Long]("price_effect"),
          r.getAs[Long]("new_effect"), r.getAs[Long]("exit_effect"),
          r.getAs[Long]("delta_rev"))).toMap
    val monthly = graft.sources.Tables.lineitem(s, d)
      .groupBy(date_trunc("month", col("l_shipdate")).cast("date").as("m"))
      .agg(sum((col("l_extendedprice").cast(DecimalType(12, 2)) * 100)
        .cast("long")).as("r")).collect()
      .map(r => r.getAs[java.sql.Date]("m").toLocalDate ->
        r.getAs[Long]("r")).toMap
    rs.foreach { case (m, (v, p, n, x, dlt)) =>
      assert(dlt === v + p + n + x, s"additivity at $m")
      val cur = java.time.LocalDate.parse(m)
      val prev = cur.minusMonths(1)
      if (monthly.contains(cur) || monthly.contains(prev)) {
        val expect = monthly.getOrElse(cur, 0L) - monthly.getOrElse(prev, 0L)
        assert(dlt === expect, s"bridge at $m must equal the GMV delta")
      }
    }
    assert(rs.nonEmpty && rs.values.exists(_._1 != 0L))
  }

  test("holt-winters: the triple recurrence replays exactly on the driver") {
    val rs = graft.warehouse.Analytics.holtWinters(s, d).collect()
      .map(r => (r.getAs[java.sql.Date]("dt").toLocalDate.toEpochDay,
        r.getAs[Long]("g"), r.getAs[Long]("fitted"), r.getAs[Long]("lvl"),
        r.getAs[Long]("tr"))).sortBy(_._1)
    assert(rs.length > 100)
    var lvl = rs.head._2; var tr = 0L
    val sea = Array.fill(7)(0L)
    assert(rs.head._3 === rs.head._2 && rs.head._4 === lvl)
    rs.tail.foreach { case (ep, g, fitted, glvl, gtr) =>
      val dow = (ep % 7).toInt
      val expFit = lvl + tr + sea(dow)
      val lvl2 = ((g - sea(dow)) * 2 + (lvl + tr) * 6) >> 3
      val tr2 = ((lvl2 - lvl) * 2 + tr * 6) >> 3
      sea(dow) = ((g - lvl2) * 2 + sea(dow) * 6) >> 3
      assert(fitted === expFit, s"fitted at day $ep")
      assert(glvl === lvl2 && gtr === tr2, s"state at day $ep")
      lvl = lvl2; tr = tr2
    }
  }

  test("ABC-XYZ: matrix conserves parts, CV bands replay in BigInt") {
    val m = graft.warehouse.Analytics.abcXyzMatrix(s, d).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n_parts"))
      .toMap
    val nParts = graft.sources.Tables.lineitem(s, d)
      .select(col("l_partkey")).distinct().count()
    assert(m.values.sum === nParts, "every selling part lands in one cell")
    assert(m.keys.map(_._1).toSet.subsetOf(Set("A", "B", "C")))
    assert(m.keys.map(_._2).toSet.subsetOf(Set("X", "Y", "Z")))
    // replay the XYZ banding for a sample of parts
    val mon = graft.sources.Tables.lineitem(s, d)
      .groupBy(col("l_partkey"), date_trunc("month", col("l_shipdate")))
      .agg(sum(col("l_quantity").cast("long")).as("q")).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("q"))).groupBy(_._1)
    val xyzCounts = mon.values.map { xs =>
      val n = BigInt(xs.size); val sq = xs.map(x => BigInt(x._2)).sum
      val sqq = xs.map(x => BigInt(x._2) * x._2).sum
      val num = n * sqq - sq * sq
      if (num * 4 <= sq * sq) "X" else if (num <= sq * sq) "Y" else "Z"
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val gotXyz = m.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    assert(gotXyz === xyzCounts)
  }

  test("target encoding: LOO identity holds — sum of encodings ties to category moments") {
    val rs = graft.warehouse.Analytics.targetEncodeLoo(s, d).collect()
    assert(rs.length > 1)
    val raw = graft.sources.Tables.orders(s, d)
      .select(col("o_orderpriority"),
        (col("o_totalprice").cast(DecimalType(12, 2)) * 100)
          .cast("long")).collect()
      .map(r => (r.getString(0), r.getLong(1))).groupBy(_._1)
    rs.foreach { r =>
      val cat = r.getString(0)
      val xs = raw(cat).map(_._2)
      assert(r.getAs[Long]("n_orders") === xs.length.toLong)
      if (xs.length > 1) {
        val sx = xs.map(BigInt(_)).sum
        val loos = xs.map(x => ((sx - x) / (xs.length - 1)).toLong)
        assert(r.getAs[Long]("min_loo") === loos.min)
        assert(r.getAs[Long]("max_loo") === loos.max)
        assert(r.getAs[Long]("sum_loo") === loos.sum)
        // the encoding never leaks the row's own label: a category's
        // max LOO comes from its MIN row and vice versa
        assert(loos(xs.indexOf(xs.min)) === loos.max)
      }
    }
  }

  test("group k-fold: folds partition users and events, no group spans folds") {
    val rs = graft.operators.TextAnalysis.groupKFold(s, d).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("n_users"),
        r.getAs[Long]("n_events"), r.getAs[Long]("n_purchases")))
    val ev = graft.sources.Tables.events(s, d)
    assert(rs.map(_._2).sum === ev.select("user_id").distinct().count())
    assert(rs.map(_._3).sum === ev.count())
    assert(rs.map(_._4).sum ===
      ev.filter(col("event_type") === "purchase").count())
    assert(rs.forall(_._1 >= 0) && rs.forall(_._1 < 5))
  }

  test("skyline: kept rows are non-dominated, dropped rows are dominated") {
    val kept = graft.warehouse.Analytics.skyline(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(kept.nonEmpty)
    val all = graft.sources.Tables.part(s, d)
      .select(col("p_partkey"),
        (col("p_retailprice").cast(DecimalType(12, 2)) * 100)
          .cast("long"), col("p_size").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def dominates(q: (Long, Long, Long), p: (Long, Long, Long)) =
      q._2 <= p._2 && q._3 >= p._3 && (q._2 < p._2 || q._3 > p._3)
    val keptSet = kept.map(_._1).toSet
    all.foreach { p =>
      val dominated = all.exists(q => q._1 != p._1 && dominates(q, p))
      assert(keptSet.contains(p._1) === !dominated, s"part ${p._1}")
    }
  }

  test("SCD3: current/previous pair replays the per-user version order") {
    val got = graft.operators.Temporal.userValueScd3(s, d).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]),
        r.getLong(3))).toMap
    val versions = graft.sources.Tables.events(s, d)
      .filter(col("event_type") === "view")
      .groupBy(col("user_id"), unix_micros(col("ts")).as("us"))
      .agg(max(col("value")).as("v")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    versions.foreach { case (u, vs) =>
      val sorted = vs.sortBy(-_._2)
      val expectPrev = if (sorted.length > 1) Some(sorted(1)._3) else None
      assert(got(u) === ((sorted.head._3, expectPrev, sorted.head._2)))
    }
    assert(got.keySet === versions.keySet)
  }

  test("Mann-Whitney: tie-aware identity 2Ua + 2Ub = 2·na·nb, driver replay") {
    val r = graft.warehouse.Quality.mannWhitney(s, d).collect()(0)
    val na = r.getAs[Long]("n_a"); val nb = r.getAs[Long]("n_b")
    val u2a = r.getAs[Long]("u2_a"); val u2b = r.getAs[Long]("u2_b")
    assert(BigInt(u2a) + BigInt(u2b) === BigInt(2) * na * nb,
      "rank-sum conservation")
    // driver replay of 2U_a by pairwise comparison on a sample-free
    // exact basis (value-grouped to keep it quadratic in the DOMAIN)
    val rows = graft.sources.Tables.orders(s, d)
      .select((col("o_totalprice").cast(DecimalType(12, 2)) * 100)
        .cast("long").as("v"),
        (col("o_orderdate") < lit("1996-01-01").cast("timestamp")).as("a"))
      .collect().map(x => (x.getLong(0), x.getBoolean(1)))
    val byV = rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (v, xs) =>
        (v, xs.count(_._2).toLong, xs.count(!_._2).toLong) }
    var cb = 0L; var acc = BigInt(0)
    byV.foreach { case (_, a, b) =>
      acc += BigInt(a) * cb * 2 + BigInt(a) * b
      cb += b
    }
    assert(BigInt(u2a) === acc)
  }

  test("Wasserstein: exact numerator replays a driver CDF integral") {
    val r = graft.warehouse.Quality.wasserstein(s, d).collect()(0)
    val na = r.getAs[Long]("n_a"); val nb = r.getAs[Long]("n_b")
    val rows = graft.sources.Tables.orders(s, d)
      .select((col("o_totalprice").cast(DecimalType(12, 2)) * 100)
        .cast("long").as("v"),
        (col("o_orderdate") < lit("1996-01-01").cast("timestamp")).as("a"))
      .collect().map(x => (x.getLong(0), x.getBoolean(1)))
    val byV = rows.groupBy(_._1).toSeq.sortBy(_._1)
    var ca = 0L; var cb = 0L; var num = BigInt(0)
    byV.sliding(2).foreach {
      case Seq((v, xs), (vn, _)) =>
        ca += xs.count(_._2); cb += xs.count(!_._2)
        num += (BigInt(ca) * nb - BigInt(cb) * na).abs * (vn - v)
      case _ =>
    }
    assert(BigInt(r.getAs[Long]("w1_microcents")) ===
      num * 1000000 / (BigInt(na) * nb))
    assert(r.getAs[Long]("w1_microcents") >= 0L)
  }

  test("KS test: sup-norm replays a driver CDF sweep in BigInt") {
    val r = graft.warehouse.Quality.ksTest(s, d).collect()(0)
    val rows = graft.sources.Tables.orders(s, d)
      .select((col("o_totalprice").cast(DecimalType(12, 2)) * 100)
        .cast("long").as("v"),
        (col("o_orderdate") < lit("1996-01-01").cast("timestamp")).as("a"))
      .collect().map(x => (x.getLong(0), x.getBoolean(1)))
    val na = rows.count(_._2).toLong
    val nb = rows.length - na
    val byV = rows.groupBy(_._1).toSeq.sortBy(_._1)
    var ca = 0L; var cb = 0L; var dmax = BigInt(0)
    byV.foreach { case (_, xs) =>
      ca += xs.count(_._2); cb += xs.count(!_._2)
      val num = (BigInt(ca) * nb - BigInt(cb) * na).abs
      if (num > dmax) dmax = num
    }
    assert(r.getAs[Long]("na") === na && r.getAs[Long]("nb") === nb)
    assert(BigInt(r.getAs[Long]("d_num")) === dmax)
    assert(r.getAs[Long]("d_ppm") ===
      (dmax * 1000000 / (BigInt(na) * nb)).toLong)
    assert(r.getAs[Long]("d_ppm") >= 0L && r.getAs[Long]("d_ppm") <= 1000000L)
  }

  test("order reconcile: ppm drift replays in BigInt, envelope brackets the sum") {
    val r = graft.warehouse.Quality.orderReconcile(s, d).collect()(0)
    val li = graft.sources.Tables.lineitem(s, d)
      .select(col("l_orderkey"),
        (col("l_extendedprice").cast(DecimalType(12, 2)) * 100)
          .cast("long").as("ep"),
        (col("l_tax").cast(DecimalType(8, 4)) * 10000).cast("long").as("tx"),
        (col("l_discount").cast(DecimalType(8, 4)) * 10000).cast("long")
          .as("dc")).collect()
      .map(x => (x.getLong(0),
        BigInt(x.getLong(1)) * (10000 + x.getLong(2)) * (10000 - x.getLong(3))))
    val rev = li.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val drift = graft.sources.Tables.orders(s, d)
      .select(col("o_orderkey"),
        (col("o_totalprice").cast(DecimalType(12, 2)) * 100)
          .cast("long").as("tc")).collect()
      .flatMap { x =>
        rev.get(x.getLong(0)).map { rv =>
          val tp = BigInt(x.getLong(1)) * 100000000L
          val sign = if (tp >= rv) 1 else -1
          sign * ((tp - rv).abs * 1000000 / tp).toLong
        }
      }
    assert(r.getAs[Long]("n_orders") === drift.length.toLong)
    assert(r.getAs[Long]("min_ppm") === drift.min)
    assert(r.getAs[Long]("max_ppm") === drift.max)
    assert(r.getAs[Long]("sum_ppm") === drift.sum)
    assert(r.getAs[Long]("n_exact") === drift.count(_ == 0L).toLong)
  }

  test("exp smoothing: recurrence replays exactly, s stays inside the running envelope") {
    val rs = graft.warehouse.Analytics.expSmoothGmv(s, d).collect()
      .sortBy(_.getAs[java.sql.Date]("dt").toLocalDate.toEpochDay)
    assert(rs.nonEmpty)
    var prev = -1L
    rs.foreach { r =>
      val (g, sm) = (r.getAs[Long]("g"), r.getAs[Long]("s"))
      val expect = if (prev < 0) g else (g * 2 + prev * 6) >> 3
      assert(sm === expect, s"recurrence broke at ${r.get(0)}")
      prev = sm
    }
  }

  test("gdpr erase plan: cascade counts are consistent and exact") {
    val got = graft.warehouse.Quality.gdprErasePlan(s, d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val seed = graft.sources.Tables.customer(s, d)
      .filter(col("c_custkey") % 97 === 0)
    assert(got("customer") === seed.count())
    val orders = graft.sources.Tables.orders(s, d)
      .join(seed.select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left_semi")
    assert(got("orders") === orders.count())
    // every erased order's lineitems go: per-order fanout >= 1 row
    assert(got("lineitem") >= got("orders"))
    assert(got.keySet === Set("customer", "orders", "lineitem", "events"))
  }
  test("A/B test: flag replays the exact BigInt cross-multiplication, rates consistent") {
    val r = graft.warehouse.Analytics.abTest(s, d).collect()(0)
    val (n1, c1, n2, c2) = (r.getAs[Long]("n1"), r.getAs[Long]("c1"),
      r.getAs[Long]("n2"), r.getAs[Long]("c2"))
    assert(c1 <= n1 && c2 <= n2 && n1 > 0 && n2 > 0)
    assert(r.getAs[Long]("rate1_ppm") === c1 * 1000000L / n1)
    val k = BigInt(c1) * n2 - BigInt(c2) * n1
    val N = BigInt(n1 + n2); val C = BigInt(c1 + c2)
    val expectFlag =
      if (10000 * k * k * N > 38416 * C * (N - C) * n1 * n2) 1L else 0L
    assert(r.getAs[Long]("significant") === expectFlag)
  }

  test("A/B flag fires on a forged clearly-significant split (decimal path exercised)") {
    // run the same decimal expression shape through a tiny frame via
    // the public query on synthetic counts: replicate with SQL
    val row = s.sql(
      """SELECT CAST(10000 AS DECIMAL(38,0)) * k * k * CAST(n1+n2 AS DECIMAL(38,0))
        |  > CAST(38416 AS DECIMAL(38,0)) * CAST(c1+c2 AS DECIMAL(38,0))
        |    * CAST(n1+n2-c1-c2 AS DECIMAL(38,0)) * CAST(n1 AS DECIMAL(38,0))
        |    * CAST(n2 AS DECIMAL(38,0)) AS sig
        |FROM (SELECT 1000L AS n1, 500L AS c1, 1000L AS n2, 100L AS c2,
        |  CAST(500*1000 - 100*1000 AS DECIMAL(38,0)) AS k)""".stripMargin)
      .collect()(0)
    assert(row.getBoolean(0), "500/1000 vs 100/1000 must be significant")
  }

  test("linear attribution: full driver replay, credit conservation") {
    val got = graft.warehouse.Analytics.linearAttribution(s, d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val evs = graft.sources.Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val touches = Set("click", "view", "signup")
    val credit = scala.collection.mutable.Map[String, Long]()
      .withDefaultValue(0L)
    var nPurch = 0L
    evs.groupBy(_._1).values.foreach { userEvs =>
      val sorted = userEvs.sortBy(e => (e._2, e._3))
      val cnt = scala.collection.mutable.Map[String, Long]()
        .withDefaultValue(0L)
      sorted.foreach { e =>
        if (e._4 == "purchase") {
          nPurch += 1
          val nPrior = touches.toSeq.map(cnt).sum
          if (nPrior == 0) credit("none") += 1000000L
          else touches.foreach(t => credit(t) += cnt(t) * (1000000L / nPrior))
        }
        if (touches(e._4)) cnt(e._4) += 1
      }
    }
    assert(got === credit.toMap)
    val total = got.values.sum
    assert(total <= 1000000L * nPurch, "over-credited")
  }
  test("bitmap serving column: stored day bitmaps OR to the exact rolling WAU") {
    val viaBitmap = graft.warehouse.Sketched.bitmapRangeUv(s, d).collect()
      .map(r => r.getAs[java.sql.Date]("day").toString ->
        r.getAs[Long]("wau_ct")).toMap
    val viaDistinct = graft.warehouse.Analytics.rollingWau(s, d).collect()
      .map(r => r.getAs[java.sql.Date]("day").toString ->
        r.getAs[Long]("wau_ct")).toMap
    assert(viaBitmap === viaDistinct)
    // the wire format round-trips through SQL too: two known sets
    import s.implicits._
    val bms = Seq(1L -> 5L, 1L -> 7L, 2L -> 7L, 2L -> 9L).toDF("g", "id")
      .groupBy("g")
      .agg(org.apache.spark.sql.functions.call_function(
        "graft_bitmap_bytes", col("id"),
        org.apache.spark.sql.functions.lit(1024L)).as("bm"))
    val union = bms.agg(org.apache.spark.sql.functions.call_function(
      "graft_bitmap_or_count",
      org.apache.spark.sql.functions.collect_list(col("bm"))))
      .collect()(0).getLong(0)
    assert(union === 3L, "OR of {5,7} and {7,9} must count {5,7,9}")
  }
  test("hierarchy rollup: revenue is conserved to the roots, loud on a cycle") {
    val rs = graft.warehouse.Analytics.hierarchyRollup(s, d).collect()
    assert(rs.length === 10, "ten top-level categories")
    assert(rs.forall(r => { val t = r.getLong(0); t >= 1000 && t < 2000 }))
    val total = rs.map(_.getDouble(1)).sum
    val expect = graft.sources.Tables.lineitem(s, d)
      .agg(sum(graft.warehouse.Dwd.dec(col("l_extendedprice")) *
        (lit(1) - graft.warehouse.Dwd.dec(col("l_discount"))))
        .cast("double")).collect()(0).getDouble(0)
    assert(math.abs(total - expect) < 1e-6 * expect,
      s"climb lost revenue: $total vs $expect")
    // the depth budget fails loudly when rows cannot reach a root
    val e = intercept[IllegalArgumentException] {
      graft.warehouse.Analytics.hierarchyRollup(s, d, maxDepth = 1)
    }
    assert(e.getMessage.contains("still climbing"))
  }
  test("motif search: ranks dense, similarity bounded, exclusion zone respected") {
    val rs = graft.warehouse.Analytics.motifSearch(s, d).collect()
    assert(rs.nonEmpty && rs.length <= 5)
    assert(rs.map(_.getAs[Long]("rk")).sorted.toSeq ===
      (1L to rs.length).toSeq)
    rs.foreach(r => {
      val sim = r.getAs[Double]("sim")
      assert(sim >= -1.0 && sim <= 1.0 + 1e-9)
    })
    // no returned window may overlap the query window (trivial-match
    // exclusion): start_day + 2w - 2 < last day
    val lastDay = graft.sources.Tables.orders(s, d)
      .agg(max(to_date(col("o_orderdate")))).collect()(0)
      .getDate(0).toLocalDate
    rs.foreach(r => assert(r.getAs[java.sql.Date]("start_day")
      .toLocalDate.plusDays(12).isBefore(lastDay.minusDays(6).plusDays(1)),
      "window leaks into the exclusion zone"))
  }

  /** The exact daily GMV cents series, driver-side, for time-series
    * replays. */
  private def dailySeries(): Seq[(java.time.LocalDate, Long)] =
    graft.sources.Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum((col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long")).as("g"))
      .collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1)))
      .sortBy(_._1.toEpochDay)

  test("trend OLS: slope/intercept replay the closed form exactly") {
    val series = dailySeries()
    val xs = series.map(_._1.toEpochDay)
    val ys = series.map(_._2)
    val n = BigInt(series.length)
    val sx = xs.map(BigInt(_)).sum; val sy = ys.map(BigInt(_)).sum
    val sxy = xs.zip(ys).map { case (x, y) => BigInt(x) * y }.sum
    val sxx = xs.map(x => BigInt(x) * x).sum
    val slope = (n.toDouble * sxy.toDouble - sx.toDouble * sy.toDouble) /
      (n.toDouble * sxx.toDouble - sx.toDouble * sx.toDouble)
    val r = graft.warehouse.Analytics.trendOls(s, d).collect()(0)
    assert(r.getAs[Long]("n") === series.length)
    assert(math.abs(r.getAs[Double]("slope_cents_per_day") - slope) < 1e-4)
  }

  test("changepoint: argmax of the scaled CUSUM replays exactly") {
    val series = dailySeries()
    val n = series.length
    val tot = series.map(s => BigInt(s._2)).sum
    var cum = BigInt(0)
    val stats = series.zipWithIndex.map { case ((day, g), i) =>
      cum += g
      (day, BigInt(n) * cum - BigInt(i + 1) * tot)
    }
    val best = stats.minBy { case (day, sk) => (-sk.abs, day.toEpochDay) }
    val r = graft.warehouse.Analytics.changepointCusum(s, d).collect()(0)
    assert(r.getAs[java.sql.Date]("change_day").toLocalDate === best._1)
    assert(BigInt(r.getAs[Long]("cusum_stat")) === best._2)
    assert(r.getAs[Long]("n_days") === n.toLong)
  }

  test("seasonality: days partition the calendar, ppm is the exact floor ratio") {
    val rs = graft.warehouse.Analytics.seasonalityDow(s, d).collect()
    assert(rs.length <= 7 && rs.map(_.getAs[Long]("dow")).distinct.length
      === rs.length)
    val series = dailySeries()
    assert(rs.map(_.getAs[Long]("n_days")).sum === series.length.toLong)
    val avgAll = series.map(_._2).sum / series.length
    rs.foreach { r =>
      assert(r.getAs[Long]("index_ppm") ===
        r.getAs[Long]("avg_cents") * 1000000L / avgAll)
    }
  }

  test("price CDF: monotone in the probe, ppm bounded, counts replayed") {
    val rs = graft.warehouse.Analytics.priceCdf(s, d).collect()
      .sortBy(_.getAs[Long]("probe_dollars"))
    assert(rs.length === 5)
    val n = graft.sources.Tables.orders(s, d).count()
    var prev = -1L
    rs.foreach { r =>
      val le = r.getAs[Long]("le_ct")
      assert(le >= prev && le <= n); prev = le
      assert(r.getAs[Long]("cdf_ppm") === le * 1000000L / n)
    }
  }

  test("stickiness: DAU <= MAU, ppm bounded, every active day present") {
    val rs = graft.warehouse.Analytics.stickiness(s, d).collect()
    val days = graft.sources.Tables.events(s, d)
      .select(to_date(col("ts"))).distinct().count()
    assert(rs.length === days)
    rs.foreach { r =>
      assert(r.getAs[Long]("dau_ct") <= r.getAs[Long]("mau_ct"))
      assert(r.getAs[Long]("stickiness_ppm") <= 1000000L)
      assert(r.getAs[Long]("stickiness_ppm") ===
        r.getAs[Long]("dau_ct") * 1000000L / r.getAs[Long]("mau_ct"))
    }
  }

  test("decomposition: components tie back to their own graded queries") {
    val rs = graft.warehouse.Analytics.decomposeGmv(s, d).collect()
    // identity holds row-wise by construction; the real check is that
    // each component equals the standalone operator's output
    val trend = graft.warehouse.Analytics.holtTrendGmv(s, d).collect()
      .map(r => r.getDate(0).toLocalDate -> r.getAs[Long]("level")).toMap
    val season = graft.warehouse.Analytics.seasonalityDow(s, d).collect()
      .map(r => r.getAs[Long]("dow") -> r.getAs[Long]("avg_cents")).toMap
    val avgAll = {
      val sr = dailySeries(); sr.map(_._2).sum / sr.length
    }
    rs.foreach { r =>
      val day = r.getDate(0).toLocalDate
      assert(r.getAs[Long]("trend_cents") === trend(day))
      val dow = day.getDayOfWeek.getValue % 7 + 1 // Spark: Sunday=1
      assert(r.getAs[Long]("seasonal_cents") === season(dow.toLong) - avgAll)
      assert(r.getAs[Long]("residual_cents") ===
        r.getAs[Long]("g") - r.getAs[Long]("trend_cents") -
          r.getAs[Long]("seasonal_cents"))
    }
  }

  test("abandon rate: day cells replay a brute-force interval anti-join") {
    val rs = graft.warehouse.Analytics.abandonRate(s, d).collect()
      .map(r => r.getDate(0).toLocalDate ->
        (r.getAs[Long]("n_clicks"), r.getAs[Long]("n_abandoned"),
          r.getAs[Long]("abandon_ppm"))).toMap
    val ev = graft.sources.Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val buys = ev.filter(_._2 == "purchase").groupBy(_._1)
      .view.mapValues(_.map(_._3)).toMap
    val clicks = ev.filter(_._2 == "click")
    val expect = clicks.groupBy { case (_, _, us) =>
      java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L))
        .atZone(java.time.ZoneOffset.UTC).toLocalDate
    }.map { case (day, cs) =>
      val ab = cs.count { case (u, _, cus) =>
        !buys.getOrElse(u, Array.empty[Long])
          .exists(p => p >= cus && p <= cus + 3600000000L)
      }
      day -> (cs.length.toLong, ab.toLong,
        ab.toLong * 1000000L / cs.length)
    }
    assert(rs === expect)
  }

  test("abc classification: distributed prefix sum replays the driver scan") {
    val rs = graft.warehouse.Analytics.abcParts(s, d).collect()
      .map(r => r.getAs[String]("abc_class") ->
        (r.getAs[Long]("n_parts"), r.getAs[Long]("rev_e4")))
      .toMap
    val rev = graft.sources.Tables.lineitem(s, d)
      .groupBy(col("l_partkey"))
      .agg(sum((col("l_extendedprice").cast("decimal(12,2)") *
        (lit(1) - col("l_discount").cast("decimal(12,2)")) * 10000)
        .cast("long")).as("x"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (pk, x) => (-x, pk) }
    val tot = rev.map(_._2).sum
    var cum = 0L
    val expect = rev.map { case (_, x) =>
      cum += x
      val cls = if (cum * 5 <= tot * 4) "A"
        else if (cum * 20 <= tot * 19) "B" else "C"
      (cls, x)
    }.groupBy(_._1).view
      .mapValues(xs => (xs.length.toLong, xs.map(_._2).sum)).toMap
    assert(rs === expect)
    // every part classified exactly once; class revenue covers total
    assert(rs.values.map(_._2).sum === tot)
  }

  test("kpi summary: every number ties to its owning aggregate") {
    val r = graft.warehouse.Analytics.kpiSummary(s, d).collect()(0)
    val o = graft.sources.Tables.orders(s, d)
    assert(r.getAs[Long]("n_orders") === o.count())
    assert(r.getAs[Long]("n_customers") ===
      o.select("o_custkey").distinct().count())
    val gmv = o.agg(sum((col("o_totalprice").cast("decimal(12,2)") * 100)
      .cast("long"))).collect()(0).getLong(0)
    assert(r.getAs[Long]("gmv_cents") === gmv)
    assert(r.getAs[Long]("aov_cents") === gmv / o.count())
    val ev = graft.sources.Tables.events(s, d)
    assert(r.getAs[Long]("uv") ===
      ev.select("user_id").distinct().count())
    assert(r.getAs[Long]("purchase_uv") ===
      ev.filter(col("event_type") === "purchase")
        .select("user_id").distinct().count())
  }

  test("sla attainment: bands monotone and replay the delay scan") {
    val rs = graft.warehouse.Analytics.slaAttainment(s, d).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_items"),
        r.getAs[Long]("within_30d"), r.getAs[Long]("within_60d"),
        r.getAs[Long]("within_90d"))).toMap
    val lo = graft.sources.Tables.lineitem(s, d)
      .select(col("l_orderkey"), to_date(col("l_shipdate")).as("sd"))
      .join(graft.sources.Tables.orders(s, d)
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od"),
          col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        datediff(col("sd"), col("od")).cast("long")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val expect = lo.groupBy(_._1).view.mapValues { xs =>
      (xs.length.toLong, xs.count(_._2 <= 30).toLong,
        xs.count(_._2 <= 60).toLong, xs.count(_._2 <= 90).toLong)
    }.toMap
    assert(rs === expect)
    rs.values.foreach { case (n, a, b, c) =>
      assert(a <= b && b <= c && c <= n)
    }
  }

  test("dow-hour heatmap: cells replay and shares cover the corpus") {
    val rs = graft.warehouse.Analytics.dowHourHeatmap(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("cents"))).toMap
    val ev = graft.sources.Tables.events(s, d)
      .select(dayofweek(col("ts")).cast("long"), hour(col("ts")).cast("long"),
        (col("value").cast("decimal(12,2)") * 100).cast("long")).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
    val expect = ev.groupBy(_._1).view.mapValues(xs =>
      (xs.length.toLong, xs.map(_._2).sum)).toMap
    assert(rs === expect)
    assert(rs.values.map(_._1).sum === ev.length.toLong)
  }

  test("promo lift: in/out tagging replays and accounting closes") {
    val r = graft.warehouse.Analytics.promoLift(s, d).collect()(0)
    val ev = graft.sources.Tables.events(s, d)
      .select(to_date(col("ts")),
        (col("value").cast("decimal(12,2)") * 100).cast("long")).collect()
      .map(x => (x.getDate(0).toLocalDate, x.getLong(1)))
    val daily = ev.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val months = ev.map(_._1.withDayOfMonth(1)).toSet
    def inPromo(day: java.time.LocalDate) = {
      val m0 = day.withDayOfMonth(1)
      months.contains(m0) && !day.isBefore(m0) &&
        day.isBefore(m0.plusDays(10))
    }
    val (promo, base) = daily.partition { case (day, _) => inPromo(day) }
    assert(r.getAs[Long]("promo_days") === promo.size.toLong)
    assert(r.getAs[Long]("base_days") === base.size.toLong)
    assert(r.getAs[Long]("promo_cents") === promo.values.sum)
    assert(r.getAs[Long]("base_cents") === base.values.sum)
    val ppd = promo.values.sum / promo.size
    val bpd = base.values.sum / base.size
    assert(r.getAs[Long]("lift_ppm") === ppd * 1000000L / bpd)
  }

  test("first-touch attribution: origin channel replays, totals match last-touch") {
    val first = graft.warehouse.Analytics.firstTouchAttribution(s, d)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("purchases")).toMap
    val last = graft.warehouse.Analytics.lastTouchAttribution(s, d)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("purchases")).toMap
    // both views partition the same purchase set
    assert(first.values.sum === last.values.sum)
    // driver replay
    val ev = graft.sources.Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val touches = ev.filter(x => Set("click", "view", "signup")(x._2))
      .groupBy(_._1).view
      .mapValues(_.toSeq.sortBy(x => (x._3, x._4))).toMap
    val expect = ev.filter(_._2 == "purchase").map { case (u, _, pus, _) =>
      touches.getOrElse(u, Seq.empty[(Long, String, Long, Long)])
        .find(_._3 <= pus).map(_._2).getOrElse("none")
    }.groupBy(x => x).view.mapValues(_.length.toLong).toMap
    assert(first === expect)
  }

  test("streaks: islands replay the driver run-length scan") {
    val rs = graft.warehouse.Analytics.activityStreaks(s, d).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("longest_streak"),
        r.getAs[Long]("n_streaks"), r.getAs[Long]("active_days"))).toMap
    val ev = graft.sources.Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts"))).collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate.toEpochDay))
    val expect = ev.distinct.groupBy(_._1).map { case (u, xs) =>
      val ds = xs.map(_._2).sorted
      var lens = List.empty[Long]; var cur = 0L; var prev = Long.MinValue
      ds.foreach { dy =>
        if (dy == prev + 1) cur += 1 else { if (cur > 0) lens ::= cur; cur = 1 }
        prev = dy
      }
      if (cur > 0) lens ::= cur
      u -> (lens.max, lens.size.toLong, ds.size.toLong)
    }
    assert(rs === expect)
    // streak accounting closes: Σ streak lengths == distinct days
    rs.foreach { case (_, (lo, _, tot)) => assert(lo <= tot) }
  }

  test("retention flags: gated conditions replay the per-user day fold") {
    val r = graft.warehouse.Analytics.retentionFlags(s, d).collect()(0)
    val ev = graft.sources.Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts"))).collect()
      .map(x => (x.getLong(0), x.getDate(1).toLocalDate.toEpochDay))
    val perUser = ev.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def within(k: Int) = perUser.values.count { ds =>
      val d0 = ds.min; ds.exists(x => x > d0 && x <= d0 + k)
    }.toLong
    assert(r.getAs[Long]("n_users") === perUser.size.toLong)
    assert(r.getAs[Long]("n_within_3d") === within(3))
    assert(r.getAs[Long]("n_within_7d") === within(7))
    assert(r.getAs[Long]("n_within_14d") === within(14))
    assert(r.getAs[Long]("r14_ppm") ===
      within(14) * 1000000L / perUser.size)
    // gating is monotone: wider horizons can only add users
    assert(r.getAs[Long]("n_within_3d") <= r.getAs[Long]("n_within_7d"))
    assert(r.getAs[Long]("n_within_7d") <= r.getAs[Long]("n_within_14d"))
  }

  test("argmax daily: winner replays the deterministic tie-break") {
    val rs = graft.warehouse.Analytics.argMaxDaily(s, d).collect()
      .map(r => r.getDate(0).toLocalDate ->
        (r.getAs[Long]("top_user"), r.getAs[Long]("top_value_cents"))).toMap
    val ev = graft.sources.Tables.events(s, d)
      .select(to_date(col("ts")), col("user_id"),
        (col("value").cast("decimal(12,2)") * 100).cast("long")).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1), r.getLong(2)))
    val expect = ev.groupBy(_._1).view.mapValues { xs =>
      val best = xs.minBy { case (_, u, v) => (-v, u) }
      (best._2, best._3)
    }.toMap
    assert(rs === expect)
  }

  test("mix trend: cells replay and monthly shares close to one million") {
    val rs = graft.warehouse.Analytics.mixTrend(s, d).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("cents"), r.getAs[Long]("share_ppm"))).toMap
    val orders = graft.sources.Tables.orders(s, d)
      .select(to_date(col("o_orderdate")).as("od"), col("o_orderpriority"),
        (col("o_totalprice").cast("decimal(12,2)") * 100).cast("long"))
      .collect()
      .map(r => (r.getDate(0).toLocalDate, r.getString(1), r.getLong(2)))
    val cells = orders.groupBy { case (od, p, _) =>
      (f"${od.getYear}%04d-${od.getMonthValue}%02d", p)
    }.view.mapValues(_.map(_._3).sum).toMap
    assert(rs.view.mapValues(_._1).toMap === cells)
    val monthTot = cells.groupBy(_._1._1).view
      .mapValues(_.values.sum).toMap
    rs.foreach { case ((ym, p), (cents, ppm)) =>
      assert(ppm === cents * 1000000L / monthTot(ym))
    }
    // per month, floor shares sum within n_priorities of 1e6
    rs.keys.groupBy(_._1).foreach { case (ym, ks) =>
      val tot = ks.map(k => rs(k)._2).sum
      assert(tot <= 1000000L && tot > 1000000L - ks.size)
    }
  }

  test("top movers: global top-20 replays the per-month rank deltas") {
    val rs = graft.warehouse.Analytics.topMovers(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("prev_rk"),
        r.getAs[Long]("rk"), r.getAs[Long]("rank_delta")))
    val rev = graft.sources.Tables.lineitem(s, d)
      .join(graft.sources.Tables.orders(s, d),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy((year(to_date(col("o_orderdate"))) * 12 +
        month(to_date(col("o_orderdate")))).cast("long").as("mi"),
        col("l_partkey"))
      .agg(sum((col("l_extendedprice").cast("decimal(12,2)") *
        (lit(1) - col("l_discount").cast("decimal(12,2)")) * 10000)
        .cast("long")).as("x"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val ranks: Map[(Long, Long), Long] =
      rev.groupBy(_._1).toSeq.flatMap { case (mi, xs) =>
        xs.sortBy { case (_, pk, x) => (-x, pk) }.zipWithIndex
          .map { case ((_, pk, _), i) => (mi, pk) -> (i + 1).toLong }
      }.toMap
    val movers = ranks.keys.toSeq.flatMap { case (mi, pk) =>
      ranks.get((mi - 1, pk)).map { prev =>
        val cur = ranks((mi, pk))
        (mi, pk, prev, cur, prev - cur)
      }
    }.sortBy { case (mi, pk, _, _, dl) => (-math.abs(dl), mi, pk) }
      .take(20)
    assert(rs.toSeq === movers)
  }

  test("percent rank: matches SQL percent_rank in exact ppm, bounds exact") {
    val rs = graft.warehouse.Analytics.percentRankSpend(s, d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getAs[Long]("rk"),
        r.getAs[Long]("prank_ppm"))).toMap
    val spend = graft.sources.Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum((col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long")).as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (ck, c) => (c, ck) }
    val n = spend.length
    spend.zipWithIndex.foreach { case ((ck, c), i) =>
      val (cents, rk, ppm) = rs(ck)
      assert(cents === c)
      assert(rk === i + 1L)
      assert(ppm === i.toLong * 1000000L / (n - 1))
    }
    assert(rs.values.map(_._3).min === 0L)
    assert(rs.values.map(_._3).max === 1000000L)
  }

  test("cross-field audit: rules replay and causality violations are visible") {
    val rs = graft.warehouse.Quality.crossFieldAudit(s, d).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_checked"),
        r.getAs[Long]("n_violations"), r.getAs[Long]("viol_ppm"))).toMap
    assert(rs.keySet === Set("ship_before_order", "ship_gap_over_90d",
      "event_value_range", "nonpositive_totalprice"))
    val lo = graft.sources.Tables.lineitem(s, d)
      .select(col("l_orderkey"), to_date(col("l_shipdate")).as("sd"))
      .join(graft.sources.Tables.orders(s, d)
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od")),
        col("l_orderkey") === col("o_orderkey"))
      .collect().map(r => (r.getDate(1).toLocalDate, r.getDate(3).toLocalDate))
    assert(rs("ship_before_order")._1 === lo.length.toLong)
    assert(rs("ship_before_order")._2 ===
      lo.count { case (sd, od) => sd.isBefore(od) }.toLong)
    assert(rs("ship_gap_over_90d")._2 ===
      lo.count { case (sd, od) => sd.toEpochDay - od.toEpochDay > 90 }.toLong)
    // the synthetic generator does NOT enforce ship >= order: the
    // audit's job is to surface that, and zero-violation rules report
    assert(rs("ship_before_order")._2 > 0L)
    assert(rs("nonpositive_totalprice")._2 === 0L)
    rs.values.foreach { case (n, v, ppm) =>
      assert(ppm === v * 1000000L / n)
    }
  }

  test("rfm buckets: formula-independent invariants (size, coverage, contiguity)") {
    // the DuckDB oracle mirrors the engine's ⌊rank·k/n⌋+1 cut
    // literally (r10), so a bug in the formula would be invisible to
    // the gate; these invariants hold for ANY correct equi-width
    // bucketing and are checked against the raw data, not the formula
    val rows = graft.warehouse.Analytics.rfm(s, d).collect()
    val n = rows.length
    for ((key, bname) <- Seq[(org.apache.spark.sql.Row => (Long, Long), String)](
        (r => (r.getAs[java.sql.Date]("last_order").toLocalDate.toEpochDay,
          r.getAs[Long]("customer_id")), "r_bucket"),
        (r => (r.getAs[Long]("frequency"),
          r.getAs[Long]("customer_id")), "f_bucket"),
        (r => (math.round(r.getAs[Double]("monetary") * 100),
          r.getAs[Long]("customer_id")), "m_bucket"))) {
      val byBucket = rows.groupBy(_.getAs[Long](bname))
      // k non-empty buckets for n >= k
      assert(n < 4 || byBucket.keySet === Set(1L, 2L, 3L, 4L),
        s"$bname coverage")
      // sizes differ by at most 1
      val sizes = byBucket.values.map(_.length).toSeq
      assert(sizes.max - sizes.min <= 1, s"$bname sizes $sizes")
      // contiguous in the (key, customer_id) total order
      val ordered = rows.sortBy(key).map(_.getAs[Long](bname))
      assert(ordered.sliding(2).forall {
        case Array(a, b) => a <= b; case _ => true }, s"$bname contiguity")
    }
  }

  test("rfm migration: matrix conserves customers and replays the quartiling") {
    val cells = graft.warehouse.Analytics.rfmMigration(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("n_customers"))
      .toMap
    val orders = graft.sources.Tables.orders(s, d)
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("od"),
        (col("o_totalprice").cast("decimal(12,2)") * 100).cast("long"))
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate, r.getLong(2)))
    val dmin = orders.map(_._2.toEpochDay).min
    val dmax = orders.map(_._2.toEpochDay).max
    def segs(half: Int): Map[Long, Long] = {
      val spend = orders.filter { case (_, od, _) =>
        val inFirst = (od.toEpochDay - dmin) * 2 <= (dmax - dmin)
        if (half == 1) inFirst else !inFirst
      }.groupBy(_._1).view.mapValues(_.map(_._3).sum).toSeq
        .sortBy { case (ck, cents) => (cents, ck) }
      val n = spend.length
      // ntile(4): first (n mod 4) buckets get ceil(n/4)
      spend.zipWithIndex.map { case ((ck, _), i) =>
        val base = n / 4; val rem = n % 4
        val cut = rem * (base + 1)
        val seg = if (i < cut) i / (base + 1) else rem + (i - cut) / base
        ck -> (seg + 1).toLong
      }.toMap
    }
    val s1 = segs(1); val s2 = segs(2)
    val expect = (s1.keySet ++ s2.keySet).toSeq
      .map(ck => (s1.getOrElse(ck, 0L), s2.getOrElse(ck, 0L)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(cells === expect)
    assert(cells.values.sum === (s1.keySet ++ s2.keySet).size.toLong)
  }

  test("repeat rate: month cells replay the per-customer counts") {
    val rs = graft.warehouse.Analytics.repeatRate(s, d).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("n_customers"), r.getAs[Long]("n_repeat"))).toMap
    val orders = graft.sources.Tables.orders(s, d)
      .select(to_date(col("o_orderdate")).as("od"), col("o_custkey"))
      .collect().map(r => (r.getDate(0).toLocalDate, r.getLong(1)))
    val expect = orders.groupBy { case (od, ck) =>
      (f"${od.getYear}%04d-${od.getMonthValue}%02d", ck)
    }.toSeq.map { case ((ym, _), xs) => (ym, xs.length) }
      .groupBy(_._1).view.mapValues(xs =>
        (xs.length.toLong, xs.count(_._2 >= 2).toLong)).toMap
    assert(rs === expect)
  }

  test("holt backtest: error stats replay from the smoothed series") {
    val holt = graft.warehouse.Analytics.holtTrendGmv(s, d).collect()
      .sortBy(_.getDate(0).toLocalDate.toEpochDay)
    val aligned = holt.zip(holt.drop(1)).map { case (cur, nxt) =>
      (cur.getAs[Long]("forecast_next"), nxt.getAs[Long]("g"),
        cur.getAs[Long]("g"))
    }
    val r = graft.warehouse.Analytics.holtBacktest(s, d).collect()(0)
    assert(r.getAs[Long]("n_days") === aligned.length.toLong)
    val sae = aligned.map(a => (a._1 - a._2).abs).sum
    assert(r.getAs[Long]("mae_cents") === sae / aligned.length)
    assert(r.getAs[Long]("bias_sum_cents") ===
      aligned.map(a => a._1 - a._2).sum)
    val hits = aligned.count(a =>
      (a._1 > a._3 && a._2 > a._3) || (a._1 <= a._3 && a._2 <= a._3))
    assert(r.getAs[Long]("dir_hit_ppm") ===
      hits * 1000000L / aligned.length)
  }

  test("diff-in-diff: cells partition the table, estimate replays the floor-div identity") {
    val r = graft.warehouse.Analytics.diffInDiff(s, d).collect()(0)
    val n = graft.sources.Tables.orders(s, d).count()
    assert(r.getAs[Long]("n_t_pre") + r.getAs[Long]("n_t_post") +
      r.getAs[Long]("n_c_pre") + r.getAs[Long]("n_c_post") === n)
    assert(r.getAs[Long]("did_cents") ===
      (r.getAs[Long]("avg_t_post") - r.getAs[Long]("avg_t_pre")) -
        (r.getAs[Long]("avg_c_post") - r.getAs[Long]("avg_c_pre")))
  }

  test("holt trend: recurrence replays exactly, forecast = level + trend") {
    val rs = graft.warehouse.Analytics.holtTrendGmv(s, d).collect()
      .sortBy(_.getDate(0).toLocalDate.toEpochDay)
    val series = dailySeries()
    assert(rs.length === series.length)
    var sPrev = 0L; var bPrev = 0L
    rs.zip(series).zipWithIndex.foreach { case ((r, (day, g)), i) =>
      assert(r.getDate(0).toLocalDate === day)
      assert(r.getAs[Long]("g") === g)
      val sNew = if (i == 0) g else (g + (sPrev + bPrev) * 3) >> 2
      val bNew = if (i == 0) 0L else ((sNew - sPrev) + bPrev * 3) >> 2
      assert(r.getAs[Long]("level") === sNew, s"level at $day")
      assert(r.getAs[Long]("trend") === bNew, s"trend at $day")
      assert(r.getAs[Long]("forecast_next") === sNew + bNew)
      sPrev = sNew; bPrev = bNew
    }
  }

  test("cohort LTV: revenue conserved, curves monotone, cohorts partition customers") {
    val rs = graft.warehouse.Analytics.cohortLtv(s, d).collect()
    val totalCents = graft.sources.Tables.orders(s, d)
      .agg(sum((col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long"))).collect()(0).getLong(0)
    // the last offset's cumulative per cohort sums to the table total
    val lastPerCohort = rs.groupBy(_.getAs[Long]("cohort_ym")).map {
      case (_, rows) => rows.maxBy(_.getAs[Long]("offset_m"))
        .getAs[Long]("cum_rev_cents")
    }
    assert(lastPerCohort.sum === totalCents)
    // monotone within each cohort
    rs.groupBy(_.getAs[Long]("cohort_ym")).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("offset_m"))
        .map(_.getAs[Long]("cum_rev_cents"))
      assert(sorted.sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
    }
    // cohort sizes partition the customer base
    val nCust = graft.sources.Tables.orders(s, d)
      .select("o_custkey").distinct().count()
    val sizes = rs.groupBy(_.getAs[Long]("cohort_ym")).map {
      case (_, rows) => rows.head.getAs[Long]("cohort_users") }
    assert(sizes.sum === nCust)
  }

  test("churn hazard: at-risk telescopes from the full population, censoring respected") {
    val rs = graft.warehouse.Analytics.churnHazard(s, d).collect()
      .sortBy(_.getAs[Long]("week"))
    val users = graft.sources.Tables.events(s, d)
      .select("user_id").distinct().count()
    // the earliest OBSERVED tenure week's at-risk set is everyone
    // (weeks where no lifetime ends simply don't emit a row)
    assert(rs.head.getAs[Long]("at_risk") === users)
    // at-risk never grows with tenure; hazard replays the floor-div
    rs.sliding(2).foreach { p =>
      if (p.length == 2)
        assert(p(0).getAs[Long]("at_risk") >= p(1).getAs[Long]("at_risk"))
    }
    rs.foreach { r =>
      assert(r.getAs[Long]("churn_ct") <= r.getAs[Long]("at_risk"))
      assert(r.getAs[Long]("hazard_ppm") ===
        r.getAs[Long]("churn_ct") * 1000000L / r.getAs[Long]("at_risk"))
    }
  }

  test("calendar gaps: gaps + observed partition the span, no false gaps") {
    val gaps = graft.warehouse.Analytics.calendarGaps(s, d).collect()
      .map(_.getDate(0).toLocalDate).toSet
    val observed = dailySeries().map(_._1).toSet
    val span = (observed.map(_.toEpochDay).min to
      observed.map(_.toEpochDay).max).map(java.time.LocalDate.ofEpochDay)
    assert((gaps & observed).isEmpty)
    assert(gaps.size + observed.size === span.length)
    assert(gaps.forall(g => span.contains(g)))
  }

  test("gmv jumps: every flag replays the integer cross-multiplication") {
    val series = dailySeries()
    val expect = series.zip(series.drop(1)).collect {
      case ((_, prev), (day, g))
        if (g - prev).abs * 10 > prev * 3 =>
          (day, g, prev, if (g > prev) "up" else "down")
    }.toSet
    val rs = graft.warehouse.Analytics.gmvJumps(s, d).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    assert(rs === expect)
  }

  test("lorenz: ten convex points ending at exactly 1e6 ppm") {
    val rs = graft.warehouse.Analytics.lorenzSpend(s, d).collect()
      .sortBy(_.getAs[Long]("decile"))
    assert(rs.map(_.getAs[Long]("decile")).toSeq === (1L to 10L))
    val cums = rs.map(_.getAs[Long]("cum_share_ppm"))
    assert(cums.last === 1000000L)
    assert(cums.sliding(2).forall(p => p(0) <= p(1)), "not monotone")
    // convexity: ascending-sorted deciles give nondecreasing increments
    val incs = (cums.head +: cums.sliding(2).map(p => p(1) - p(0)).toSeq)
    assert(incs.sliding(2).forall(p => p(0) <= p(1) + 1), "not convex")
    val n = graft.sources.Tables.orders(s, d)
      .select("o_custkey").distinct().count()
    assert(rs.map(_.getAs[Long]("cust_ct")).sum === n)
  }

  test("gini: exact BigInt replay of the rank-weighted formula") {
    val spend = graft.sources.Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(sum((col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long")).as("x"))
      .collect().map(r => (r.getLong(1), r.getLong(0)))
      .sortBy(identity)
    val n = BigInt(spend.length)
    val sx = spend.map(p => BigInt(p._1)).sum
    val six = spend.zipWithIndex.map { case ((x, _), i) =>
      BigInt(i + 1) * x }.sum
    val expect = (BigInt(2) * six - (n + 1) * sx) * 1000000 / (n * sx)
    val r = graft.warehouse.Analytics.giniSpend(s, d).collect()(0)
    assert(r.getAs[Long]("n") === spend.length.toLong)
    assert(BigInt(r.getAs[Long]("gini_ppm")) === expect)
    assert(expect >= 0 && expect < 1000000)
  }

  test("hhi: exact BigInt replay, bounded by [1e6/n, 1e6]") {
    val r = graft.warehouse.Analytics.hhiSupplier(s, d).collect()(0)
    val xs = graft.sources.Tables.lineitem(s, d)
      .groupBy("l_suppkey")
      .agg(sum((col("l_extendedprice").cast("decimal(12,2)") *
        (lit(1) - col("l_discount").cast("decimal(12,2)")) * 10000)
        .cast("long")).as("x"))
      .collect().map(r2 => BigInt(r2.getLong(1)))
    val sx = xs.sum
    val expect = xs.map(x => x * x).sum * 1000000 / (sx * sx)
    assert(r.getAs[Long]("n_suppliers") === xs.length.toLong)
    assert(BigInt(r.getAs[Long]("hhi_ppm")) === expect)
    // perfectly even → 1e6/n; single supplier → 1e6
    assert(expect >= 1000000 / xs.length && expect <= 1000000)
  }

  test("ship latency: per-priority quantiles ordered and inside the delay range") {
    val rs = graft.warehouse.Analytics.shipLatency(s, d).collect()
    assert(rs.nonEmpty && rs.length <= 5)
    val mm = graft.sources.Tables.lineitem(s, d)
      .join(graft.sources.Tables.orders(s, d),
        col("l_orderkey") === col("o_orderkey"))
      .select(datediff(to_date(col("l_shipdate")),
        to_date(col("o_orderdate"))).cast("double").as("dl"))
      .agg(min("dl"), max("dl")).collect()(0)
    rs.foreach { r =>
      val (p50, p90, p99) = (r.getAs[Double]("p50"),
        r.getAs[Double]("p90"), r.getAs[Double]("p99"))
      assert(p50 <= p90 && p90 <= p99, s"quantiles out of order: $r")
      assert(p50 >= mm.getDouble(0) && p99 <= mm.getDouble(1))
    }
  }

  test("open orders: sweep-line depth is nonnegative and drains to zero") {
    val rs = graft.warehouse.Analytics.openOrders(s, d)
      .orderBy("day").collect()
    assert(rs.nonEmpty)
    val depths = rs.map(_.getAs[Long]("n_open"))
    assert(depths.forall(_ >= 0L), "depth went negative")
    assert(depths.last === 0L, "book did not drain after the last close")
    val nOrders = graft.sources.Tables.orders(s, d).count()
    assert(depths.max <= nOrders)
    // depth on a probe day equals the direct interval-stabbing count
    val probe = rs(rs.length / 2)
    val day = probe.getAs[java.sql.Date]("day")
    val direct = graft.sources.Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(max(to_date(col("l_shipdate"))).as("close_d"))
      .join(graft.sources.Tables.orders(s, d),
        col("o_orderkey") === col("l_orderkey"))
      .filter(to_date(col("o_orderdate")) <= lit(day) &&
        greatest(col("close_d"), to_date(col("o_orderdate"))) >= lit(day))
      .count()
    assert(probe.getAs[Long]("n_open") === direct)
  }

  test("rolling corr: complete windows only, values inside [-1, 1]") {
    val rs = graft.warehouse.Analytics.rollingCorr(s, d).collect()
    val nDays = graft.sources.Tables.orders(s, d)
      .select(to_date(col("o_orderdate"))).distinct().count()
    assert(rs.length === (nDays - 27).max(0))
    rs.foreach { r =>
      val c = r.getAs[Double]("corr28")
      assert(c >= -1.0 && c <= 1.0, s"corr out of range: $r")
    }
  }

  test("quantity quantiles: frequency machinery equals percentile() exactly") {
    val rs = graft.warehouse.Analytics.quantityQuantiles(s, d).collect()
      .map(r => r.getAs[String]("l_returnflag") -> r).toMap
    assert(rs.size === 3)
    // Spark's exact interpolated percentile is the same contract —
    // fine as a cross-check at test scale (it's the 100 TB buffer
    // hazard the frequency machinery avoids, not a different answer)
    val exp = graft.sources.Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(percentile(col("l_quantity").cast("long"), lit(0.5)).as("p50"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    rs.foreach { case (flag, r) =>
      assert(r.getAs[Double]("p50") === exp(flag))
      assert(r.getAs[Double]("p25") <= r.getAs[Double]("p50"))
      assert(r.getAs[Double]("p75") <= r.getAs[Double]("p95"))
    }
  }

  test("nation trend: one regression per nation, slope replays in BigInt") {
    val rs = graft.warehouse.Analytics.nationTrend(s, d).collect()
    assert(rs.length === 25)
    // replay the slope formula for one nation from exact moments
    val probe = rs.minBy(_.getAs[String]("n_name"))
    val daily = graft.sources.Tables.orders(s, d)
      .join(graft.sources.Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"))
      .join(graft.sources.Tables.nation(s, d),
        col("c_nationkey") === col("n_nationkey"))
      .filter(col("n_name") === probe.getAs[String]("n_name"))
      .groupBy(datediff(to_date(col("o_orderdate")),
        lit("1970-01-01").cast("date")).cast("long").as("dn"))
      .agg(sum((col("o_totalprice").cast(DecimalType(12, 2)) * 100)
        .cast("long")).as("g"))
      .collect().map(r => (BigInt(r.getLong(0)), BigInt(r.getLong(1))))
    val n = BigInt(daily.length)
    val sx = daily.map(_._1).sum; val sy = daily.map(_._2).sum
    val sxy = daily.map(p => p._1 * p._2).sum
    val sxx = daily.map(p => p._1 * p._1).sum
    val slope = (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble
    assert(probe.getAs[Long]("n") === daily.length.toLong)
    assert(math.abs(probe.getAs[Double]("slope_cents_per_day") -
      math.rint(slope * 1e6) / 1e6) < 1e-9)
  }

  test("backlog age: global quantiles ordered and equal to percentile()") {
    val r = graft.warehouse.Analytics.backlogAge(s, d).collect()
    assert(r.length === 1)
    val (p50, p90, p99) = (r(0).getAs[Double]("p50"),
      r(0).getAs[Double]("p90"), r(0).getAs[Double]("p99"))
    assert(p50 >= 0 && p50 <= p90 && p90 <= p99)
    // replay the age set and cross-check the median against Spark's
    // exact percentile (same interpolation contract)
    val close = graft.sources.Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(max(to_date(col("l_shipdate"))).as("close_d"))
    val snap = graft.sources.Tables.orders(s, d)
      .agg(date_sub(max(to_date(col("o_orderdate"))), 365).as("snap_d"))
    val exp = graft.sources.Tables.orders(s, d)
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("open_d"))
      .join(close, col("o_orderkey") === col("l_orderkey"))
      .withColumn("close_d", greatest(col("close_d"), col("open_d")))
      .crossJoin(broadcast(snap))
      .filter(col("open_d") <= col("snap_d") &&
        col("close_d") >= col("snap_d"))
      .agg(percentile(datediff(col("snap_d"), col("open_d"))
        .cast("long"), lit(0.5)))
      .collect()(0).getDouble(0)
    assert(p50 === exp)
  }

  test("chi2 DOW: stat replays in BigInt, flag matches the critical value") {
    val r = graft.warehouse.Quality.chi2Dow(s, d).collect()
    assert(r.length === 1)
    val counts = graft.sources.Tables.orders(s, d)
      .groupBy(dayofweek(to_date(col("o_orderdate"))))
      .agg(count(lit(1))).collect().map(x => BigInt(x.getLong(1)))
    assert(counts.length === 7)
    val n = counts.sum
    val ssq = counts.map(o => (o * 7 - n) * (o * 7 - n)).sum
    assert(BigInt(r(0).getAs[Long]("n")) === n)
    assert(BigInt(r(0).getAs[Long]("chi2_milli")) === ssq * 1000 / (7 * n))
    val flag = if (ssq * 1000 > BigInt(12592) * 7 * n) 1L else 0L
    assert(r(0).getAs[Long]("nonuniform_flag") === flag)
  }

  test("profile: key column is unique and null-free, ranges ordered") {
    val rs = graft.warehouse.Quality.profile(s, d).collect()
      .map(r => r.getAs[String]("column_name") -> r).toMap
    assert(rs.size === 6)
    val n = graft.sources.Tables.orders(s, d).count()
    val k = rs("o_orderkey")
    assert(k.getAs[Long]("null_ct") === 0L)
    assert(k.getAs[Long]("distinct_ct") === n)
    rs.values.filter(r => !r.isNullAt(r.fieldIndex("min_num"))).foreach {
      r => assert(r.getAs[Long]("min_num") <= r.getAs[Long]("max_num"))
    }
    assert(rs("o_orderstatus").isNullAt(
      rs("o_orderstatus").fieldIndex("min_num")))
  }

  test("loader absorbs long-nanos, µs-NTZ, and µs-LTZ ts encodings identically") {
    // the r5 breakage class: the driver re-encoded events.ts and every
    // unix_micros call site died. The edge (Tables.normalizeTs) must
    // yield the SAME instants whatever parquet encoding shipped —
    // including in a session that still infers NTZ.
    import org.apache.spark.sql.types.TimestampType
    import s.implicits._
    val us = Seq(1704067200123456L, 1706745599999999L, 1735689600000001L)
    val base = us.toDF("us")
    val dir = java.nio.file.Files.createTempDirectory("graft_enc").toString
    base.select(timestamp_micros(col("us")).as("ts"), col("us"))
      .write.mode("overwrite").parquet(s"$dir/ltz")
    base.select(timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"),
        col("us"))
      .write.mode("overwrite").parquet(s"$dir/ntz")
    base.select((col("us") * 1000).as("ts"), col("us"))
      .write.mode("overwrite").parquet(s"$dir/nanos")
    def instants(path: String, inferNtz: Boolean): Seq[(Long, Long)] = {
      val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
      val old = s.conf.get(key, "false")
      s.conf.set(key, inferNtz.toString)
      try {
        val df = graft.sources.Tables.normalizeTs(s.read.parquet(path))
        assert(df.schema("ts").dataType == TimestampType,
          s"$path (inferNtz=$inferNtz) must normalize to TimestampType")
        df.select(col("us"), unix_micros(col("ts"))).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
      } finally s.conf.set(key, old)
    }
    val want = us.map(u => (u, u)).sorted
    assert(instants(s"$dir/ltz", inferNtz = false) === want)
    // NTZ file through BOTH session configs: inferred (exercises the
    // TimestampNTZType cast branch) and inference-off (file reads as
    // LTZ directly in the UTC session)
    assert(instants(s"$dir/ntz", inferNtz = true) === want)
    assert(instants(s"$dir/ntz", inferNtz = false) === want)
    assert(instants(s"$dir/nanos", inferNtz = false) === want)
  }

  test("kendall tau-b: pair partition is exhaustive and tau in [-1, 1]") {
    val r = graft.warehouse.Analytics.kendallTau(s, d).collect()(0)
    val (n, c, dis, tx, ty, txy) = (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    // C(n_days, 2) pairs, each exactly one of the five classes
    val nDays = graft.sources.Tables.orders(s, d)
      .select(to_date(col("o_orderdate"))).distinct().count()
    assert(n === nDays * (nDays - 1) / 2)
    assert(c + dis + tx + ty + txy === n)
    val tau = r.getDouble(6)
    assert(tau >= -1.0 && tau <= 1.0)
    // GMV and order count per day must co-move strongly by
    // construction (more orders ⇒ more revenue)
    assert(tau > 0.3, s"tau_b=$tau unexpectedly weak")
  }

  test("wavelet energy: Parseval shares sum to 1e6 and blocks halve per scale") {
    val rows = graft.warehouse.Analytics.waveletEnergy(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      .sortBy(_._1)
    // ppm shares of total sum to 10⁶ modulo per-scale truncation
    val sumPpm = rows.map(_._3).sum
    assert(sumPpm <= 1000000L && sumPpm >= 1000000L - rows.length)
    // complete dyadic blocks: each scale has ~half the previous count
    rows.sliding(2).foreach { case Array((_, n1, _), (_, n2, _)) =>
      assert(n2 === n1 / 2 || n2 === (n1 - 1) / 2)
    }
  }

  test("friedman: rank sums conserve 56 per week and n_weeks agree") {
    val rows = graft.warehouse.Analytics.friedman(s, d).collect()
    assert(rows.length === 7)
    val n = rows.map(_.getLong(1)).distinct
    assert(n.length === 1) // complete weeks: same n for every DOW
    // Σ over DOW of doubled rank sums = 2·(1+..+7)·n_weeks = 56n
    assert(rows.map(_.getLong(2)).sum === 56L * n.head)
  }

  test("bootstrap CI: bounds ordered, bracket the observed sum, exact draw count") {
    val r = graft.warehouse.Analytics.bootstrapCi(s, d).collect()(0)
    val (nDays, nBoot, obs, lo, hi) = (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4))
    assert(nBoot === 200L)
    assert(lo < hi)
    // 200 replicate means of ~n_days draws: the 95% interval must
    // bracket the population total it resamples
    assert(lo < obs && obs < hi, s"[$lo, $hi] must bracket $obs")
    assert(nDays > 0)
  }

  test("median polish: row effects are exact cents and residuals absorb the rest") {
    val rows = graft.warehouse.Analytics.medianPolish(s, d).collect()
    assert(rows.length === 7)
    val grands = rows.map(_.getLong(2)).distinct
    assert(grands.length === 1) // one grand effect repeated per row
    // after grand extraction the LOWER median of row effects is 0 by
    // construction (the grand IS that median)
    val effs = rows.map(_.getLong(1)).sorted
    assert(effs((effs.length + 1) / 2 - 1) === 0L)
  }

  test("KS drift: one row per source, ppm in range, sup is attained") {
    val rows = graft.warehouse.Quality.ksDrift(s, d).collect()
    val nSrc = graft.sources.Tables.documents(s, d)
      .select("source").distinct().count()
    assert(rows.length.toLong === nSrc)
    rows.foreach { r =>
      assert(r.getLong(2) >= 0L && r.getLong(2) <= 1000000L,
        s"${r.getString(0)} ks_ppm out of range")
      // the attaining length is a real document length
      assert(r.getLong(3) > 0L)
    }
  }

  test("cents() equals the DECIMAL(12,2) half-up integerization on " +
      "every 2-dp money double (r12 FP fast path)") {
    import s.implicits._
    // exhaustive over the fractional domain x.00..x.99 across value
    // magnitudes up to the o_totalprice range, plus the warehouse's
    // own money columns end-to-end
    val synth = (0L until 200000L).map(i => i / 100.0).toDF("x")
      .union(Seq(99999.99, 104949.50, 0.0, 0.01, 0.09).toDF("x"))
    // the mirrored negative domain: the DECIMAL cast rounds half away
    // from zero, so −0.29 must give −29, not −28
    val diff = synth.union(synth.select((-col("x")).as("x"))).select(
        Dwd.cents(col("x")).as("fp"),
        (col("x").cast(DecimalType(12, 2)) * 100).cast("long").as("dec"))
      .filter(col("fp") =!= col("dec")).count()
    assert(diff === 0L)
    val cols = Seq(
      graft.sources.Tables.orders(s, d).select(col("o_totalprice").as("x")),
      graft.sources.Tables.lineitem(s, d)
        .select(col("l_extendedprice").as("x")),
      graft.sources.Tables.lineitem(s, d).select(col("l_discount").as("x")),
      graft.sources.Tables.lineitem(s, d).select(col("l_tax").as("x")),
      graft.sources.Tables.events(s, d).select(col("value").as("x")),
      graft.sources.Tables.part(s, d).select(col("p_retailprice").as("x")))
    cols.foreach { c =>
      val bad = c.select(Dwd.cents(col("x")).as("fp"),
          (col("x").cast(DecimalType(12, 2)) * 100).cast("long").as("dec"))
        .filter(col("fp") =!= col("dec")).count()
      assert(bad === 0L)
    }
  }
}

package graft

import graft.operators.Temporal
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** As-of / interval join semantics on hand-built frames. */
class TemporalSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  test("asOfJoin picks the latest right row at-or-before each left ts") {
    import s.implicits._
    val left = Seq((1L, 10L, "l1"), (1L, 20L, "l2"), (2L, 5L, "l3"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 10L, 100.0), (1L, 15L, 150.0), (2L, 9L, 90.0))
      .toDF("k", "t", "v")
    val got = Temporal.asOfJoin(left, right, "k", "t", Seq("v"))
      .select("tag", "v").collect()
      .map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(got("l1") === Some(100.0), "equal ts counts as at-or-before")
    assert(got("l2") === Some(150.0), "latest preceding wins")
    assert(got("l3") === None, "no preceding right row -> null")
  }

  test("asOfJoin matches a brute-force per-row max over the testdata") {
    val d = TestSpark.sf
    val got = Temporal.lastViewBeforePurchase(s, d)
    // brute force: join all views per purchase, keep the max-us one
    val ev = graft.sources.Tables.events(s, d)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id").as("vu"), unix_micros(col("ts")).as("vus"))
      .agg(max(col("value")).as("vv"))
    val brute = p.join(v, col("user_id") === col("vu") && col("vus") <= col("us"), "left")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("event_id").orderBy(col("vus").desc_nulls_last)))
      .filter(col("rn") === 1)
      .select(col("event_id"), col("vv"))
    val diff = got.select(col("event_id"), col("last_view_value").as("vv"))
      .exceptAll(brute)
    assert(diff.isEmpty, "as-of join equals brute-force latest-preceding")
    assert(got.count() === p.count(), "one output row per purchase")
  }

  test("nearest as-of: brute-force |Δt| argmin with backward ties") {
    val d = TestSpark.sf
    val got = Temporal.nearestViewToPurchase(s, d).collect()
      .map(r => r.getLong(0) -> Option(r.get(3)).map(_.toString.toDouble))
      .toMap
    val ev = graft.sources.Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getDouble(4)))
    val views = ev.filter(_._3 == "view")
      .groupBy(x => (x._2, x._4)).view
      .mapValues(_.map(_._5).max).toMap
      .toSeq.map { case ((u, us), v) => (u, us, v) }
      .groupBy(_._1).view.mapValues(_.toSeq).toMap
    val expect = ev.filter(_._3 == "purchase").map { case (eid, u, _, pus, _) =>
      val cands = views.getOrElse(u, Seq.empty)
      eid -> (if (cands.isEmpty) None else {
        val best = cands.minBy { case (_, vus, _) =>
          (math.abs(vus - pus), if (vus <= pus) 0 else 1, vus)
        }
        Some(best._3)
      })
    }.toMap
    assert(got === expect)
    // where a backward candidate exists and is at least as close,
    // nearest must agree with the backward as-of join
    val backward = Temporal.lastViewBeforePurchase(s, d).collect()
      .map(r => r.getLong(0) -> Option(r.get(3))).toMap
    ev.filter(_._3 == "purchase").foreach { case (eid, u, _, pus, _) =>
      val cands = views.getOrElse(u, Seq.empty)
      val back = cands.filter(_._2 <= pus)
      val fwd = cands.filter(_._2 > pus)
      if (back.nonEmpty && (fwd.isEmpty ||
        pus - back.map(_._2).max <= fwd.map(_._2).min - pus)) {
        assert(got(eid).map(_.toString) ===
          backward(eid).map(_.toString.toDouble.toString))
      }
    }
  }

  test("forward as-of: first at-or-after replays, equal-ts rights visible") {
    val d = TestSpark.sf
    val got = Temporal.nextViewAfterPurchase(s, d).collect()
      .map(r => r.getLong(0) -> Option(r.get(3)).map(_.toString)).toMap
    val ev = graft.sources.Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getDouble(4)))
    val views = ev.filter(_._3 == "view")
      .groupBy(x => (x._2, x._4)).view.mapValues(_.map(_._5).max)
      .toMap.toSeq.map { case ((u, us), v) => (u, us, v) }
      .groupBy(_._1).view.mapValues(_.toSeq.sortBy(_._2)).toMap
    val expect = ev.filter(_._3 == "purchase").map { case (eid, u, _, pus, _) =>
      eid -> views.getOrElse(u, Seq.empty)
        .find(_._2 >= pus).map(_._3.toString)
    }.toMap
    assert(got === expect)
  }

  test("tolerance as-of: fresh matches equal backward, stale nulls out") {
    val d = TestSpark.sf
    val tol = 3600000000L
    val got = Temporal.staleBoundedViewBeforePurchase(s, d).collect()
      .map(r => r.getLong(0) -> Option(r.get(3)).map(_.toString)).toMap
    val backward = Temporal.lastViewBeforePurchase(s, d).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("us"),
        Option(r.get(3)).map(_.toString))).toList
    val ev = graft.sources.Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val viewTimes = ev.filter(_._2 == "view").groupBy(_._1)
      .view.mapValues(_.map(_._3).toSeq.sorted).toMap
    val purchases = graft.sources.Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    var fresh = 0; var stale = 0
    purchases.foreach { case (eid, u, pus) =>
      val lastView = viewTimes.getOrElse(u, Seq.empty[Long])
        .filter(_ <= pus).lastOption
      val bw = backward.find(_._1 == eid).get._3
      lastView match {
        case Some(vus) if pus - vus <= tol =>
          fresh += 1; assert(got(eid) === bw)
        case _ =>
          stale += 1; assert(got(eid).isEmpty)
      }
    }
    assert(fresh > 0 && stale > 0,
      "the testdata must exercise both the fresh and stale branches")
  }

  test("overlap join: month-banded counts replay the driver overlap scan") {
    val d = TestSpark.sf
    val rs = Temporal.promoOverlap(s, d).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("n_users"), r.getAs[Long]("n_user_days"))).toMap
    val ev = graft.sources.Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        unix_micros(col("ts"))).collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate, r.getLong(2)))
    val act = ev.groupBy(x => (x._1, x._2)).map { case ((u, day), xs) =>
      (u, day, xs.map(_._3).min, xs.map(_._3).max)
    }
    def usOf(ld: java.time.LocalDate): Long =
      ld.atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli * 1000L
    val promos = ev.map(_._2.withDayOfMonth(1)).toSet.map {
      m0: java.time.LocalDate =>
        (m0.getYear * 12 + m0.getMonthValue).toLong ->
          (usOf(m0), usOf(m0.plusDays(10)))
    }.toMap
    val hits = act.filter { case (_, day, as, ae) =>
      val mi = (day.getYear * 12 + day.getMonthValue).toLong
      promos.get(mi).exists { case (ps, pe) => as < pe && ae >= ps }
    }
    val expect = hits.groupBy { case (_, day, _, _) =>
      (day.getYear * 12 + day.getMonthValue).toLong
    }.map { case (mi, xs) =>
      mi -> (xs.map(_._1).toSet.size.toLong, xs.size.toLong)
    }
    assert(rs === expect)
  }

  test("SCD2 point-in-time serving equals the as-of join row for row") {
    val d = TestSpark.sf
    val served = Temporal.scd2Serve(s, d)
      .select(col("event_id"), col("last_view_value"))
    val asOf = Temporal.lastViewBeforePurchase(s, d)
      .select(col("event_id"), col("last_view_value"))
    assert(served.exceptAll(asOf).isEmpty &&
      asOf.exceptAll(served).isEmpty,
      "interval-containment serving must equal the as-of semantics")
    // exactly one row per probe: intervals partition the timeline
    val n = served.count()
    assert(n === Temporal.scd2Serve(s, d)
      .select("event_id").distinct().count())
  }

  test("native AsOfJoinExec equals the composed asOfJoin on testdata") {
    val d = TestSpark.sf
    val ev = graft.sources.Tables.events(s, d)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), unix_micros(col("ts")).as("us"))
      .agg(max(col("value")).as("last_view_value"))
    val native = graft.plans.AsOfJoin(p, v, "user_id", "us",
      Seq("last_view_value"))
    // the physical plan must be OUR operator (nodeName renders the
    // Exec suffix away), with no dangling `!`-marked references
    val planStr = native.queryExecution.executedPlan.toString
    assert(planStr.contains("AsOfJoin"), planStr)
    assert(!planStr.contains("!Sort") && !planStr.contains("!Exchange"),
      s"unresolved references in plan:\n$planStr")
    val composed = Temporal.asOfJoin(p, v, "user_id", "us",
      Seq("last_view_value"))
      .select(native.columns.map(col): _*)
    assert(native.exceptAll(composed).isEmpty &&
      composed.exceptAll(native).isEmpty,
      "native exec and union+window formulation must agree row-for-row")
    assert(native.count() === p.count())
  }

  test("native AsOfJoinExec equals an in-memory reference on random data") {
    import s.implicits._
    val rnd = new scala.util.Random(21)
    val left = Seq.tabulate(800)(i =>
      (i.toLong, rnd.nextInt(15).toLong, rnd.nextInt(500).toLong))
    val right = Seq.fill(500) {
      (rnd.nextInt(15).toLong, rnd.nextInt(500).toLong, rnd.nextDouble())
    }.groupBy(r => (r._1, r._2)).map(_._2.maxBy(_._3)).toSeq
    val got = graft.plans.AsOfJoin(
        left.toDF("row_id", "k", "t"), right.toDF("k", "t", "v"),
        "k", "t", Seq("v")).collect()
      .map(r => r.getAs[Long]("row_id") -> Option(r.getAs[Any]("v"))).toMap
    left.foreach { case (id, k, t) =>
      val want = right.filter(r => r._1 == k && r._2 <= t)
        .sortBy(_._2).lastOption.map(_._3)
      assert(got(id) === want, s"row $id key $k ts $t")
    }
  }

  test("native AsOfJoinExec handles string keys and sparse matches") {
    import s.implicits._
    val rnd = new scala.util.Random(33)
    val keys = Vector("alpha", "beta", "gamma", "delta", "", "只")
    val left = Seq.tabulate(300)(i =>
      (i.toLong, keys(rnd.nextInt(keys.size)), rnd.nextInt(100).toLong))
    // right covers only half the keyspace → some keys never match
    val right = Seq.fill(120) {
      (keys(rnd.nextInt(3)), rnd.nextInt(100).toLong, rnd.nextDouble())
    }.groupBy(r => (r._1, r._2)).map(_._2.maxBy(_._3)).toSeq
    val got = graft.plans.AsOfJoin(
        left.toDF("row_id", "k", "t"), right.toDF("k", "t", "v"),
        "k", "t", Seq("v")).collect()
      .map(r => r.getAs[Long]("row_id") -> Option(r.getAs[Any]("v"))).toMap
    left.foreach { case (id, k, t) =>
      val want = right.filter(r => r._1 == k && r._2 <= t)
        .sortBy(_._2).lastOption.map(_._3)
      assert(got(id) === want, s"row $id key '$k' ts $t")
    }
  }

  test("as-of node plans through the injected strategy alone") {
    // nothing registers the strategy at runtime: a new session plans a
    // node built directly through GraftExtensions'
    // injectPlannerStrategy alone
    val fresh = s.newSession()
    assert(!fresh.experimental.extraStrategies
      .contains(graft.plans.TimeJoinStrategy))
    val l = fresh.sql("SELECT * FROM VALUES (1L, 10L), (1L, 20L) AS t(k, ts)")
    val r = fresh.sql("SELECT * FROM VALUES (1L, 15L, 1.5D) AS t(k, ts, v)")
    def a(df: org.apache.spark.sql.DataFrame, n: String) =
      df.queryExecution.analyzed.output.find(_.name == n).get
    val node = graft.plans.AsOfJoinNode(
      l.queryExecution.analyzed, r.queryExecution.analyzed,
      a(l, "k"), a(l, "ts"), a(r, "k"), a(r, "ts"), Seq(a(r, "v")))
    val df = org.apache.spark.sql.classic.GraftSqlBridge.ofRows(fresh, node)
    assert(df.queryExecution.sparkPlan
      .exists(_.isInstanceOf[graft.plans.AsOfJoinExec]))
    val got = df.collect()
      .map(row => row.getLong(1) -> Option(row.get(2))).toMap
    assert(got === Map(10L -> None, 20L -> Some(1.5)))
  }

  test("optimizer rule pushes left-only filters through AsOfJoinNode") {
    val d = TestSpark.sf
    val ev = graft.sources.Tables.events(s, d)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), unix_micros(col("ts")).as("us"))
      .agg(max(col("value")).as("last_view_value"))
    val joined = graft.plans.AsOfJoin(p, v, "user_id", "us",
      Seq("last_view_value"))
    val filtered = joined.filter(col("event_id") < 100)
    val opt = filtered.queryExecution.optimizedPlan
    // after the rule, the left-only predicate sits BELOW the custom
    // node (then Spark's own rules carry it into the scan)
    val nodeIdx = opt.collect {
      case n: graft.plans.AsOfJoinNode => n
    }
    assert(nodeIdx.nonEmpty, s"node missing:\n$opt")
    val leftOfNode = nodeIdx.head.left.toString
    assert(leftOfNode.contains("event_id"),
      s"filter not pushed below the as-of node:\n$opt")
    assert(!opt.toString.startsWith("Filter"),
      s"filter still on top of the plan:\n$opt")
    // and the answer is unchanged
    val expected = Temporal.asOfJoin(p, v, "user_id", "us",
      Seq("last_view_value")).filter(col("event_id") < 100)
      .select(filtered.columns.map(col): _*)
    assert(filtered.exceptAll(expected).isEmpty &&
      expected.exceptAll(filtered).isEmpty)
  }

  test("intervalJoin keeps unmatched left rows with zero counts") {
    val d = TestSpark.sf
    val got = Temporal.clicksBeforePurchase(s, d)
    val purchases = graft.sources.Tables.events(s, d)
      .filter(col("event_type") === "purchase").count()
    assert(got.count() === purchases)
    assert(got.filter(col("clicks_15m") === 0).count() > 0,
      "some purchases have no clicks in the window")
  }

  test("native IntervalJoinExec equals the composed intervalJoin on testdata") {
    val d = TestSpark.sf
    val native = Temporal.clicksBeforePurchaseNative(s, d)
    val composed = Temporal.clicksBeforePurchase(s, d)
      .select(native.columns.map(col): _*)
    assert(native.exceptAll(composed).isEmpty &&
      composed.exceptAll(native).isEmpty,
      "native exec and equi-join+range-filter formulation must agree")
  }

  test("native IntervalJoinExec plans with no Filter above the exec") {
    val d = TestSpark.sf
    val ev = graft.sources.Tables.events(s, d)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("p_us"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("c_us"))
    val joined = graft.plans.IntervalJoin(p, c, "user_id", "p_us", "c_us",
      900000000L, Seq("c_us"))
    // AQE wraps the physical plan; collect() inside the unwrapped tree
    val plan = joined.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val execs = plan.collect { case e: graft.plans.IntervalJoinExec => e }
    assert(execs.nonEmpty, s"IntervalJoinExec missing:\n$plan")
    // the range predicate lives INSIDE the merge walk: no FilterExec
    // may sit between the exec and the plan root
    val filterAbove = plan.collect {
      case f: org.apache.spark.sql.execution.FilterExec
          if f.child.collectFirst {
            case e: graft.plans.IntervalJoinExec => e }.nonEmpty => f
    }
    assert(filterAbove.isEmpty,
      s"range filter survived above the exec:\n$plan")
  }

  test("native IntervalJoinExec equals an in-memory reference on random data") {
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val left = Seq.tabulate(600)(i =>
      (i.toLong, rnd.nextInt(12).toLong, rnd.nextInt(400).toLong))
    val right = Seq.fill(900) {
      (rnd.nextInt(12).toLong, rnd.nextInt(400).toLong, rnd.nextInt(10000).toLong)
    }
    val lower = 25L
    val got = graft.plans.IntervalJoin(
        left.toDF("row_id", "k", "lt"), right.toDF("k", "rt", "v"),
        "k", "lt", "rt", lower, Seq("rt", "v")).collect()
      .map(r => (r.getAs[Long]("row_id"),
        Option(r.getAs[Any]("rt")), Option(r.getAs[Any]("v"))))
      .groupBy(_._1).view
      .mapValues(_.map(t => (t._2, t._3)).sortBy(_.toString)).toMap
    left.foreach { case (id, k, lt) =>
      val want = right.filter(r => r._1 == k && r._2 > lt - lower && r._2 <= lt)
        .map(r => (Option[Any](r._2), Option[Any](r._3))).sortBy(_.toString)
      val expect = if (want.isEmpty) Seq((None, None)) else want
      assert(got(id) === expect, s"row $id key $k ts $lt")
    }
  }

  test("broadcast as-of: fact side never shuffles, rows match the SMJ exec") {
    val d = TestSpark.sf
    val bcast = Temporal.lastViewBeforePurchaseBroadcast(s, d)
    val plan = bcast.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Sort"),
      s"broadcast as-of must not shuffle or sort the fact side:\n$plan")
    val smj = Temporal.lastViewBeforePurchaseNative(s, d)
      .select(bcast.columns.map(col): _*)
    assert(bcast.exceptAll(smj).isEmpty && smj.exceptAll(bcast).isEmpty,
      "broadcast and sort-merge as-of must agree row-for-row")
  }

  test("broadcast as-of equals an in-memory reference on random data") {
    import s.implicits._
    val rnd = new scala.util.Random(55)
    val left = Seq.tabulate(700)(i =>
      (i.toLong, rnd.nextInt(20).toLong, rnd.nextInt(300).toLong))
    // right covers only part of the keyspace; unique per (key, ts)
    val right = Seq.fill(250) {
      (rnd.nextInt(12).toLong, rnd.nextInt(300).toLong, rnd.nextDouble())
    }.groupBy(r => (r._1, r._2)).map(_._2.maxBy(_._3)).toSeq
    val got = Temporal.asOfJoinBroadcast(
        left.toDF("row_id", "k", "t"), right.toDF("k", "t", "v"),
        "k", "t", Seq("v")).collect()
      .map(r => r.getAs[Long]("row_id") -> Option(r.getAs[Any]("v"))).toMap
    left.foreach { case (id, k, t) =>
      val want = right.filter(r => r._1 == k && r._2 <= t)
        .sortBy(_._2).lastOption.map(_._3)
      assert(got(id) === want, s"row $id key $k ts $t")
    }
  }

  test("SCD2 intervals answer point-in-time lookups like the as-of join") {
    val d = TestSpark.sf
    val scd2 = Temporal.userValueScd2(s, d)
    // half-open validity: every non-final version ends where the next
    // starts; finals are open
    val bad = scd2.filter(col("valid_to_us").isNotNull &&
      col("valid_to_us") <= col("valid_from_us")).count()
    assert(bad === 0, "validity intervals must be strictly increasing")
    // containment join against the intervals == as-of join against
    // the raw change feed
    val ev = graft.sources.Tables.events(s, d)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
    val viaScd2 = p.join(scd2.withColumnRenamed("user_id", "sk"),
        col("user_id") === col("sk") &&
          col("us") >= col("valid_from_us") &&
          (col("valid_to_us").isNull || col("us") < col("valid_to_us")),
        "left")
      .select(col("event_id"), col("user_id"), col("us"),
        col("last_view_value"))
    val viaAsOf = Temporal.lastViewBeforePurchase(s, d)
      .select(viaScd2.columns.map(col): _*)
    assert(viaScd2.exceptAll(viaAsOf).isEmpty &&
      viaAsOf.exceptAll(viaScd2).isEmpty,
      "interval containment over SCD2 must equal as-of over the feed")
  }

  test("raw-SQL TVF surface reaches both custom execs") {
    val d = TestSpark.sf
    val sqlAsOf = Temporal.lastViewBeforePurchaseSql(s, d)
    assert(sqlAsOf.queryExecution.executedPlan.toString.contains("AsOfJoin"))
    val api = Temporal.lastViewBeforePurchaseNative(s, d)
      .select(sqlAsOf.columns.map(col): _*)
    assert(sqlAsOf.exceptAll(api).isEmpty && api.exceptAll(sqlAsOf).isEmpty,
      "SQL surface and Scala API must produce identical as-of rows")
    val sqlIv = Temporal.clicksBeforePurchaseSql(s, d)
    assert(sqlIv.queryExecution.executedPlan.toString.contains("IntervalJoin"))
    val apiIv = Temporal.clicksBeforePurchaseNative(s, d)
      .select(sqlIv.columns.map(col): _*)
    assert(sqlIv.exceptAll(apiIv).isEmpty && apiIv.exceptAll(sqlIv).isEmpty,
      "SQL surface and Scala API must produce identical interval rows")
  }

  test("batch TVF: '*' expands right columns; struct values carry whole") {
    val d = TestSpark.sf
    val ev = graft.sources.Tables.events(s, d)
    ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
      .createOrReplaceTempView("asofs_facts")
    // dim carries ONE nested struct column (unique per key+ts)
    ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), unix_micros(col("ts")).as("us"))
      .agg(max(col("value")).as("v"), count(lit(1)).as("n"))
      .select(col("user_id"), col("us"), struct(col("v"), col("n")).as("info"))
      .createOrReplaceTempView("asofs_dim")
    val star = s.sql("SELECT * FROM graft_asof_join(" +
      "'asofs_facts', 'asofs_dim', 'user_id', 'us', '*')")
    val explicit = s.sql("SELECT * FROM graft_asof_join(" +
      "'asofs_facts', 'asofs_dim', 'user_id', 'us', 'info')")
    assert(star.schema("info").dataType
      .isInstanceOf[org.apache.spark.sql.types.StructType])
    assert(star.schema.fieldNames.toSeq === explicit.schema.fieldNames.toSeq)
    assert(star.exceptAll(explicit).isEmpty &&
      explicit.exceptAll(star).isEmpty, "'*' == explicit value list")
    // the struct's contents equal the flat two-column formulation
    val flatDim = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), unix_micros(col("ts")).as("us"))
      .agg(max(col("value")).as("v"), count(lit(1)).as("n"))
    val want = graft.operators.Temporal.asOfJoin(
      ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us")),
      flatDim, "user_id", "us", Seq("v", "n"))
      .select(col("event_id"), col("v"), col("n"))
    val got = star.select(col("event_id"),
      col("info.v").as("v"), col("info.n").as("n"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("TVF rejects malformed arguments with a clear message") {
    val d = TestSpark.sf
    graft.sources.Tables.registerViews(s, d)
    val e1 = intercept[Exception](
      s.sql("SELECT * FROM graft_asof_join('events', 'events')").collect())
    assert(e1.getMessage.contains("graft_asof_join"), e1.getMessage)
    val e2 = intercept[Exception](s.sql(
      "SELECT * FROM graft_asof_join('events', 'events', 'no_such_col', " +
        "'ts', 'value')").collect())
    assert(e2.getMessage.contains("no_such_col"), e2.getMessage)
  }

  test("SQL self-join through the TVF dedups shared exprIds") {
    val d = TestSpark.sf
    graft.sources.Tables.registerViews(s, d)
    // both sides are the SAME view — the resolution rule must
    // re-alias the right side or the node is ambiguous
    val df = s.sql(
      """SELECT COUNT(*) AS n FROM graft_asof_join(
        |  'orders', 'orders', 'o_custkey', 'o_orderkey', 'o_totalprice')
        |""".stripMargin)
    assert(df.collect()(0).getLong(0) > 0)
  }

  test("optimizer rule pushes left-only filters through IntervalJoinNode") {
    val d = TestSpark.sf
    val ev = graft.sources.Tables.events(s, d)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("p_us"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("c_us"))
    val joined = graft.plans.IntervalJoin(p, c, "user_id", "p_us", "c_us",
      900000000L, Seq("c_us"))
    val filtered = joined.filter(col("event_id") < 100)
    val opt = filtered.queryExecution.optimizedPlan
    val nodes = opt.collect { case n: graft.plans.IntervalJoinNode => n }
    assert(nodes.nonEmpty, s"node missing:\n$opt")
    assert(nodes.head.left.toString.contains("event_id"),
      s"filter not pushed below the interval node:\n$opt")
    assert(!opt.toString.startsWith("Filter"),
      s"filter still on top of the plan:\n$opt")
  }

  test("snapshot diff is exactly the change feed that turns A into B") {
    val d = TestSpark.sf
    val diff = graft.operators.Temporal.snapshotDiff(s, d).collect()
    assert(diff.nonEmpty && !diff.exists(_.getAs[String]("op") == "unchanged"))
    // rebuild both snapshots brute-force and check every emitted op
    val orders = graft.sources.Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val aN = orders.filter(_._1 % 2 == 0).groupBy(_._2).view.mapValues(_.length)
    val bN = orders.filter(_._1 % 3 != 0).groupBy(_._2).view.mapValues(_.length)
    diff.foreach { r =>
      val k = r.getAs[Long]("cust_id")
      r.getAs[String]("op") match {
        case "added"   => assert(!aN.contains(k) && bN.contains(k))
        case "deleted" => assert(aN.contains(k) && !bN.contains(k))
        case "changed" => assert(aN.contains(k) && bN.contains(k))
      }
    }
    // keys NOT in the diff must agree between snapshots (count-wise)
    val diffKeys = diff.map(_.getAs[Long]("cust_id")).toSet
    (aN.keySet ++ bN.keySet).filterNot(diffKeys).foreach { k =>
      assert(aN.get(k) == bN.get(k))
    }
    // all four-ish ops genuinely occur on this data
    val ops = diff.map(_.getAs[String]("op")).toSet
    assert(ops == Set("added", "deleted", "changed"), ops.toString)
  }

  test("interval union: coverage replays a driver sweep, bounds hold") {
    val d = TestSpark.sf
    val holdUs = 300000000L
    val got = graft.operators.Temporal.intervalUnion(s, d).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_islands"),
        r.getAs[Long]("covered_us"))).toMap
    val ev = graft.sources.Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("us")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expect = ev.groupBy(_._1).map { case (u, xs) =>
      val sorted = xs.map(_._2).sorted
      var islands = 0L; var covered = 0L
      var st = -1L; var en = -1L
      sorted.foreach { t =>
        if (st < 0 || t > en) {
          if (st >= 0) covered += en - st
          islands += 1; st = t; en = t + holdUs
        } else en = math.max(en, t + holdUs)
      }
      if (st >= 0) covered += en - st
      u -> (islands, covered)
    }
    assert(got === expect)
    // coverage is bounded by islands·hold ≤ covered ≤ span+hold
    got.foreach { case (_, (n, c)) => assert(c >= n * holdUs) }
  }
}

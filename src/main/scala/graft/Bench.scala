package graft
/** `Bench [query...]`: times the named queries (all, when none are
  * named) and prints one JSON line.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val picked = SparkEntry.select(args.toSeq)
    val subset = args.nonEmpty
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // min-of-k per query: a shared host's load spikes corrupt single
    // timings (a 0.4s query once benched at 47s under external load);
    // the min is the plan's cost, the JSON records k and the 1-min
    // load so the artifact is interpretable without a re-run
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val started = Verify.utcNow()
    val sha = Verify.gitSha()
    val spark = GraftSession.local(appName = "graft-bench")
    spark.sparkContext.setLogLevel("WARN")
    // absorb session/JIT init so per-query numbers reflect the plans,
    // not first-query warmup; deterministic (sorted) order so numbers
    // are comparable across rounds
    try spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().count()
    catch { case _: Throwable => }
    // prior-round mins: min-of-k does NOT protect against a load
    // spike spanning all k runs of one query (r7 shipped 4 cells
    // reading 1.6–2.6× their idle cost). Any query whose fresh min
    // exceeds 2× its prior-round min gets extra runs before the
    // artifact records it; surviving outliers are real regressions.
    val priorPath = sys.env.get("SPARK_GRAFT_BENCH_PRIOR").orElse {
      val rx = "BENCH_full_r(\\d+)\\.json".r
      Option(new java.io.File(".").listFiles()).toSeq.flatten
        .flatMap(f => f.getName match {
          case rx(n) => Some(n.toInt -> f.getPath)
          case _ => None
        }).sortBy(-_._1).headOption.map(_._2)
    }
    def parseTimes(p: String, key: String): Map[String, Double] =
      try {
        import org.json4s._
        import org.json4s.jackson.JsonMethods
        (JsonMethods.parse(new java.io.File(p)) \ key) match {
          case JObject(fields) => fields.collect {
            case (k, JDouble(v)) => k -> v
            case (k, JInt(v)) => k -> v.toDouble
            case (k, JDecimal(v)) => k -> v.toDouble
          }.toMap
          case _ => Map.empty[String, Double]
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] prior artifact $p unreadable ($key): ${e.getMessage}")
        Map.empty[String, Double]
      }
    val priorMin: Map[String, Double] =
      priorPath.map(parseTimes(_, "queries")).getOrElse(Map.empty)
    if (priorMin.nonEmpty)
      System.err.println(s"[bench] outlier re-run guard vs ${priorPath.get} (${priorMin.size} prior mins)")
    // HOST-DRIFT PROBE (r9 VERDICT #3, hardened r11): a fixed
    // 10-query set — untouched operators since r6 — timed at the
    // START and again at the END of the run, with both median ratios
    // vs the prior artifact stamped into the JSON. Cross-round totals
    // divide by the ratio instead of demanding a hand-run same-day
    // A/B of the prior commit — but ONLY when the two ratios agree:
    // r10's single start-probe read 1.39× inside the sbt-test load
    // tail and was then applied to a 15-minute run the tail had
    // decayed out of. Probe queries are pre-warmed by the probe
    // itself (JIT, page cache, compute-once layouts), so the
    // artifact lists them under "probe_warmed" — read their
    // cross-round per-query deltas accordingly. Skipped when queries
    // are named.
    val probeSet = Seq(
      "q1_pricing_summary", "q3_segment_revenue", "q6_forecast_revenue",
      "q9_product_profit", "q13_customer_dist", "q18_large_orders",
      "analytics_rollup", "analytics_funnel", "text_zipf_profile",
      "sim_hubness")
    def runProbe(): Seq[(String, Double)] = probeSet.flatMap { name =>
      SparkEntry.queries.get(name).map { fn =>
        val ts = (1 to 3).flatMap { _ =>
          val t0 = System.nanoTime()
          try { fn(spark, sfDir).count()
                Some((System.nanoTime() - t0) / 1e9) }
          catch { case e: Throwable =>
            System.err.println(s"[bench] probe $name FAILED: ${e.getMessage}")
            None }
        }
        SparkEntry.release(spark)
        name -> (if (ts.isEmpty) 0.0 else ts.min)
      }
    }
    val probeTimes: Seq[(String, Double)] =
      if (subset) Seq.empty else runProbe()
    // prior probe block when the prior artifact carries one; the
    // first probe-bearing round compares against the prior QUERIES
    // map (same queries, same min-of-k discipline)
    val probePrior: Map[String, Double] = priorPath.map { p =>
      val blk = parseTimes(p, "probe")
      if (blk.nonEmpty) blk else priorMin
    }.getOrElse(Map.empty)
    // END-probe comparisons must be like-for-like: the end probe is
    // structurally warmer (full-suite JIT, memoized loads, page
    // cache) than the start probe, so it only compares against the
    // PRIOR round's end block — never the start block (the r11 gate
    // run compared end-vs-start and read a spurious 0.39)
    val probeEndPrior: Map[String, Double] =
      priorPath.map(parseTimes(_, "probe_end")).getOrElse(Map.empty)
    def medianRatio(times: Seq[(String, Double)],
        prior: Map[String, Double]): Option[Double] = {
      val rs = times.flatMap { case (k, v) =>
        prior.get(k).filter(_ > 0.0)
          .flatMap(pv => if (v > 0.0) Some(v / pv) else None)
      }.sorted
      if (rs.size >= 5) Some(rs(rs.size / 2)) else None
    }
    val probeRatio: Option[Double] = medianRatio(probeTimes, probePrior)
    probeRatio.foreach(r =>
      System.err.println(f"[bench] probe median ratio vs prior: $r%.3f"))
    val errors = scala.collection.mutable.LinkedHashSet.empty[String]
    val rerun = scala.collection.mutable.LinkedHashSet.empty[String]
    def loadNow(): Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val results = picked.map { q =>
      val name = q.name
      val qLoad = loadNow()
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      var failed = false
      def once(): Unit = {
        val t0 = System.nanoTime()
        // failures must not break the JSON line, but must be VISIBLE
        // both on stderr and STRUCTURALLY in the "errors" key — a
        // swallowed exception otherwise reads as a fast query
        try { q.build(spark, sfDir).count(); times += (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          failed = true
          errors += name
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        }
      }
      var i = 0
      while (i < runs && !failed) { once(); i += 1 }
      // load-contamination guard: a fresh min >2× the prior round's
      // min (and >0.3s absolute drift — sub-100ms queries just jitter)
      // earns up to 2 extra runs; if the min stays high it's a real
      // regression and the artifact records it plus the re-run flag
      val prior = priorMin.get(name)
      var extra = 0
      while (!failed && extra < 2 && prior.exists(p =>
          times.min > p * 2 && times.min - p > 0.3)) {
        if (extra == 0) {
          rerun += name
          System.err.println(f"[bench] $name min ${times.min}%.2fs > 2x prior ${prior.get}%.2fs — re-running")
        }
        once(); extra += 1
      }
      // drop whatever this query pinned before the next one runs;
      // releasing BETWEEN queries keeps min-of-k's cross-run cache
      // reuse within a query intact
      SparkEntry.release(spark)
      val ts = times.toSeq
      // min = the plan's cost net of load spikes; max ≈ the COLD cost
      // (run 1 pays any cache/index build) — min-of-k alone hid a
      // 33-minute cold index build in r5, so both are recorded
      name -> (if (ts.isEmpty) (0.0, 0.0, qLoad)
               else (ts.min, ts.max, qLoad))
    }.toMap
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v._1 }
      .mkString("{", ",", "}")
    val qsMax = results.map { case (k, v) => s"\"" + k + "\":" + v._2 }
      .mkString("{", ",", "}")
    // 1-min load SAMPLED AT EACH QUERY's start — r7's artifact had 4
    // cells nobody could adjudicate because only the suite-end load
    // was recorded; per-query load makes contamination visible in place
    val qsLoad = results.map { case (k, v) => s"\"" + k + "\":" + v._3 }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.map(_._1).sum else 0.0
    val errs = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val reruns = rerun.map("\"" + _ + "\"").mkString("[", ",", "]")
    val load = loadNow()
    // Spark-vs-DuckDB parity (r7 VERDICT #7): BASELINE_LOCAL.json
    // carries the DuckDB oracle-replay seconds per query; ratios are
    // reported ONLY when the baseline was generated at THIS bench's
    // SF (a cross-SF ratio is noise dressed as a number). The
    // comparison is a sanity bar, not a shootout — the oracle side
    // often runs a deliberately naive unrolled replay.
    val duckdb: String = (try {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val f = new java.io.File("BASELINE_LOCAL.json")
      if (!f.exists()) None else {
        val j = JsonMethods.parse(f)
        val baseSf = (j \ "_meta" \ "sf_dir") match {
          case JString(v) => new java.io.File(v).getName
          case _ => ""
        }
        if (baseSf != new java.io.File(sfDir).getName) None else {
          val base = j match {
            case JObject(fs) => fs.collect {
              case (k, JDouble(v)) if !k.startsWith("_") => k -> v
              case (k, JInt(v)) if !k.startsWith("_") => k -> v.toDouble
            }.toMap
            case _ => Map.empty[String, Double]
          }
          // floor tiny denominators: a 3ms DuckDB cell vs Spark's
          // ~100ms fixed per-query overhead is overhead, not a plan
          val ratios = results.toSeq.flatMap { case (k, v) =>
            base.get(k).filter(_ >= 0.05).map(b => k -> v._1 / b)
          }.sortBy(-_._2)
          if (ratios.isEmpty) None else {
            val rs = ratios.map(_._2).sorted
            val median = rs(rs.size / 2)
            val within2x = ratios.count(_._2 <= 2.0)
            val worst = ratios.take(5).map { case (k, r) =>
              "\"" + k + "\":" + f"$r%.2f" }.mkString("{", ",", "}")
            // per-query medians punish Spark's ~0.3s fixed overhead
            // on micro-queries; the SUM ratio is the wall-clock story
            val common = results.keySet.intersect(base.keySet)
            val sumSpark = common.toSeq.map(k => results(k)._1).sum
            val sumDuck = common.toSeq.map(base).sum
            Some(s""""vs_duckdb":{"n":${ratios.size},"median_ratio":${f"$median%.3f"},"within_2x":$within2x,"sum_spark_sec":${f"$sumSpark%.1f"},"sum_duckdb_sec":${f"$sumDuck%.1f"},"worst":$worst}""")
          }
        }
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] baseline compare failed: ${e.getMessage}")
      None
    }).map(_ + ",").getOrElse("")
    // END probe: the start probe alone can inherit a transient load
    // tail (or miss one that arrives mid-run); the run is only
    // normalizable when start and end agree
    val probeEnd: Seq[(String, Double)] =
      if (subset) Seq.empty else runProbe()
    val probeEndRatio: Option[Double] = medianRatio(probeEnd, probeEndPrior)
    probeEndRatio.foreach(r =>
      System.err.println(f"[bench] END probe median ratio vs prior: $r%.3f"))
    val probeJson = probeTimes.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val probeEndJson = probeEnd.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val probeWarmed = probeSet.map("\"" + _ + "\"").mkString("[", ",", "]")
    // raw AND normalized totals ride the artifact together: the
    // normalized one divides out measured host drift so a VERDICT can
    // read cross-round deltas without a re-run. With BOTH like-for-
    // like ratios (start-vs-prior-start, end-vs-prior-end) available,
    // normalization requires them to agree within 15% (otherwise the
    // drift moved mid-run and one ratio can't speak for the whole
    // total — both are stamped for adjudication); with only the start
    // ratio (the first end-block-bearing round), it normalizes alone.
    val probeProv = (probeRatio, probeEndRatio) match {
      case (Some(a), Some(b)) =>
        val agree = math.abs(a - b) <= 0.15 * math.max(a, b)
        val norm = if (agree) {
          val r = (a + b) / 2
          f""""total_normalized":${total / r}%.2f,"""
        } else """"probe_ratio_disagreement":true,"""
        f""""probe_median_ratio_vs_prior":$a%.4f,"probe_end_median_ratio_vs_prior":$b%.4f,""" + norm
      case (Some(a), None) =>
        f""""probe_median_ratio_vs_prior":$a%.4f,"total_normalized":${total / a}%.2f,"""
      case _ => ""
    }
    // layout-build disclosure (r11 VERDICT #5-audit/#6): min-of-k
    // reports warm-layout reads for layout-backed queries — the
    // one-time build lands in run 1 and is excluded from the min.
    // Stamping every layout BUILT inside this run (table → seconds)
    // puts the amortized cost in the artifact next to the warm
    // numbers; an empty map means every layout pre-existed on disk.
    val layoutBuilds = {
      import scala.jdk.CollectionConverters._
      graft.sources.Bucketing.buildLog.asScala.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
    }
    val aqeKnobs = s""""aqe_knobs":{"parallelismFirst":"${GraftSession.parallelismFirst}","advisoryPartitionSizeInBytes":"${GraftSession.advisoryPartition}"}"""
    val prov = s"""$aqeKnobs,"layout_builds":$layoutBuilds,"probe":$probeJson,"probe_end":$probeEndJson,"probe_warmed":$probeWarmed,$probeProv"git_sha":"$sha","started_utc":"$started","finished_utc":"${Verify.utcNow()}""""
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"queries_max":$qsMax,"queries_load":$qsLoad,"sf":"$sfDir","errors":$errs,"rerun_outliers":$reruns,"load":$load,"runs":$runs,$duckdb$prov}"""
    println(line)
    // the driver may keep only a tail of stdout; persist the full
    // artifact so per-query numbers survive regardless
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}")
    }
    // LAST stdout line = a COMPACT JSON the driver can always parse:
    // the full line above is ~15 KB at 384 queries and the driver
    // keeps only a ~4 KB stdout tail, so the full line's head gets
    // truncated away and "parsed" was null six rounds running. The
    // compact line keeps the headline queries (the slowest 24 by
    // min-time — the ones a reader would ask about) and points at the
    // full artifact; build.sbt sets showSuccess := false so no sbt
    // banner lands after it.
    val headline = results.toSeq.sortBy(-_._2._1).take(24)
    val hq = headline.map { case (k, v) => "\"" + k + "\":" + v._1 }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$hq,"sf":"$sfDir","n_queries":${results.size},"errors":$errs,"rerun_outliers":$reruns,"load":$load,"runs":$runs,"full":"$out",$prov}""")
    spark.stop()
    // errored queries must not read as a healthy rc=0 bench
    if (errors.nonEmpty) sys.exit(1)
  }
}

package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.util.QueryExecutionListener

/** JVM side of the benchmark. It drives the program only through its
  * public entry points (`SparkEntry.queries`, `streaming.Jobs`,
  * `streaming.ReplacingSink`, `tools.ServeDemo.main`) and talks to the
  * Python side (`run.py`) over stdin/stdout: every message it sends is one line
  * `@@ {json}`.
  *
  *   batch  <dataRoot> <outRoot> <passes> <trace.json|->
  *   stream <runDir> <backlogFiles> <filesPerTrigger> <rowsPerFile> <trace.json|->
  *   serve  <dataDir> <port> <trace.json>
  *
  * With a trace path the run registers a SparkListener, a
  * QueryExecutionListener and JMX/FileSystem probes, keeps spans in
  * memory and writes them with the per-layer numbers at the end.
  */
object Harness {
  /** The batch_refresh mix: registry name → layer it exercises. */
  val mix: Seq[(String, String)] = Seq(
    "dwd_trade_order_detail" -> "warehouse.dwd",
    "dws_trade_sku_order" -> "warehouse.dws",
    "pub_gmv_daily" -> "warehouse.publisher",
    "pub_province_topn" -> "warehouse.publisher",
    "dedup_clusters" -> "operators.dedup",
    "sim_ann_ivf" -> "operators.similarity",
    "graph_triangles" -> "operators.graph",
    "graph_pagerank" -> "operators.graph",
    "text_corpus_stats" -> "operators.text")

  @volatile private var tracer: Option[Tracer] = None

  def emit(kv: (String, Any)*): Unit = synchronized {
    println("@@ " + Json.obj(kv: _*).s)
    System.out.flush()
  }

  private def endSpan(s: Option[Span]): Unit =
    s.foreach(x => tracer.foreach(_.close(x)))

  def session(cores: Int, extra: Map[String, String] = Map.empty): SparkSession = {
    val b = graft.GraftSession.tune(
      SparkSession.builder().master(s"local[$cores]").appName("perfbench"),
      cores)
    extra.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    tracer.foreach(_.attach(s))
    s
  }

  def main(args: Array[String]): Unit = {
    val traceArg = args.last
    if (traceArg != "-") tracer = Some(new Tracer(traceArg))
    val cores = sys.env.getOrElse("PERFBENCH_CORES", "4").toInt
    try args(0) match {
      case "batch" => batch(args(1), args(2), args(3).toInt, cores)
      case "stream" => stream(args(1), args(2).toInt, args(3).toInt,
        args(4).toInt, cores)
      case "serve" => serve(args(1), args(2).toInt, cores)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    } catch { case e: Throwable =>
      e.printStackTrace()
      emit("event" -> "error", "message" -> String.valueOf(e.getMessage))
      System.out.flush()
      Runtime.getRuntime.halt(2)
    }
    // stay up until run.py has read this process's peak RSS
    while (Option(scala.io.StdIn.readLine()).exists(_.trim != "quit")) ()
    Runtime.getRuntime.halt(0)
  }

  // ---------------------------------------------------------------- batch

  def batch(dataRoot: String, outRoot: String, passes: Int, cores: Int): Unit = {
    val spark = session(cores)
    emit("event" -> "ready", "ms" -> System.currentTimeMillis())
    for (p <- 0 until passes) {
      val dir = s"$dataRoot/pass_$p"
      // the measured section starts after the cold pass
      if (p == 1) tracer.foreach(_.begin())
      val passSpan = tracer.map(_.open(s"pass_$p", None))
      val times = mutable.ArrayBuffer[(String, Double, Boolean)]()
      val pStart = System.nanoTime()
      for ((name, layer) <- mix) {
        val qSpan = tracer.map(_.open(layer, passSpan, Map("query" -> name)))
        val q0 = System.nanoTime()
        val ok = try {
          graft.SparkEntry.queries(name)(spark, dir)
            .write.mode("overwrite").parquet(s"$outRoot/pass_$p/$name")
          true
        } catch { case e: Throwable =>
          System.err.println(s"[perfbench] $name failed: $e")
          false
        }
        times += ((name, (System.nanoTime() - q0) / 1e9, ok))
        endSpan(qSpan)
      }
      val passS = (System.nanoTime() - pStart) / 1e9
      endSpan(passSpan)
      emit("event" -> "pass", "pass" -> p, "s" -> passS,
        "queries" -> times.map { case (n, s, ok) =>
          Json.obj("name" -> n, "s" -> s, "ok" -> ok) })
    }
    val pinned = spark.sparkContext.getPersistentRDDs.size
    val storageMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6
    val builds = graft.sources.Bucketing.buildLog.asScala
    tracer.foreach { t =>
      t.finish(spark, passes - 1, Map(
        "spark.pinned_rdds_end" -> pinned,
        "spark.storage_mb_end" -> storageMb,
        "sources.layout_builds" -> builds.size,
        "sources.layout_build_s" -> builds.values.map(_.doubleValue).sum))
    }
    emit("event" -> "done", "pinned_rdds" -> pinned, "storage_mb" -> storageMb,
      "layout_builds" -> builds.size)
  }

  // --------------------------------------------------------------- stream

  /** Per micro-batch record, keyed by (query, batchId). */
  final case class BatchRec(query: String, id: Long, rows: Long, lo: Long, hi: Long, durations: Map[String, Long],
      stateRows: Long, stateBytes: Long, stateCommitMs: Long,
      dropped: Long)

  def stream(runDir: String, backlog: Int, filesPerTrigger: Int,
      rowsPerFile: Int, cores: Int): Unit = {
    val spark = session(cores, Map(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    val readable = new ConcurrentHashMap[(String, Long), java.lang.Long]()
    val upsertMs = new ConcurrentHashMap[(String, Long), java.lang.Long]()
    val sinkBytes = new AtomicLong()
    val recs = new ConcurrentHashMap[(String, Long), BatchRec]()
    val hiSeen = new ConcurrentHashMap[String, java.lang.Long]()
    // rows consumed so far per query; every file holds rowsPerFile rows and
    // the file source takes files in modification-time order, so a batch's
    // file range follows from the rows before it (progress events of one
    // query arrive in batch order)
    val consumed = new ConcurrentHashMap[String, java.lang.Long]()
    @volatile var caughtUp = false

    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val before = Option(consumed.get(p.name)).map(_.longValue).getOrElse(0L)
        consumed.put(p.name, before + p.numInputRows)
        val (lo, hi) =
          if (p.numInputRows > 0) (before / rowsPerFile,
            (before + p.numInputRows) / rowsPerFile - 1)
          else (-1L, -1L)
        val st = p.stateOperators.toSeq
        val rec = BatchRec(p.name, p.batchId, p.numInputRows, lo, hi,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum,
          st.map(_.commitTimeMs).sum, st.map(_.numRowsDroppedByWatermark).sum)
        recs.put((p.name, p.batchId), rec)
        if (rec.hi >= 0) hiSeen.put(p.name, rec.hi)
        if (!caughtUp && Seq("pageview", "sku_order").forall(q =>
            Option(hiSeen.get(q)).exists(_ >= backlog - 1))) {
          caughtUp = true
          emit("event" -> "caught_up", "ms" -> System.currentTimeMillis())
        }
      }
    })

    def sink(name: String, keys: Seq[String], path: String)
        : (DataFrame, Long) => Unit = (batch, id) => {
      val span = tracer.map(_.open("streaming.sink_upsert", None,
        Map("query" -> name, "batch" -> id)))
      val u0 = System.currentTimeMillis()
      graft.streaming.ReplacingSink.upsert(
        batch.withColumn("ver", lit(id)), keys, "ver", path)
      val done = System.currentTimeMillis()
      endSpan(span)
      readable.put((name, id), done)
      upsertMs.put((name, id), done - u0)
      // the snapshot size is a traced-only figure: it stays out of the
      // timed micro-batch of untraced runs
      if (tracer.nonEmpty) sinkBytes.addAndGet(dirBytes(new java.io.File(path)))
    }

    val in = s"$runDir/in"
    val evSchema = spark.read.parquet(s"$in/events").schema
    val dtSchema = spark.read.parquet(s"$in/details").schema
    val events = graft.sources.Tables.normalizeTs(spark.readStream
      .schema(evSchema).option("maxFilesPerTrigger", filesPerTrigger.toString)
      .parquet(s"$in/events"))
    val details = spark.readStream.schema(dtSchema)
      .option("maxFilesPerTrigger", filesPerTrigger.toString)
      .parquet(s"$in/details")
    val dim = graft.sources.Tables.part(spark, s"$runDir/dim")
      .select(col("p_partkey"), col("p_brand"))

    def start(name: String, df: DataFrame, keys: Seq[String]): StreamingQuery =
      df.writeStream.queryName(name).outputMode("update")
        .option("checkpointLocation", s"$runDir/ckpt/$name")
        .foreachBatch(sink(name, keys, s"$runDir/serving/$name"))
        .start()

    val queries = Seq(
      start("pageview", graft.streaming.Jobs.pageViewWindow(events),
        Seq("wstart", "event_type")),
      start("sku_order", graft.streaming.Jobs.skuOrderWindow(
        details, dim, "p_partkey", "p_brand"), Seq("wstart", "p_brand")))
    emit("event" -> "ready", "ms" -> System.currentTimeMillis())
    tracer.foreach(_.begin())

    // run.py sends `end <lastSeq>` once the live phase is written
    val line = scala.io.StdIn.readLine()
    val last = line.trim.split(" ")(1).toLong
    val deadline = System.currentTimeMillis() + 120000L
    while (!queries.forall(q => Option(hiSeen.get(q.name)).exists(_ >= last))
        && System.currentTimeMillis() < deadline) {
      queries.foreach(q => q.exception.foreach(e => throw e))
      Thread.sleep(20)
    }
    queries.foreach(_.stop())
    val all = recs.values.asScala.toSeq.sortBy(r => (r.query, r.id))
    tracer.foreach { t =>
      def p50(xs: Seq[Long]): Double =
        if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2).toDouble
      val data = all.filter(_.rows > 0)
      def dur(k: String) = p50(data.flatMap(_.durations.get(k)))
      t.finish(spark, data.size, Map(
        "streaming.batches" -> all.size,
        "streaming.latest_offset_ms_p50" -> dur("latestOffset"),
        "streaming.query_planning_ms_p50" -> dur("queryPlanning"),
        "streaming.add_batch_ms_p50" -> dur("addBatch"),
        "streaming.wal_commit_ms_p50" -> dur("walCommit"),
        "streaming.sink_upsert_ms_p50" ->
          p50(upsertMs.values.asScala.toSeq.map(_.longValue)),
        "streaming.sink_mb_written" -> sinkBytes.get / 1e6,
        "streaming.state_rows_end" -> all.groupBy(_.query)
          .values.map(_.last.stateRows).sum,
        "streaming.state_mb_end" -> all.groupBy(_.query)
          .values.map(_.last.stateBytes).sum / 1e6,
        "streaming.state_commit_ms_p50" -> p50(data.map(_.stateCommitMs))))
    }
    emit("event" -> "done", "batches" -> all.map { r =>
      Json.obj("query" -> r.query, "id" -> r.id,
        "readable_ms" -> Option(readable.get((r.query, r.id)))
          .map(_.longValue).getOrElse(-1L),
        "rows" -> r.rows, "lo" -> r.lo, "hi" -> r.hi,
        "trigger_ms" -> r.durations.getOrElse("triggerExecution", -1L),
        "dropped" -> r.dropped)
    })
  }

  private def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else f.length()

  // ---------------------------------------------------------------- serve

  /** Traced serving: ServeDemo's main runs in this JVM on the session
    * created here, so the listeners see every request's jobs. */
  def serve(dataDir: String, port: Int, cores: Int): Unit = {
    session(cores)
    val t = new Thread(() => graft.tools.ServeDemo.main(
      Array(dataDir, port.toString)))
    t.setDaemon(true)
    t.start()
    // run.py sends `begin` after the cold round and `end <n>` after
    // the loop, n being the number of requests sent in between
    val b = scala.io.StdIn.readLine()
    require(b.trim == "begin", s"expected begin, got $b")
    tracer.foreach(_.begin())
    val e = scala.io.StdIn.readLine().trim.split(" ")
    val n = e(1).toInt
    tracer.foreach(_.finish(SparkSession.active, n, Map.empty))
    emit("event" -> "done")
  }
}

final case class Span(id: Long, name: String, parent: Option[Span],
    start: Long, attrs: Map[String, Any])

/** Counters, phases and spans of one traced run. Everything stays in
  * memory until [[finish]] writes one JSON file. */
final class Tracer(path: String) {
  private val jobs = new AtomicLong()
  private val tasks = new AtomicLong()
  private val cpuNs = new AtomicLong()
  private val shW = new AtomicLong()
  private val shR = new AtomicLong()
  private val spill = new AtomicLong()
  private val stageTasks = new ConcurrentHashMap[Int, java.util.List[java.lang.Long]]()
  private val phases = new ConcurrentHashMap[String, DoubleAdder]()
  private val spans = java.util.Collections.synchronizedList(
    new java.util.ArrayList[Map[String, Any]]())
  private val nextId = new AtomicLong()
  @volatile private var on = false
  private var base: Map[String, Double] = Map.empty

  def open(name: String, parent: Option[Span],
      attrs: Map[String, Any] = Map.empty): Span =
    Span(nextId.incrementAndGet(), name, parent, System.nanoTime(), attrs)

  def close(s: Span): Unit = spans.add(Map("id" -> s.id, "name" -> s.name,
    "parent" -> s.parent.map(_.id).getOrElse(0L),
    "start_ns" -> s.start, "end_ns" -> System.nanoTime()) ++ s.attrs)

  def attach(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (on) jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
        tasks.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) {
          cpuNs.addAndGet(m.executorCpuTime)
          shW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
        stageTasks.computeIfAbsent(e.stageId,
          _ => java.util.Collections.synchronizedList(
            new java.util.ArrayList[java.lang.Long]()))
          .add(e.taskInfo.duration)
      }
    })
    s.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (on) qe.tracker.phases.foreach { case (k, v) =>
          phases.computeIfAbsent(k, _ => new DoubleAdder()).add(v.durationMs / 1e3)
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  private def jvm(): Map[String, Double] = {
    import java.lang.management.ManagementFactory
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .map(_.getTotalCompilationTime / 1e3).getOrElse(0.0)
    import org.apache.spark.metrics.source.HiveCatalogMetrics._
    Map("jvm.gc_s" -> gc, "jvm.jit_s" -> jit,
      "sources.files_discovered" -> METRIC_FILES_DISCOVERED.getCount.toDouble,
      "sources.listing_jobs" -> METRIC_PARALLEL_LISTING_JOB_COUNT.getCount.toDouble)
  }

  def begin(): Unit = { base = jvm(); on = true }

  /** Write the trace; `units` is the number of units of work measured
    * (warm passes, data micro-batches or requests). */
  def finish(s: SparkSession, units: Int, extra: Map[String, Any]): Unit = {
    on = false
    val j = jvm()
    val u = math.max(units, 1).toDouble
    val skew = stageTasks.values.asScala.map(_.asScala.map(_.longValue).toSeq)
      .filter(_.size >= 4).map { ds =>
        val sorted = ds.sorted
        sorted.last.toDouble / math.max(sorted(sorted.size / 2), 1L)
      }
    def ph(k: String) = Option(phases.get(k)).map(_.sum).getOrElse(0.0) / u
    val perLayer: Map[String, Any] = Map(
      "units" -> units,
      "spark.jobs" -> jobs.get / u,
      "spark.tasks" -> tasks.get / u,
      "spark.task_cpu_s" -> cpuNs.get / 1e9 / u,
      "spark.task_skew_max" -> (if (skew.isEmpty) 1.0 else skew.max),
      "spark.shuffle_write_mb" -> shW.get / 1e6 / u,
      "spark.shuffle_read_mb" -> shR.get / 1e6 / u,
      "spark.spill_mb" -> spill.get / 1e6 / u,
      "plans.analysis_s" -> ph("analysis"),
      "plans.optimization_s" -> ph("optimization"),
      "plans.planning_s" -> ph("planning"),
      "jvm.gc_s" -> (j("jvm.gc_s") - base("jvm.gc_s")) / u,
      "jvm.jit_s" -> (j("jvm.jit_s") - base("jvm.jit_s")) / u,
      "sources.files_discovered" ->
        (j("sources.files_discovered") - base("sources.files_discovered")) / u,
      "sources.listing_jobs" ->
        (j("sources.listing_jobs") - base("sources.listing_jobs")) / u) ++ extra
    val doc = Json.obj("per_layer" -> perLayer,
      "spans" -> spans.asScala.toSeq.map(m => Json.obj(m.toSeq: _*)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), doc.s)
  }
}

/** Just enough JSON writing for the harness's own messages. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case r: RawJson => r.s
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*).s
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => value(other.toString)
  }
  final case class RawJson(s: String)
  def obj(kv: (String, Any)*): RawJson =
    RawJson(kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}"))
}

package graft.streaming

import graft.GraftSession
import graft.sources.Tables
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Runnable end-to-end wiring of the streaming jobs over the test
  * events table: file micro-batch source → window agg / stateful UV
  * dedup / CDC routing → memory+parquet sinks. Usage:
  *
  *   sbt "runMain graft.streaming.StreamingDemo [sfDir]"
  *
  * Prints one observation line per job; exits nonzero on any
  * mismatch against the batch-computed expectation.
  */
object StreamingDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local(appName = "graft-streaming-demo")
    spark.sparkContext.setLogLevel("ERROR")

    // FileStreamSource needs a directory: stage the table behind a link
    val stage = Files.createTempDirectory("demo-events")
    Files.createSymbolicLink(stage.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$sfDir/events.parquet"))
    def ck() = Files.createTempDirectory("demo-ck").toString
    var failed = false
    def check(name: String, got: Long, expected: Long): Unit = {
      val ok = got == expected
      if (!ok) failed = true
      println(s"[demo] $name: got=$got expected=$expected ${if (ok) "OK" else "MISMATCH"}")
    }

    val events = Sources.events(spark, stage.toString)

    val w = Jobs.pageViewWindow(events).writeStream.format("memory")
      .queryName("demo_w").outputMode("complete").start()
    w.processAllAvailable(); w.stop()
    check("pageViewWindow rows",
      spark.sql("SELECT count(*) FROM demo_w").collect()(0).getLong(0),
      Tables.events(spark, sfDir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type")).count().count())

    val u = Jobs.uvFirstVisit(events).writeStream.format("memory")
      .queryName("demo_u").outputMode("append")
      .option("checkpointLocation", ck()).start()
    u.processAllAvailable(); u.stop()
    check("uvFirstVisit hits",
      spark.sql("SELECT count(*) FROM demo_u").collect()(0).getLong(0),
      Tables.events(spark, sfDir)
        .select(col("user_id"), to_date(col("ts"))).distinct().count())

    val cdcOut = Files.createTempDirectory("demo-cdc").toString
    val c = CdcRouter.start(Sources.cdcFromEvents(events),
      Map("click" -> CdcRouter.Route(s"$cdcOut/click"),
          "error" -> CdcRouter.Route(s"$cdcOut/error", keepDeletes = true)),
      ck())
    c.processAllAvailable(); c.stop()
    val cdcBatch = Sources.cdcFromEvents(Tables.events(spark, sfDir))
    check("cdc click rows (deletes dropped)",
      spark.read.parquet(s"$cdcOut/click").count(),
      cdcBatch.filter(col("table") === "click" && col("op") =!= "delete").count())
    check("cdc error rows (deletes kept)",
      spark.read.parquet(s"$cdcOut/error").count(),
      cdcBatch.filter(col("table") === "error").count())

    val kw = Jobs.keywordWindow(events).writeStream.format("memory")
      .queryName("demo_kw").outputMode("complete").start()
    kw.processAllAvailable(); kw.stop()
    check("keywordWindow total keywords",
      spark.sql("SELECT sum(keyword_ct) FROM demo_kw").collect()(0).getLong(0),
      Tables.events(spark, sfDir).count() * 2)

    val liStage = Files.createTempDirectory("demo-li")
    Files.createSymbolicLink(liStage.resolve("lineitem.parquet"),
      java.nio.file.Paths.get(s"$sfDir/lineitem.parquet"))
    val liStream = spark.readStream
      .schema(Tables.lineitem(spark, sfDir).schema).parquet(liStage.toString)
      .select(col("l_shipdate").cast("timestamp").as("d_time"),
        col("l_partkey").as("sku_id"), col("l_extendedprice").as("amount"))
    val sku = Jobs.skuOrderWindow(liStream,
      Tables.part(spark, sfDir).select(col("p_partkey"), col("p_brand")),
      "p_partkey", "p_brand")
      .writeStream.format("memory").queryName("demo_sku")
      .outputMode("complete").start()
    sku.processAllAvailable(); sku.stop()
    check("skuOrderWindow groups",
      spark.sql("SELECT count(*) FROM demo_sku").collect()(0).getLong(0),
      Tables.lineitem(spark, sfDir)
        .join(Tables.part(spark, sfDir), col("l_partkey") === col("p_partkey"))
        .groupBy(window(col("l_shipdate").cast("timestamp"), "1 day"),
          col("p_brand")).count().count())

    val repOut = Files.createTempDirectory("demo-rep").toString + "/snap"
    val rep = ReplacingSink.start(
      events.select(col("user_id").as("k"), col("event_type").as("v"),
        col("event_id").as("ver")),
      Seq("k"), "ver", repOut, ck())
    rep.processAllAvailable(); rep.stop()
    check("replacing sink rows = distinct keys",
      spark.read.parquet(repOut).count(),
      Tables.events(spark, sfDir).select("user_id").distinct().count())

    // streaming near-dup over the documents table: candidate pairs
    // from per-bucket MinHash state match the batch banding rule
    val docStage = Files.createTempDirectory("demo-docs")
    Files.createSymbolicLink(docStage.resolve("documents.parquet"),
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"))
    val docs = spark.readStream
      .schema(Tables.documents(spark, sfDir).schema)
      .parquet(docStage.toString)
      .select(col("doc_id"), col("text"))
    val nd = Jobs.streamingNearDup(docs).writeStream.format("memory")
      .queryName("demo_nd").outputMode("append")
      .option("checkpointLocation", ck()).start()
    nd.processAllAvailable(); nd.stop()
    val ndPairs = spark.sql(
      "SELECT count(DISTINCT id_a, id_b) FROM demo_nd").collect()(0).getLong(0)
    check("streaming near-dup found pairs", if (ndPairs > 0) 1 else 0, 1)

    spark.stop()
    if (failed) sys.exit(1)
  }
}

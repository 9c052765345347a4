package graft.tools

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.Verify.jstr
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The publisher's HTTP serving surface — the last visible
  * reference-surface gap: the reference exposes its serving queries
  * over Spring MVC controllers (gmall2024-realtime-master/
  * gmall2024-publisher-ck/src/main/java/com/atguigu/gmall/publisher/
  * controller/TradeStatsController.java:1), while this engine only
  * shipped the mapper SQL semantics. This demo closes the loop: the
  * three publisher serving relations are materialized ONCE into a
  * date-partitioned serving layout (the warehouse pattern
  * `sources.Partitioned` proves pruning for), then a zero-dependency
  * JDK `com.sun.net.httpserver` listener answers them as JSON —
  * per-request work is a pruned read of a few serving rows, never a
  * fact-table scan, which is exactly the Doris/ClickHouse division
  * of labor the reference assumes.
  *
  *   tools/run.sh graft.tools.ServeDemo /root/testdata/sf0.001 8642 &
  *   curl localhost:8642/gmv                 # all days
  *   curl localhost:8642/gmv?date=1997-03-15 # partition-pruned day
  *   curl localhost:8642/province/topn
  *   curl localhost:8642/channel/uvct
  *
  * This is a demo main, not a production server (single listener,
  * no auth) — the engine remains a library; anything speaking real
  * HTTP at scale would front these same serving tables.
  */
object ServeDemo {

  /** Rows → a JSON array string. Serving relations are tiny
    * (per-day / top-N aggregates), so driver-side encoding is the
    * point, not a compromise.
    */
  private def toJson(df: DataFrame): String = {
    val cols = df.schema.fieldNames
    df.collect().map { r =>
      cols.indices.map { i =>
        val v = r.get(i)
        val s = v match {
          case null => "null"
          case _: java.lang.Number => v.toString
          case other => jstr(other.toString)
        }
        jstr(cols(i)) + ":" + s
      }.mkString("{", ",", "}")
    }.mkString("[", ",", "]")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val port = args.lift(1).map(_.toInt).getOrElse(8642)
    val spark = graft.GraftSession.local(appName = "graft-serve-demo")
    spark.sparkContext.setLogLevel("WARN")

    // ---- build the serving layer once (the "streaming job" half of
    // the reference; here a batch refresh over the warehouse) ----
    val warehouse = java.nio.file.Files
      .createTempDirectory("graft_serve").toString
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(warehouse)))
    val gmvPath = s"$warehouse/gmv_daily"
    graft.warehouse.Publisher.gmvDaily(spark, sfDir)
      .withColumn("cur_date", col("cur_date").cast("string"))
      .write.partitionBy("cur_date").mode("overwrite").parquet(gmvPath)
    val provincePath = s"$warehouse/province_topn"
    graft.warehouse.Publisher.provinceTopN(spark, sfDir)
      .write.mode("overwrite").parquet(provincePath)
    val channelPath = s"$warehouse/channel_uvct"
    graft.warehouse.Publisher.channelUvCt(spark, sfDir)
      .write.mode("overwrite").parquet(channelPath)

    def handle(ex: HttpExchange)(body: => String): Unit = {
      val (code, payload) =
        try (200, body)
        catch { case e: Throwable =>
          (500, "{\"error\":" + jstr(Option(e.getMessage)
            .getOrElse(e.getClass.getName).take(300)) + "}")
        }
      val bytes = payload.getBytes("UTF-8")
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    }
    def param(ex: HttpExchange, key: String): Option[String] =
      Option(ex.getRequestURI.getQuery).flatMap(_.split("&")
        .map(_.split("=", 2)).collectFirst {
          case Array(k, v) if k == key => v
        })

    val server = HttpServer.create(
      new java.net.InetSocketAddress(port), 0)
    server.createContext("/gmv", (ex: HttpExchange) => handle(ex) {
      // ?date= filters ON THE PARTITION COLUMN — the read lists only
      // that day's directory (plan shows PartitionFilters), the
      // TradeStatsController `date` request param made literal
      val base = spark.read.parquet(gmvPath)
      toJson(param(ex, "date").fold(base)(d =>
          base.filter(col("cur_date") === d))
        .orderBy("cur_date"))
    })
    server.createContext("/province/topn",
      (ex: HttpExchange) => handle(ex) {
        toJson(spark.read.parquet(provincePath).orderBy("rk"))
      })
    server.createContext("/channel/uvct",
      (ex: HttpExchange) => handle(ex) {
        toJson(spark.read.parquet(channelPath).orderBy("ch"))
      })
    server.createContext("/health", (ex: HttpExchange) => handle(ex) {
      """{"status":"ok"}"""
    })
    server.start()
    println(s"""{"serving":"http://localhost:$port","endpoints":["/gmv","/gmv?date=YYYY-MM-DD","/province/topn","/channel/uvct","/health"],"warehouse":"$warehouse"}""")
    // foreground until killed — it's a demo server
    Thread.currentThread().join()
  }
}

package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.ListenerBusDrain
import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `tools.ServeDemo` over HTTP: every endpoint answers its Publisher
  * relation in endpoint order, and a warm day read is one Spark job
  * that lists nothing.
  */
class ServeDemoSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val s = TestSpark.spark
  private val d = TestSpark.sf
  private var servingDir: String = _
  private var server: com.sun.net.httpserver.HttpServer = _

  override def beforeAll(): Unit = {
    servingDir = java.nio.file.Files.createTempDirectory("graft_serve").toString
    server = tools.ServeDemo.start(s, d, servingDir, 0)
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop(0)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(servingDir))
  }

  private def get(path: String): String = {
    val in = java.net.URI.create(
      s"http://localhost:${server.getAddress.getPort}$path").toURL.openStream()
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  private def status(path: String): Int = {
    val c = java.net.URI.create(
      s"http://localhost:${server.getAddress.getPort}$path").toURL
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    try c.getResponseCode finally c.disconnect()
  }

  /** A JSON body as rows of field → value text, in body order. */
  private def rows(body: String): Seq[Map[String, String]] =
    new ObjectMapper().readTree(body).elements().asScala.toSeq.map { r =>
      r.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }

  /** A relation's rows in the endpoint's order, sorted by Spark. */
  private def expected(df: DataFrame, key: String): Seq[Map[String, String]] =
    df.orderBy(key).collect().toSeq.map(r =>
      r.getValuesMap[Any](r.schema.fieldNames.toSeq)
        .map { case (c, v) => c -> String.valueOf(v) })

  test("every endpoint answers its Publisher relation in endpoint order") {
    val gmv = warehouse.Publisher.gmvDaily(s, d)
      .withColumn("cur_date", col("cur_date").cast("string"))
    val all = expected(gmv, "cur_date")
    assert(all.size > 2)
    assert(rows(get("/gmv")) === all)
    for (day <- Seq(all.head("cur_date"), all(all.size / 2)("cur_date")))
      assert(rows(get(s"/gmv?date=$day")) === all.filter(_("cur_date") == day))
    assert(get("/gmv?date=1900-01-01") === "[]")

    val topn = rows(get("/province/topn"))
    assert(topn === expected(warehouse.Publisher.provinceTopN(s, d), "rk"))
    // numeric order: rank 10 follows rank 9, not rank 1
    assert(topn.map(_("rk").toLong) === (1L to 10L))

    assert(rows(get("/channel/uvct")) ===
      expected(warehouse.Publisher.channelUvCt(s, d), "ch"))
  }

  test("a warm day read is one Spark job and discovers no files") {
    val day = rows(get("/gmv")).last("cur_date")
    get(s"/gmv?date=$day") // warm
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    ListenerBusDrain(s.sparkContext)
    s.sparkContext.addSparkListener(listener)
    try {
      val files = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
      assert(rows(get(s"/gmv?date=$day")).map(_("cur_date")) === Seq(day))
      ListenerBusDrain(s.sparkContext)
      assert(jobs.get === 1)
      assert(HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount === files)
    } finally s.sparkContext.removeSparkListener(listener)
  }

  test("only an endpoint's exact path answers; any other path is a 404") {
    for (p <- Seq("/gmv", "/gmv?date=1900-01-01", "/province/topn",
        "/channel/uvct", "/health"))
      assert(status(p) === 200, p)
    for (p <- Seq("/gmvx", "/gmv/extra", "/gmv/", "/health/x",
        "/province/topnx", "/channel", "/", "/nope"))
      assert(status(p) === 404, p)
  }

  test("a keep-alive connection answers without the Nagle/delayed-ACK stall") {
    val sock = new java.net.Socket("localhost", server.getAddress.getPort)
    try {
      sock.setSoTimeout(10000)
      val out = sock.getOutputStream
      val in = new java.io.DataInputStream(
        new java.io.BufferedInputStream(sock.getInputStream))
      val request = "GET /health HTTP/1.1\r\nHost: localhost\r\n\r\n"
        .getBytes("US-ASCII")
      /** One request on the open connection; its wall time in ms. */
      def roundTrip(): Double = {
        val t0 = System.nanoTime()
        out.write(request)
        out.flush()
        val head = new StringBuilder
        while (!head.endsWith("\r\n\r\n")) head += in.readByte().toChar
        val len = head.toString.split("\r\n").collectFirst {
          case h if h.toLowerCase.startsWith("content-length:") =>
            h.drop("content-length:".length).trim.toInt
        }.get
        val body = new Array[Byte](len)
        in.readFully(body)
        assert(head.startsWith("HTTP/1.1 200"))
        assert(new String(body, "UTF-8") === """{"status":"ok"}""")
        (System.nanoTime() - t0) / 1e6
      }
      roundTrip() // warm
      val ms = Seq.fill(30)(roundTrip()).sorted
      // with Nagle on, each response waits ~40 ms for a delayed ACK
      assert(ms(ms.size / 2) < 10.0, ms.mkString(", "))
    } finally sock.close()
  }
}

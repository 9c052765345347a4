package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Best-effort HEAD commit — provenance for the dump (r7's one red
    * was two driver hash-fails nobody could tie to a commit or SF
    * because the artifacts carried no identity). Never fails the run.
    */
  private[graft] def gitSha(): String =
    try {
      val p = new ProcessBuilder("git", "rev-parse", "HEAD")
        .redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes, "UTF-8").trim
      if (p.waitFor() == 0 && out.matches("[0-9a-f]{40}")) out
      else "unknown"
    } catch { case _: Throwable => "unknown" }

  /** JSON string literal: escapes backslash, quote, and EVERY control
    * char < 0x20 — a tab in oracle SQL or a newline in a served value
    * would otherwise emit JSON that readers reject.
    */
  private[graft] def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private[graft] def utcNow(): String =
    java.time.format.DateTimeFormatter.ISO_INSTANT
      .format(java.time.Instant.now()
        .truncatedTo(java.time.temporal.ChronoUnit.SECONDS))

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val started = utcNow()
    val spark = GraftSession.local(appName = "graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // iteration aid: SPARK_GRAFT_VERIFY_ONLY=<regex> dumps a subset
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY").map(_.r)
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.findFirstIn(n).isDefined) }
      .foreach { case (name, fn) =>
      // repartition(1), NOT coalesce(1): coalesce pulls the whole
      // query computation onto one thread; repartition keeps the
      // compute parallel and single-threads only the file write
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $msg")
        failures += name -> msg
        // a failed query must not VANISH from the artifact (r5: 13
        // broken queries left CORRECTNESS with 145 all-green keys —
        // breakage read as a clean round). Overwrite any partial/stale
        // output with a one-row `err` frame: the driver's compare then
        // records the key with a schema/hash mismatch and the error
        // text is visible in the dumped parquet itself.
        import spark.implicits._
        try Seq(msg.take(4000)).toDF("err").repartition(1)
          .write.mode("overwrite").parquet(s"$outDir/$name")
        catch { case e2: Throwable =>
          System.err.println(s"[verify] $name err-row write failed: ${e2.getMessage}")
        }
      }
    }
    val json = SparkEntry.oracleSql
      .filter { case (n, _) => only.forall(_.findFirstIn(n).isDefined) }
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // structural failure record beside the dumps (machine-readable
    // even if a reader ignores the per-query err frames)
    val failJson = failures
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), failJson)
    // self-identifying dump: which commit, which SF, when, how many
    // queries — the fields a mismatch adjudication needs in one read
    val nQ = SparkEntry.queries.count { case (n, _) =>
      only.forall(_.findFirstIn(n).isDefined) }
    val nO = SparkEntry.oracleSql.count { case (n, _) =>
      only.forall(_.findFirstIn(n).isDefined) }
    val meta = Seq(
      "git_sha" -> gitSha(), "sf_dir" -> sfDir, "out_dir" -> outDir,
      "started_utc" -> started, "finished_utc" -> utcNow(),
      "spark_version" -> spark.version,
      "cpus" -> GraftSession.defaultCores.toString,
      "n_queries" -> nQ.toString, "n_oracle" -> nO.toString,
      "n_failed" -> failures.size.toString,
      "subset_regex" -> sys.env.getOrElse("SPARK_GRAFT_VERIFY_ONLY", ""))
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/meta.json"), meta)
    spark.stop()
  }
}

package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each selected SparkEntry query's result →
  * parquet, plus oracle_sql.json, for the driver's DuckDB compare. */
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

  /** `Verify <sfDir> <outDir> [query...]`: dumps the named queries
    * (all, when none are named) and their oracle SQL.
    */
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, names @ _*) = args
    val picked = SparkEntry.select(names)
    val started = utcNow()
    val spark = GraftSession.local(appName = "graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    picked.foreach { q =>
      // repartition(1), NOT coalesce(1): coalesce pulls the whole
      // query computation onto one thread; repartition keeps the
      // compute parallel and single-threads only the file write
      try q.build(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] ${q.name} failed: $msg")
        failures += q.name -> msg
        // a failed query must not VANISH from the artifact (r5: 13
        // broken queries left CORRECTNESS with 145 all-green keys —
        // breakage read as a clean round). Overwrite any partial/stale
        // output with a one-row `err` frame: the driver's compare then
        // records the key with a schema/hash mismatch and the error
        // text is visible in the dumped parquet itself.
        import spark.implicits._
        try Seq(msg.take(4000)).toDF("err").repartition(1)
          .write.mode("overwrite").parquet(s"$outDir/${q.name}")
        catch { case e2: Throwable =>
          System.err.println(s"[verify] ${q.name} err-row write failed: ${e2.getMessage}")
        }
      }
      SparkEntry.release(spark)
    }
    def jobj(kvs: Iterable[(String, String)]): String =
      kvs.map { case (k, v) => s"${jstr(k)}: $v" }.mkString("{", ",", "}")
    val oracles = picked.flatMap(q => q.oracle.map(q.name -> jstr(_)))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), jobj(oracles))
    // structural failure record beside the dumps (machine-readable
    // even if a reader ignores the per-query err frames)
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"),
      jobj(failures.map { case (k, v) => k -> jstr(v) }))
    // self-identifying dump: which commit, which SF, when, how many
    // queries — the fields a mismatch adjudication needs in one read;
    // `selected` lists the names given (empty: every query)
    val meta = Seq(
      "git_sha" -> gitSha(), "sf_dir" -> sfDir, "out_dir" -> outDir,
      "started_utc" -> started, "finished_utc" -> utcNow(),
      "spark_version" -> spark.version,
      "cpus" -> GraftSession.defaultCores.toString,
      "n_queries" -> picked.size.toString,
      "n_oracle" -> oracles.size.toString,
      "n_failed" -> failures.size.toString)
      .map { case (k, v) => k -> jstr(v) } :+
      ("selected" -> names.map(jstr).mkString("[", ",", "]"))
    Files.writeString(Paths.get(s"$outDir/meta.json"), jobj(meta))
    spark.stop()
  }
}

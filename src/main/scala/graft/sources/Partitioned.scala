package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Date-partitioned serving tables — the engine analogue of the
  * reference's ClickHouse per-date partitions (TradeStatsMapper.java:1
  * queries `PARTITION par#{date}`): DWS outputs land as
  * `path/dt=YYYY-MM-DD/` parquet, and a dashboard query for one day
  * scans exactly one partition (partition pruning happens at plan
  * time — `PartitionFilters` in the scan, zero data files touched for
  * other days). At 100 TB the serving layer lives or dies by this.
  */
object Partitioned {

  /** Write `df` partitioned by `partCol` (hive-style directories). */
  def write(df: DataFrame, path: String, partCol: String): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partCol).parquet(path)

  /** Read back with a partition predicate — prunes at plan time.
    * Each call resolves the table afresh, so it lists every partition
    * directory (a listing job above 32) before pruning to one. A
    * long-lived server resolves the table once and filters the held
    * relation instead, as `tools.ServeDemo` does.
    */
  def readDay(s: SparkSession, path: String, partCol: String,
      day: String): DataFrame =
    s.read.parquet(path).filter(col(partCol) === day)

  /** Idempotent partition backfill: overwrite ONLY the partitions
    * present in `df`, leave every other directory untouched — the
    * dynamic `partitionOverwriteMode` contract that makes "re-run
    * yesterday's job" safe (static overwrite mode would drop the
    * whole table; appending would double-count). This is THE
    * correction primitive for a date-partitioned lake: recompute one
    * day from source, land it atomically per-partition, serving
    * queries on other days never notice.
    */
  def overwritePartitions(df: DataFrame, path: String,
      partCol: String): Unit = {
    val s = df.sparkSession
    val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try df.write.mode(SaveMode.Overwrite).partitionBy(partCol).parquet(path)
    finally prev match {
      case Some(v) => s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None =>
        s.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** TTL retention sweep — the ClickHouse `TTL date + INTERVAL n DAY`
    * semantic for a date-partitioned lake table: drop every
    * `dt=YYYY-MM-DD` partition strictly older than `cutoffDay`,
    * never touching newer ones, and return the audit report
    * `(partition, n_files, bytes, action)` for BOTH kept and dropped
    * partitions. `dryRun = true` produces the identical report with
    * zero deletes — the review step before an irreversible sweep.
    * Partition-directory deletion is idempotent (a crashed sweep
    * re-runs to the same end state), and the serving reader never
    * sees a half-dropped partition because deletion is per-directory
    * (the pruning unit), not per-file.
    */
  def retentionSweep(s: SparkSession, path: String, partCol: String,
      cutoffDay: String, dryRun: Boolean = false): DataFrame = {
    import s.implicits._
    val root = new java.io.File(path)
    val parts = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(partCol + "="))
    val report = parts.toSeq.map { dir =>
      val day = dir.getName.drop(partCol.length + 1)
      val files = Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(_.isFile)
      val expired = day < cutoffDay
      val action =
        if (!expired) "keep"
        else if (dryRun) "would_drop" else "drop"
      if (expired && !dryRun) {
        files.foreach(_.delete())
        Option(dir.listFiles()).getOrElse(Array.empty).foreach(_.delete())
        dir.delete()
      }
      (dir.getName, files.length.toLong, files.map(_.length).sum, action)
    }
    report.toDF("partition", "n_files", "bytes", "action")
  }
}

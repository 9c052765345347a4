package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Event-time-ordered replay staging for file-source streams.
  *
  * A parquet stream source processes files oldest-mod-time first, so
  * replaying a historical fact through a watermarked job needs the
  * files TIME-RANGED and their mod times monotone in event time —
  * the operational Kafka shape a production watermark is sized for.
  * Feeding the same rows in random file order advances the watermark
  * to near-max in the first micro-batch and silently drops a large
  * share of updates as late data (measured ~30% on the sf0.1
  * lineitem replay), which corrupts both correctness and any
  * throughput number taken from the run.
  *
  * `stageOrdered` writes `df` as `chunks` time-ranged partitions
  * (equal event-time spans) under `stageDir` and touches each
  * chunk's files to strictly increasing mod times. Consumers read
  * with `readStream.parquet(stageDir)` + `maxFilesPerTrigger` and
  * drop the synthetic `ck` column. It staged the committed
  * STREAMBENCH_r11.json catch-up, which perfbench's `stream_live`
  * workload now measures; spec-tested in StreamingSpec.
  */
object Replay {
  /** @param tsCol event-time column (timestamp type) of `df`
    * @return staged row count
    */
  def stageOrdered(df: DataFrame, tsCol: String, stageDir: String,
      chunks: Int): Long = {
    val spark = df.sparkSession
    val ext = df.agg(min(unix_timestamp(col(tsCol))),
      max(unix_timestamp(col(tsCol)))).collect()(0)
    val (mnS, mxS) = (ext.getLong(0), ext.getLong(1))
    df.withColumn("ck", least(lit(chunks - 1),
        floor((unix_timestamp(col(tsCol)) - mnS) * chunks /
          math.max(mxS - mnS + 1, 1L))).cast("int"))
      .repartition(chunks, col("ck"))
      .write.partitionBy("ck").mode("overwrite").parquet(stageDir)
    val base = java.nio.file.FileSystems.getDefault
    (0 until chunks).foreach { k =>
      val dir = base.getPath(stageDir, s"ck=$k")
      if (java.nio.file.Files.isDirectory(dir)) {
        val t = java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - (chunks - k) * 60000L)
        java.nio.file.Files.list(dir).forEach(f =>
          java.nio.file.Files.setLastModifiedTime(f, t))
      }
    }
    spark.read.parquet(stageDir).count()
  }
}

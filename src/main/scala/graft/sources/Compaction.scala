package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Atomic snapshot-directory replacement + small-file compaction.
  *
  * Streaming sinks and frequent micro-batch writes fragment a table
  * into thousands of small files; at warehouse scale the scan then
  * pays one task + one open per fragment and the NameNode/listing
  * pays the metadata. Compaction bin-packs the data back to
  * target-sized files. The swap is the same crash-recoverable
  * two-rename protocol the streaming sinks use (write tmp → move old
  * aside → promote → drop old), so readers never observe a partial
  * table.
  */
object Compaction {

  /** Replace the directory at `path` with `df`'s contents via
    * write-to-temp + two checked renames: plain overwrite would
    * clobber its own input mid-read, and an unchecked rename can
    * silently lose the snapshot (cross-filesystem tmp). A crash at
    * any point leaves either the old or the new snapshot recoverable:
    * a writer that reads the current snapshot first calls [[recover]].
    */
  def replaceDir(df: DataFrame, path: String): Unit = {
    val tmp = path + "__tmp"
    df.write.mode(SaveMode.Overwrite).parquet(tmp)
    val dst = new java.io.File(path)
    val old = new java.io.File(path + "__old")
    def rm(f: java.io.File): Unit = if (f.exists()) {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete()
    }
    rm(old) // leftover from a previous crashed swap
    if (dst.exists() && !dst.renameTo(old))
      throw new java.io.IOException(
        s"replaceDir: failed to move current snapshot $path aside")
    if (!new java.io.File(tmp).renameTo(dst)) {
      // roll back so readers still see the previous snapshot
      if (old.exists()) old.renameTo(dst)
      throw new java.io.IOException(
        s"replaceDir: failed to promote $tmp to $path (cross-filesystem tmp?)")
    }
    rm(old)
  }

  /** Finish a swap that crashed between [[replaceDir]]'s two renames:
    * when `path` is missing and `path__old` holds the previous
    * snapshot, promote it back. Returns whether a snapshot exists at
    * `path`. A writer that merges into its current snapshot calls this
    * before reading it; otherwise it would take the batch for the
    * whole table, and its own swap would then delete `__old`.
    */
  def recover(path: String): Boolean = {
    val dst = new java.io.File(path)
    if (dst.exists()) return true
    val old = new java.io.File(path + "__old")
    if (old.exists() && !old.renameTo(dst))
      throw new java.io.IOException(
        s"recover: failed to promote $old back to $path")
    dst.exists()
  }

  final case class Stats(filesBefore: Int, filesAfter: Int,
      bytesTotal: Long, rows: Long)

  private def parquetFiles(dir: java.io.File): Array[java.io.File] =
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))

  /** Bytes of the parquet files directly under `path`. */
  def parquetBytes(path: String): Long =
    parquetFiles(new java.io.File(path)).map(_.length()).sum

  /** How many ~`targetBytes` files `bytes` of parquet fill, at least
    * one: the count [[compact]] packs a table into, and the one the
    * streaming sinks size their snapshot merge by.
    */
  def filesFor(bytes: Long, targetBytes: Long = 128L << 20): Int =
    math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)

  /** Bin-pack the parquet table at `path` into ~`targetBytes` files.
    * Skips (and reports) when the table is already compact. The
    * repartition count derives from the actual on-disk bytes, so the
    * same call is correct at any scale; rows are hash-distributed, so
    * every output file lands within ~1 task of the target size.
    */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L << 20): Stats = {
    recover(path)
    val dir = new java.io.File(path)
    val before = parquetFiles(dir)
    val totalBytes = before.map(_.length()).sum
    val nOut = filesFor(totalBytes, targetBytes)
    if (before.length <= nOut)
      return Stats(before.length, before.length, totalBytes,
        spark.read.parquet(path).count())
    val df = spark.read.parquet(path).repartition(nOut)
    replaceDir(df, path)
    val after = parquetFiles(new java.io.File(path))
    Stats(before.length, after.length, totalBytes,
      spark.read.parquet(path).count())
  }
}

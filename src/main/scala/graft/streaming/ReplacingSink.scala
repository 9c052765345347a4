package graft.streaming

import graft.sources.Compaction.{filesFor, parquetBytes, recover, replaceDir}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Upsert-by-key sink — the ClickHouse ReplacingMergeTree /Doris
  * aggregate-model semantics the reference sinks into
  * (realtime-common/.../ClickHouseUtil.java:1, FlinkSinkUtil.java:1):
  * for each key, the row with the highest version wins.
  *
  * Implementation: per micro-batch, merge the batch with the current
  * snapshot keeping max-version rows, in one window shuffle over
  * snapshot ∪ batch; the first batch is collapsed to its latest row
  * per key and becomes the snapshot. Parquet has no MERGE, so the
  * merge rewrites the snapshot — correct and idempotent (replayed
  * batches converge), which is the property checkpoint recovery
  * needs. At warehouse scale the same foreachBatch body targets a
  * real MergeTree/Doris table (or Iceberg/Delta MERGE) and the merge
  * becomes the storage engine's job. The aggregate models below
  * collapse the batch first and then merge, since their batch-side
  * partial aggregation shrinks what the merge reads.
  */
object ReplacingSink {

  def start(stream: DataFrame, keyCols: Seq[String], versionCol: String,
      path: String, checkpoint: String): StreamingQuery =
    startWith(stream, checkpoint)(upsert(_, keyCols, versionCol, path))

  /** Doris-aggregate-model variant: rows sharing a key MERGE by
    * summing the value columns (the reference's Doris sum-agg tables,
    * e.g. the DWS pv/uv rollups). Each batch pre-aggregates map-side,
    * then the snapshot merge sums again — associative, so replay
    * yields the same totals as one big batch only if each batch is
    * delivered exactly once; pair with [[graft.streaming.Jobs
    * .streamingDedup]] upstream when the source can replay.
    */
  def startSumming(stream: DataFrame, keyCols: Seq[String],
      sumCols: Seq[String], path: String, checkpoint: String): StreamingQuery =
    startWith(stream, checkpoint)(sumUpsert(_, keyCols, sumCols, path))

  /** Doris-HLL-model variant: each key keeps additive counters PLUS a
    * mergeable DataSketches HLL of `idCol` — `hll_union_agg` folds the
    * batch sketch into the stored one, so the snapshot serves exact
    * sums and approximate distincts per key without ever re-reading
    * past batches. This is the streaming dual of
    * [[graft.warehouse.Sketched]]: there sketches merge across
    * PARTITIONS at read time; here they merge across MICRO-BATCHES at
    * write time.
    */
  def startSketching(stream: DataFrame, keyCols: Seq[String],
      idCol: String, path: String, checkpoint: String): StreamingQuery =
    startWith(stream, checkpoint)(sketchUpsert(_, keyCols, idCol, path))

  /** Doris-BITMAP-model variant: like [[startSketching]] but the
    * per-key distinct state is an EXACT bitmap
    * (`graft_bitmap_bytes` / `graft_bitmap_union`), so the snapshot
    * serves exact UV per key — the reference's Doris bitmap columns
    * without the approximation. Bitmap bytes are bounded by the id
    * domain, merge is a word-OR, and replayed batches converge
    * (OR is idempotent — the one aggregate where at-least-once
    * delivery alone is already exactly-once for the DISTINCT part).
    */
  def startBitmap(stream: DataFrame, keyCols: Seq[String], idCol: String,
      maxId: Long, path: String, checkpoint: String): StreamingQuery =
    startWith(stream, checkpoint)(
      bitmapUpsert(_, keyCols, idCol, maxId, path))

  private def startWith(stream: DataFrame, checkpoint: String)(
      step: DataFrame => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) => step(batch) }
      .start()

  /** One bitmap-merge step; also usable from batch jobs. */
  def bitmapUpsert(batch: DataFrame, keyCols: Seq[String], idCol: String,
      maxId: Long, path: String): Unit = {
    mergeStep(batch, path, keyCols,
      _.groupBy(keyCols.map(col): _*)
        .agg(
          count(lit(1)).as("pv_ct"),
          call_function("graft_bitmap_bytes", col(idCol), lit(maxId))
            .as("uv_bm")),
      _.groupBy(keyCols.map(col): _*)
        .agg(
          sum(col("pv_ct")).cast("long").as("pv_ct"),
          call_function("graft_bitmap_union", col("uv_bm")).as("uv_bm")))
  }

  /** One sketch-merge step; also usable from batch jobs. */
  def sketchUpsert(batch: DataFrame, keyCols: Seq[String], idCol: String,
      path: String): Unit =
    mergeStep(batch, path, keyCols,
      _.groupBy(keyCols.map(col): _*)
        .agg(
          count(lit(1)).as("pv_ct"),
          hll_sketch_agg(col(idCol)).as("uv_sketch")),
      _.groupBy(keyCols.map(col): _*)
        .agg(
          sum(col("pv_ct")).cast("long").as("pv_ct"),
          hll_union_agg(col("uv_sketch")).as("uv_sketch")))

  /** One summing-merge step; also usable from batch jobs. */
  def sumUpsert(batch: DataFrame, keyCols: Seq[String],
      sumCols: Seq[String], path: String): Unit = {
    val aggs = sumCols.map(c => sum(col(c)).as(c))
    val summed = (df: DataFrame) =>
      df.groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    mergeStep(batch, path, keyCols, summed, summed)
  }

  /** One merge step; also usable from batch jobs. */
  def upsert(batch: DataFrame, keyCols: Seq[String], versionCol: String,
      path: String): Unit = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(versionCol).desc)
    val latest = (df: DataFrame) => df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    mergeStep(batch, path, keyCols, latest, latest, collapseFirst = false)
  }

  /** The shared merge. With no snapshot (after finishing any crashed
    * swap) the table is `collapse(batch)`. Otherwise the snapshot,
    * read with that schema (no inference job), is unioned with the
    * batch, `collapse`d first when `collapseFirst`, and `merge`d over
    * one exchange on `keyCols` sized from the snapshot's bytes on
    * disk, so a small table stays one file. The result is swapped in
    * through the crash-recoverable
    * [[graft.sources.Compaction.replaceDir]].
    */
  private def mergeStep(batch: DataFrame, path: String, keyCols: Seq[String],
      collapse: DataFrame => DataFrame, merge: DataFrame => DataFrame,
      collapseFirst: Boolean = true): Unit = {
    val compact = collapse(batch)
    val merged =
      if (recover(path)) {
        val cur = batch.sparkSession.read.schema(compact.schema).parquet(path)
        val delta = if (collapseFirst) compact else batch
        merge(cur.unionByName(delta.select(cur.columns.map(col): _*))
          .repartition(filesFor(parquetBytes(path)), keyCols.map(col): _*))
      } else compact
    replaceDir(merged, path)
  }
}

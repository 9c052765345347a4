package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed-table support: co-locate both sides of a recurring
  * fact⋈fact join so the join needs NO shuffle at read time.
  *
  * At warehouse scale the orders⋈lineitem join is the one shuffle the
  * declarative plan can't avoid — unless both tables are written
  * bucketed (and sorted) by the join key, in which case Spark's scan
  * reports the partitioning and the sort-merge join elides both
  * Exchanges and both Sorts. This is the batch equivalent of the
  * reference keying both Kafka topics by order_id so the Flink join
  * is local (FlinkSourceUtil.java:1).
  */
object Bucketing {

  /** Collision-resistant dataset tag for derived-layout table names
    * (`graft_ps_<tag>` etc): 16 hex chars (64 bits) of SHA-256 over
    * the dataset path. The previous 32-bit `String.hashCode` tag
    * could collide across two dataset dirs in one session, silently
    * serving one dataset's bucketed layout for the other (the
    * catalog `tableExists` check passes on the colliding name).
    */
  def datasetTag(d: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(d.getBytes("UTF-8"))
      .take(8).map(b => f"${b & 0xff}%02x").mkString

  /** Physical shape of one layout table: plain parquet, or bucketed
    * on `key` into 16 buckets sorted by `sortCols`.
    */
  sealed trait Shape
  case object Plain extends Shape
  final case class Bucketed(key: String, sortCols: Seq[String]) extends Shape

  /** A compute-once *layout*: derived state (the co-purchase pair
    * table, the shingle co-occurrence index, the ANN top-k, ...)
    * materialized as managed parquet tables rather than session
    * caches, so it survives `clearCache()`, costs disk instead of
    * pinned storage memory, and bucketed tables serve key-joins with
    * no Exchange.
    *
    * Each `(prefix, shape)` in `tables` names one table
    * `graft_<prefix>_<datasetTag(d)>[_<param>…]`. The tables are
    * resolved once per (session, first table name): a repeated call
    * returns the held DataFrames without touching the catalog. They
    * are built once per warehouse: only when the catalog lacks one of
    * them does `build` run, and it hands every frame, in `tables`
    * order, to the `write` function it is given. Work `build` does
    * after `write` returns (releasing a transient cache the frames
    * shared) still counts toward the build. A previous JVM's table
    * that survives on disk while this catalog starts empty is an
    * orphan; its location is cleared before the write, or
    * `saveAsTable` fails with LOCATION_ALREADY_EXISTS. One
    * [[buildLog]] entry, under the first table's name, times the
    * build, excluding layouts built inside it (they log their own).
    *
    * Staleness: the name keys on the dataset *path*, not its
    * contents. A dataset rewritten in place under the same path
    * keeps serving its old layout until the warehouse directory is
    * cleared (or the data moves to a new path).
    */
  def layouts(s: SparkSession, d: String, tables: Seq[(String, Shape)],
      params: Any*)(build: (Seq[DataFrame] => Unit) => Unit): Seq[DataFrame] = {
    val names = tables.map { case (prefix, _) =>
      tableName(prefix, d, params: _*) }
    held.computeIfAbsent((s, names.head), _ => new Held({
      if (!names.forall(s.catalog.tableExists))
        timedBuild(names.head) {
          build { frames =>
            frames.lazyZip(names).lazyZip(tables.map(_._2)).foreach {
              case (df, t, Plain) =>
                dropStaleLocation(s, t)
                df.write.mode(SaveMode.Overwrite).format("parquet")
                  .saveAsTable(t)
              case (df, t, Bucketed(key, sorts)) =>
                writeBucketed(df, t, key, 16, sorts)
            }
          }
        }
      names.map(s.table)
    })).frames
  }

  /** [[layouts]] for one table built from one frame. */
  def layout(s: SparkSession, d: String, prefix: String, shape: Shape,
      params: Any*)(build: => DataFrame): DataFrame =
    layouts(s, d, Seq(prefix -> shape), params: _*)(write =>
      write(Seq(build))).head

  /** The catalog name of a [[layouts]] table. */
  def tableName(prefix: String, d: String, params: Any*): String =
    (s"graft_${prefix}_${datasetTag(d)}" +: params.map(_.toString))
      .mkString("_")

  private final class Held(resolve: => Seq[DataFrame]) {
    lazy val frames: Seq[DataFrame] = resolve
  }

  // the map only holds the lazily-resolved cells, so a build that
  // resolves another layout never updates the map from inside its
  // own computeIfAbsent
  private val held = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), Held]()

  /** Write `df` as a bucketed+sorted managed table, clearing an
    * orphaned location first (see [[layouts]]). Extra sort
    * columns (e.g. a timestamp after the key) let ORDER-sensitive
    * consumers — the sort-merge as-of join — read pre-sorted buckets.
    *
    * The pre-write `repartition(buckets, key)` uses the same
    * Murmur3 HashPartitioning the bucket spec uses, so every writer
    * task holds exactly the rows of one bucket: one file per bucket
    * (which is what lets the scan REPORT the sort order to the
    * planner), written by `buckets` tasks in parallel rather than a
    * single coalesced writer.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int, sortCols: Seq[String] = Seq.empty): Unit = {
    import org.apache.spark.sql.functions.col
    dropStaleLocation(df.sparkSession, table)
    val sorts = if (sortCols.isEmpty) Seq(key) else sortCols
    df.repartition(buckets, col(key))
      .sortWithinPartitions(sorts.map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key).sortBy(sorts.head, sorts.tail: _*)
      .format("parquet").saveAsTable(table)
  }

  /** Delete the on-disk location of a managed table the CURRENT
    * catalog does not know. Safe exactly because no catalog entry
    * points at it.
    */
  private def dropStaleLocation(s: SparkSession, table: String): Unit =
    if (!s.catalog.tableExists(table)) {
      val wh = s.sessionState.conf.warehousePath
      val path = new org.apache.hadoop.fs.Path(wh, table.toLowerCase)
      val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(path)) fs.delete(path, true)
    }

  /** Per-JVM log of layout builds — table → build seconds. Only
    * layouts actually BUILT in this JVM appear — a catalog hit logs
    * nothing, which is itself the disclosure (nothing was built,
    * nothing was paid). The bench stamps it into its artifact
    * (`layout_builds`) because min-of-k excludes the one-time build.
    */
  val buildLog = new java.util.concurrent.ConcurrentHashMap[String, Double]()

  // seconds spent in layout builds nested inside the current one on
  // this thread, so each log entry is the build's own time
  private val nestedS = ThreadLocal.withInitial[Double](() => 0.0)

  private def timedBuild(table: String)(build: => Unit): Unit = {
    val outer = nestedS.get
    nestedS.set(0.0)
    val t0 = System.nanoTime()
    try {
      build
      buildLog.put(table, (System.nanoTime() - t0) / 1e9 - nestedS.get)
    } finally nestedS.set(outer + (System.nanoTime() - t0) / 1e9)
  }

  /** Bucket the orders/lineitem pair by order key. */
  def bucketTradeTables(s: SparkSession, d: String, buckets: Int = 16): Unit = {
    writeBucketed(Tables.orders(s, d), "orders_b", "o_orderkey", buckets)
    writeBucketed(Tables.lineitem(s, d), "lineitem_b", "l_orderkey", buckets)
  }

  /** The order-detail join over the bucketed tables — same result as
    * Dwd.tradeOrderDetail, zero shuffles in the plan. The merge hint
    * keeps the planner from broadcasting a locally-small side (which
    * would bypass the bucketing this utility exists to exploit; at
    * warehouse scale neither side is broadcastable anyway).
    */
  def bucketedOrderDetail(s: SparkSession): DataFrame = {
    val o = s.table("orders_b").hint("merge")
    val li = s.table("lineitem_b").hint("merge")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** Tuned [[SparkSession]] factory.
  *
  * The reference runs Flink jobs with parallelism 4 and Kafka-partition
  * alignment (gmall2024-realtime-master/realtime-common/src/main/java/
  * com/atguigu/gmall/realtime/common/base/BaseApp.java:38). Here the
  * equivalent knobs are shuffle partitioning + AQE: partitions are a
  * floor and AQE coalesces/splits at runtime, which is what survives a
  * 1000-executor scale-up.
  */
object GraftSession {

  /** AQE knob values, exposed so the bench artifact records what the
    * run used.
    */
  val parallelismFirst = "true"
  val advisoryPartition = "64MB"

  /** `SPARK_GRAFT_CPUS`, or every core of the machine when unset. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .map(_.trim.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  /** Build a local session; `cores` drives both parallelism and the
    * shuffle-partition floor (never the default 200 in local mode).
    */
  def local(cores: Int = defaultCores, appName: String = "graft",
      extraConfs: Map[String, String] = Map.empty): SparkSession = {
    val b = tune(
      SparkSession.builder().master(s"local[$cores]").appName(appName), cores)
    extraConfs.foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }

  /** Apply graft's standard configuration to any builder (cluster or
    * local) — everything here is scale-neutral.
    */
  def tune(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder = b
    // native functions + custom-join strategies/rules + the raw-SQL
    // TVF surface (graft_asof_join / graft_interval_join); the
    // config-file equivalent is spark.sql.extensions=graft.GraftExtensions
    .withExtensions(new GraftExtensions)
    .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    // the measured-best local settings; they stay scale-adaptive (AQE
    // sizes reduce partitions from runtime bytes, not a constant)
    .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
      parallelismFirst)
    .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      advisoryPartition)
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // keep AQE active INSIDE cached plans: a .cache() boundary
    // otherwise freezes its subplan to static partitioning, losing
    // skew-join splitting exactly where the hot-key joins live
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.parquet.filterPushdown", "true")
    // the events table has shipped under several parquet timestamp
    // encodings (TIMESTAMP(NANOS), then timestamp[us] with
    // isAdjustedToUTC=false). Read nanos as long (no native type) and
    // read NTZ-annotated micros as plain TimestampType: the session is
    // pinned to UTC so NTZ-vs-LTZ is the same instant, and the DuckDB
    // oracle reads the file identically. Tables.events normalizes the
    // remaining long-nanos case at the scan edge.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.ui.enabled", "false")
}

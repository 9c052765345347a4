package graft.tools

import graft.{GraftSession, SparkEntry}

/** Full-evaluation query timer — the soak/scale companion to
  * `graft.Bench`. Bench times `df.count()`, which lets Catalyst
  * PRUNE output expressions that don't affect cardinality (that is
  * how a 2⁶³ overflow in waveletEnergy's energy column survived
  * every sf0.1 bench until the first sf0.1 Verify evaluated it).
  * This tool executes the UNPRUNED physical plan —
  * `queryExecution.toRdd.count()` materializes every output column —
  * so its numbers are what a consumer writing the result would pay.
  *
  *   tools/run.sh graft.tools.TimeQueries <sfDir> [runs] [query...]
  *   tools/run.sh graft.tools.TimeQueries /tmp/sf1 1 analytics_mann_kendall
  *
  * Times the named queries (all, when none are given). Prints one
  * JSON line per query: {name, min_sec, max_sec, rows}.
  */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val runs = args.lift(1).map(_.toInt).getOrElse(3)
    val picked = SparkEntry.select(args.toSeq.drop(2))
    val spark = GraftSession.local(appName = "graft-time-queries")
    spark.sparkContext.setLogLevel("WARN")
    picked.foreach { q =>
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        val rows = q.build(spark, sfDir).queryExecution.toRdd.count()
        ((System.nanoTime() - t0) / 1e9, rows)
      }
      SparkEntry.release(spark)
      println(f"""{"name":"${q.name}","min_sec":${times.map(_._1).min}%.3f,"max_sec":${times.map(_._1).max}%.3f,"rows":${times.head._2}}""")
    }
    spark.stop()
  }
}

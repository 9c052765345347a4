package graft.tools

import graft.{GraftSession, SparkEntry}

/** Plan auditor: prints the formatted physical plan for selected
  * queries (all, when no names are given) so scan pruning, pushed
  * filters, join strategies, and codegen spans can be inspected.
  *
  *   sbt "runMain graft.tools.Explain q1_pricing_summary q5_star_join"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val picked = SparkEntry.select(args.toSeq)
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val s = GraftSession.local(appName = "graft-explain")
    s.sparkContext.setLogLevel("ERROR")
    picked.foreach { q =>
      println(s"\n========== ${q.name} ==========")
      q.build(s, d).explain("formatted")
    }
    s.stop()
  }
}

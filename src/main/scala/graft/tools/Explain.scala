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
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val s = GraftSession.local(appName = "graft-explain")
    s.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      println(s"\n========== $name ==========")
      SparkEntry.queries(name)(s, d).explain("formatted")
    }
    s.stop()
  }
}

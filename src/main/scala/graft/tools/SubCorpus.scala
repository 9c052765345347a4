package graft.tools

import org.apache.spark.sql.functions._

/** Deterministic sub-corpus slicer for the sf1 oracle gate (r9
  * VERDICT "Next round" #2): the 33 shingle-basis oracles are
  * excluded from the sf1 gate because DuckDB's quadratic shingle
  * self-join is impractical at 50k docs — but the SAME queries over
  * a deterministic id-stride slice (`doc_id % mod == 0`, default
  * mod=50 → 1k docs drawn across all 10 tiles of the tiled sf1
  * corpus) are linear-feasible on the oracle side while still
  * exercising the sparse tiled id space, the per-tile text
  * perturbations, and every operator end to end.
  *
  *   tools/run.sh graft.tools.SubCorpus /tmp/sf1 /tmp/sf1_sub 50
  *
  * documents and embeddings are sliced on their aligned id spaces
  * (doc_id / vec_id); every other table is SYMLINKED — the slice is
  * the dataset, so both engines read identical bytes with no
  * predicate to keep in sync anywhere.
  */
object SubCorpus {
  def main(args: Array[String]): Unit = {
    val inDir = args.headOption.getOrElse("/tmp/sf1")
    val outDir = args.lift(1).getOrElse("/tmp/sf1_sub")
    val mod = args.lift(2).map(_.toLong).getOrElse(50L)
    val spark = graft.GraftSession.local(appName = "graft-sub-corpus")
    spark.sparkContext.setLogLevel("WARN")

    val out = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(out)
    spark.read.parquet(s"$inDir/documents.parquet")
      .filter(col("doc_id") % mod === 0)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    spark.read.parquet(s"$inDir/embeddings.parquet")
      .filter(col("vec_id") % mod === 0)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    graft.sources.Tables.all
      .filterNot(t => t == "documents" || t == "embeddings")
      .foreach { t =>
        Slices.relink(out.resolve(s"$t.parquet"),
          java.nio.file.Paths.get(s"$inDir/$t.parquet").toAbsolutePath)
      }
    val nd = spark.read.parquet(s"$outDir/documents.parquet").count()
    val ne = spark.read.parquet(s"$outDir/embeddings.parquet").count()
    println(s"sub-corpus at $outDir: $nd docs, $ne embeddings (mod $mod)")
    spark.stop()
  }
}

package graft.tools

import org.apache.spark.sql.functions._

/** Shared slice plumbing for the sf1 oracle gate's sibling datasets
  * ([[SubCorpus]], [[BasketSlice]]).
  */
object Slices {
  /** Replace whatever sits at `link` with a symlink to `target`.
    * A leftover REAL directory (a prior run that copied instead of
    * linking, or a crashed writer) makes `Files.deleteIfExists`
    * throw DirectoryNotEmptyException — delete it recursively first.
    */
  def relink(link: java.nio.file.Path, target: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS) &&
        !Files.isSymbolicLink(link) && Files.isDirectory(link)) {
      import scala.jdk.CollectionConverters._
      Files.walk(link).iterator().asScala.toSeq.reverse
        .foreach(Files.delete)
    } else Files.deleteIfExists(link)
    Files.createSymbolicLink(link, target)
  }
}

/** Deterministic basket slicer for the sf1 oracle gate (r10 VERDICT
  * "Next round" #1): the iterative co-purchase graph family
  * (triangles, components, pagerank, k-core, label propagation,
  * butterflies, MST certificate, ...) is magnitude-feasible on the
  * Spark side at the tiled ×10 corpus, but its DuckDB oracles are
  * recursive/quadratic in the basket count and infeasible there.
  * The SAME queries over a deterministic order-key stride slice
  * (`o_orderkey % mod == 0`, default mod=10 → sf0.1-equivalent
  * basket volume drawn across all 10 tiles of the tiled corpus) are
  * oracle-feasible — the standing sf0.1 sweep already proves it —
  * while still exercising the sparse tiled id space end to end.
  *
  *   tools/run.sh graft.tools.BasketSlice /tmp/sf1 /tmp/sf1_basket 10
  *
  * orders and lineitem are sliced on their aligned order-key spaces;
  * every other table is SYMLINKED — the slice is the dataset, so
  * both engines read identical bytes with no predicate to keep in
  * sync anywhere (the [[SubCorpus]] contract, applied to baskets).
  */
object BasketSlice {
  def main(args: Array[String]): Unit = {
    val inDir = args.headOption.getOrElse("/tmp/sf1")
    val outDir = args.lift(1).getOrElse("/tmp/sf1_basket")
    val mod = args.lift(2).map(_.toLong).getOrElse(10L)
    val spark = graft.GraftSession.local(appName = "graft-basket-slice")
    spark.sparkContext.setLogLevel("WARN")

    val out = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(out)
    spark.read.parquet(s"$inDir/orders.parquet")
      .filter(col("o_orderkey") % mod === 0)
      .coalesce(4)
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
    spark.read.parquet(s"$inDir/lineitem.parquet")
      .filter(col("l_orderkey") % mod === 0)
      .coalesce(4)
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
    graft.sources.Tables.all
      .filterNot(t => t == "orders" || t == "lineitem")
      .foreach { t =>
        Slices.relink(out.resolve(s"$t.parquet"),
          java.nio.file.Paths.get(s"$inDir/$t.parquet").toAbsolutePath)
      }
    val no = spark.read.parquet(s"$outDir/orders.parquet").count()
    val nl = spark.read.parquet(s"$outDir/lineitem.parquet").count()
    println(s"basket slice at $outDir: $no orders, $nl lineitems (mod $mod)")
    spark.stop()
  }
}

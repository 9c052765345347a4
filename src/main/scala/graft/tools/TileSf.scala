package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic scale-factor tiler — reproduces SURVEY §4.2e's sf1
  * soak dataset from a committed tool instead of an unrepeatable
  * one-off (r7 VERDICT "What's missing" #1: the soak's dataset
  * existed nowhere in the repo, so nobody could profile the one
  * anomalous number it produced).
  *
  *   tools/run.sh graft.tools.TileSf /root/testdata/sf0.1 /tmp/sf1 10
  *
  * Each output table is `tiles` copies of the input with every id
  * column offset by tile × stride (stride = max(id)+1 per id space,
  * so referential integrity holds within a tile and never collides
  * across tiles). Two per-tile perturbations keep the STRUCTURE of
  * the data scale-honest instead of degenerate:
  *
  *  - document text: every whitespace token in tile t>0 gets a
  *    `~t` suffix, so shingle/minhash/simhash near-dup structure
  *    REPEATS per tile (the realistic shape) rather than every doc
  *    acquiring 9 exact cross-tile duplicates (which would blow the
  *    near-dup pair count up 100× and measure a different problem);
  *  - embeddings: a deterministic per-(tile, dim) jitter of a few
  *    quantization steps, so ANN neighborhoods repeat per tile with
  *    local variation instead of 10 exact copies at distance 0.
  *
  * region/nation are fixed dimensions and copy through untouched.
  * Dates, enums and measures copy through — tiling scales ROW COUNTS
  * at fixed domain cardinality, which is exactly how a warehouse
  * grows (more orders per day, not more weekdays).
  */
object TileSf {

  /** max(id)+1 over the input — the per-id-space tile stride. */
  private def stride(df: DataFrame, idCol: String): Long =
    df.agg(max(col(idCol))).head().getLong(0) + 1L

  def main(args: Array[String]): Unit = {
    val inDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/graft_sf_tiled")
    val tiles = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.GraftSession.local(appName = "graft-tile-sf")
    spark.sparkContext.setLogLevel("WARN")

    def read(t: String): DataFrame =
      spark.read.parquet(s"$inDir/$t.parquet")

    // one row per tile id; the crossJoin fan-out side
    val tileDf = spark.range(tiles).toDF("__tile")

    /** Fan df out `tiles` times, offsetting each listed id column by
      * tile × its stride. Offsets ride the 10-row broadcast side.
      */
    def tile(df: DataFrame, ids: Map[String, Long]): DataFrame = {
      val fanned = df.crossJoin(broadcast(tileDf))
      ids.foldLeft(fanned) { case (acc, (c, st)) =>
        acc.withColumn(c, col(c) + col("__tile") * st)
      }
    }

    val cust = read("customer")
    val supp = read("supplier")
    val part = read("part")
    val ord = read("orders")
    val li = read("lineitem")
    val ev = read("events")
    val doc = read("documents")
    val emb = read("embeddings")

    val stCust = stride(cust, "c_custkey")
    val stSupp = stride(supp, "s_suppkey")
    val stPart = stride(part, "p_partkey")
    val stOrd = stride(ord, "o_orderkey")
    val stEv = stride(ev, "event_id")
    val stUser = stride(ev, "user_id") max stCust
    val stDoc = stride(doc, "doc_id")
    val stVec = stride(emb, "vec_id") max stDoc

    def write(df: DataFrame, t: String): Unit = {
      df.drop("__tile").write.mode("overwrite")
        .parquet(s"$outDir/$t.parquet")
      println(s"[tile] $t written")
    }

    // fixed dims copy through
    write(read("region"), "region")
    write(read("nation"), "nation")

    write(tile(cust, Map("c_custkey" -> stUser)), "customer")
    write(tile(supp, Map("s_suppkey" -> stSupp)), "supplier")
    write(tile(part, Map("p_partkey" -> stPart)), "part")
    write(tile(ord, Map("o_orderkey" -> stOrd, "o_custkey" -> stUser)),
      "orders")
    write(tile(li, Map("l_orderkey" -> stOrd, "l_partkey" -> stPart,
      "l_suppkey" -> stSupp)), "lineitem")
    write(tile(ev, Map("event_id" -> stEv, "user_id" -> stUser)),
      "events")

    // documents: per-tile token suffix `~t` for t>0 keeps each tile's
    // near-dup clusters intact but makes NO shingle cross tiles
    val docT = tile(doc, Map("doc_id" -> stDoc))
      .withColumn("text",
        when(col("__tile") === 0, col("text")).otherwise(
          array_join(transform(split(col("text"), " "),
            w => concat(w, lit("~"), col("__tile"))), " ")))
      .withColumn("n_chars", length(col("text")).cast("long"))
    write(docT, "documents")

    // embeddings: deterministic per-(tile, dim) jitter of up to ±3
    // quantization steps (values are round(x*1000)/1000-quantized
    // floats; 0.001 is one step) — neighborhoods repeat per tile
    // with local variation, never 10 exact copies
    val embT = tile(emb, Map("vec_id" -> stVec))
      .withColumn("embedding",
        when(col("__tile") === 0, col("embedding")).otherwise(
          zip_with(col("embedding"),
            transform(sequence(lit(0),
                size(col("embedding")) - 1),
              i => ((pmod(col("__tile") * 31 + i * 7, lit(7)) - 3)
                * lit(0.001f)).cast("float")),
            (v, j) => v + j)))
    write(embT, "embeddings")

    println(s"""{"tiled":"$outDir","tiles":$tiles,"from":"$inDir"}""")
    spark.stop()
  }
}

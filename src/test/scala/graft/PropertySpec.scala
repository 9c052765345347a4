package graft

import graft.operators.{Dedup, Temporal}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Seeded randomized property tests: operators vs independent
  * in-memory reference implementations over many generated inputs.
  */
class PropertySpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  test("quantile descent equals percentile() on 25 random adversarial frames") {
    import s.implicits._
    val rnd = new Random(4242)
    (1 to 25).foreach { trial =>
      val nGroups = rnd.nextInt(4) + 1
      val rows = (0 until nGroups).flatMap { g =>
        val size = rnd.nextInt(120) + 1
        val shape = rnd.nextInt(4)
        (0 until size).map { _ =>
          val v = shape match {
            case 0 => rnd.nextDouble() * 1e6 - 5e5 // continuous, signed
            case 1 => rnd.nextInt(5).toDouble // tiny discrete domain
            case 2 => math.pow(10, rnd.nextDouble() * 8) // heavy tail
            case 3 => 7.125 // constant group
          }
          (s"g$g", v)
        }
      }
      val ps = Seq.fill(rnd.nextInt(3) + 1)(
        math.rint(rnd.nextDouble() * 1000) / 1000.0)
        .distinct.zipWithIndex.map { case (p, i) => s"q$i" -> p }
      val df = rows.toDF("g", "v")
      // tiny buckets/small force deep multi-pass descents
      val got = graft.operators.Quantiles
        .groupQuantiles(df, Seq("g"), "v", ps, buckets = 8, small = 4)
        .collect()
        .map(r => r.getString(0) -> ps.indices.map(i => r.get(i + 1))).toMap
      val refAggs = ps.map { case (n, p) =>
        round(expr(s"percentile(v, ${p}d)"), 6).as(n)
      }
      val want = df.groupBy(col("g")).agg(refAggs.head, refAggs.tail: _*)
        .collect()
        .map(r => r.getString(0) -> ps.indices.map(i => r.get(i + 1))).toMap
      assert(got === want, s"trial $trial with ps=$ps")
    }
  }

  test("FMM segmentation invariants hold on 200 random Han strings") {
    import graft.functions.DictSegmenter
    val rnd = new Random(99)
    val vocab = DictSegmenter.words
    val filler = "春夏秋冬东南西北大小多少" // chars outside the dictionary
    val dictSet = vocab.toSet
    (1 to 200).foreach { _ =>
      // random concatenation of dict words and filler chars
      val parts = Seq.fill(rnd.nextInt(8) + 1) {
        if (rnd.nextBoolean()) vocab(rnd.nextInt(vocab.size))
        else filler(rnd.nextInt(filler.length)).toString
      }
      val text = parts.mkString
      val segs = {
        val arr = DictSegmenter.segment(
          org.apache.spark.unsafe.types.UTF8String.fromString(text))
        (0 until arr.numElements()).map(i => arr.getUTF8String(i).toString)
      }
      // (1) lossless: segments rejoin to the input
      assert(segs.mkString === text, s"lossy segmentation of '$text'")
      // (2) every multi-char segment is a dictionary word
      segs.filter(_.length > 1).foreach(seg =>
        assert(dictSet(seg), s"non-dict multi-char segment '$seg' in '$text'"))
      // (3) greedy: no single-char segment starts a dictionary word
      // at its position (else FMM would have taken it)
      segs.zipWithIndex.foreach { case (seg, i) =>
        if (seg.length == 1 && !dictSet(seg)) {
          val pos = segs.take(i).map(_.length).sum
          val ahead = text.substring(pos)
          assert(!vocab.exists(w => ahead.startsWith(w)),
            s"missed dict match at $pos in '$text'")
        }
      }
    }
  }

  test("dedupClusters equals BFS closure on 30 random graphs") {
    import s.implicits._
    val rnd = new Random(42)
    (1 to 30).foreach { trial =>
      val n = 2 + rnd.nextInt(80)
      val nEdges = 1 + rnd.nextInt(120)
      val edges = Seq.fill(nEdges) {
        val a = rnd.nextInt(n).toLong
        val b = rnd.nextInt(n).toLong
        if (a < b) (a, b) else (b, a + 1)
      }.filter(e => e._1 != e._2).distinct
      if (edges.nonEmpty) {
        // reference: BFS transitive closure, label = component min
        val adj = scala.collection.mutable.Map.empty[Long, List[Long]]
        edges.foreach { case (a, b) =>
          adj(a) = b :: adj.getOrElse(a, Nil)
          adj(b) = a :: adj.getOrElse(b, Nil)
        }
        val label = scala.collection.mutable.Map.empty[Long, Long]
        adj.keys.toSeq.sorted.foreach { start =>
          if (!label.contains(start)) {
            val comp = scala.collection.mutable.Set(start)
            val queue = scala.collection.mutable.Queue(start)
            while (queue.nonEmpty) {
              val x = queue.dequeue()
              adj(x).foreach { y =>
                if (!comp.contains(y)) { comp += y; queue.enqueue(y) }
              }
            }
            val m = comp.min
            comp.foreach(c => label(c) = m)
          }
        }
        val got = Dedup.dedupClusters(edges.toDF("id_a", "id_b")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got === label.toMap, s"trial $trial: graph $edges")
      }
    }
  }

  test("asOfJoin equals the in-memory reference on a random frame") {
    import s.implicits._
    val rnd = new Random(7)
    val left = Seq.tabulate(600)(i =>
      (i.toLong, rnd.nextInt(12).toLong, rnd.nextInt(1000).toLong))
    val right = Seq.fill(400) {
      (rnd.nextInt(12).toLong, rnd.nextInt(1000).toLong, rnd.nextDouble())
    }.groupBy(r => (r._1, r._2)).map(_._2.maxBy(_._3)).toSeq // unique (k,ts)
    val got = Temporal.asOfJoin(
        left.toDF("row_id", "k", "t"), right.toDF("k", "t", "v"),
        "k", "t", Seq("v")).collect()
      .map(r => r.getAs[Long]("row_id") -> Option(r.getAs[Any]("v"))).toMap
    left.foreach { case (id, k, t) =>
      val want = right.filter(r => r._1 == k && r._2 <= t)
        .sortBy(_._2).lastOption.map(_._3)
      assert(got(id) === want, s"row $id key $k ts $t")
    }
  }

  test("simhash is invariant under token reordering (100 random docs)") {
    import s.implicits._
    val rnd = new Random(13)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    val docs = Seq.tabulate(100) { i =>
      val toks = Seq.fill(3 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size)))
      (i.toLong, toks.mkString(" "), rnd.shuffle(toks).mkString(" "))
    }
    val rows = docs.toDF("id", "a", "b")
      .select(col("id"),
        call_function("graft_simhash64", col("a")).as("ha"),
        call_function("graft_simhash64", col("b")).as("hb"))
      .collect()
    rows.foreach(r => assert(r.getLong(1) === r.getLong(2),
      s"doc ${r.getLong(0)}: reorder changed simhash"))
  }

  test("native shingle hashes equal the HOF formulation's set size") {
    import s.implicits._
    val rnd = new Random(99)
    val docs = Seq.tabulate(60) { i =>
      val len = 1 + rnd.nextInt(60)
      (i.toLong, Seq.fill(len)(('a' + rnd.nextInt(4)).toChar).mkString)
    }
    val got = docs.toDF("id", "text")
      .select(col("id"),
        size(call_function("graft_shingle_hashes", col("text"), lit(12)))
          .as("n_native"),
        size(graft.functions.Text.charShingles(col("text"), 12))
          .as("n_hof"))
      .collect()
    got.foreach { r =>
      assert(r.getInt(1) === r.getInt(2),
        s"doc ${r.getLong(0)}: native=${r.getInt(1)} hof=${r.getInt(2)}")
    }
  }

  test("sorted-intersect-gt equals the naive set formulation (300 random pairs)") {
    import s.implicits._
    val rnd = new Random(1234)
    val cases = (1 to 300).map { i =>
      def arr() = Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong)
        .distinct.sorted
      (i.toLong, arr(), arr(), rnd.nextInt(40).toLong)
    }
    val got = cases.toDF("id", "a", "b", "t")
      .select(col("id"),
        call_function("graft_sorted_intersect_gt",
          col("a"), col("b"), col("t")).as("cs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    cases.foreach { case (id, a, b, t) =>
      val expect = a.toSet.intersect(b.toSet).filter(_ > t).toSeq.sorted
      assert(got(id) === expect, s"case $id: a=$a b=$b t=$t")
    }
  }

  test("PQ natives equal a scala reimplementation (100 random vectors)") {
    import s.implicits._
    val rnd = new Random(77)
    val m = 8; val ks = 4; val dim = 16; val sub = dim / m
    val cb = Array.fill(ks * dim)((rnd.nextInt(2001) - 1000).toDouble)
    val vecs = (1 to 100).map(i =>
      (i.toLong, Seq.fill(dim)((rnd.nextInt(2001) - 1000).toDouble)))
    def subDist(v: Seq[Double], u: Int, j: Int): Double =
      (0 until sub).map { i =>
        val d = v(u * sub + i) - cb(j * dim + u * sub + i); d * d
      }.sum
    def encode(v: Seq[Double]): Seq[Int] =
      (0 until m).map(u => (0 until ks).minBy(j => (subDist(v, u, j), j)))
    val got = vecs.toDF("id", "v")
      .select(col("id"),
        call_function("graft_pq_encode", col("v"), typedlit(cb),
          lit(m), lit(ks)).as("codes"),
        call_function("graft_pq_adc",
          call_function("graft_pq_lut", col("v"), typedlit(cb),
            lit(m), lit(ks)),
          call_function("graft_pq_encode", col("v"), typedlit(cb),
            lit(m), lit(ks)),
          lit(ks)).as("self_adc"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1), r.getDouble(2)))
      .toSeq
    got.foreach { case (id, codes, selfAdc) =>
      val v = vecs(id.toInt - 1)._2
      assert(codes === encode(v), s"vec $id codes")
      // ADC of a vector against its own codes = sum of its per-
      // subspace quantization errors (exact integers in doubles)
      val expect = (0 until m).map(u => subDist(v, u, codes(u))).sum
      assert(selfAdc === expect, s"vec $id adc")
    }
  }
}

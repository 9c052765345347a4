package graft

import graft.functions.Text
import graft.operators.{Multimodal, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val d = TestSpark.sf

  test("weighted sampling is deterministic and biased toward heavy docs") {
    import org.apache.spark.sql.functions._
    val once = graft.operators.TextAnalysis.sampleWeighted(s, d, 200)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val again = graft.operators.TextAnalysis.sampleWeighted(s, d, 200)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(once === again, "weighted draw must be reproducible")
    assert(once.size === 200)
    // selection bias: the sample's mean weight must exceed the
    // corpus mean (that is what the weights are FOR)
    val corpusMean = graft.sources.Tables.documents(s, d)
      .select((lit(1) + least(lit(199),
        floor(length(col("text")) / lit(50)))).cast("double").as("w"))
      .agg(avg("w")).head().getDouble(0)
    val sampleMean = once.toSeq.map(_._2).sum.toDouble / once.size
    assert(sampleMean > corpusMean,
      s"weighting had no effect: sample $sampleMean vs corpus $corpusMean")
  }

  test("token functions on known strings") {
    import s.implicits._
    val df = Seq(
      ("the quick  brown fox", 4, 4),
      ("a-b c_9 ??", 2, 3),   // ws: ["a-b","c_9","??"] minus none → 3? see below
      ("", 0, 0)
    ).toDF("text", "ws", "re")
    val got = df.select(
      col("ws"), col("re"),
      size(Text.wsTokens(col("text"))).as("ws_got"),
      size(Text.regexTokens(col("text"))).as("re_got")).collect()
    // "the quick  brown fox": double space yields an empty token → filtered
    assert(got(0).getAs[Int]("ws_got") === 4)
    assert(got(0).getAs[Int]("re_got") === 4)
    // "a-b c_9 ??": ws tokens = [a-b, c_9, ??] = 3; regex runs = [a, b, c, 9]
    assert(got(1).getAs[Int]("ws_got") === 3)
    assert(got(1).getAs[Int]("re_got") === 4)
    assert(got(2).getAs[Int]("ws_got") === 0)
    assert(got(2).getAs[Int]("re_got") === 0)
  }

  test("fingerprint is word-order and duplication insensitive") {
    import s.implicits._
    val df = Seq(
      ("alpha beta gamma", "gamma beta alpha beta"),
      ("x y", "y x x")
    ).toDF("t1", "t2")
    val got = df.select(
      (Text.fingerprint(col("t1")) === Text.fingerprint(col("t2"))).as("eq"))
      .collect()
    assert(got.forall(_.getBoolean(0)))
  }

  test("langid picks scripts and stopwords deterministically") {
    import s.implicits._
    val df = Seq(
      ("der große fluß läuft", "de"),
      ("c'est déjà l'été", "fr"),
      ("the cat sat", "en"),
      ("zzz qqq", "und")
    ).toDF("text", "expected")
    val got = df.select(Text.langId(col("text")).as("got"), col("expected"))
      .collect()
    got.foreach(r => assert(r.getString(0) === r.getString(1)))
  }

  test("CJK-aware keyword segmentation: Han bigrams + latin words") {
    import s.implicits._
    val df = Seq(
      ("小米手机 flagship", Seq("flagship", "小米", "米手", "手机")),
      ("plain english only", Seq("plain", "english", "only")),
      ("图书", Seq("图书"))
    ).toDF("text", "expected")
    df.select(Text.segmentKeywords(col("text")).as("got"), col("expected"))
      .collect().foreach { r =>
        assert(r.getSeq[String](0).toSet === r.getSeq[String](1).toSet,
          s"got ${r.getSeq[String](0)} expected ${r.getSeq[String](1)}")
      }
  }

  test("dictionary FMM segmentation: longest match beats bigram over-generation") {
    import s.implicits._
    val df = Seq(
      // longest match wins: 平板电脑 (4) over 平板 (2)
      ("华为平板电脑", Seq("华为", "平板电脑")),
      // unmatched Han chars fall back to singles
      ("洗衣机全自动", Seq("洗衣机", "全", "自", "动")),
      // mixed: latin tokens pass through lowercased, Han runs FMM'd
      ("苹果手机壳 Case PRO", Seq("苹果", "手机壳", "case", "pro")),
      ("plain english", Seq("plain", "english")),
      ("", Seq.empty[String])
    ).toDF("text", "expected")
    df.select(org.apache.spark.sql.functions
        .call_function("graft_dict_segment", col("text")).as("got"),
      col("expected"))
      .collect().foreach { r =>
        assert(r.getSeq[String](0) === r.getSeq[String](1),
          s"got ${r.getSeq[String](0)} expected ${r.getSeq[String](1)}")
      }
  }

  test("tfidf top-k: rare repeated terms outrank common ones") {
    val rows = graft.operators.TextAnalysis.tfidfTopTerms(s, d, k = 3)
      .collect()
    assert(rows.nonEmpty)
    val byDoc = rows.groupBy(_.getLong(0))
    byDoc.foreach { case (doc, rs) =>
      val rks = rs.map(_.getLong(2)).sorted
      assert(rks.toSeq === (1L to rks.length).toSeq, s"doc $doc ranks $rks")
      assert(rks.length <= 3)
    }
    // stopword-ish terms should essentially never win rank 1: their
    // df is near N, so idf ≈ 1 while rarer repeated terms get boosted
    val rank1 = rows.filter(_.getLong(2) == 1L).map(_.getString(1))
    val stopish = Set("the", "a", "of", "and", "to", "is", "in")
    assert(rank1.count(stopish.contains).toDouble / rank1.length < 0.2,
      "stopwords dominate rank-1 TF-IDF — idf weighting is broken")
  }

  test("clean corpus pipeline: deduped, bounded, quality-floored") {
    val cleaned = graft.operators.TextAnalysis.cleanCorpus(s, d).collect()
    assert(cleaned.nonEmpty)
    assert(cleaned.forall(_.getAs[Double]("quality_score") >= 0.5))
    assert(cleaned.forall(_.getAs[Long]("n_tokens") >= 10))
    // dedup: cleaned ids are fingerprint-group minima, so distinct
    assert(cleaned.map(_.getAs[Long]("doc_id")).distinct.length === cleaned.length)
  }

  test("quality columns are in range over the corpus") {
    val q = TextAnalysis.quality(s, d).collect()
    q.foreach { r =>
      val score = r.getAs[Double]("quality_score")
      assert(score >= 0.0 && score <= 1.0)
      assert(r.getAs[Double]("stopword_ratio") <= 1.0)
      assert(r.getAs[Double]("alpha_ratio") <= 1.0)
    }
  }

  test("PII redaction masks emails, phones, IPs and counts them") {
    import s.implicits._
    val df = Seq(
      ("mail bob.smith+x@corp.example.com now", 1L, 0L, 0L),
      ("call (415) 555-2671 or +1 415.555.2671", 0L, 2L, 0L),
      ("host 192.168.0.1 is up", 0L, 0L, 1L),
      ("nothing sensitive here", 0L, 0L, 0L)
    ).toDF("text", "email", "phone", "ip")
    val cols = Seq(col("email"), col("phone"), col("ip"),
      Text.redactPii(col("text")).as("red")) ++ Text.piiCounts(col("text"))
    val got = df.select(cols: _*).collect()
    got.foreach { r =>
      assert(r.getAs[Long]("email_ct") === r.getAs[Long]("email"))
      assert(r.getAs[Long]("phone_ct") === r.getAs[Long]("phone"))
      assert(r.getAs[Long]("ip_ct") === r.getAs[Long]("ip"))
      val red = r.getAs[String]("red")
      assert(!red.contains("@") || red.contains("<EMAIL>"))
      assert(!red.contains("192.168"))
      assert(!red.contains("555-2671") && !red.contains("555.2671"))
    }
  }

  test("repetition stats flag a degenerate doc and pass a varied one") {
    import s.implicits._
    // build a tiny corpus inline through the same column logic the
    // operator uses — top-bigram fraction separates the repeated doc
    val df = Seq(
      (1L, "spam ham spam ham spam ham spam ham"),
      (2L, "one two three four five six seven eight")
    ).toDF("doc_id", "text")
    val tk = Text.wsTokens(col("text"))
    val bigrams = transform(sequence(lit(1), size(tk) - 1),
      i => concat_ws(" ", element_at(tk, i), element_at(tk, i + 1)))
    val got = df.select(col("doc_id"), explode(bigrams).as("bgm"))
      .groupBy("doc_id", "bgm").count()
      .groupBy("doc_id").agg(max("count").as("top"), sum("count").as("n"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1L)._1 === 4L)          // "spam ham" appears 4 times
    assert(got(2L)._1 === 1L)          // no repeated bigram
    assert(got(1L)._2 === 7L && got(2L)._2 === 7L)
  }

  test("greedy packing: bins fit the budget, order-contiguous per source") {
    val rows = graft.operators.TextAnalysis.packGreedy(s, d, budget = 128)
      .collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("bin_id")))
    val docs = graft.sources.Tables.documents(s, d).count()
    assert(rows.length.toLong === docs, "every doc packed")
    rows.groupBy(_._1).foreach { case (src, g) =>
      val inOrder = g.sortBy(_._2)
      // bin ids are nondecreasing in doc order, starting at 0
      assert(inOrder.head._4 === 0L)
      inOrder.sliding(2).foreach { case Array((_, _, _, b1), (_, _, _, b2)) =>
        assert(b2 === b1 || b2 === b1 + 1, s"$src: bin jump $b1 -> $b2")
      case _ => ()
      }
      // every bin respects the budget unless it holds one oversize doc
      inOrder.groupBy(_._4).foreach { case (bin, members) =>
        val tot = members.map(_._3).sum
        assert(tot <= 128 || members.length === 1,
          s"$src bin $bin: $tot tokens in ${members.length} docs")
      }
      // greedy invariant: a doc in a fresh bin would NOT have fit the
      // previous bin
      inOrder.sliding(2).foreach {
        case Array((_, _, _, b1), (_, _, nt2, b2)) if b2 === b1 + 1 =>
          val prevFill = inOrder.filter(_._4 == b1).map(_._3).sum
          assert(prevFill + nt2 > 128,
            s"$src: doc opened bin $b2 but would have fit bin $b1")
        case _ => ()
      }
    }
  }

  test("domain mix: binding language kept fully, others downsampled toward target") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(s, d)
    val before = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val after = graft.operators.TextAnalysis.domainMix(s, d)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val targets = Map("en" -> 0.30, "de" -> 0.20, "es" -> 0.20,
      "fr" -> 0.15, "zh" -> 0.15)
    // the binding language (min n/target) survives ~fully
    val binding = before.keys.minBy(l => before(l) / targets(l))
    assert(after(binding).toDouble / before(binding) > 0.95,
      s"binding lang $binding was downsampled")
    // nothing upsampled; every language represented
    targets.keys.foreach { l =>
      assert(after.getOrElse(l, 0L) <= before(l))
      assert(after.getOrElse(l, 0L) > 0L, s"$l vanished")
    }
    // realized mixture within hash noise of target (±50% relative at
    // this tiny corpus size)
    val total = after.values.sum.toDouble
    targets.foreach { case (l, t) =>
      val got = after(l) / total
      assert(math.abs(got - t) / t < 0.5, f"$l: got $got%.3f want $t%.2f")
    }
  }

  test("train/val/test split: disjoint, exhaustive, near 80/10/10") {
    val rows = TextAnalysis.trainValTestSplit(s, d).collect()
    val docs = graft.sources.Tables.documents(s, d).count()
    assert(rows.length.toLong === docs) // exhaustive, one row per doc
    assert(rows.map(_.getAs[Long]("doc_id")).distinct.length.toLong === docs)
    val bynf = rows.groupBy(_.getAs[String]("split"))
      .view.mapValues(_.length.toDouble / rows.length).toMap
    assert(bynf.keySet === Set("train", "val", "test"))
    assert(math.abs(bynf("train") - 0.8) < 0.06, bynf.toString)
    assert(math.abs(bynf("val") - 0.1) < 0.04, bynf.toString)
    assert(math.abs(bynf("test") - 0.1) < 0.04, bynf.toString)
  }

  test("LM score: ppm bounds hold and repeated bigrams score higher") {
    val rows = TextAnalysis.lmScore(s, d).collect()
    val docs = graft.sources.Tables.documents(s, d)
    assert(rows.length.toLong === docs.count())
    val nt = docs.select(col("doc_id"),
        size(Text.wsTokens(col("text"))).as("n")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("n_bigrams") === math.max(0, nt(id) - 1).toLong)
      val avg = r.getAs[Long]("avg_ppm")
      assert(avg >= 0 && avg <= 1000000, s"doc $id avg $avg")
    }
    // a doc made of the corpus' most common bigram must out-score a
    // doc of singleton bigrams — the filter's separating property
    val avgs = rows.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("avg_ppm")).toMap
    assert(avgs.values.max > avgs.values.min)
  }

  test("bottom-k sample: exactly k per language, top-k pushed below the shuffle") {
    val k = 7
    val sample = TextAnalysis.sampleBottomK(s, d, k)
    val perLang = sample.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val langSizes = graft.sources.Tables.documents(s, d)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    langSizes.foreach { case (l, n) =>
      assert(perLang(l) === math.min(k.toLong, n), l)
    }
    // rank filter must rewrite to a partial top-k (WindowGroupLimit)
    // so executors forward k rows per stratum, not their whole slice
    val plan = sample.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
  }

  test("audio chunking: frames tile the payload exactly") {
    val chunks = Multimodal.audioChunks(s, d).collect()
    val meta = Multimodal.binaryMeta(s, d)
      .select("doc_id", "n_bytes").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byDoc = chunks.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.keySet === meta.keySet)
    byDoc.foreach { case (id, cs) =>
      // chunk sizes sum to the payload size; only the LAST chunk may
      // be short; indices are contiguous from 0
      assert(cs.map(_.getAs[Long]("chunk_bytes")).sum === meta(id))
      val sorted = cs.sortBy(_.getAs[Long]("chunk_idx"))
      assert(sorted.map(_.getAs[Long]("chunk_idx")).toSeq ===
        (0L until cs.length.toLong))
      sorted.init.foreach(c =>
        assert(c.getAs[Long]("chunk_bytes") === 256L, s"doc $id"))
    }
  }

  test("scene cuts: deltas replay the per-doc energy lag, both flag classes occur") {
    val cuts = graft.operators.Multimodal.sceneCuts(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("e_ps"), r.getAs[Long]("delta"),
          r.getAs[Boolean]("is_cut"))).toMap
    val energy = graft.operators.Multimodal.audioEnergy(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("energy"), r.getAs[Long]("chunk_bytes"))).toMap
    val expect = energy.keys.toSeq.flatMap { case (doc, idx) =>
      energy.get((doc, idx - 1)).map { case (pe, pb) =>
        val (e, b) = energy((doc, idx))
        val eps = e / b; val prev = pe / pb
        (doc, idx) -> (eps, eps - prev, math.abs(eps - prev) > 400L)
      }
    }.toMap
    assert(cuts === expect)
    // first chunk of every doc is excluded (no predecessor)
    assert(!cuts.keySet.exists(_._2 == 0L))
    // the threshold separates: both classes present at this sf
    assert(cuts.values.exists(_._3) && cuts.values.exists(!_._3))
  }

  test("chunk dedup: keeper is the lexicographic owner, accounting closes") {
    val chunks = Multimodal.audioChunks(s, d).collect()
      .map(r => (r.getAs[String]("chunk_md5"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("chunk_idx")))
    val dups = Multimodal.chunkDedup(s, d).collect()
    val byMd5 = chunks.groupBy(_._1)
    // report covers exactly the digests with >1 occurrence
    assert(dups.map(_.getAs[String]("chunk_md5")).toSet ===
      byMd5.filter(_._2.length > 1).keySet)
    dups.foreach { r =>
      val members = byMd5(r.getAs[String]("chunk_md5"))
      assert(r.getAs[Long]("dup_ct") === members.length.toLong)
      val keep = members.map(m => (m._2, m._3)).min
      assert((r.getAs[Long]("keep_doc"), r.getAs[Long]("keep_idx")) === keep)
    }
  }

  test("multimodal feature extraction: stable shape and checksum parity") {
    val feats = Multimodal.extractFeatures(s, d).collect()
    val docs = graft.sources.Tables.documents(s, d).count()
    assert(feats.length.toLong === docs)
    assert(feats.forall(_.features.length === 8))
    val meta = Multimodal.binaryMeta(s, d)
      .select("doc_id", "n_bytes").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    feats.foreach(f => assert(f.n_bytes === meta(f.doc_id)))
  }
  test("conjunctive search equals brute-force AND over tokenized docs") {
    val rs = graft.operators.TextAnalysis.searchConjunctive(s, d).collect()
    val terms = Set("spark", "window", "merge")
    val expect = graft.sources.Tables.documents(s, d)
      .select("doc_id", "text").collect().collect {
        case r if terms.subsetOf(
            r.getString(1).toLowerCase.split(" ").filter(_.nonEmpty).toSet) =>
          r.getLong(0)
      }.toSet
    assert(rs.map(_.getLong(0)).toSet === expect)
    assert(rs.forall(_.getLong(1) === 3L))
  }

  test("bm25: ranks are 1..k, every ranked doc contains a query term, ordering sane") {
    val rs = graft.operators.TextAnalysis.bm25TopK(s, d).collect()
    val ranks = rs.map(_.getLong(1)).sorted
    assert(ranks === (1L to ranks.length).toArray.toSeq, "dense rank run")
    assert(ranks.length <= 10)
    val terms = Set("hash", "join", "spark")
    val byId = graft.sources.Tables.documents(s, d)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rs.foreach { r =>
      val toks = byId(r.getLong(0)).toLowerCase.split(" ").toSet
      assert((terms & toks).nonEmpty, s"doc ${r.getLong(0)} has no query term")
    }
  }

  test("langid confusion: cells cover the corpus, diagonal equals the match count") {
    val rs = TextAnalysis.langIdConfusion(s, d).collect()
    val n = graft.sources.Tables.documents(s, d).count()
    assert(rs.map(_.getAs[Long]("ct")).sum === n)
    val diag = rs.filter(r =>
      r.getAs[String]("lang") == r.getAs[String]("pred_lang"))
      .map(_.getAs[Long]("ct")).sum
    val matches = TextAnalysis.langId(s, d)
      .agg(sum(col("label_match"))).collect()(0).getLong(0)
    assert(diag === matches)
    // per-label shares stay within a floor-div ulp of 1e6
    rs.groupBy(_.getAs[String]("lang")).foreach { case (_, rows) =>
      val tot = rows.map(_.getAs[Long]("row_share_ppm")).sum
      assert(tot > 1000000L - rows.length && tot <= 1000000L)
    }
  }

  test("interleave: a permutation that round-robins across sources") {
    val rs = TextAnalysis.interleaveBySource(s, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val n = rs.length
    assert(rs.map(_._2).sorted.toSeq === (0L until n.toLong))
    // full driver replay of the (within-source rank, source) order
    val docs = graft.sources.Tables.documents(s, d)
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val ranked = docs.groupBy(_._2).toSeq.flatMap { case (src, ds) =>
      ds.map(_._1).sorted.zipWithIndex.map { case (id, i) =>
        (id, (i + 1, src)) }
    }
    val expect = ranked.sortBy(_._2).map(_._1)
      .zipWithIndex.map { case (id, pos) => id -> pos.toLong }.toMap
    assert(rs.toMap === expect)
    // balance: the first |sources| positions hold one doc per source
    val srcOf = docs.toMap
    val nSources = docs.map(_._2).distinct.length
    val head = rs.sortBy(_._2).take(nSources).map(p => srcOf(p._1))
    assert(head.distinct.length === nSources, "prefix not source-balanced")
  }

  test("bpe step: top pairs replay a driver vocabulary-weighted tally") {
    val rs = TextAnalysis.bpeStep(s, d).collect()
    assert(rs.map(_.getAs[Long]("rk")).sorted.toSeq === (1L to rs.length))
    val vocab = scala.collection.mutable.Map.empty[String, Long]
    graft.sources.Tables.documents(s, d).select("text").collect()
      .foreach(_.getString(0).toLowerCase.split(" ").filter(_.nonEmpty)
        .foreach(w => vocab(w) = vocab.getOrElse(w, 0L) + 1))
    val tally = scala.collection.mutable.Map.empty[(String, String), Long]
    vocab.foreach { case (w, ct) =>
      w.sliding(2).filter(_.length == 2).foreach { p =>
        val key = (p.substring(0, 1), p.substring(1, 2))
        tally(key) = tally.getOrElse(key, 0L) + ct
      }
    }
    val expectTop = tally.toSeq
      .sortBy { case ((a, b), c) => (-c, a, b) }.take(rs.length)
    rs.sortBy(_.getAs[Long]("rk")).zip(expectTop).foreach {
      case (r, ((c1, c2), ct)) =>
        assert((r.getAs[String]("c1"), r.getAs[String]("c2")) === ((c1, c2)))
        assert(r.getAs[Long]("pair_ct") === ct)
    }
  }

  test("hapax stats replay a driver vocabulary tally") {
    val r = TextAnalysis.hapaxStats(s, d).collect()(0)
    val tally = scala.collection.mutable.Map.empty[String, Long]
    graft.sources.Tables.documents(s, d).select("text").collect()
      .foreach(_.getString(0).toLowerCase.split(" ").filter(_.nonEmpty)
        .foreach(w => tally(w) = tally.getOrElse(w, 0L) + 1))
    val types = tally.size.toLong
    val tokens = tally.values.sum
    val hapax = tally.values.count(_ == 1L).toLong
    assert(r.getAs[Long]("n_types") === types)
    assert(r.getAs[Long]("n_tokens") === tokens)
    assert(r.getAs[Long]("hapax_ct") === hapax)
    assert(r.getAs[Long]("hapax_ppm") === hapax * 1000000L / types)
    assert(r.getAs[Long]("ttr_ppm") === types * 1000000L / tokens)
  }

  test("collocations: ranks dense, counts replay a driver bigram tally") {
    val rs = TextAnalysis.collocations(s, d).collect()
    assert(rs.nonEmpty && rs.length <= 20)
    assert(rs.map(_.getAs[Long]("rk")).sorted.toSeq ===
      (1L to rs.length).toSeq)
    // exact bigram counts replay on the driver with the same
    // whitespace tokenization
    val tally = scala.collection.mutable.Map.empty[(String, String), Long]
    graft.sources.Tables.documents(s, d).select("text").collect()
      .foreach { r =>
        val t = r.getString(0).toLowerCase.split(" ").filter(_.nonEmpty)
        t.sliding(2).foreach {
          case Array(a, b) =>
            tally((a, b)) = tally.getOrElse((a, b), 0L) + 1
          case _ =>
        }
      }
    rs.foreach { r =>
      val key = (r.getAs[String]("w1"), r.getAs[String]("w2"))
      assert(r.getAs[Long]("pair_ct") === tally(key), s"count for $key")
      assert(r.getAs[Long]("pair_ct") >= 5L)
    }
  }

  test("filter funnel: stages are monotone and replay cleanCorpus survivors") {
    val rows = graft.operators.TextAnalysis.filterFunnel(s, d).collect()
      .map(r => r.getAs[Long]("stage_idx") ->
        (r.getString(1), r.getAs[Long]("n_docs"),
          r.getAs[Long]("retained_ppm"))).toMap
    assert(rows.keySet === Set(0L, 1L, 2L, 3L))
    val total = rows(0L)._2
    assert(total === graft.sources.Tables.documents(s, d).count())
    assert(rows(0L)._3 === 1000000L)
    // cumulative: every stage keeps at most the previous survivors
    assert(rows(1L)._2 <= total && rows(2L)._2 <= rows(1L)._2 &&
      rows(3L)._2 <= rows(2L)._2)
    // the final stage IS cleanCorpus's output cardinality
    assert(rows(3L)._2 ===
      graft.operators.TextAnalysis.cleanCorpus(s, d).count())
    rows.values.foreach { case (_, n, ppm) =>
      assert(ppm === n * 1000000L / total)
    }
  }

  test("e2e pipeline: stage composition ties to the standalone operators") {
    val rs = graft.operators.TextAnalysis.e2eStats(s, d).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_docs"),
        r.getAs[Long]("total_tokens"), r.getAs[Long]("n_bins"))).toMap
    // docs through the composed plan never exceed the clean stage
    val cleaned = graft.operators.TextAnalysis.cleanCorpus(s, d).count()
    assert(rs.values.map(_._1).sum <= cleaned)
    assert(rs.values.map(_._1).sum > 0L)
    // bin accounting: every bin holds >=1 doc, fills bounded by replay
    rs.foreach { case (_, (nd, nt, nb)) =>
      assert(nb >= 1L && nb <= nd)
      assert(nt > 0L)
    }
    // replay the mix+pack over the cleaned frame on the driver
    val cl = graft.operators.TextAnalysis.cleanCorpus(s, d)
      .select("doc_id", "lang", "source", "n_tokens").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    val targets = Map("en" -> 0.30, "de" -> 0.20, "es" -> 0.20,
      "fr" -> 0.15, "zh" -> 0.15)
    val counts = cl.groupBy(_._2).view.mapValues(_.length).toMap
      .filter { case (l, _) => targets.contains(l) }
    val t = counts.map { case (l, n) => n.toDouble / targets(l) }.min
    val rates = counts.map { case (l, n) =>
      l -> math.floor(math.min(t * targets(l) / n, 1.0) * 1000000).toLong
    }
    def bucket(id: Long): Long = java.lang.Long.parseLong(
      org.apache.commons.codec.digest.DigestUtils
        .md5Hex(id.toString).take(8), 16) % 1000000
    val mixed = cl.filter { case (id, l, _, _) =>
      rates.get(l).exists(bucket(id) < _)
    }
    val expect = mixed.groupBy(_._3).map { case (src, xs) =>
      val sorted = xs.sortBy(_._1)
      var fill = 0L; var bin = 0L; var first = true
      sorted.foreach { case (_, _, _, nt) =>
        if (first) { first = false; fill = nt }
        else if (fill + nt <= 128) fill += nt
        else { bin += 1; fill = nt }
      }
      src -> (sorted.length.toLong, sorted.map(_._4).sum, bin + 1)
    }
    assert(rs === expect)
  }

  test("type-token ratio: per-source diversity replays the driver tally") {
    val rs = graft.operators.TextAnalysis.typeTokenRatio(s, d).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_types"), r.getAs[Long]("ttr_ppm"))).toMap
    val docs = graft.sources.Tables.documents(s, d)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val expect = docs.groupBy(_._1).map { case (src, xs) =>
      val toks = xs.flatMap(_._2.toLowerCase.split(" ").filter(_.nonEmpty))
      src -> (toks.length.toLong, toks.distinct.length.toLong,
        toks.distinct.length.toLong * 1000000L / toks.length)
    }
    assert(rs === expect)
  }

  test("source purity: majority cells replay the per-source tally") {
    val rs = graft.operators.TextAnalysis.sourcePurity(s, d).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_docs"),
        r.getString(2), r.getAs[Long]("purity_ppm"))).toMap
    val docs = graft.sources.Tables.documents(s, d)
      .select("source", "lang").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val expect = docs.groupBy(_._1).map { case (src, xs) =>
      val cells = xs.groupBy(_._2).view.mapValues(_.length).toSeq
      val (lang, ct) = cells.minBy { case (l, c) => (-c, l) }
      src -> (xs.length.toLong, lang, ct.toLong * 1000000L / xs.length)
    }
    assert(rs === expect)
  }

  test("vocab coverage: monotone in k and replays the driver tally") {
    val r = graft.operators.TextAnalysis.vocabCoverage(s, d).collect()(0)
    val toks = graft.sources.Tables.documents(s, d)
      .select("text").collect()
      .flatMap(_.getString(0).toLowerCase.split(" ").filter(_.nonEmpty))
    val tf = toks.groupBy(identity).view.mapValues(_.length.toLong)
      .toSeq.sortBy { case (t, c) => (-c, t) }
    val total = tf.map(_._2).sum
    assert(r.getAs[Long]("total_tokens") === total)
    assert(r.getAs[Long]("n_types") === tf.length.toLong)
    def cov(k: Int) = tf.take(k).map(_._2).sum * 1000000L / total
    assert(r.getAs[Long]("coverage_100_ppm") === cov(100))
    assert(r.getAs[Long]("coverage_1000_ppm") === cov(1000))
    assert(r.getAs[Long]("coverage_5000_ppm") === cov(5000))
    assert(r.getAs[Long]("coverage_100_ppm") <=
      r.getAs[Long]("coverage_1000_ppm"))
    assert(r.getAs[Long]("coverage_1000_ppm") <=
      r.getAs[Long]("coverage_5000_ppm"))
  }

  test("chunk windows: tiling replays on the driver, coverage closes") {
    val rs = graft.operators.TextAnalysis.chunkWindows(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("n_tokens"), r.getString(3)))
    val docs = graft.sources.Tables.documents(s, d)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expect = docs.flatMap { case (id, text) =>
      val toks = text.toLowerCase.split(" ").filter(_.nonEmpty)
      val n = math.max(1,
        math.ceil((toks.length - 64) / 32.0).toInt + 1)
      (0 until n).map { i =>
        val c = toks.slice(i * 32, i * 32 + 64)
        (id, i.toLong) -> (c.length.toLong,
          org.apache.commons.codec.digest.DigestUtils
            .md5Hex(c.mkString(" ")))
      }
    }
    assert(rs.toMap === expect.toMap)
    // stride-64/32 coverage: every token index belongs to >=1 chunk
    docs.foreach { case (id, text) =>
      val nt = text.toLowerCase.split(" ").count(_.nonEmpty)
      val covered = rs.filter(_._1._1 == id).map(_._2._1).sum
      assert(covered >= nt, s"doc $id tokens uncovered")
    }
  }

  test("template groups: phrases replay and every group spans >1 doc") {
    val rs = graft.operators.TextAnalysis.templateGroups(s, d).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_occurrences"), r.getAs[Long]("exemplar"))).toMap
    val docs = graft.sources.Tables.documents(s, d)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val phrases = docs.flatMap { case (id, text) =>
      val toks = text.toLowerCase.split(" ").filter(_.nonEmpty)
      val n = math.max(toks.length / 4 - 1, 1)
      (0 until n).map { i =>
        (id, toks.slice(i * 4, i * 4 + 8).mkString(" ")
          .replaceAll("[0-9]+", "#"))
      }
    }
    val expect = phrases.groupBy(_._2).collect {
      case (ph, xs) if xs.map(_._1).distinct.length > 1 =>
        ph -> (xs.map(_._1).distinct.length.toLong,
          xs.length.toLong, xs.map(_._1).min)
    }.toMap
    assert(rs === expect)
    rs.values.foreach { case (nd, no, _) => assert(nd > 1 && no >= nd) }
  }

  test("dataset card: every field ties to the operator that owns it") {
    val r = graft.operators.TextAnalysis.datasetCard(s, d).collect()(0)
    val docs = graft.sources.Tables.documents(s, d)
    assert(r.getAs[Long]("n_docs") === docs.count())
    assert(r.getAs[Long]("n_langs") ===
      docs.select("lang").distinct().count())
    assert(r.getAs[Long]("n_sources") ===
      docs.select("source").distinct().count())
    // dup count agrees with what exact dedup keeps
    val kept = graft.operators.Dedup.exact(s, d).count()
    assert(r.getAs[Long]("dup_docs") === r.getAs[Long]("n_docs") - kept)
    // token total agrees with the token-counting operator
    val toks = graft.operators.TextAnalysis.tokens(s, d)
      .agg(sum(col("ws_tokens"))).collect()(0).getLong(0)
    assert(r.getAs[Long]("total_tokens") === toks)
  }

  test("fertility: per-language ratio rides the sums, replays the driver tally") {
    val rs = graft.operators.TextAnalysis.fertility(s, d).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_docs"),
        r.getAs[Long]("total_words"), r.getAs[Long]("total_subwords"),
        r.getAs[Long]("fertility_ppm"))).toMap
    val docs = graft.sources.Tables.documents(s, d)
      .select("lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val expect = docs.groupBy(_._1).map { case (lang, xs) =>
      val w = xs.map(_._2.toLowerCase.split(" ").count(_.nonEmpty).toLong).sum
      val sub = xs.map(_._2.toLowerCase.split("[^a-z0-9]+")
        .count(_.nonEmpty).toLong).sum
      lang -> (xs.length.toLong, w, sub, sub * 1000000L / w)
    }
    assert(rs === expect)
    // subword tokenization never merges across words: fertility >= 1
    rs.values.foreach { case (_, _, _, f) => assert(f >= 1000000L) }
  }

  test("code signals: densities replay the driver count, prose corpus reads low") {
    val rs = graft.operators.TextAnalysis.codeSignals(s, d).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_chars"),
        r.getAs[Long]("symbol_ppm"), r.getAs[Long]("digit_ppm"),
        r.getAs[Long]("line_ppm"))).toMap
    val docs = graft.sources.Tables.documents(s, d)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter(_._2.nonEmpty)
    val sym = "[{}();=\\[\\]<>]".r
    val dig = "[0-9]".r
    val lin = "[|\\\\]".r
    val expect = docs.map { case (id, t) =>
      val n = t.length.toLong
      def ppm(re: scala.util.matching.Regex) =
        re.findAllIn(t).size.toLong * 1000000L / n
      id -> (n, ppm(sym), ppm(dig), ppm(lin))
    }.toMap
    assert(rs === expect)
  }

  test("readability: vowel-run counts replay the JVM regex on the driver") {
    val rs = graft.operators.TextAnalysis.readability(s, d).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_words"),
        r.getAs[Long]("n_syllables"),
        r.getAs[Long]("syll_per_word_ppm"))).toMap
    val docs = graft.sources.Tables.documents(s, d)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val re = "[aeiouy]+".r
    val expect = docs.flatMap { case (id, text) =>
      val w = text.toLowerCase.split(" ").count(_.nonEmpty).toLong
      if (w == 0) None else {
        val syl = re.findAllIn(text.toLowerCase).size.toLong
        Some(id -> (w, syl, syl * 1000000L / w))
      }
    }.toMap
    assert(rs === expect)
  }

  test("novelty: earliest doc gets full credit, totals tie to the shingle index") {
    val rs = graft.operators.TextAnalysis.noveltyScore(s, d).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("total_shingles"),
        r.getAs[Long]("novel_shingles"), r.getAs[Long]("novelty_ppm")))
      .toMap
    // driver replay over the same native shingle hashes
    val sh = graft.sources.Tables.documents(s, d)
      .select(col("doc_id"), explode(call_function(
        "graft_shingle_hashes", col("text"), lit(12))).as("sh"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val firstOf = sh.groupBy(_._2).view
      .mapValues(_.map(_._1).min).toMap
    val expect = sh.groupBy(_._1).map { case (doc, xs) =>
      val novel = xs.count { case (_, h) => firstOf(h) == doc }
      doc -> (xs.length.toLong, novel.toLong,
        novel.toLong * 1000000L / xs.length)
    }
    assert(rs === expect)
    // conservation: every shingle hash credits exactly one document
    assert(rs.values.map(_._2).sum === firstOf.size.toLong)
    // the earliest doc overall is fully novel
    val firstDoc = rs.keys.min
    assert(rs(firstDoc)._3 === 1000000L)
  }

  test("split leakage: cross-split pair counts replay the driver brute force") {
    val got = graft.operators.TextAnalysis.splitLeakage(s, d).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("leaked_pairs"), r.getAs[Long]("contaminated_docs")))
      .toMap
    val docs = graft.sources.Tables.documents(s, d)
      .select(col("doc_id"), lower(col("text")).as("lt")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val md = java.security.MessageDigest.getInstance("MD5")
    def rank(id: Long): Int = {
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .take(4).map(b => f"$b%02x").mkString
      val b = java.lang.Long.parseLong(hex, 16) % 100
      if (b < 80) 0 else if (b < 90) 1 else 2
    }
    val names = Array("train", "val", "test")
    val shingles = docs.map { case (id, lt) =>
      val n = math.max(lt.length - 11, 1)
      (id, rank(id), (0 until n).map(i =>
        lt.substring(i, math.min(i + 12, lt.length))).toSet)
    }
    val pairs = for {
      a <- shingles; b <- shingles
      if a._2 < b._2 && (a._3 & b._3).size >= 30
    } yield (a._2, b._2, a._1, b._1)
    val expect = pairs.groupBy(p => (p._1, p._2)).map { case ((ra, rb), xs) =>
      (names(ra), names(rb)) ->
        (xs.length.toLong, xs.map(_._4).distinct.length.toLong)
    }
    assert(got === expect)
    // the split must actually leak on this corpus (near-dups exist)
    assert(got.values.map(_._1).sum > 0L)
  }

  test("version diff: statuses conserve both versions' cardinalities") {
    val m = graft.operators.TextAnalysis.versionDiff(s, d).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_docs")).toMap
    val ids = graft.sources.Tables.documents(s, d)
      .select(col("doc_id")).collect().map(_.getLong(0))
    val n = ids.length.toLong
    val removed = ids.count(_ % 97 == 0).toLong
    val changed = ids.count(i => i % 97 != 0 && i % 101 == 0).toLong
    val added = ids.count(_ % 103 == 0).toLong
    assert(m.getOrElse("removed", 0L) === removed)
    assert(m.getOrElse("changed", 0L) === changed)
    assert(m.getOrElse("added", 0L) === added)
    assert(m.getOrElse("unchanged", 0L) === n - removed - changed)
    assert(m.values.sum === n + added)
  }

  test("RAKE keyphrases: word scores replay the driver degree/freq tally") {
    val got = graft.operators.TextAnalysis.keyphrasesRake(s, d).collect()
      .map(r => (r.getString(0), r.getAs[Long]("n_occ"),
        r.getAs[Long]("score_ppm")))
    assert(got.length > 3)
    // driver replay: rebuild phrases + word stats, recheck scores
    val stops = Set("a", "the", "of", "and", "to", "in", "is", "on")
    val docs = graft.sources.Tables.documents(s, d)
      .select(col("doc_id"), lower(col("text"))).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val phrases = docs.flatMap { case (_, t) =>
      val toks = t.split(" ").filter(_.nonEmpty)
      val runs = scala.collection.mutable.ArrayBuffer.empty[List[String]]
      var cur = List.empty[String]
      toks.foreach { tk =>
        if (stops(tk)) { if (cur.nonEmpty) runs += cur.reverse; cur = Nil }
        else cur = tk :: cur
      }
      if (cur.nonEmpty) runs += cur.reverse
      runs
    }
    val freq = phrases.flatten.groupBy(identity).view.mapValues(_.size.toLong)
    val degree = phrases.flatMap(p => p.map(_ -> p.length.toLong))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum)
    val wscore = freq.keys.map(w => w -> degree(w) * 1000000L / freq(w)).toMap
    val expect = phrases.filter(_.length <= 6)
      .map(p => p.mkString(" ") -> p.map(wscore).sum)
      .groupBy(_._1).view
      .mapValues(xs => (xs.size.toLong, xs.map(_._2).max))
      .filter(_._2._1 >= 2L).toMap
    got.foreach { case (p, n, sc) =>
      assert(expect(p) === ((n, sc)), s"phrase '$p'") }
    // ranking is by (score desc, phrase)
    assert(got.map(_._3).toSeq === got.map(_._3).toSeq.sorted.reverse)
  }

  test("uncertainty sample: the k chosen docs straddle the threshold tightest") {
    val got = graft.operators.TextAnalysis.uncertaintySample(s, d).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("score_milli"),
        r.getAs[Long]("dist")))
    assert(got.length === 20)
    val all = graft.operators.TextAnalysis.qualityModelScore(s, d)
      .select(col("doc_id"), col("score_milli")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val worstChosen = got.map(_._3).max
    // no unchosen doc sits strictly closer than the worst chosen one
    val closerUnchosen = all.filter(a => !got.exists(_._1 == a._1))
      .count(a => math.abs(a._2 - 1000L) < worstChosen)
    assert(closerUnchosen === 0, "selection must be the tightest set")
    got.foreach { case (_, sc, dist) =>
      assert(dist === math.abs(sc - 1000L)) }
  }

  test("shuffle quality: the md5 order mixes sources to the expected rate") {
    val r = graft.operators.TextAnalysis.shuffleQuality(s, d).collect()(0)
    val blocked = r.getAs[Long]("blocked_ppm")
    val after = r.getAs[Long]("after_ppm")
    val expected = r.getAs[Long]("expected_ppm")
    // source-sorted order is maximally clumped (≈1e6 ppm); the
    // shuffle must land near the perfect-mixing expectation
    assert(blocked > 10 * expected,
      s"blocked=$blocked should dwarf expected=$expected")
    assert(math.abs(after - expected) < expected,
      s"after=$after should sit near expected=$expected")
  }

  test("burstiness: Fano replays the driver tally, function words read low") {
    val got = graft.operators.TextAnalysis.tokenBurstiness(s, d).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("total_ct"),
        r.getAs[Long]("n_docs_with"), r.getAs[Long]("fano_ppm"))).toMap
    assert(got.size === 20)
    val docs = graft.sources.Tables.documents(s, d)
      .select(lower(col("text"))).collect().map(_.getString(0))
    val n = BigInt(docs.length)
    got.foreach { case (tok, (s0, ndw, fano)) =>
      val counts = docs.map(_.split(" ").count(_ == tok).toLong)
      assert(BigInt(s0) === counts.map(BigInt(_)).sum)
      assert(ndw === counts.count(_ > 0).toLong)
      val sq = counts.map(c => BigInt(c) * c).sum
      val expect = (n * sq - BigInt(s0) * s0) * 1000000 / (n * s0)
      assert(BigInt(fano) === expect, s"token '$tok'")
      assert(fano >= 0L)
    }
  }

  test("shard schedule: LPT replays on the driver, no worker idles") {
    val got = graft.operators.TextAnalysis.shardSchedule(s, d).collect()
      .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("worker")))
    val manifest = graft.operators.TextAnalysis.shardManifest(s, d)
      .collect().map(r => (r.getAs[Long]("shard"), r.getAs[Long]("n_tokens")))
    val loads = Array.fill(4)(0L)
    val expect = manifest.sortBy { case (sh, nt) => (-nt, sh) }
      .map { case (sh, nt) =>
        val w = loads.zipWithIndex.minBy { case (l, i) => (l, i) }._2
        loads(w) += nt
        (sh, nt, w.toLong)
      }
    assert(got.sortBy(_._1).toSeq === expect.sortBy(_._1).toSeq)
    // all workers used, and the spread is bounded by one shard
    assert(expect.map(_._3).distinct.length === 4)
    assert(loads.max - loads.min <= manifest.map(_._2).max)
  }

  test("score calibration: deciles partition the corpus, rates are bounded") {
    val rs = graft.operators.TextAnalysis.scoreCalibration(s, d).collect()
      .map(r => (r.getAs[Long]("decile"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("mean_score_milli"), r.getAs[Long]("label_rate_ppm")))
      .sortBy(_._1)
    assert(rs.map(_._1) === (1L to 10L).toArray)
    val nDocs = graft.sources.Tables.documents(s, d).count()
    assert(rs.map(_._2).sum === nDocs)
    // equal-size deciles within 1 (ANSI ntile)
    assert(rs.map(_._2).max - rs.map(_._2).min <= 1)
    // mean score is non-decreasing across score-ordered deciles
    assert(rs.map(_._3).sliding(2).forall {
      case Array(a, b) => a <= b; case _ => true })
    rs.foreach { case (_, _, _, rate) =>
      assert(rate >= 0L && rate <= 1000000L) }
  }

  test("curriculum phases: formula-independent invariants (size, coverage, order)") {
    // oracle mirrors the engine's ⌊rank·k/n⌋+1 cut (r10) — these
    // invariants hold for ANY correct equal-count phase split over
    // the score-descending order, independent of the formula
    val rs = graft.operators.TextAnalysis.curriculumSchedule(s, d).collect()
      .map(r => (r.getAs[Long]("phase"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("mean_score_milli")))
      .sortBy(_._1)
    assert(rs.map(_._1) === (1L to 4L).toArray)
    assert(rs.map(_._2).sum === graft.sources.Tables.documents(s, d).count())
    assert(rs.map(_._2).max - rs.map(_._2).min <= 1)
    // contiguity consequence: phase means non-INCREASING (desc order)
    assert(rs.map(_._3).sliding(2).forall {
      case Array(a, b) => a >= b; case _ => true })
  }

  test("annotation kappa: confusion counts and the kappa identity replay in BigInt") {
    val r = graft.operators.TextAnalysis.annotationKappa(s, d).collect()(0)
    val docs = graft.sources.Tables.documents(s, d)
      .select(col("text")).collect().map(_.getString(0))
    val conf = docs.map { t =>
      val toks = t.toLowerCase.split(" ").filter(_.nonEmpty)
      (t.length >= 300, toks.distinct.length * 2 >= toks.length)
    }
    val n11 = conf.count(c => c._1 && c._2).toLong
    val n10 = conf.count(c => c._1 && !c._2).toLong
    val n01 = conf.count(c => !c._1 && c._2).toLong
    val n00 = conf.count(c => !c._1 && !c._2).toLong
    assert((r.getAs[Long]("n11"), r.getAs[Long]("n10"),
      r.getAs[Long]("n01"), r.getAs[Long]("n00")) ===
      ((n11, n10, n01, n00)))
    val n = BigInt(n11 + n10 + n01 + n00)
    val peNum = BigInt(n11 + n10) * (n11 + n01) +
      BigInt(n01 + n00) * (n10 + n00)
    assert(BigInt(r.getAs[Long]("kappa_ppm")) ===
      (n * (n11 + n00) - peNum) * 1000000 / (n * n - peNum))
    // κ ≤ p_o scaled: agreement beyond chance can't exceed agreement
    assert(r.getAs[Long]("kappa_ppm") <= r.getAs[Long]("po_ppm"))
  }

  test("compression ratio: deterministic, bounded, orders repetition below diversity") {
    val a = graft.operators.TextAnalysis.compressRatio(s, d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val b = graft.operators.TextAnalysis.compressRatio(s, d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(a === b, "codec output must be deterministic across runs")
    assert(a.nonEmpty)
    a.values.foreach { case (orig, comp, ppm) =>
      assert(comp > 0 && ppm === comp * 1000000L / math.max(orig, 1))
      assert(ppm < 1200000L, "deflate should never blow up these texts")
    }
    // a pathological repeat must compress far below the corpus median
    import s.implicits._
    val probe = Seq((1L, "spark " * 200), (2L,
      (0 until 200).map(i => s"w${i * 7919}").mkString(" ")))
      .toDF("doc_id", "text")
    val probed = probe.as[(Long, String)].collect().map { case (id, t) =>
      val in = t.getBytes("UTF-8")
      val defl = new java.util.zip.Deflater(6)
      defl.setInput(in); defl.finish()
      val buf = new Array[Byte](1 << 16)
      var n = 0L
      while (!defl.finished()) n += defl.deflate(buf)
      defl.end()
      id -> n * 1000000L / in.length
    }.toMap
    assert(probed(1L) < probed(2L) / 2,
      "repetitive text must compress far better than diverse text")
  }

  test("pack mask spans: spans tile each bin exactly, budget bounds ends") {
    val rows = graft.operators.TextAnalysis.packMaskSpans(s, d).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("bin_id"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("tok_start"), r.getAs[Long]("tok_end")))
    assert(rows.nonEmpty)
    rows.groupBy(r => (r._1, r._2)).foreach { case (bin, xs) =>
      val sorted = xs.sortBy(_._3)
      // spans are contiguous from 0 in pack order, width = n_tokens
      var cursor = 0L
      sorted.foreach { r =>
        assert(r._5 === cursor, s"gap in $bin at doc ${r._3}")
        assert(r._6 === r._5 + r._4 - 1)
        cursor = r._6 + 1
      }
      // a bin's fill never exceeds the packer budget unless a single
      // oversized doc forced its own bin
      if (sorted.length > 1) assert(cursor <= 128L, s"overfull bin $bin")
    }
  }

  private def words(text: String): Seq[String] =
    text.toLowerCase.split(" ").filter(_.nonEmpty).toSeq

  test("gopher rule table replays the per-doc flags on the driver") {
    val got = TextAnalysis.gopherRules(s, d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(got.nonEmpty)
    val stop = Set("the", "be", "to", "of", "and", "that", "have", "with")
    val docs = graft.sources.Tables.documents(s, d)
      .select("source", "text").collect()
      .map(r => (r.getString(0), words(r.getString(1))))
    val expect = docs.groupBy(_._1).map { case (src, xs) =>
      val flags = xs.map { case (_, w) =>
        val n = w.size
        val sumLen = w.map(_.length).sum
        val vWc = if (n < 50 || n > 100000) 1L else 0L
        val vMwl = if (sumLen < 3 * n || sumLen > 10 * n) 1L else 0L
        val vStop = if (w.count(stop) < 2) 1L else 0L
        val maxTok = if (w.isEmpty) 0L
          else w.groupBy(identity).values.map(_.size).max.toLong
        val vRep = if (maxTok * 5 > n) 1L else 0L
        (vWc, vMwl, vStop, vRep)
      }
      src -> ((xs.size.toLong, flags.map(_._1).sum, flags.map(_._2).sum,
        flags.map(_._3).sum, flags.map(_._4).sum,
        flags.count(f => f._1 + f._2 + f._3 + f._4 == 0).toLong))
    }
    assert(got === expect)
    // the rules must actually discriminate on this corpus: at least
    // one rule fires somewhere and at least one doc passes all rules
    assert(got.values.map(_._2).sum > 0, "wordcount rule never fired")
    assert(got.values.map(_._6).sum > 0, "no document passed")
  }

  test("ppl mix matrix replays the rank-quintile cells and conserves mass") {
    val got = TextAnalysis.pplMix(s, d).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got.nonEmpty)
    val scored = TextAnalysis.lmScore(s, d)
      .filter(col("n_bigrams").isNotNull)
      .join(graft.sources.Tables.documents(s, d)
        .select("doc_id", "source"), "doc_id")
      .select("doc_id", "source", "avg_ppm", "n_bigrams").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3) + 1))
    val ranked = scored.sortBy(x => (x._3, x._1)).zipWithIndex
      .map { case ((id, src, _, tk), i) => (src, tk, i.toLong + 1) }
    val n = ranked.length.toLong
    val cells = ranked.groupBy { case (src, _, rk) =>
        (src, (rk - 1) * 5 / n) }
      .map { case (k, xs) =>
        k -> ((xs.length.toLong, xs.map(_._2).sum)) }
    val srcToks = cells.groupBy(_._1._1).view
      .mapValues(_.values.map(_._2).sum).toMap
    val expect = cells.map { case ((src, q), (nd, tk)) =>
      (src, q) -> ((nd, tk, tk * 1000000L / srcToks(src))) }
    assert(got === expect)
    // mass conservation + quintile balance (sizes differ by <= 1
    // only between floor/ceil of n/5)
    assert(got.values.map(_._1).sum === n)
    val qSizes = got.toSeq.groupBy(_._1._2).view
      .mapValues(_.map(_._2._1).sum).values.toSeq
    assert(qSizes.max - qSizes.min <= 1)
  }

  test("dsir screen replays the cross-multiplied distinctive scoring") {
    val got = TextAnalysis.dsirScreen(s, d).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.nonEmpty)
    def md5hex16(x: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(x.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(16)
    }
    val docs = graft.sources.Tables.documents(s, d)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), words(r.getString(2))))
    val grams = docs.flatMap { case (id, src, w) =>
      if (w.size < 2) Seq.empty
      else w.sliding(2).map(p =>
        (id, src, md5hex16(p.head + " " + p.last))).toSeq
    }
    val tc = grams.filter(_._2 == "src0").groupBy(_._3).view
      .mapValues(_.length.toLong).toMap.withDefaultValue(0L)
    val rc = grams.filter(_._2 != "src0").groupBy(_._3).view
      .mapValues(_.length.toLong).toMap.withDefaultValue(0L)
    val tt = BigInt(tc.values.sum); val rt = BigInt(rc.values.sum)
    val distinctive = (tc.keySet ++ rc.keySet).filter(g =>
      BigInt(tc(g)) * rt > BigInt(rc(g)) * tt)
    val expect = grams.groupBy(g => (g._1, g._2)).toSeq
      .map { case ((_, src), gs) =>
        val nG = gs.length.toLong
        val nD = gs.count(g => distinctive(g._3)).toLong
        (src, (nD * 1000000L / nG) / 100000L)
      }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(got === expect)
    // the screen must separate: target source docs skew to higher
    // deciles than the pooled rest (mean bucket strictly greater)
    def meanBucket(p: String => Boolean): Double = {
      val xs = got.filter { case ((src, _), _) => p(src) }
      xs.map { case ((_, b), n) => b * n }.sum.toDouble /
        xs.values.sum
    }
    assert(meanBucket(_ == "src0") > meanBucket(_ != "src0"),
      "target docs should score higher than the rest")
  }
}

package graft

import graft.functions._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The one place a session learns graft's native functions, custom
  * join strategy and optimizer/resolution rules, all wired at build
  * time:
  *
  *   SparkSession.builder()
  *     .withExtensions(new GraftExtensions)         // programmatic
  *   // or spark.sql.extensions=graft.GraftExtensions (config/submit)
  *
  * [[GraftSession.tune]] applies it to every session graft builds, and
  * `newSession()` / streaming clones inherit it. No operator registers
  * anything at runtime. The functions are usable from SQL too:
  * `SELECT graft_dot(a.v, b.v) FROM ...`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, cls, build) =>
      e.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    }
    // whole-operator extension: the native as-of and interval join
    // strategy, so a config-only session plans both custom nodes
    e.injectPlannerStrategy(_ => graft.plans.TimeJoinStrategy)
    // ...and the matching optimizer rule (left-predicate pushdown
    // through the custom nodes)
    e.injectOptimizerRule(_ => graft.plans.PushFilterThroughTimeJoin)
    // materialized-view rewrite: queries matching the registered
    // canonical aggregate are spliced onto the precomputed summary
    e.injectOptimizerRule(session => graft.plans.SummaryRewrite(session))
    // declared dense-id columns serve COUNT(DISTINCT) through the
    // native bitmap aggregate — plan changes, answer provably doesn't
    e.injectOptimizerRule(session => graft.plans.BitmapCountRewrite(session))
    // raw-SQL surface for the custom joins:
    //   SELECT * FROM graft_asof_join('l', 'r', 'key', 'ts', 'val')
    // the TVF parses to an unresolved marker; the resolution rule
    // swaps in AsOfJoinNode/IntervalJoinNode once the sides resolve
    e.injectTableFunction((graft.plans.AsOfSql.asOfIdent,
      graft.plans.AsOfSql.asOfInfo,
      exprs => graft.plans.AsOfSql.asOfBuilder(exprs)))
    e.injectTableFunction((graft.plans.AsOfSql.intervalIdent,
      graft.plans.AsOfSql.intervalInfo,
      exprs => graft.plans.AsOfSql.intervalBuilder(exprs)))
    e.injectTableFunction((graft.plans.AsOfSql.temporalIdent,
      graft.plans.AsOfSql.temporalInfo,
      exprs => graft.plans.AsOfSql.temporalBuilder(exprs)))
    e.injectResolutionRule(_ => graft.plans.AsOfSql.ResolveGraftJoins)
    e.injectResolutionRule(session =>
      graft.plans.AsOfSql.ResolveTemporalJoin(session))
  }
}

object GraftExtensions {
  /** Every native function a graft session resolves: SQL name, the
    * expression class it documents, and its builder.
    */
  val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("graft_dot", classOf[DotProduct], e => DotProduct(e(0), e(1))),
    ("graft_minhash_sig", classOf[MinHashSignature],
      e => MinHashSignature(e(0), e(1))),
    ("graft_shingle_hashes", classOf[ShingleHashes],
      e => ShingleHashes(e(0), e(1))),
    ("graft_simhash64", classOf[SimHash64], e => SimHash64(e(0))),
    ("graft_rep_stats", classOf[RepStats], e => RepStats(e(0))),
    ("graft_dict_segment", classOf[DictSegment], e => DictSegment(e(0))),
    ("graft_pq_encode", classOf[PqEncode],
      e => PqEncode(e(0), e(1), e(2), e(3))),
    ("graft_pq_lut", classOf[PqLut], e => PqLut(e(0), e(1), e(2), e(3))),
    ("graft_pq_adc", classOf[PqAdc], e => PqAdc(e(0), e(1), e(2))),
    ("graft_winnow_fps", classOf[WinnowFps],
      e => WinnowFps(e(0), e(1), e(2))),
    ("graft_sorted_intersect_count", classOf[SortedIntersectCount],
      e => SortedIntersectCount(e(0), e(1))),
    ("graft_sorted_intersect_gt", classOf[SortedIntersectGreater],
      e => SortedIntersectGreater(e(0), e(1), e(2))),
    ("graft_kmv", classOf[KmvSketchAgg], e => KmvSketchAgg(e(0), e(1))),
    ("graft_bitmap_distinct", classOf[BitmapDistinctAgg],
      e => BitmapDistinctAgg(e(0), e(1))),
    ("graft_bitmap_bytes", classOf[BitmapBytesAgg],
      e => BitmapBytesAgg(e(0), e(1))),
    ("graft_bitmap_or_count", classOf[BitmapOrCount],
      e => BitmapOrCount(e(0))),
    ("graft_bitmap_union", classOf[BitmapUnionAgg],
      e => BitmapUnionAgg(e(0))),
    ("graft_bitmap_card", classOf[BitmapCardinality],
      e => BitmapCardinality(e(0))),
    ("graft_bitmap_and_count", classOf[BitmapAndCount],
      e => BitmapAndCount(e(0), e(1))),
    ("graft_bitmap_andnot_count", classOf[BitmapAndNotCount],
      e => BitmapAndNotCount(e(0), e(1))),
    ("graft_cms_estimate", classOf[CmsEstimate],
      e => CmsEstimate(e(0), e(1))),
    ("graft_bloom_any", classOf[BloomAnyContain],
      e => BloomAnyContain(e(0), e(1))))
}

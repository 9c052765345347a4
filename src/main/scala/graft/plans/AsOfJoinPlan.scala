package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.GraftSqlBridge
import org.apache.spark.sql.execution.SparkPlan

/** Whole-operator as-of join as a first-class Catalyst plan — the
  * (c)-tier extension path from the brief: a custom LogicalPlan +
  * SparkStrategy + SparkPlan, injected via SparkSessionExtensions.
  *
  * Semantics: for every left row, attach the right row with the
  * greatest `rightTs <= leftTs` within the same key (the dim-version
  * "value in effect at event time" lookup — reference
  * DimSinkFunction.java:1 keeps only latest; this addresses every
  * version). Identical results to the union+window formulation in
  * [[graft.operators.Temporal.asOfJoin]] — that one composes
  * existing operators (preference (a)); this one exists for the
  * plan-shape win: both sides shuffle ONCE on the key and stream
  * through a sorted merge with O(1) state per key, instead of
  * carrying the union through a window operator that buffers each
  * key's whole frame. Distribution/ordering requirements are
  * declared, not hand-built, so EnsureRequirements plans the
  * exchanges and AQE still re-optimizes them at runtime.
  */
case class AsOfJoinNode(left: LogicalPlan, right: LogicalPlan,
    leftKey: Attribute, leftTs: Attribute,
    rightKey: Attribute, rightTs: Attribute,
    rightVals: Seq[Attribute]) extends TimeJoinNode {

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

/** Sort-merge as-of join over the [[TimeJoinExec]] child layout. The
  * merge walks both sorted streams once per partition holding exactly
  * one buffered right row — O(|L|+|R|) time, O(1) state, no per-key
  * frame buffering, which is what survives a billion-row fact side.
  */
case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
    leftKey: Attribute, leftTs: Attribute,
    rightKey: Attribute, rightTs: Attribute,
    rightVals: Seq[Attribute]) extends TimeJoinExec {

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending))

  protected override def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lKeyGet = getterFor(lOut, leftKey)
    val lTsGet = getterFor(lOut, leftTs)
    val rKeyGet = getterFor(rOut, rightKey)
    val rTsGet = getterFor(rOut, rightTs)
    val cmpKey = cmpFor(leftKey.dataType)
    val cmpTs = cmpFor(leftTs.dataType)
    val valAttrs = rightVals
    val rightOutput = rOut
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
      val joined = new JoinedRow
      val nullVals = new GenericInternalRow(valAttrs.length)
      val valsProj = UnsafeProjection.create(valAttrs, rightOutput)
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      new Iterator[InternalRow] {
        // the single buffered right row: last one consumed whose key
        // may still match the current left key
        private var last: InternalRow = null
        private var rNext: InternalRow =
          if (rIt.hasNext) rIt.next().copy() else null
        private def advance(): Unit =
          rNext = if (rIt.hasNext) rIt.next().copy() else null

        override def hasNext: Boolean = lIt.hasNext

        override def next(): InternalRow = {
          val l = lIt.next()
          val lk = lKeyGet(l)
          val lt = lTsGet(l)
          if (lk == null || lt == null)
            return resultProj(joined(l, nullVals))
          // consume right rows at-or-before (lk, lt); rows with a
          // smaller key are done for good (left is key-sorted), rows
          // with the same key update the buffer
          var continue = true
          while (continue && rNext != null) {
            val rk = rKeyGet(rNext)
            val rt = rTsGet(rNext)
            if (rk == null || rt == null) advance() // null-keyed: skip
            else {
              val c = cmpKey(rk, lk)
              if (c < 0) advance()
              else if (c == 0 && cmpTs(rt, lt) <= 0) { last = rNext; advance() }
              else continue = false
            }
          }
          val matched = last != null && {
            val k = rKeyGet(last); k != null && cmpKey(k, lk) == 0
          }
          resultProj(joined(l, if (matched) valsProj(last) else nullVals))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)
}

/** Public entry: as-of join two frames. It hands the analyzed sides
  * to the same [[AsOfSql.UnresolvedGraftJoin]] marker the SQL TVF
  * emits, so [[AsOfSql.ResolveGraftJoins]] builds the node for both
  * surfaces (self-join re-aliasing and column lookup included).
  */
object AsOfJoin {
  def apply(left: DataFrame, right: DataFrame, key: String, ts: String,
      valueCols: Seq[String]): DataFrame =
    GraftSqlBridge.ofRows(left.sparkSession, AsOfSql.UnresolvedGraftJoin(
      left.queryExecution.analyzed, right.queryExecution.analyzed,
      key, ts, ts, None, valueCols))
}

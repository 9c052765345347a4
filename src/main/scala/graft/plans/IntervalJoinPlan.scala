package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.GraftSqlBridge
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Whole-operator interval join — the second custom Catalyst operator
  * (after [[AsOfJoinNode]]), same declared-requirements pattern.
  *
  * Semantics: LEFT OUTER; each left row matches every right row of the
  * same key whose timestamp falls in `(leftTs - lowerUs, leftTs]` —
  * the reference's stream-stream interval join shape
  * (Test01_IntervalJoin.java:1, DwdTradeOrderDetail.java:1) in batch.
  *
  * Why native: the composed form ([[graft.operators.Temporal
  * .intervalJoin]]) plans as an equi-join whose RANGE predicate is
  * evaluated per candidate pair — a sort-merge join buffers each
  * key's entire right group and tests |Lk|×|Rk| pairs. This exec
  * declares the same single hash-cluster + (key, ts) sort, then walks
  * both sorted streams once, keeping only the right rows inside the
  * current left row's window buffered — O(|L|+|R|+matches) time and
  * O(window density) state, the exact bound Flink's interval join
  * keeps in state. No Filter node survives above the exec: the range
  * IS the merge walk.
  */
case class IntervalJoinNode(left: LogicalPlan, right: LogicalPlan,
    leftKey: Attribute, leftTs: Attribute,
    rightKey: Attribute, rightTs: Attribute,
    lowerUs: Long, rightVals: Seq[Attribute]) extends TimeJoinNode {

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

/** Sort-merge interval join over the [[TimeJoinExec]] child layout.
  * Per partition the merge keeps a deque of right rows inside the
  * current window: rows leave the front as the left timestamp
  * advances past `ts + lowerUs`, enter the back as the left
  * timestamp reaches them. A right row older than every future window
  * is dropped for good (left ts is non-decreasing per key), so state
  * is bounded by the densest `lowerUs` time slice — never a key's
  * whole group.
  */
case class IntervalJoinExec(left: SparkPlan, right: SparkPlan,
    leftKey: Attribute, leftTs: Attribute,
    rightKey: Attribute, rightTs: Attribute,
    lowerUs: Long, rightVals: Seq[Attribute]) extends TimeJoinExec {

  protected override def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    // timestamps must be long-backed: the window bound is arithmetic
    Seq(leftTs, rightTs).foreach(a => require(a.dataType match {
      case LongType | TimestampType | TimestampNTZType => true
      case _ => false
    }, s"interval join ts must be a long/timestamp column, got: ${a.dataType}"))
    val lKeyGet = getterFor(lOut, leftKey)
    val lTsGet = getterFor(lOut, leftTs)
    val rKeyGet = getterFor(rOut, rightKey)
    val rTsGet = getterFor(rOut, rightTs)
    val cmpKey = cmpFor(leftKey.dataType)
    val lower = lowerUs
    val valAttrs = rightVals
    val rightOutput = rOut
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
      val joined = new JoinedRow
      val nullVals = new GenericInternalRow(valAttrs.length)
      val valsProj = UnsafeProjection.create(valAttrs, rightOutput)
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      new Iterator[InternalRow] {
        // right rows of the current left key inside the current
        // window, timestamps ascending front→back
        private val buf = new java.util.ArrayDeque[InternalRow]()
        private var rNext: InternalRow =
          if (rIt.hasNext) rIt.next().copy() else null
        private def advanceRight(): Unit =
          rNext = if (rIt.hasNext) rIt.next().copy() else null
        private var out: Iterator[InternalRow] = Iterator.empty

        override def hasNext: Boolean = out.hasNext || lIt.hasNext

        override def next(): InternalRow = {
          while (!out.hasNext) stepLeft()
          out.next()
        }

        private def stepLeft(): Unit = {
          val l = lIt.next()
          val lk = lKeyGet(l)
          val lt = lTsGet(l).asInstanceOf[java.lang.Long]
          if (lk == null || lt == null) {
            out = Iterator.single(resultProj(joined(l, nullVals)))
            return
          }
          // key changed → everything buffered belongs to a smaller key
          if (!buf.isEmpty && cmpKey(rKeyGet(buf.peekFirst()), lk) != 0)
            buf.clear()
          val minTs = lt.longValue() - lower
          // consume right rows up to (lk, lt); smaller keys are done
          // for good (left is key-sorted), in-window rows join the
          // deque, at-or-below-window rows are dropped (left ts only
          // grows within a key, so they can never match again)
          var continue = true
          while (continue && rNext != null) {
            val rk = rKeyGet(rNext)
            val rt = rTsGet(rNext).asInstanceOf[java.lang.Long]
            if (rk == null || rt == null) advanceRight()
            else {
              val c = cmpKey(rk, lk)
              if (c < 0) advanceRight()
              else if (c == 0 && rt.longValue() <= lt.longValue()) {
                if (rt.longValue() > minTs) buf.addLast(rNext)
                advanceRight()
              } else continue = false
            }
          }
          // slide the window: expel rows the left timestamp passed
          while (!buf.isEmpty && rTsGet(buf.peekFirst()).asInstanceOf[Long] <= minTs)
            buf.removeFirst()
          out =
            if (buf.isEmpty) Iterator.single(resultProj(joined(l, nullVals)))
            else {
              val matches = buf.toArray(new Array[InternalRow](buf.size()))
              matches.iterator.map(r => resultProj(joined(l, valsProj(r))))
            }
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)
}

/** Public entry mirroring [[AsOfJoin]]: interval-join `left` to
  * `right` on `key`, matching right rows with
  * `rightTs ∈ (leftTs - lowerUs, leftTs]`, LEFT OUTER.
  */
object IntervalJoin {
  def apply(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, lowerUs: Long,
      valueCols: Seq[String]): DataFrame =
    GraftSqlBridge.ofRows(left.sparkSession, AsOfSql.UnresolvedGraftJoin(
      left.queryExecution.analyzed, right.queryExecution.analyzed,
      key, leftTs, rightTs, Some(lowerUs), valueCols))
}

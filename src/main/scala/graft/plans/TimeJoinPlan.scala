package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Ascending, Attribute, PredicateHelper, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** What the two custom time joins ([[AsOfJoinNode]],
  * [[IntervalJoinNode]]) share as logical plans: a LEFT OUTER join on
  * one key, matched by timestamp, that keeps every left column and
  * appends the (nullable) right value columns. Both are built by
  * [[AsOfSql.ResolveGraftJoins]], for the Scala API and SQL alike.
  */
trait TimeJoinNode extends BinaryNode {
  def leftKey: Attribute
  def leftTs: Attribute
  def rightKey: Attribute
  def rightTs: Attribute
  def rightVals: Seq[Attribute]

  override def output: Seq[Attribute] =
    left.output ++ rightVals.map(_.withNullability(true))
}

/** Optimizer rule completing the custom operators: Catalyst cannot
  * push predicates through a node it doesn't know, so a Filter above
  * a time join would block pushdown to the (usually huge) fact scan.
  * Left-only conjuncts are safe to push — both joins are per-left-row
  * LEFT OUTER, so dropping left rows never changes another row's
  * matches. (Right-side conjuncts are NOT pushed: filtering the right
  * side can change which row is "latest" for a surviving left row,
  * and would turn unmatched-null rows into dropped rows.) Once below
  * the node, Spark's own rules carry the predicate all the way into
  * the scan's PushedFilters.
  */
object PushFilterThroughTimeJoin extends Rule[LogicalPlan]
    with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, j: TimeJoinNode) =>
      val (push, keep) = splitConjunctivePredicates(cond)
        .partition(p => p.deterministic &&
          p.references.subsetOf(j.left.outputSet))
      if (push.isEmpty) f
      else {
        val pushed =
          j.withNewChildren(Seq(Filter(push.reduce(And), j.left), j.right))
        keep.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}

/** Plans each time-join node into its sort-merge exec. */
object TimeJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, lt, rk, rt, vals) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, lt, rk, rt, vals) :: Nil
    case IntervalJoinNode(l, r, lk, lt, rk, rt, lower, vals) =>
      IntervalJoinExec(planLater(l), planLater(r),
        lk, lt, rk, rt, lower, vals) :: Nil
    case _ => Nil
  }
}

/** What the two sort-merge execs share: children arrive
  * hash-clustered on the key and sorted by (key, ts) — both
  * properties DECLARED via requiredChildDistribution/Ordering so the
  * planner owns the exchanges (and elides them when an upstream
  * operator already satisfies them, e.g. bucketed tables), and AQE
  * still re-optimizes them at runtime. Each exec keeps only its own
  * merge walk (`doExecute`).
  */
trait TimeJoinExec extends BinaryExecNode {
  def leftKey: Attribute
  def leftTs: Attribute
  def rightKey: Attribute
  def rightTs: Attribute
  def rightVals: Seq[Attribute]

  override def output: Seq[Attribute] =
    left.output ++ rightVals.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) ::
    ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  /** Null-safe extractor of `a` from rows laid out as `attrs`, for the
    * orderable key/ts types (long-backed values come out as
    * `java.lang.Long`).
    */
  protected def getterFor(attrs: Seq[Attribute],
      a: Attribute): InternalRow => Any = {
    val ord = attrs.indexWhere(_.exprId == a.exprId)
    require(ord >= 0, s"attribute $a not found in ${attrs.mkString(",")}")
    a.dataType match {
      case LongType | TimestampType | TimestampNTZType =>
        r => if (r.isNullAt(ord)) null else java.lang.Long.valueOf(r.getLong(ord))
      case IntegerType | DateType =>
        r => if (r.isNullAt(ord)) null else java.lang.Integer.valueOf(r.getInt(ord))
      case StringType =>
        r => if (r.isNullAt(ord)) null else r.getUTF8String(ord)
      case other =>
        throw new IllegalArgumentException(
          s"$nodeName key/ts type not supported: $other")
    }
  }

  /** Comparator over the values [[getterFor]] extracts. */
  protected def cmpFor(dt: DataType): (Any, Any) => Int = dt match {
    case LongType | TimestampType | TimestampNTZType =>
      (a, b) => java.lang.Long.compare(
        a.asInstanceOf[java.lang.Long], b.asInstanceOf[java.lang.Long])
    case IntegerType | DateType =>
      (a, b) => java.lang.Integer.compare(
        a.asInstanceOf[java.lang.Integer], b.asInstanceOf[java.lang.Integer])
    case StringType =>
      (a, b) => a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String])
    case other =>
      throw new IllegalArgumentException(
        s"$nodeName key/ts type not supported: $other")
  }
}

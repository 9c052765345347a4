package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.StringType

/** Raw-SQL surface for the as-of and interval joins, so view-registry
  * users ([[graft.sources.Tables.registerViews]]) can write them
  * without touching the Scala API — the reference's users live in
  * Flink SQL (DwdTradeOrderDetail.java:40 builds its join as SQL).
  *
  * Shape: a table-valued function whose arguments NAME the inputs,
  *
  *   SELECT * FROM graft_asof_join(
  *     'purchases', 'views', 'user_id', 'us', 'last_view_value', ...)
  *
  *   SELECT * FROM graft_interval_join(
  *     'purchases', 'clicks', 'user_id', 'p_us', 'c_us',
  *     '900000000', 'c_us', ...)
  *
  * The TVF builder runs at parse time, before catalogs resolve, so it
  * emits an UNRESOLVED marker node over two [[UnresolvedRelation]]s;
  * the injected resolution rule rewrites the marker to the real
  * [[AsOfJoinNode]]/[[IntervalJoinNode]] once both children have
  * resolved — the standard two-step any custom relation-producing
  * syntax needs. The Scala API ([[AsOfJoin]], [[IntervalJoin]]) emits
  * the same marker over its frames' analyzed plans, so one rule
  * builds every node. Registered via [[graft.GraftExtensions]]
  * (injectTableFunction + injectResolutionRule).
  */
object AsOfSql {

  /** Marker: `resolved=false` holds the analyzer until the rule
    * rewrites it; `output=Nil` because nothing above can resolve
    * against it yet anyway.
    */
  case class UnresolvedGraftJoin(left: LogicalPlan, right: LogicalPlan,
      key: String, leftTs: String, rightTs: String,
      lowerUs: Option[Long], valueCols: Seq[String]) extends BinaryNode {
    override lazy val resolved: Boolean = false
    override def output: Seq[Attribute] = Nil
    override protected def withNewChildrenInternal(
        newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
      copy(left = newLeft, right = newRight)
  }

  private def litStr(e: Expression, fn: String): String = e match {
    case Literal(v, StringType) if v != null => v.toString
    case other => throw new IllegalArgumentException(
      s"$fn arguments must be string literals (table/column names), " +
      s"got: $other")
  }

  /** graft_asof_join(left, right, key, ts, valueCol...) */
  def asOfBuilder(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.length >= 5,
      "graft_asof_join(left, right, key, ts, valueCol[, ...]) " +
      s"needs >= 5 arguments, got ${exprs.length}")
    val a = exprs.map(litStr(_, "graft_asof_join"))
    UnresolvedGraftJoin(
      UnresolvedRelation(Seq(a(0))), UnresolvedRelation(Seq(a(1))),
      key = a(2), leftTs = a(3), rightTs = a(3),
      lowerUs = None, valueCols = a.drop(4))
  }

  /** graft_interval_join(left, right, key, leftTs, rightTs, lowerUs,
    * valueCol...) — right rows match in `(leftTs-lowerUs, leftTs]`.
    */
  def intervalBuilder(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.length >= 7,
      "graft_interval_join(left, right, key, leftTs, rightTs, " +
      s"lowerUs, valueCol[, ...]) needs >= 7 arguments, got ${exprs.length}")
    val a = exprs.map(litStr(_, "graft_interval_join"))
    UnresolvedGraftJoin(
      UnresolvedRelation(Seq(a(0))), UnresolvedRelation(Seq(a(1))),
      key = a(2), leftTs = a(3), rightTs = a(4),
      lowerUs = Some(a(5).toLong), valueCols = a.drop(6))
  }

  /** Marker for the STREAMING changelog temporal join TVF. */
  case class UnresolvedTemporalJoin(left: LogicalPlan, right: LogicalPlan,
      key: String, leftTs: String, rightTs: String, delay: String,
      valueCols: Seq[String]) extends BinaryNode {
    override lazy val resolved: Boolean = false
    override def output: Seq[Attribute] = Nil
    override protected def withNewChildrenInternal(
        newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
      copy(left = newLeft, right = newRight)
  }

  /** graft_temporal_join(left, right, key, leftTs, rightTs, delay,
    * valueCol...) — the raw-SQL surface of
    * [[graft.streaming.Jobs.temporalJoinChangelog]]: event-time
    * as-of enrichment where the right side is a CHANGELOG STREAM
    * (Flink's `FOR SYSTEM_TIME AS OF` temporal join, which has no
    * Spark SQL syntax). Works on batch frames too (the missing
    * watermark reads as +∞, collapsing to one pass), but the point
    * is two streaming temp views.
    *
    * Wide dims don't need N flat args: a valueCol may name a STRUCT
    * column (carried through as one nested value), and the single
    * valueCol `'*'` expands to every right column except the join
    * key and the version timestamp.
    */
  def temporalBuilder(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.length >= 7,
      "graft_temporal_join(left, right, key, leftTs, rightTs, delay, " +
      s"valueCol[, ...]) needs >= 7 arguments, got ${exprs.length}")
    val a = exprs.map(litStr(_, "graft_temporal_join"))
    UnresolvedTemporalJoin(
      UnresolvedRelation(Seq(a(0))), UnresolvedRelation(Seq(a(1))),
      key = a(2), leftTs = a(3), rightTs = a(4), delay = a(5),
      valueCols = a.drop(6))
  }

  val temporalIdent = new FunctionIdentifier("graft_temporal_join")
  val temporalInfo =
    new ExpressionInfo(AsOfSql.getClass.getName, "graft_temporal_join")

  /** Rewrites the resolved temporal marker by BUILDING the
    * flatMapGroupsWithState pipeline through the Dataset API and
    * splicing its analyzed plan — the construction needs encoders
    * and a keyed-state function, which no hand-built logical node
    * can express, so the rule delegates to the library builder.
    */
  case class ResolveTemporalJoin(session: org.apache.spark.sql.SparkSession)
      extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan =
      plan.transformUp {
        case UnresolvedTemporalJoin(l, r, key, lts, rts, delay, vals)
            if l.resolved && r.resolved =>
          val lDf = org.apache.spark.sql.classic.GraftSqlBridge
            .ofRows(session, l)
          val rDf = org.apache.spark.sql.classic.GraftSqlBridge
            .ofRows(session, r)
          // '*' expands to every right column except the join key and
          // the version timestamp (struct columns pass through whole)
          val vals2 =
            if (vals == Seq("*"))
              rDf.schema.fieldNames.toIndexedSeq.filterNot(n =>
                conf.resolver(n, key) || conf.resolver(n, rts))
            else vals
          graft.streaming.Jobs
            .temporalJoinChangelog(lDf, rDf, key, lts, rts, vals2, delay)
            .queryExecution.analyzed
      }
  }

  val asOfIdent = new FunctionIdentifier("graft_asof_join")
  val asOfInfo = new ExpressionInfo(AsOfSql.getClass.getName, "graft_asof_join")
  val intervalIdent = new FunctionIdentifier("graft_interval_join")
  val intervalInfo =
    new ExpressionInfo(AsOfSql.getClass.getName, "graft_interval_join")

  /** Rewrites resolved markers into the custom join nodes — the one
    * construction path of the SQL TVFs and the Scala API alike.
    */
  object ResolveGraftJoins extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan =
      plan.transformUp {
        case u @ UnresolvedGraftJoin(l, r, key, lts, rts, lower, vals)
            if l.resolved && r.resolved =>
          // self-join safety: two sides derived from one scan share
          // exprIds, and the analyzer's DeduplicateRelations rewrites
          // the right CHILD but not this node's attribute fields — so
          // re-alias the right side so the node's attrs are unambiguous
          val lIds = l.output.map(_.exprId).toSet
          val rSafe =
            if (r.output.exists(a => lIds(a.exprId)))
              Project(r.output.map(a => Alias(a, a.name)()), r)
            else r
          def attr(p: LogicalPlan, n: String, side: String): Attribute =
            p.output.find(a => conf.resolver(a.name, n)).getOrElse(
              throw new IllegalArgumentException(
                s"column $n not found on the $side side " +
                s"(${p.output.map(_.name).mkString(", ")})"))
          // '*' expands to every right column except the join key and
          // the right timestamp — same ergonomic as the streaming
          // temporal TVF (struct columns resolve and carry whole)
          val valNames =
            if (vals == Seq("*"))
              rSafe.output.map(_.name).filterNot(n =>
                conf.resolver(n, key) || conf.resolver(n, rts))
            else vals
          lower match {
            case None => AsOfJoinNode(l, rSafe,
              attr(l, key, "left"), attr(l, lts, "left"),
              attr(rSafe, key, "right"), attr(rSafe, rts, "right"),
              valNames.map(attr(rSafe, _, "right")))
            case Some(lo) => IntervalJoinNode(l, rSafe,
              attr(l, key, "left"), attr(l, lts, "left"),
              attr(rSafe, key, "right"), attr(rSafe, rts, "right"),
              lo, valNames.map(attr(rSafe, _, "right")))
          }
      }
  }
}

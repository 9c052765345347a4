package graft.warehouse

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** DWD layer: detail-grain fact construction.
  *
  * The reference builds these with Flink-SQL interval/lookup joins
  * over CDC streams (gmall2024-realtime-master/realtime-dwd/realtime-
  * dwd-trade-order-detail/src/main/java/com/atguigu/gmall/realtime/
  * dwd/db/app/DwdTradeOrderDetail.java:1 et al). Batch-side the same
  * semantics are plain declarative joins: Catalyst picks sort-merge
  * for the fact⋈fact join (both sides shuffle-partitioned on the
  * order key — at 100 TB this is the one unavoidable shuffle, and
  * bucketing both tables by order key would remove even that) and
  * broadcast for every dim.
  */
object Dwd {

  /** Money columns ride as DECIMAL(12,2) through arithmetic so sums
    * are associative (order-independent) and oracle-exact; final
    * results surface as double.
    */
  private[graft] def dec(c: org.apache.spark.sql.Column) =
    c.cast(DecimalType(12, 2))

  /** Exact ×100 integerization of a money double — r12 OPT (guide
    * §4, OPTIMIZATION_r12.md probe): `(dec(x) * 100).cast("long")` spent
    * ~1.3s per column per sf1 scan in Cast's BigDecimal.valueOf +
    * setScale; for the ≤2-decimal-digit money doubles every warehouse
    * column carries (verified across lineitem/orders/events at all
    * SFs), trunc(x·100 ± 0.5) is the SAME half-up integerization in
    * pure codegen'd FP. x·100 sits within 1e-9 of an integer for
    * 2-dp inputs, so the ±0.5 trunc can never land on the wrong
    * side; the half moves away from zero (−0.5 below zero), exactly
    * as the DECIMAL cast rounds. Inputs with more fractional digits
    * are outside the money contract — the DECIMAL(12,2)-based DuckDB
    * oracle grades bit-equality at sf0.01/sf0.1/sf1 and pins the two
    * forms together on everything this engine serves.
    */
  private[graft] def cents(c: org.apache.spark.sql.Column) =
    (c * 100 + when(c < 0, -0.5).otherwise(0.5)).cast("long")

  /** order_info ⋈ order_detail → order-detail fact.
    * Ref: DwdTradeOrderDetail.java:1 (interval join on order_id).
    */
  def tradeOrderDetail(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select(
        col("l_orderkey").as("order_id"),
        col("l_linenumber").cast("int").as("line_id"),
        col("o_custkey").as("user_id"),
        to_date(col("o_orderdate")).as("order_date"),
        col("o_orderstatus").as("order_status"),
        col("l_partkey").as("sku_id"),
        col("l_quantity").as("sku_num"),
        col("l_extendedprice").as("split_original_amount"),
        (dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("split_total_amount"))
  }

  /** Cancelled-order detail (status filter pushed to the orders scan).
    * Ref: DwdTradeOrderCancelDetail.java:1.
    */
  def tradeOrderCancel(s: SparkSession, d: String): DataFrame =
    tradeOrderDetail(s, d).filter(col("order_status") === "F")

  /** Payment-success detail. Ref: DwdTradeOrderPaySucDetail.java:1. */
  def tradePaySuc(s: SparkSession, d: String): DataFrame =
    tradeOrderDetail(s, d).filter(col("order_status") === "P")

  /** Refund detail (return-flag filter on the lineitem scan).
    * Ref: DwdTradeOrderRefund.java:1, DwdTradeRefundPaySucDetail.java:1.
    */
  def tradeRefund(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
    val o = Tables.orders(s, d)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select(
        col("l_orderkey").as("order_id"),
        col("l_linenumber").cast("int").as("line_id"),
        col("o_custkey").as("user_id"),
        col("l_partkey").as("sku_id"),
        col("l_quantity").as("refund_num"),
        (dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("refund_amount"))
  }

  /** Refund-payment-SUCCESS detail: refunded lines of finished
    * orders, dim-enriched with the customer's nation (the base_dic
    * lookup analogue), refund pay amount includes tax — the money
    * actually returned. Three-way fact join + one broadcast dim.
    * Ref: DwdTradeRefundPaySucDetail.java:1.
    */
  def tradeRefundPaySuc(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .filter(col("l_returnflag") === "R" && col("l_linestatus") === "F")
    val o = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .select(
        col("l_orderkey").as("order_id"),
        col("l_linenumber").cast("int").as("line_id"),
        col("o_custkey").as("user_id"),
        col("l_partkey").as("sku_id"),
        col("n_name").as("nation_name"),
        (dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))) *
          (lit(1) + dec(col("l_tax"))))
          .cast("double").as("refund_pay_amount"))
  }

  /** Cart-add fact with semi-structured props parsing: the reference
    * splits JSON CDC/log rows into typed facts (DwdBaseLog.java:1,
    * DwdTradeCartAdd.java:1); here the event `props` JSON column
    * yields the sku — `get_json_object` is a codegen'd expression, so
    * JSON extraction rides inside the scan-projection stage with zero
    * extra passes.
    */
  def tradeCartAdd(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("event_type") === "click")
      .select(
        col("event_id"),
        col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("sku_id"),
        to_date(col("ts")).as("cur_date"),
        col("value").as("add_num"))

  /** Small-dim lookup-join enrichment: supplier → nation → region.
    * The reference does this as a Flink lookup join against
    * HBase/base_dic with a Redis cache (DwdInteractionCommentInfo
    * .java:1, realtime-common/.../DimAsyncFunction.java:1). Spark's
    * equivalent is a broadcast hash join: the dim ships once per
    * executor, the fact side never shuffles.
    */
  def commentDicJoin(s: SparkSession, d: String): DataFrame = {
    val sup = Tables.supplier(s, d)
    val nat = Tables.nation(s, d)
    val reg = Tables.region(s, d)
    sup
      .join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
      .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
      .select(
        col("s_suppkey").as("supplier_id"),
        col("s_name").as("supplier_name"),
        col("n_name").as("nation_name"),
        col("r_name").as("region_name"))
  }

  /** New/returning-visitor state repair: is_new is recomputed from
    * the user's first-ever active date, exactly what the reference's
    * keyed `lastVisitDateState` fixes up on the log stream
    * (DwdBaseLog.java:1). Batch-side the "state" is a per-user min
    * aggregate joined back — one shuffle on user_id, then AQE turns
    * the join back into a local one since both sides share the
    * partitioning.
    */
  def visitorStateRepair(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val first = ev.groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("first_d"))
    ev.join(first, "user_id")
      .select(
        col("event_id"),
        col("user_id"),
        when(to_date(col("ts")) === col("first_d"), 1).otherwise(0)
          .as("is_new"))
  }
}

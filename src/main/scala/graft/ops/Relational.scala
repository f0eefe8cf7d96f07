package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.Event

/**
 * Filter / predicate / projection operators (SURVEY.md §2.3) plus the
 * star-schema enrichment faces. All plain Column expressions —
 * whole-stage-codegen'd, filters push into the parquet scan.
 */
object Relational {

  /** F1/F9 — event-type dispatch: route by type (hash-dispatch index in
   * the reference, a pushed-down scan filter here;
   * reference: src/CorrelationEngine.php:74-79,148-152). */
  def ofType(events: DataFrame, types: String*): DataFrame =
    if (types.contains(Event.MatchAny)) events // F2 wildcard
    else events.filter(col("event_type").isin(types: _*))

  /** F8 — range predicate (reference: src/Rule.php:27-48). */
  def rangeInclusive(v: Column, lo: Double, hi: Double): Column = v.between(lo, hi)

  /**
   * F7 — ValidateEnrichFilter (reference: src/Rule/ValidateEnrichFilter.php:39-91):
   * 3-stage scalar pipeline — validate (drop malformed), enrich (derive
   * fields from the dynamic payload), filter (business predicate).
   * The dynamic `props` JSON is projected lazily with get_json_object —
   * no schema explosion (SURVEY §7.5.6).
   */
  def validateEnrichFilter(events: DataFrame): DataFrame =
    events
      .filter(col("value").isNotNull && col("value") >= 0 && col("event_type").isNotNull)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .withColumn("value_band",
        when(col("value") < 50, "low").when(col("value") < 150, "mid").otherwise("high"))
      .filter(col("k").isNotNull && col("k") >= 10)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"), col("k"), col("value_band"))

  /**
   * F10 — Received-time clamp (reference: src/CorrelationEngine.php:105,181-190):
   * events more than `maxVarianceSec` from `now` get their effective time
   * overridden to `now`. `now` is an explicit column so batch replays are
   * deterministic (the reference's live wall-clock has no batch analogue).
   */
  def receivedTimeClamp(events: DataFrame, now: Column, maxVarianceSec: Long = 600L): DataFrame =
    events.select(
      col("event_id"), col("ts"),
      when(abs(unix_micros(col("ts")) - unix_micros(now)) > maxVarianceSec * 1000000L, now)
        .otherwise(col("ts")).as("effective_ts"))

  /**
   * Star-schema enrichment (J9's relational cousin): events/customer-side
   * facts enriched through the dimension chain. Dimensions are tiny →
   * broadcast joins, no shuffle of the fact side.
   */
  def customerGeo(customer: DataFrame, nation: DataFrame, region: DataFrame): DataFrame =
    customer
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("n_name").as("nation"), col("r_name").as("region"))

  /** Revenue per customer over finished orders (TPC-H Q10 shape):
   * fact-fact join on the order key (sort-merge at scale, AQE-broadcast
   * when the filtered orders side shrinks), customer dim broadcast.
   * Demonstrates the join order that keeps the big lineitem side
   * unshuffled until reduced. */
  def customerRevenue(customer: DataFrame, orders: DataFrame, lineitem: DataFrame): DataFrame =
    orders.filter(col("o_orderstatus") === "F")
      .join(lineitem, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer), col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(
        Metrics.exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"),
        count(lit(1)).as("n_items"))

  /** Regional supplier volume (TPC-H Q5 shape): the full star join —
   * dims (region→nation, supplier) broadcast; the lineitem↔orders
   * fact join carries the only real shuffle. */
  def regionalVolume(region: DataFrame, nation: DataFrame, customer: DataFrame,
      orders: DataFrame, lineitem: DataFrame, supplier: DataFrame,
      regionName: String = "ASIA"): DataFrame = {
    val geo = customer
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region.filter(col("r_name") === regionName)),
        col("n_regionkey") === col("r_regionkey"))
    orders
      .join(broadcast(geo), col("o_custkey") === col("c_custkey"))
      .join(lineitem, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supplier),
        col("s_suppkey") === col("l_suppkey") && col("s_nationkey") === col("c_nationkey"))
      .groupBy(col("n_name"))
      .agg(Metrics.exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))
      .withColumnRenamed("n_name", "nation")
  }

  /** TPC-H Q6-style revenue-change forecast: the canonical
   * full-pushdown shape — every predicate reaches the parquet scan,
   * the aggregate is a single map-side-combined scalar. */
  def forecastRevenue(lineitem: DataFrame): DataFrame =
    lineitem
      .filter(
        col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
      .agg(Metrics.exactSum(col("l_extendedprice") * col("l_discount"), 4).as("revenue"),
        count(lit(1)).as("n_items"))

  /** TPC-H Q1-style pricing summary — the canonical wide-agg face used by
   * the bench; partial aggregation reduces 600k rows to 6 groups before
   * the shuffle. */
  def pricingSummary(lineitem: DataFrame): DataFrame =
    lineitem
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        Metrics.exactSum(col("l_quantity"), 2).as("sum_qty"),
        Metrics.exactSum(col("l_extendedprice"), 2).as("sum_base_price"),
        Metrics.exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("sum_disc_price"),
        round(avg("l_quantity"), 6).as("avg_qty"),
        count(lit(1)).as("count_order"))
}

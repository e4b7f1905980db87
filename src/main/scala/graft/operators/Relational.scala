package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}


import graft.sources.Tables

/** Core relational operators over the TPC-H-ish test tables.
  *
  * The reference (zypp-io/df_to_azure) contains no relational query surface
  * of its own (SURVEY.md §2.2) — scans, filters, joins, aggregations,
  * windows, set ops come from Spark built-ins here. These queries exercise
  * that surface the way a 100 TB pipeline would:
  *
  *  - filters/projections are plain `Column` predicates so Catalyst pushes
  *    them into the parquet scan (PushedFilters + pruned ReadSchema);
  *  - small dimension tables are `broadcast()` so fact-table joins do not
  *    shuffle the fact side;
  *  - aggregates run map-side partial first (Spark HashAggregate pair);
  *  - every money aggregate is computed over DECIMAL (exact, engine-order
  *    independent) and only cast to DOUBLE at the end, so results are
  *    bit-identical regardless of partial-aggregation order — required for
  *    the DuckDB oracle hash-match and for deterministic results on a
  *    1000-executor cluster.
  */
object Relational {

  private val dec = DecimalType(18, 2)
  private def d(c: Column): Column = c.cast(dec)
  /** Exact decimal sum, surfaced as double (deterministic both engines). */
  private def dsum(c: Column): Column = sum(d(c)).cast(DoubleType)

  /** TPC-H Q1-style pricing summary (group-agg with map-side combine). */
  def q1PricingSummary(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.load(spark, sfDir, "lineitem")
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum(d(col("l_extendedprice")) * (lit(1).cast(dec) - d(col("l_discount"))))
          .cast(DoubleType).as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** TPC-H Q6-style forecast revenue (selective filter → pushdown). */
  def q6ForecastRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.load(spark, sfDir, "lineitem")
    li.filter(col("l_shipdate") >= lit("1994-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1995-01-01").cast("timestamp") &&
              col("l_discount").between(0.05, 0.07) &&
              col("l_quantity") < 24)
      .agg(sum(d(col("l_extendedprice")) * d(col("l_discount")))
        .cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_rows"))
  }

  /** TPC-H Q3-style: top orders by revenue (join + agg + top-k). */
  def q3TopOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.load(spark, sfDir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.load(spark, sfDir, "orders")
    val li = Tables.load(spark, sfDir, "lineitem")
    // customer (filtered to one segment) is the only true dim here —
    // broadcast it. orders is a FACT table: at 100 TB broadcasting it
    // would OOM every executor, so lineitem⋈orders stays a shuffle
    // (sort-merge/shuffled-hash) join on the order key; AQE upgrades it
    // to broadcast at small scale factors on its own.
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate").cast("date").as("o_date"))
      .agg(sum(d(col("l_extendedprice")) * (lit(1).cast(dec) - d(col("l_discount"))))
        .cast(DoubleType).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** Suppliers per region (broadcast star join over the dim chain). */
  def q4RegionSuppliers(spark: SparkSession, sfDir: String): DataFrame = {
    val sup = Tables.load(spark, sfDir, "supplier")
    val nat = Tables.load(spark, sfDir, "nation")
    val reg = Tables.load(spark, sfDir, "region")
    sup.join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
      .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_suppliers"),
        dsum(col("s_acctbal")).as("sum_acctbal"))
      .orderBy(col("r_name"))
  }

  /** Top-3 orders per customer by total price. Bounded-buffer
    * [[graft.functions.TopKAgg]] instead of a row_number window (r18,
    * guide §2.3): the window shuffled AND sorted every order row only
    * to discard all but 3 per customer; the aggregate's map-side
    * partials cap the exchange at 3 (price, orderkey) pairs per
    * customer per task. TopKAgg's (score DESC, id ASC) total order is
    * exactly the window's (o_totalprice DESC, o_orderkey ASC) and
    * orderkeys are unique — row-identical output, rank included. */
  def q5TopOrdersPerCustomer(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.load(spark, sfDir, "orders")
    ord.select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .groupBy(col("o_custkey"))
      .agg(graft.functions.TopKAgg
        .topkAgg(col("o_totalprice"), col("o_orderkey"), 3).as("top"))
      .select(col("o_custkey"), posexplode(col("top")))
      .select(col("o_custkey"), col("col.id").as("o_orderkey"),
        col("col.score").as("o_totalprice"),
        (col("pos") + 1).cast("int").as("rn"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** Set difference: customers with open orders but no finished orders. */
  def q7CustomerExcept(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.load(spark, sfDir, "orders")
    val open = ord.filter(col("o_orderstatus") === "O")
      .select(col("o_custkey").as("custkey"))
    val finished = ord.filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("custkey"))
    open.except(finished).orderBy(col("custkey"))
  }

  /** Top-k sort with deterministic tie-break. */
  def q8TopParts(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "part")
      .select(col("p_partkey"), col("p_name"), col("p_retailprice"))
      .orderBy(col("p_retailprice").desc, col("p_partkey"))
      .limit(20)

  /** Distinct combinations (shuffle-dedup on low-cardinality keys). */
  def q9DistinctFlags(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"))
      .distinct()
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Group-agg + HAVING: suppliers shipping more than 400 line items. */
  def q10BusySuppliers(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "lineitem")
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("sum_qty"))
      .filter(col("n_items") > 400)
      .orderBy(col("l_suppkey"))

  /** Anti join: parts never ordered in bulk (quantity >= 48). The filter
    * is pushed into the parquet scan before the anti join builds its hash
    * side, so the build input is ~4% of lineitem. */
  def q11NeverOrderedParts(spark: SparkSession, sfDir: String): DataFrame = {
    val part = Tables.load(spark, sfDir, "part")
    val li = Tables.load(spark, sfDir, "lineitem")
      .filter(col("l_quantity") >= 48)
      .select(col("l_partkey"))
    part.join(li, part("p_partkey") === li("l_partkey"), "left_anti")
      .select(col("p_partkey"), col("p_name"))
      .orderBy(col("p_partkey"))
  }

  /** JSON property extraction from the events stream table. */
  def q12EventProps(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.load(spark, sfDir, "events")
    ev.withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))
  }

  /** Event-time tumbling window aggregation, batch form (the streaming
    * form lives in graft.streaming.StreamOps over the same expression). */
  def q13HourlyEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.load(spark, sfDir, "events")
    ev.groupBy(date_trunc("hour", col("ts")).cast("date").as("day"),
        hour(date_trunc("hour", col("ts"))).as("hr"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .orderBy(col("day"), col("hr"), col("event_type"))
  }

  /** Rollup aggregation (multi-level cube-style totals). */
  def q14Rollup(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.load(spark, sfDir, "orders")
    ord.rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)
  }

  /** q2: TPC-H Q2-flavored argmin-per-group — for every part, the
    * supplier that has shipped it cheapest (min extended price,
    * supplier key as deterministic tie-break), then the part/supplier
    * dims broadcast onto the winner rows.
    *
    * The argmin is ONE `min(struct(price, suppkey))` aggregate
    * (r18, guide §2.3/§2.4): struct ordering is
    * lexicographic, so the minimum IS the window's (price ASC, suppkey
    * ASC) rank-1 row — and tied (price, suppkey) pairs carry identical
    * payloads, so the result is deterministic without unique ids. The
    * former row_number window shuffled AND sorted every lineitem row;
    * the aggregate's map-side partials collapse the scan to one
    * candidate row per part per task before the exchange — on the
    * fact table, the single biggest shuffle cut available to the
    * relational family at 100 TB. r19 A/B, typed-argmin REJECTED:
    * `min(struct(...))`'s struct buffer cannot hash-aggregate, so this
    * plans as SortAggregate — but the sorted rows are three narrow
    * columns and the declarative compare runs inside codegen, while
    * the typed single-slot buffer (ArgExtremumAgg, the form that won
    * 2× on the WIDE-row dedup keepers) pays an interpreted struct
    * ordering per row: measured 1.2-1.5× SLOWER here at sf0.1
    * (iso min 1.51 s vs 0.91 s baseline, q28 host control). Narrow
    * rows, cheap sort, hot compare — the opposite trade of q30/q83. */
  def q2CheapestSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.load(spark, sfDir, "lineitem")
    val part = Tables.load(spark, sfDir, "part")
    val supp = Tables.load(spark, sfDir, "supplier")
    li.select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
      .groupBy(col("l_partkey"))
      .agg(min(struct(col("l_extendedprice"), col("l_suppkey"))).as("b"))
      .select(col("l_partkey"), col("b.l_suppkey").as("l_suppkey"),
        col("b.l_extendedprice").as("l_extendedprice"))
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .select(col("p_partkey"), col("p_name"), col("s_name"),
        col("l_extendedprice").as("best_price"))
      .orderBy(col("p_partkey"))
  }
}

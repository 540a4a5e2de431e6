package graft.operators

import graft.io.Source
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** General batch-analytics queries over the TPC-H-ish star schema — the
  * "Spark handles analytical queries and batch ingestion" half of the
  * north star (talna itself has no joins; this layer is what a Spark
  * deployment adds on top of the TSDB surface).
  *
  * Scale notes (100 TB): fixed-size dimension sides (region, nation,
  * supplier, part; q3's segment-filtered customer) are explicitly
  * `broadcast()`; customer in q5 GROWS with the corpus and is joined
  * un-hinted after a partial pre-aggregation (see [[q5]]); fact-fact
  * joins shuffle on their join key only after filter pushdown; all
  * aggregates are hash aggregates with map-side partial combine.
  *
  * Double sums are computed as exact DECIMAL arithmetic then cast to
  * double so results are independent of partitioning/merge order (and
  * bit-identical to an oracle running the same arithmetic).
  */
object Analytics {

  /** Exact per-row revenue term: extendedprice * (1 - discount), DECIMAL. */
  private val revTerm =
    expr("CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))")

  /** TPC-H Q1-flavor pricing summary: single scan, hash aggregate. */
  def q1(spark: SparkSession, dir: String): DataFrame =
    Source.table(spark, dir, "lineitem")
      .where(col("l_shipdate") <= lit("1999-12-31").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(expr("CAST(l_quantity AS DECIMAL(12,2))")).cast("double").as("sum_qty"),
        sum(expr("CAST(l_extendedprice AS DECIMAL(12,2))")).cast("double").as("sum_base_price"),
        sum(revTerm).cast("double").as("sum_disc_price"),
        sum(expr("CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))"))
          .cast("double").as("sum_charge"),
        round(sum(expr("CAST(l_quantity AS DECIMAL(12,2))")).cast("double") / count(lit(1)), 6).as("avg_qty"),
        round(sum(expr("CAST(l_extendedprice AS DECIMAL(12,2))")).cast("double") / count(lit(1)), 6).as("avg_price"),
        round(sum(expr("CAST(l_discount AS DECIMAL(4,2))")).cast("double") / count(lit(1)), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** TPC-H Q3-flavor shipping priority. The customer table contributes
    * NO output column here — it is purely the segment filter — so the
    * join is a broadcast LEFT SEMI on the single projected key column
    * (c_custkey is the table's primary key, making semi ≡ inner): the
    * broadcast payload is one long per matching customer, ~10× smaller
    * than the full filtered rows, which pushes the size at which the
    * broadcast stops fitting an order of magnitude further out.
    */
  def q3(spark: SparkSession, dir: String): DataFrame = {
    val custKeys = Source.table(spark, dir, "customer")
      .where(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val ord = Source.table(spark, dir, "orders")
      .where(col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
    val li = Source.table(spark, dir, "lineitem")
      .where(col("l_shipdate") > lit("1999-01-01").cast("timestamp"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(custKeys), col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(revTerm).cast("double").as("revenue"))
      .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
  }

  /** TPC-H Q5-flavor: 6-way join. True dims (region, nation, supplier)
    * broadcast; CUSTOMER IS NOT A DIM — it is the second-largest TPC-H
    * table and scales with the facts (hundreds of GB at the 100 TB
    * design point), so it carries NO broadcast hint: the join strategy
    * is left to size estimates / AQE, which broadcast it while it fits
    * and fall back to a shuffle join beyond. This plain-parquet variant
    * is the baseline; [[q5Bucketed]] is the designed scale path — its
    * custkey exchange runs at pre-aggregated pair grain instead of
    * lineitem grain.
    */
  def q5(spark: SparkSession, dir: String): DataFrame = {
    val region = Source.table(spark, dir, "region").where(col("r_name") === "ASIA")
    val nation = Source.table(spark, dir, "nation")
    val supp = Source.table(spark, dir, "supplier")
    val cust = Source.table(spark, dir, "customer")
    val ord = Source.table(spark, dir, "orders")
    val li = Source.table(spark, dir, "lineitem")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(cust.select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(revTerm).cast("double").as("revenue"))
  }

  /** Top-3 parts by revenue per brand — window rank over a hash aggregate. */
  def topkPerBrand(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val perPart = Source.table(spark, dir, "lineitem")
      .join(broadcast(Source.table(spark, dir, "part").select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_partkey"))
      .agg(sum(revTerm).as("rev_dec"))
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("rev_dec").desc, col("p_partkey"))
    perPart
      .withColumn("rnk", rank().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("p_brand"), col("p_partkey"),
        col("rev_dec").cast("double").as("revenue"), col("rnk"))
  }

  /** Write lineitem + orders bucketed (and bucket-sorted) on the order
    * key: the layout that deletes the fact-fact shuffle. A plain-parquet
    * q3/q5 must exchange both fact tables on `orderkey` per query — at
    * 100 TB that sort-merge of the biggest tables dominates (the 100×
    * experiment's q5 finding). Tables written this way join and
    * aggregate WITH NO SHUFFLE EXCHANGE AT ALL: bucketing co-locates
    * the keys, `sortBy` pre-orders inside buckets, and a groupBy whose
    * keys include the bucket key reuses the same distribution — the
    * whole q3 pipeline becomes exchange-free (spec-asserted). Pay the
    * shuffle once at ingest, not once per query.
    *
    * Each bucket lands in ONE file: the writer is pre-partitioned on
    * the bucket key, and hashpartitioning and bucket-id use the same
    * Murmur3(seed 42) mod `buckets`, so each write task holds exactly
    * one bucket. Spark only trusts a bucketed table's sortBy order when
    * every bucket is a single file; multi-file buckets re-sort both
    * sides of every bucketed SMJ (measured at 100×: build 30.7 → 17.1
    * s, 1088 → 32 files — see plans/r13/q5_bucketed100_*).
    */
  def bucketFacts(spark: SparkSession, dir: String,
                  buckets: Int = 8, prefix: String = "graft"): Unit = {
    def write(df: DataFrame, key: String, table: String): Unit =
      df.repartition(buckets, col(key))
        .write.bucketBy(buckets, key).sortBy(key)
        .mode("overwrite").format("parquet").saveAsTable(table)
    write(Source.table(spark, dir, "lineitem"), "l_orderkey", s"${prefix}_lineitem_b")
    write(Source.table(spark, dir, "orders"), "o_orderkey", s"${prefix}_orders_b")
    // customer co-bucketed on its key: the layout [[q5CoBucketed]] rides
    // so the one fact-sized table q5 still shuffled per query never
    // leaves its scan
    write(Source.table(spark, dir, "customer"), "c_custkey", s"${prefix}_customer_b")
  }

  /** [[q3]] over [[bucketFacts]] tables — identical results, zero
    * shuffle exchanges in the whole plan (join co-located by bucketing;
    * the aggregation's grouping keys include the bucket key, so the
    * join's distribution satisfies it too; the customer filter is the
    * same keys-only broadcast semi as [[q3]]).
    */
  def q3Bucketed(spark: SparkSession, dir: String,
                 prefix: String = "graft"): DataFrame = {
    val custKeys = Source.table(spark, dir, "customer")
      .where(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val ord = spark.table(s"${prefix}_orders_b")
      .where(col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
    val li = spark.table(s"${prefix}_lineitem_b")
      .where(col("l_shipdate") > lit("1999-01-01").cast("timestamp"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(custKeys), col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(revTerm).cast("double").as("revenue"))
      .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
  }

  /** [[q5]] over [[bucketFacts]] tables — identical results, and the
    * designed 100 TB plan: the lineitem⋈orders join is co-located by
    * the bucketing (no orderkey exchange anywhere), and the fact
    * stream is partially aggregated to one row per (custkey,
    * supplier-nation) BEFORE the un-hinted customer join — the
    * pre-agg exchange shrinks the stream from lineitem grain to pair
    * grain AND provides exactly the hash distribution the customer
    * join needs (decimal partials re-aggregate exactly). The plan's
    * only exchanges are that pre-agg, the customer side, and the tiny
    * final n_name aggregate; nothing broadcasts a table that grows
    * with the corpus. This closes the q5 row of the 100× experiment:
    * the sort-merge that spilled a single JVM was the per-query
    * lineitem-grain fact shuffle — paid once at ingest, and the
    * custkey shuffle demoted to aggregated pairs.
    */
  def q5Bucketed(spark: SparkSession, dir: String,
                 prefix: String = "graft"): DataFrame = {
    val region = Source.table(spark, dir, "region").where(col("r_name") === "ASIA")
    val nation = Source.table(spark, dir, "nation")
    val supp = Source.table(spark, dir, "supplier")
    val cust = Source.table(spark, dir, "customer")
    val ord = spark.table(s"${prefix}_orders_b")
    val li = spark.table(s"${prefix}_lineitem_b")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("o_custkey"), col("s_nationkey"))
      .agg(sum(revTerm).as("rev_partial"))
      .join(cust.select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("rev_partial")).cast("double").as("revenue"))
  }

  /** [[q5Bucketed]] with the CUSTOMER side also riding a bucketed
    * layout (`bucketBy(c_custkey)`, written by [[bucketFacts]]):
    * identical results, and customer — the one corpus-sized table
    * [[q5Bucketed]] still exchanged per query — is now never shuffled.
    * The aggregated (custkey, supplier-nation) pairs are explicitly
    * re-partitioned to the customer table's OWN bucket layout (key
    * `o_custkey`, the bucket count read from the catalog): hash
    * partitioning on a subset of the join keys satisfies the join's
    * clustered distribution and is spec-compatible with the bucketed
    * scan, so the customer join introduces NO exchange on either side.
    * Remaining exchanges, all at pair grain or smaller: the pre-agg,
    * the pair re-alignment, and the final n_name aggregate — at 100 TB
    * nothing heavier than one row per (customer, nation) ever moves.
    */
  def q5CoBucketed(spark: SparkSession, dir: String,
                   prefix: String = "graft"): DataFrame = {
    val region = Source.table(spark, dir, "region").where(col("r_name") === "ASIA")
    val nation = Source.table(spark, dir, "nation")
    val supp = Source.table(spark, dir, "supplier")
    val cust = spark.table(s"${prefix}_customer_b")
    val buckets = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(s"${prefix}_customer_b"))
      .bucketSpec.map(_.numBuckets)
      .getOrElse(sys.error(s"${prefix}_customer_b is not bucketed"))
    val ord = spark.table(s"${prefix}_orders_b")
    val li = spark.table(s"${prefix}_lineitem_b")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("o_custkey"), col("s_nationkey"))
      .agg(sum(revTerm).as("rev_partial"))
      .repartition(buckets, col("o_custkey"))
      .join(cust.select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("rev_partial")).cast("double").as("revenue"))
  }

  /** [[q9Profit]] over the co-bucketed fact layout ([[bucketFacts]]):
    * the query's ONLY fact-grain exchange is lineitem ⋈ orders on the
    * order key — bucketed on exactly that key, the join rides the
    * layout and the plan has ZERO fact-key exchanges (spec-asserted);
    * what remains is broadcast dims and the tiny (nation, year)
    * aggregate exchange. Results are bit-identical to the plain-parquet
    * plan — the layout changes cost, never answers.
    */
  def q9Bucketed(spark: SparkSession, dir: String,
                 nameToken: String = "gear",
                 prefix: String = "graft"): DataFrame = {
    val amount = expr(
      "CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))" +
        " - CAST(p_retailprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2)) * CAST(0.10 AS DECIMAL(3,2))")
    val supp = Source.table(spark, dir, "supplier")
      .join(broadcast(Source.table(spark, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("nation"))
    spark.table(s"${prefix}_lineitem_b")
      .join(broadcast(Source.table(spark, dir, "part")
        .where(col("p_name").contains(nameToken))
        .select(col("p_partkey"), col("p_retailprice"))),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(spark.table(s"${prefix}_orders_b")
        .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("nation"), year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(amount).cast("double").as("sum_profit"),
        count(lit(1)).as("n_items"))
  }

  /** [[q21Waiting]] over the co-bucketed fact layout: the collapsed
    * double-EXISTS query is ONE order-key join + ONE order-grain
    * aggregate — and the bucketing satisfies BOTH (the join's required
    * distribution and the groupBy(l_orderkey) clustering come straight
    * from the layout), so the entire fact-volume portion of the plan
    * runs with ZERO exchanges (spec-asserted); the only shuffle left
    * carries supplier-grain counts. The strongest single argument for
    * bucketing the fact tables on the order key: a three-scan TPC-H
    * query whose fact data never crosses the wire.
    */
  def q21Bucketed(spark: SparkSession, dir: String,
                  prefix: String = "graft"): DataFrame =
    q21Frame(
      spark.table(s"${prefix}_lineitem_b"),
      spark.table(s"${prefix}_orders_b"),
      Source.table(spark, dir, "supplier"))

  /** Sessionize the event stream: 30-min-gap sessions per user (lag +
    * running sum — the classic distributed sessionization shape; one
    * shuffle on user_id, no state on the driver).
    */
  /** ROLLUP cube over orders: totals per (year × priority), per year,
    * and grand total in ONE aggregate — the OLAP drill-down shape
    * dashboards ask for. Spark rewrites a rollup into a single Expand +
    * hash aggregate (every grouping set shares the one scan and one
    * shuffle — never one job per grouping set), so the 100 TB cost is
    * the same as the plain (year, priority) aggregate plus two
    * vocabulary-sized merge levels. Decimal-exact sums; `grouping_id`
    * disambiguates a genuine NULL group key from a rollup subtotal row
    * (the standard SQL marker, identical in DuckDB).
    */
  /** TPC-H Q4-flavor order-priority check: orders in a half-year window
    * with at least one LATE line item (shipped more than 60 days after
    * the order date), counted per priority — the canonical
    * EXISTS-correlated-subquery shape. Spark-first: a LEFT SEMI join
    * (the engine's native EXISTS — the probe emits each order at most
    * once, no post-join distinct) whose equi key is the order key and
    * whose lateness predicate rides the same hash join as a residual
    * condition; the date filter prunes orders BEFORE the join, and
    * the fact side carries only (l_orderkey, l_shipdate). At scale
    * the filtered order side broadcasts; AQE picks shuffle sides
    * otherwise.
    */
  def q4SemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = Source.table(spark, dir, "orders")
      .where(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1995-07-01").cast("timestamp"))
    val l = Source.table(spark, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
    o.join(l,
        l("l_orderkey") === o("o_orderkey") &&
          l("l_shipdate") > o("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
  }

  /** Orders that never shipped ANYTHING — the NOT-EXISTS referential
    * health check (every warehouse audit's "orphaned parents" query),
    * counted per order status. LEFT ANTI join on the order key: one
    * pass, no distinct, no subquery re-scan; the anti side projects
    * only its key column.
    */
  def qOrdersNoLineitem(spark: SparkSession, dir: String): DataFrame = {
    val o = Source.table(spark, dir, "orders")
    val l = Source.table(spark, dir, "lineitem").select(col("l_orderkey"))
    o.join(l, o("o_orderkey") === l("l_orderkey"), "left_anti")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        org.apache.spark.sql.functions.min(col("o_orderkey")).as("min_orderkey"))
  }

  /** TPC-H Q17-flavor small-quantity revenue: line items whose quantity
    * is below 20% of their PART's average quantity, revenue summed per
    * brand — the correlated scalar-aggregate-subquery shape
    * (`WHERE qty < (SELECT 0.2*avg(qty) ... WHERE same part)`),
    * decorrelated Spark-first into a per-part threshold aggregate
    * joined back onto the fact scan. The threshold frame is
    * PART-sized (bounded, map-side combined before its shuffle), so at
    * scale it broadcasts while parts fit and shuffle-joins otherwise
    * (AQE decides); the fact table is scanned once. Exactness: the
    * threshold is a decimal-exact sum divided once in doubles
    * (`×0.2` as a double literal — the e-notation oracle lesson), so
    * the qualifying SET is engine-identical, and the revenue over it
    * is again a decimal sum.
    */
  /** TPC-H Q10-flavor returned-item revenue report: which customers
    * returned the most value in a quarter. Plan shape: the date window
    * prunes orders FIRST (the selective side), the `l_returnflag = 'R'`
    * filter prunes lineitem at the scan (both reach PushedFilters), the
    * orders↔lineitem join shuffles only survivors, nation broadcasts,
    * and the final top-20 is a TakeOrderedAndProject over the bounded
    * customer aggregate — no global sort of the fact table anywhere.
    * Revenue keeps the exact-decimal product chain ([[revTerm]]) until
    * one final cast, and the (revenue DESC, c_custkey) total order
    * makes the kept set engine-deterministic.
    */
  def q10Returns(spark: SparkSession, dir: String): DataFrame = {
    val ord = Source.table(spark, dir, "orders")
      .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
    val li = Source.table(spark, dir, "lineitem").where(col("l_returnflag") === "R")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(Source.table(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Source.table(spark, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(sum(revTerm).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
      .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
  }

  /** TPC-H Q18-flavor large-volume customers: orders whose total
    * quantity crosses a threshold, with customer context and the
    * top-100 by order value. Plan shape: lineitem is scanned ONCE — the
    * qualifying aggregate over (l_orderkey, l_quantity) (column-pruned,
    * map-side-combined) CARRIES its quantity sum, so the answer is a
    * key-grain join orders ⋈ qualifying ⋈ customer with no second fact
    * scan and no wide re-aggregate (the r08 plan re-joined raw lineitem
    * to recompute a sum it already had — a fact-fact join that spilled
    * a 25 GB heap at 10×); the final cut is TakeOrderedAndProject on
    * the (o_totalprice DESC, o_orderkey) total order. Quantity sums
    * stay DECIMAL-exact until one final cast.
    */
  def q18LargeVolume(spark: SparkSession, dir: String,
                     minQty: Double = 250.0): DataFrame = {
    val li = Source.table(spark, dir, "lineitem")
    val qualifying = li.groupBy(col("l_orderkey").as("q_orderkey"))
      .agg(sum(expr("CAST(l_quantity AS DECIMAL(12,2))")).as("qty"))
      .where(col("qty") > lit(minQty))
    Source.table(spark, dir, "orders")
      .join(qualifying, col("o_orderkey") === col("q_orderkey"))
      .join(Source.table(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"),
        col("qty").cast("double").as("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** TPC-H Q6 revenue-change forecast: the pure scan-predicate query —
    * date window + discount band + quantity cap ALL reach the parquet
    * scan (plan-spec'd PushedFilters), then one two-column aggregate.
    * The 100 TB story is that this query IS the scan: no shuffle
    * beyond the final 1-row merge, cost = bytes after pruning.
    * Discount bounds are double literals (e-notation on the DuckDB
    * side — a plain 0.05 runs DECIMAL comparison semantics there).
    */
  def q6Forecast(spark: SparkSession, dir: String): DataFrame =
    Source.table(spark, dir, "lineitem")
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount") >= lit(0.05) && col("l_discount") <= lit(0.07) &&
        col("l_quantity") < lit(24.0))
      .agg(sum(expr(
        "CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))"))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))

  /** TPC-H Q8-flavor market share: within one region, per order year,
    * the fraction of revenue attributable to one nation's customers.
    * The share is a CONDITIONAL aggregate — `sum(CASE WHEN nation)` and
    * `sum(all)` in ONE pass over the joined frame, then a single IEEE
    * division of the two exact-decimal totals (`+ 0.0` canonicalized) —
    * no second scan, no self-join. Region/nation dims broadcast;
    * filters reach the scans.
    */
  def q8MarketShare(spark: SparkSession, dir: String,
                    regionName: String = "ASIA",
                    nationName: String = "NATION_2"): DataFrame = {
    val nations = Source.table(spark, dir, "nation")
      .join(broadcast(Source.table(spark, dir, "region")
        .where(col("r_name") === regionName)), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val cust = Source.table(spark, dir, "customer")
      .join(broadcast(nations), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"))
    Source.table(spark, dir, "lineitem")
      .join(Source.table(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        (sum(when(col("n_name") === nationName, revTerm)).cast("double")
          / sum(revTerm).cast("double") + lit(0.0)).as("mkt_share"),
        sum(revTerm).cast("double").as("region_revenue"))
  }

  /** TPC-H Q7-flavor volume shipping between two nations: revenue per
    * (supplier nation, customer nation, ship year) for cross-nation
    * trade in either direction. The scale shape: BOTH nation sides are
    * filtered to the two named nations BEFORE their joins, collapsing
    * supplier and customer to name-tagged key lists that broadcast —
    * the only fact-cardinality exchange is the unavoidable
    * lineitem ⋈ orders shuffle on the order key (orders contributes
    * o_custkey only, pruned to two columns at the scan). Revenue is
    * the exact decimal [[revTerm]] sum, one IEEE cast at the end.
    */
  def q7Volume(spark: SparkSession, dir: String,
               nationA: String = "NATION_1",
               nationB: String = "NATION_2"): DataFrame = {
    val n = Source.table(spark, dir, "nation")
      .where(col("n_name").isin(nationA, nationB))
      .select(col("n_nationkey"), col("n_name"))
    val supp = Source.table(spark, dir, "supplier")
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Source.table(spark, dir, "customer")
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    Source.table(spark, dir, "lineitem")
      .join(Source.table(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .where(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(sum(revTerm).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q14-flavor promotion effect: the promo share of one ship
    * year's revenue — `100 × Σ promo revenue / Σ revenue` as TWO
    * conditional aggregates in ONE pass over the filtered fact scan
    * (the q8 market-share recipe: never a second scan or self-join);
    * part is the broadcast dim, the year predicate reaches the scan,
    * and the division is one IEEE chain over two exact decimal sums.
    */
  def q14Promo(spark: SparkSession, dir: String,
               shipYear: Int = 1998): DataFrame =
    Source.table(spark, dir, "lineitem")
      .where(year(col("l_shipdate")) === shipYear)
      .join(broadcast(Source.table(spark, dir, "part")
        .select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .agg(
        (sum(when(col("p_type") === "PROMO", revTerm)).cast("double")
          * lit(100.0) / sum(revTerm).cast("double") + lit(0.0))
          .as("promo_pct"),
        sum(revTerm).cast("double").as("total_revenue"))

  def q17AvgSubquery(spark: SparkSession, dir: String): DataFrame = {
    val l = Source.table(spark, dir, "lineitem")
    val th = l.groupBy(col("l_partkey").as("t_partkey"))
      .agg((sum(expr("CAST(l_quantity AS DECIMAL(12,2))")).cast("double")
        / count(lit(1)) * lit(0.2)).as("lim"))
    l.join(th, col("l_partkey") === col("t_partkey"))
      .where(col("l_quantity") < col("lim"))
      .join(Source.table(spark, dir, "part"), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        (sum(expr("CAST(l_extendedprice AS DECIMAL(12,2))")).cast("double")
          / lit(7.0)).as("avg_yearly"),
        count(lit(1)).as("n_items"))
  }

  def rollupCube(spark: SparkSession, dir: String): DataFrame =
    Source.table(spark, dir, "orders")
      .rollup(year(col("o_orderdate")).cast("long").as("o_year"),
        col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(expr("CAST(o_totalprice AS DECIMAL(28,6))")).cast("double").as("sum_price"),
        grouping_id().as("gid"))

  /** CUBE over orders — every grouping set of (year × priority):
    * detail, per-year, per-priority, grand total, still in ONE
    * aggregate. Spark plans CUBE exactly like ROLLUP: one Expand + one
    * hash aggregate (all four sets share the single scan and the
    * single shuffle — never one job per set; spec-asserted like
    * [[rollupCube]]), so the marginal cost of the extra per-priority
    * set is its vocabulary-sized output rows.
    */
  def cubeAgg(spark: SparkSession, dir: String): DataFrame =
    Source.table(spark, dir, "orders")
      .cube(year(col("o_orderdate")).cast("long").as("o_year"),
        col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(expr("CAST(o_totalprice AS DECIMAL(28,6))")).cast("double").as("sum_price"),
        grouping_id().as("gid"))

  /** Custom GROUPING SETS — the generalization ROLLUP/CUBE are special
    * cases of: here ((year, priority), (priority)) — the detail grid
    * plus a per-priority margin WITHOUT paying for the per-year or
    * grand-total sets a CUBE would compute. Same plan shape: one
    * Expand (replication factor = the number of SETS, not 2^keys) +
    * one hash aggregate, one scan, one shuffle.
    */
  def groupingSetsAgg(spark: SparkSession, dir: String): DataFrame =
    // grouping keys pre-projected to plain attributes: groupingSets
    // matches set members to grouping columns by expression identity,
    // and an aliased expression in `cols` vs its unaliased twin in a
    // set would register as a THIRD grouping column (measured: gid ran
    // 0..7 instead of 0..3)
    Source.table(spark, dir, "orders")
      .select(year(col("o_orderdate")).cast("long").as("o_year"),
        col("o_orderpriority"), col("o_totalprice"))
      .groupingSets(
        Seq(Seq(col("o_year"), col("o_orderpriority")), Seq(col("o_orderpriority"))),
        col("o_year"), col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(expr("CAST(o_totalprice AS DECIMAL(28,6))")).cast("double").as("sum_price"),
        grouping_id().as("gid"))

  def sessionize(spark: SparkSession, dir: String, gapNs: Long = 1800L * 1000 * 1000 * 1000): DataFrame = {
    val raw = Source.table(spark, dir, "events")
    val ev = raw.select(col("user_id"), graft.tsdb.Db.tsNs(raw.schema).as("ts"), col("event_type"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    ev.withColumn("new_sess",
        when(col("ts") - lag(col("ts"), 1).over(w) > gapNs || lag(col("ts"), 1).over(w).isNull, 1)
          .otherwise(0))
      .withColumn("session_id",
        sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("new_sess")
  }

  /** Event-type transition matrix over per-user time-ordered streams —
    * the Markov surface behind next-action prediction and funnel
    * discovery: count every adjacent (src → dst) event-type pair within
    * a user's stream, then `p = n / Σn over src` (the empirical
    * conditional transition probability). (ts, event_id) totally orders
    * each stream, so same-timestamp events adjacency is
    * engine-deterministic; counts are exact BIGINTs with ONE final IEEE
    * division per row (the rate recipe).
    *
    * Scale shape: one shuffle on user_id for the lag window (partition
    * size = one user's history), then a map-side-combined aggregate
    * down to the TRANSITION VOCABULARY (≤ |event_type|² rows,
    * corpus-size-independent); the per-src normalizing sum is a window
    * over that bounded frame — never a second pass over events. Output
    * is the tiny transition matrix at any corpus scale.
    */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val raw = Source.table(spark, dir, "events")
    val ev = raw.select(col("user_id"),
      graft.tsdb.Db.tsNs(raw.schema).as("ts"),
      col("event_id"), col("event_type"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val counts = ev
      .select(lag(col("event_type"), 1).over(w).as("src"),
        col("event_type").as("dst"))
      .where(col("src").isNotNull)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
    val ws = Window.partitionBy(col("src"))
    counts.select(col("src"), col("dst"), col("n"),
      (col("n").cast("double") / sum(col("n")).over(ws).cast("double"))
        .as("p"))
  }

  /** Per-customer running spend: cumulative order total and order count
    * in (date, key) order — the customer-lifetime-value curve, the
    * canonical cumulative-frame window. One shuffle on the customer
    * key, one codegen'd running frame; parallelism is #customers (the
    * biggest single partition is one customer's order history — tiny),
    * never a global sort. The cumulative sum is an exact DECIMAL
    * (partition-order-independent) cast once at the end; `o_orderkey`
    * tiebreaks same-day orders so every prefix is engine-deterministic.
    */
  /** Revenue concentration by customer decile — the Pareto read
    * ("which share of revenue do the top 10% carry") behind account
    * planning and whale-risk review: customers exact-ranked by
    * (lifetime spend desc, key), cut into 10 equal-population deciles,
    * each with its customer count, spend, share, and cumulative share.
    *
    * The global rank is DISTRIBUTED — no single-partition window:
    * `repartitionByRange` on the rank order, a per-partition local
    * row_number, then partition COUNTS (one row per partition — a
    * bounded frame) cumulate into offsets that broadcast back;
    * `rank = offset + local`. Range boundaries come from sampling, but
    * the rank is boundary-placement-independent because the order key
    * (spend desc, custkey) is total. Spend stays exact DECIMAL through
    * every sum; shares are single IEEE divisions at the end; the
    * decile id is integer arithmetic (`(rank−1)·10 div n`), so the
    * populations split exactly and the hash pins everything.
    */
  /** Per-customer lifetime spend with its EXACT global rank by
    * (spend desc, key), computed DISTRIBUTED — `repartitionByRange` on
    * the rank order, per-partition local row_number, partition counts
    * cumulated over a parallelism-sized offset frame and broadcast
    * back (`rank = offset + local`). No single-partition sort; range
    * boundaries come from sampling but the rank is boundary-
    * independent because the order key is total. Shared by
    * [[revenueConcentration]] and [[gini]].
    */
  private def rankedSpend(spark: SparkSession, dir: String): DataFrame = {
    val spend = Source.table(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(28,6)")).as("spend_dec"))
    val parts = math.max(spark.sparkContext.defaultParallelism, 2)
    val ranged = spend
      .repartitionByRange(parts, col("spend_dec").desc, col("o_custkey"))
      .withColumn("pid", spark_partition_id())
    val wLoc = Window.partitionBy(col("pid"))
      .orderBy(col("spend_dec").desc, col("o_custkey"))
    val local = ranged.withColumn("lr", row_number().over(wLoc))
    // one row per partition: the offset frame is parallelism-sized
    val wOff = Window.orderBy(col("pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = local.groupBy(col("pid")).agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum(col("cnt")).over(wOff), lit(0L)))
      .withColumn("n_total", sum(col("cnt")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("pid"), col("off"), col("n_total"))
    local.join(broadcast(offs), "pid")
      .select(col("o_custkey"), col("spend_dec"),
        (col("off") + col("lr")).as("rank_desc"), col("n_total"))
  }

  def revenueConcentration(spark: SparkSession, dir: String): DataFrame = {
    val ranked = rankedSpend(spark, dir)
      .select(col("spend_dec"),
        expr("((rank_desc - 1) * 10) div n_total").as("decile"))
    val wCum = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the grand total is Σ d_dec over the 10-row decile frame itself
    // (ADVICE r10) — re-aggregating orders for it duplicated the full
    // scan+shuffle rankedSpend already paid; exact DECIMAL either way
    val wTot = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    ranked
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"), sum(col("spend_dec")).as("d_dec"))
      .withColumn("tot", sum(col("d_dec")).over(wTot))
      .select(col("decile"), col("n_customers"),
        col("d_dec").cast("double").as("spend"),
        (col("d_dec").cast("double") / col("tot").cast("double")).as("share"),
        (sum(col("d_dec")).over(wCum).cast("double")
          / col("tot").cast("double")).as("cum_share"))
  }

  /** Gini coefficient of customer lifetime spend — the single-number
    * inequality read next to [[revenueConcentration]]'s decile table,
    * on the SAME distributed exact rank: with spends ascending,
    * `G = 2·Σ(i·xᵢ) / (n·Σx) − (n+1)/n` (the rank-weighted identity —
    * no pair enumeration). The ascending index is `n − rank_desc + 1`;
    * `Σ(i·x)` stays an exact DECIMAL product-sum (spend at (18,6) ×
    * index at (10,0) — products fit decimal(38,6) through n ~ 1e9 at
    * 1e7 spend), and the final expression is a fixed-order IEEE chain
    * ROUNDED at 6 (Σ(i·x)'s unscaled integers pass 2^53 exactly like
    * the Welch chain — the 20av boundary, same posture). One row out.
    */
  def gini(spark: SparkSession, dir: String): DataFrame = {
    val r = rankedSpend(spark, dir)
      .select(col("spend_dec").cast("decimal(18,6)").as("x"),
        (col("n_total") - col("rank_desc") + 1).cast("decimal(10,0)").as("i"),
        col("n_total"))
    r.agg(max(col("n_total")).as("n"),
        sum(col("x")).as("sx"),
        sum(col("x") * col("i")).as("six"))
      .select(col("n"),
        col("sx").cast("double").as("total_spend"),
        round(lit(2.0) * col("six").cast("double")
          / (col("n").cast("double") * col("sx").cast("double"))
          - (col("n") + 1).cast("double") / col("n").cast("double"), 6)
          .as("gini"))
  }

  /** Two-proportion A/B readout — the experiment-analysis table: users
    * split into variants by a deterministic id hash (parity here; a
    * real assignment column slots in unchanged), conversion = at least
    * one purchase, and the pooled two-proportion z-statistic on top.
    * Counts are exact BIGINTs from one user-grain aggregate collapsed
    * to a TWO-ROW frame; rates, the pooled proportion, the standard
    * error, and z are a fixed-order IEEE chain over those exact
    * integers (division → multiply → `sqrt` — every step correctly
    * rounded and engine-identical, the rate/ewma bit-stability
    * recipe). One row out at any corpus size.
    */
  def abTest(spark: SparkSession, dir: String): DataFrame = {
    val users = Source.table(spark, dir, "events")
      .select(col("user_id"), col("event_type"))
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("conv"))
      .select((col("user_id") % 2).as("variant"), col("conv"))
    val nA = sum(when(col("variant") === 0, 1L).otherwise(0L))
    val cA = sum(when(col("variant") === 0, col("conv")).otherwise(0L))
    val nB = sum(when(col("variant") === 1, 1L).otherwise(0L))
    val cB = sum(when(col("variant") === 1, col("conv")).otherwise(0L))
    val agg = users.agg(nA.as("n_a"), cA.as("conv_a"),
      nB.as("n_b"), cB.as("conv_b"))
    val rateA = col("conv_a").cast("double") / col("n_a").cast("double")
    val rateB = col("conv_b").cast("double") / col("n_b").cast("double")
    val pPool = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val se = sqrt(pPool * (lit(1.0) - pPool) *
      (lit(1.0) / col("n_a").cast("double")
        + lit(1.0) / col("n_b").cast("double")))
    agg.select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
      rateA.as("rate_a"), rateB.as("rate_b"),
      when(se === 0.0, lit(null).cast("double"))
        .otherwise((rateA - rateB) / se + lit(0.0)).as("z_stat"))
  }

  /** Welch's t on a CONTINUOUS metric per variant — [[abTest]]'s
    * sibling for value metrics (revenue per purchase): per variant the
    * exact Σv/Σv² decimal chain (the stddev recipe) yields n, mean,
    * and SAMPLE variance; the t-statistic is the fixed-order IEEE
    * Welch formula over those exact sums. One purchase-grain aggregate
    * collapsed to one row; variance needs n ≥ 2 per arm and a nonzero
    * pooled SE, else NULL.
    */
  def abTestValue(spark: SparkSession, dir: String): DataFrame = {
    val ev = Source.table(spark, dir, "events")
      .where(col("event_type") === "purchase")
      .select((col("user_id") % 2).as("variant"), col("value"))
    def side(v: Int, tag: String) = {
      val in = when(col("variant") === v, col("value"))
      Seq(
        sum(when(col("variant") === v, 1L).otherwise(0L)).as(s"n_$tag"),
        sum(in.cast("decimal(28,6)")).cast("double").as(s"s_$tag"),
        sum(in.cast("decimal(18,6)") * in.cast("decimal(18,6)"))
          .cast("double").as(s"sq_$tag"))
    }
    val agg = ev.agg((side(0, "a") ++ side(1, "b")).head,
      (side(0, "a") ++ side(1, "b")).tail: _*)
    def meanOf(t: String) = col(s"s_$t") / col(s"n_$t").cast("double")
    def varOf(t: String) =
      (col(s"sq_$t") - col(s"s_$t") * col(s"s_$t") / col(s"n_$t").cast("double")) /
        (col(s"n_$t") - 1).cast("double")
    val se = sqrt(varOf("a") / col("n_a").cast("double")
      + varOf("b") / col("n_b").cast("double"))
    // the Σv² unscaled integers exceed 2^53 here, so the two engines'
    // decimal→double casts can land one ulp apart (double rounding);
    // round-6 on every derived stat is the library's parity convention
    // for such chains (AvgV precedent)
    // mean needs n ≥ 1 and variance n ≥ 2 PER ARM (ADVICE r10): Spark's
    // double division-by-zero yields NULL where DuckDB yields inf/NaN,
    // so an unguarded (n-1)=0 arm diverges from the oracle — the same
    // branch t_stat always had, mirrored per column and in the SQL
    def meanCol(t: String) =
      when(col(s"n_$t") < 1, lit(null).cast("double"))
        .otherwise(round(meanOf(t), 6))
    def varCol(t: String) =
      when(col(s"n_$t") < 2, lit(null).cast("double"))
        .otherwise(round(varOf(t), 6))
    agg.select(col("n_a"),
      meanCol("a").as("mean_a"), varCol("a").as("var_a"),
      col("n_b"),
      meanCol("b").as("mean_b"), varCol("b").as("var_b"),
      when(col("n_a") < 2 || col("n_b") < 2 || se === 0.0,
        lit(null).cast("double"))
        .otherwise(round((meanOf("a") - meanOf("b")) / se, 6) + lit(0.0))
        .as("t_stat"))
  }

  /** Cohort lifetime-value curve — cumulative purchase revenue per
    * user by signup cohort and age: the growth-accounting read behind
    * payback-period planning ("how much has the March cohort earned
    * per user by day 30"). Cohort = each user's first-seen day (any
    * event type); revenue buckets on (cohort, age = day − cohort_day).
    * Revenue stays exact DECIMAL through the (cohort, age) aggregate
    * AND the cumulative window; `cum_ltv` is one division by the
    * cohort's user count. The cumulative partition is one cohort's
    * AGES (calendar-bounded); ages with no purchases emit no row and
    * the cumulative ordering skips them exactly.
    */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val dayNs = 86400L * 1000000000L
    val raw = Source.table(spark, dir, "events")
    val ev = raw.select(col("user_id"),
        graft.tsdb.Db.tsNs(raw.schema).as("ts"),
        col("event_type"), col("value"))
      .withColumn("day", expr(s"ts div ${dayNs}L"))
    val cohort = ev.groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort_day"))
    val cohortSize = cohort.groupBy(col("cohort_day"))
      .agg(count(lit(1)).as("n_users"))
    val rev = ev.where(col("event_type") === "purchase")
      .join(cohort, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("age_days"))
      .agg(sum(col("value").cast("decimal(28,6)")).as("rev_dec"))
    val wCum = Window.partitionBy(col("cohort_day")).orderBy(col("age_days"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev.join(cohortSize, "cohort_day")
      .select(col("cohort_day"), col("age_days"), col("n_users"),
        col("rev_dec").cast("double").as("revenue"),
        (sum(col("rev_dec")).over(wCum).cast("double")
          / col("n_users").cast("double")).as("cum_ltv"))
  }

  def runningTotal(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Source.table(spark, dir, "orders").select(
      col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
      sum(col("o_totalprice").cast("decimal(28,6)")).over(w)
        .cast("double").as("running_spend"),
      count(lit(1)).over(w).as("running_n"))
  }

  /** Signup → purchase conversion funnel over the events stream: per
    * signup-day cohort, how many users signed up and how many made
    * their first purchase within `windowNs` of their FIRST signup.
    * Two user-sized aggregates (reduce volume = users, never events)
    * joined on the user key — the purchase side filters events against
    * each user's signup instant, so the join input is the purchase
    * subset, not the full stream. Conversion is counted once per user
    * (a user with N qualifying purchases still converts once), making
    * the output rows = cohort days.
    */
  def funnel(spark: SparkSession, dir: String,
             windowNs: Long = 7L * 86400L * 1000000000L): DataFrame = {
    val raw = Source.table(spark, dir, "events")
    val ev = raw.select(col("user_id"), graft.tsdb.Db.tsNs(raw.schema).as("ts"),
        col("event_type"))
    val dayNs = 86400L * 1000000000L
    val signups = ev.where(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t0"))
    val converted = ev.where(col("event_type") === "purchase")
      .join(signups, "user_id")
      .where(col("ts") >= col("t0") && col("ts") <= col("t0") + lit(windowNs))
      .select(col("user_id"), col("t0")).distinct()
    signups.join(converted.withColumnRenamed("user_id", "cuid")
        .select(col("cuid").as("user_id"), col("t0"), lit(1L).as("conv")),
        Seq("user_id", "t0"), "left")
      .groupBy((expr(s"t0 div ${dayNs}L") * lit(dayNs)).as("cohort_day"))
      .agg(count(lit(1)).as("n_signups"),
        sum(coalesce(col("conv"), lit(0L))).as("n_converted"))
  }

  /** Cohort retention matrix over the events stream: for each signup
    * week, how many distinct users were active again `k` weeks after
    * their FIRST signup (k = 0..maxWeeks-1) — the classic retention
    * triangle, [[funnel]]'s many-period generalization. Reduce volume
    * is users (one user-sized signup aggregate), the activity join
    * streams events past it once, and the distinct is keyed by
    * (cohort, offset, user) — never a per-cell pass over the stream.
    * All-integer outputs, hash-stable by construction.
    */
  def retention(spark: SparkSession, dir: String,
                maxWeeks: Int = 8): DataFrame = {
    val raw = Source.table(spark, dir, "events")
    val ev = raw.select(col("user_id"), graft.tsdb.Db.tsNs(raw.schema).as("ts"),
      col("event_type"))
    val weekNs = 7L * 86400L * 1000000000L
    val signups = ev.where(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t0"))
    ev.join(signups, "user_id")
      .where(col("ts") >= col("t0"))
      .select((expr(s"t0 div ${weekNs}L") * lit(weekNs)).as("cohort_week"),
        expr(s"(ts - t0) div ${weekNs}L").as("week_offset"), col("user_id"))
      .where(col("week_offset") < maxWeeks)
      .distinct()
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Gap-based sessions via Spark's BUILT-IN `session_window` aggregate
    * — the engine-native alternative to the [[sessionize]] lag/sum
    * window chain, and the one that also runs unchanged under
    * Structured Streaming (merging session state across micro-batches).
    * One hash aggregate keyed (user, session window): no ordered window
    * pass, no running sum — Spark merges overlapping gap intervals
    * inside the aggregate. Emits one row per session with its bounds
    * (end = last event + gap, the session_window contract) and event
    * count; the DuckDB oracle re-derives the identical sessions from
    * the lag chain, proving the two formulations equivalent.
    */
  def sessionWindows(spark: SparkSession, dir: String,
                     gapNs: Long = 1800L * 1000 * 1000 * 1000): DataFrame = {
    val raw = Source.table(spark, dir, "events")
    val ev = raw
      .select(col("user_id"), graft.tsdb.Db.tsNs(raw.schema).as("ts_ns"))
      .select(col("user_id"), timestamp_micros(expr("ts_ns div 1000L")).as("ts"))
    ev.groupBy(col("user_id"),
        session_window(col("ts"), s"${gapNs / 1000000000L} seconds").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        (unix_micros(col("w.start")) * lit(1000L)).as("start_ts"),
        (unix_micros(col("w.end")) * lit(1000L)).as("end_ts"),
        col("n_events"))
  }

  /** N-step ORDERED funnel — [[funnel]]'s generalization to a step
    * sequence (default signup → view → purchase): per first-signup-day
    * cohort, how many users reached step i with each step's FIRST
    * qualifying instant strictly after the previous step's, all within
    * `windowNs` of the first signup. One user-sized frame threads
    * through the chain; each step is a pushdown-filtered slice of the
    * events scan joined to it (reduce volume = users, never events —
    * the same bound as [[funnel]]) and the per-step min-aggregate
    * reuses the join's user partitioning. Counts are monotone
    * non-increasing across steps by construction.
    */
  def funnelSteps(spark: SparkSession, dir: String,
                  steps: Seq[String] = Seq("signup", "view", "purchase"),
                  windowNs: Long = 7L * 86400L * 1000000000L): DataFrame = {
    require(steps.nonEmpty, "funnelSteps needs at least one step")
    val raw = Source.table(spark, dir, "events")
    val ev = raw.select(col("user_id"), graft.tsdb.Db.tsNs(raw.schema).as("ts"),
      col("event_type"))
    val dayNs = 86400L * 1000000000L
    val first = ev.where(col("event_type") === steps.head)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t0"))
    // chains(i): the user-sized frame of users whose chain reached step
    // i, with t_prev = that step's first qualifying instant
    val chains = steps.drop(1).scanLeft(
      first.withColumn("t_prev", col("t0"))) { (acc, step) =>
      ev.where(col("event_type") === step)
        .join(acc, "user_id")
        .where(col("ts") > col("t_prev") && col("ts") <= col("t0") + lit(windowNs))
        .groupBy(col("user_id"), col("t0"))
        .agg(min(col("ts")).as("t_prev"))
    }
    chains.zipWithIndex.map { case (c, i) =>
      c.groupBy((expr(s"t0 div ${dayNs}L") * lit(dayNs)).as("cohort_day"))
        .agg(count(lit(1)).as("n_users"))
        .select(col("cohort_day"), lit(i.toLong).as("step_idx"),
          lit(steps(i)).as("step"), col("n_users"))
    }.reduce(_.unionByName(_))
  }

  /** Daily + trailing-window active users (DAU/WAU): for each day with
    * events, the distinct users active that day and within the trailing
    * `windowDays` days. Exact, without a sliding distinct over raw
    * events: the stream first collapses to the compact (day, user)
    * frame (≤ users × days rows — orders of magnitude under the event
    * count), each row then covers its next `windowDays` days via a
    * BOUNDED explode (factor = windowDays, a constant), and the
    * trailing count is a plain distinct-aggregate per covered day.
    * ONE scan, two shuffles: each coverage row carries whether it is
    * the origin day, so a single (day, user) aggregate (max(origin))
    * feeds both counts — DAU = origin rows, WAU = all rows — instead
    * of a second scan+distinct for the DAU branch (Spark does not
    * reuse the common subplan across the two aggregates, and a
    * doubled fact scan is exactly what 100 TB cannot afford). Days
    * are reported only when they have events (`dau > 0`).
    * All-integer outputs — hash-stable.
    */
  def activeUsers(spark: SparkSession, dir: String,
                  windowDays: Int = 7): DataFrame = {
    val dayNs = 86400L * 1000000000L
    val raw = Source.table(spark, dir, "events")
    raw
      .select(graft.tsdb.Db.tsNs(raw.schema).as("ts"), col("user_id"))
      .select((expr(s"ts div ${dayNs}L") * lit(dayNs)).as("day"), col("user_id"),
        explode(sequence(lit(0), lit(windowDays - 1))).as("k"))
      .select((col("day") + col("k").cast("long") * lit(dayNs)).as("day"),
        col("user_id"), (col("k") === 0).as("origin"))
      .groupBy(col("day"), col("user_id"))
      .agg(max(col("origin")).as("is_origin"))
      .groupBy(col("day"))
      .agg(
        sum(when(col("is_origin"), 1L).otherwise(0L)).as("dau"),
        count(lit(1)).as("wau"))
      .where(col("dau") > 0)
  }

  /** Per-day session metrics over the [[sessionize]] chain: session
    * count, total events, events-per-session, and mean session duration
    * for sessions STARTING that day. The (user, session) rollup reuses
    * the sessionize window's user partitioning (Spark satisfies the
    * grouping's clustered-distribution from the child's
    * hashpartitioning(user_id) — no extra shuffle), so the only new
    * exchange is the tiny per-day aggregate. Sums are integers
    * (order-independent); the two ratios divide once at the end —
    * bit-stable against the identical SQL chain.
    */
  def sessionStats(spark: SparkSession, dir: String,
                   gapNs: Long = 1800L * 1000 * 1000 * 1000): DataFrame = {
    val dayNs = 86400L * 1000000000L
    sessionize(spark, dir, gapNs)
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"),
        count(lit(1)).as("n_ev"))
      .groupBy((expr(s"start_ts div ${dayNs}L") * lit(dayNs)).as("day"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_ev")).as("n_events"),
        (sum(col("n_ev")).cast("double") / count(lit(1))).as("avg_events"),
        (sum(col("end_ts") - col("start_ts")).cast("double") / count(lit(1)))
          .as("avg_dur_ns"))
  }

  /** Peak concurrent sessions per hour — the capacity-planning curve,
    * computed by sweep-line: every session contributes +1 at its start
    * instant and −1 at its end, and concurrency at any instant is the
    * running sum of deltas in (ts, starts-before-ends) order (touching
    * sessions count as concurrent). Sessions are [[sessionize]]'s
    * 30-minute-gap sessions; a single-event session is a momentary
    * +1/−1 at one instant.
    *
    * The running sum is decomposed so NO global ordered window ever
    * touches session-grain data (the same split as parallel prefix
    * sum): (1) sweep points collapse to distinct (ts, delta) keys via
    * a map-side-combined aggregate; (2) a per-HOUR window computes the
    * hour-local running sum, local max, and net — partition = one
    * hour's sweep keys; (3) the carry-in offset cumulates hour nets
    * over the HOUR-GRAIN frame only (rows = hours in the time range,
    * independent of event volume — tens of thousands for years of
    * data), and the hour's true peak is `carry_in + greatest(local_max,
    * 0)` (the greatest(…, 0) keeps the pre-first-sweep carry level in
    * play when an hour opens with only session ends). Hours with no
    * session boundary carry concurrency silently and emit no row —
    * concurrency only changes at sweep instants.
    */
  def concurrency(spark: SparkSession, dir: String,
                  gapNs: Long = 1800L * 1000 * 1000 * 1000): DataFrame =
    concurrencyFromSessions(sessionize(spark, dir, gapNs)
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts")))

  /** [[concurrency]] over an arbitrary `(start_ts, end_ts)` interval
    * frame (nanosecond instants, end ≥ start).
    */
  def concurrencyFromSessions(sess: DataFrame): DataFrame = {
    val hourNs = 3600L * 1000000000L
    val sweep = sess.select(col("start_ts").as("ts"), lit(1L).as("delta"))
      .unionAll(sess.select(col("end_ts").as("ts"), lit(-1L).as("delta")))
      .groupBy(col("ts"), col("delta"))
      .agg(sum(col("delta")).as("d"))
      .withColumn("hour", expr(s"ts div ${hourNs}L") * lit(hourNs))
    val wLoc = Window.partitionBy(col("hour"))
      .orderBy(col("ts"), col("delta").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hourly = sweep
      .withColumn("run", sum(col("d")).over(wLoc))
      .groupBy(col("hour"))
      .agg(max(col("run")).as("local_max"), sum(col("d")).as("net"),
        sum(when(col("delta") === 1L, col("d")).otherwise(0L)).as("n_starts"),
        (-sum(when(col("delta") === -1L, col("d")).otherwise(0L))).as("n_ends"))
    // hour-grain carry: bounded frame (one row per active hour), the
    // only unpartitioned window in the plan
    val wCarry = Window.orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, -1)
    hourly
      .withColumn("carry_in", coalesce(sum(col("net")).over(wCarry), lit(0L)))
      .select(col("hour"), col("n_starts"), col("n_ends"),
        (col("carry_in") + greatest(col("local_max"), lit(0L)))
          .as("max_concurrent"))
  }

  /** Day × event-type activity matrix via Spark's relational PIVOT —
    * the wide dashboard table (one row per day, one count column per
    * event type). The pivot values are DECLARED (the five event types),
    * not discovered: an undeclared pivot runs a blocking distinct scan
    * first and caps at `spark.sql.pivotMaxValues`. Declared, the plan
    * (explain-audited) is two stacked two-phase aggregates — the
    * map-side partial collapses the scan to (day × type) rows BEFORE
    * either exchange, so both shuffles carry ≤ days × 5 rows at any
    * corpus size. Absent combinations surface as 0 (not NULL),
    * matching conditional-count SQL semantics on any engine.
    */
  def pivotDaily(spark: SparkSession, dir: String): DataFrame = {
    val dayNs = 86400L * 1000000000L
    val types = Seq("click", "error", "purchase", "signup", "view")
    val raw = Source.table(spark, dir, "events")
    val piv = raw
      .select(graft.tsdb.Db.tsNs(raw.schema).as("ts"), col("event_type"))
      .select((expr(s"ts div ${dayNs}L") * lit(dayNs)).as("day"), col("event_type"))
      .groupBy(col("day"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
    piv.select(col("day") +:
      types.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
  }

  /** "Late" shipment predicate shared by [[q12Priority]] and
    * [[q21Waiting]]: shipped more than 60 days after the order date
    * (this schema has no commit/receipt dates — see SURVEY §3's
    * adaptation notes; reference analog: none, this is the Spark
    * analytics layer on top of the TSDB surface).
    */
  private val lateShip = col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAY")

  /** TPC-H Q2-flavor minimum-cost supplier: for every part sold by a
    * supplier in the named region, the supplier offering the cheapest
    * discounted line (ties broken by the lower supplier key). The
    * classic correlated `= (SELECT MIN ...)` subquery is re-expressed
    * as ONE aggregation: per (part, supplier) exact-decimal MIN, then
    * per part an argmin via `min(struct(cost, suppkey, name))` —
    * struct ordering is lexicographic, so the decimal cost decides and
    * the key breaks ties. No join-back, no second scan of the fact:
    * two stacked hash aggregates on top of a single lineitem pass with
    * the region-filtered supplier list broadcast (suppliers are a
    * fixed-vocabulary dimension at any corpus size).
    */
  def q2MinCostSupp(spark: SparkSession, dir: String,
                    regionName: String = "ASIA"): DataFrame = {
    val supp = Source.table(spark, dir, "supplier")
      .join(broadcast(Source.table(spark, dir, "nation")
        .join(broadcast(Source.table(spark, dir, "region")
          .where(col("r_name") === regionName)
          .select(col("r_regionkey"))),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"))
    Source.table(spark, dir, "lineitem")
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"), col("s_suppkey"), col("s_name"))
      .agg(min(revTerm).as("cost"))
      .groupBy(col("l_partkey").as("p_partkey"))
      .agg(min(struct(col("cost"), col("s_suppkey"), col("s_name"))).as("best"))
      .select(col("p_partkey"),
        col("best.s_suppkey").as("s_suppkey"),
        col("best.s_name").as("s_name"),
        col("best.cost").cast("double").as("min_cost"))
  }

  /** TPC-H Q9-flavor product-type profit: per (supplier nation, order
    * year) profit on parts whose name contains the token, where profit
    * is the discounted revenue minus a 10%-of-retail unit cost (this
    * schema has no partsupp/supplycost; p_retailprice stands in —
    * SURVEY §3). All arithmetic is exact DECIMAL until the one final
    * IEEE cast. Scale shape: the name-filtered part list and the
    * supplier→nation map broadcast; the only fact-cardinality exchange
    * is lineitem ⋈ orders on the order key (orders pruned to two
    * columns), then a two-phase hash aggregate on (nation, year).
    */
  def q9Profit(spark: SparkSession, dir: String,
               nameToken: String = "gear"): DataFrame = {
    val amount = expr(
      "CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))" +
        " - CAST(p_retailprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2)) * CAST(0.10 AS DECIMAL(3,2))")
    val supp = Source.table(spark, dir, "supplier")
      .join(broadcast(Source.table(spark, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("nation"))
    Source.table(spark, dir, "lineitem")
      .join(broadcast(Source.table(spark, dir, "part")
        .where(col("p_name").contains(nameToken))
        .select(col("p_partkey"), col("p_retailprice"))),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(Source.table(spark, dir, "orders").select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("nation"), year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(amount).cast("double").as("sum_profit"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q12-flavor shipping-priority audit: among LATE lines (see
    * [[lateShip]]; the schema has no ship mode, so l_linestatus is the
    * reporting dimension — SURVEY §3), how many belong to
    * critical-priority orders vs the rest. Pure counting — exact on
    * any engine. One fact-fact shuffle on the order key; the two
    * conditional counts ride a single two-phase hash aggregate.
    */
  def q12Priority(spark: SparkSession, dir: String): DataFrame =
    Source.table(spark, dir, "lineitem")
      .join(Source.table(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .where(lateShip)
      .groupBy(col("l_linestatus"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))

  /** TPC-H Q13-flavor customer order-count distribution: how many
    * customers placed exactly k qualifying orders (non-'5-LOW'
    * priority here), INCLUDING k=0 — the left outer join is the whole
    * point (an inner join cannot produce the zero bucket). Scale
    * shape: customer GROWS with the corpus, so the outer join shuffles
    * both sides on the customer key — unavoidable and correct; the
    * second aggregate's input is already one row per customer, and its
    * output is the tiny k-histogram.
    */
  def q13OrderDist(spark: SparkSession, dir: String,
                   excludePriority: String = "5-LOW"): DataFrame =
    Source.table(spark, dir, "customer").select(col("c_custkey"))
      .join(Source.table(spark, dir, "orders")
        .where(col("o_orderpriority") =!= excludePriority)
        .select(col("o_custkey"), col("o_orderkey")),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))

  /** TPC-H Q15-flavor top supplier: the supplier(s) whose quarterly
    * revenue equals the global maximum. The view + scalar-subquery
    * formulation would re-scan the fact for the MAX (Spark's self-join
    * de-dup re-ids the subtree, so the exchange is NOT reused —
    * spec-verified); instead the max rides a global window over the
    * already-aggregated SUPPLIER-GRAIN frame, which is dimension-sized
    * at any corpus scale — so the window's single-partition shuffle
    * carries |suppliers| rows, and lineitem is scanned exactly once
    * with the quarter predicate pushed. Exact-decimal revenue makes
    * the equality bit-safe; ties all surface, matching SQL semantics.
    */
  def q15TopSupplier(spark: SparkSession, dir: String,
                     qStart: String = "1997-01-01",
                     qEnd: String = "1997-04-01"): DataFrame =
    Source.table(spark, dir, "lineitem")
      .where(col("l_shipdate") >= lit(qStart).cast("timestamp") &&
        col("l_shipdate") < lit(qEnd).cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(revTerm).as("rev"))
      .withColumn("max_rev", max(col("rev")).over(Window.partitionBy(lit(1))))
      .where(col("rev") === col("max_rev"))
      .join(broadcast(Source.table(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("rev").cast("double").as("total_revenue"))

  /** TPC-H Q19-flavor disjunctive-predicate revenue: three OR'd
    * (brand × size × quantity-band) clauses over lineitem ⋈ part.
    * The point is the predicate SHAPE: the part-side conjuncts ride
    * the broadcast dimension, the quantity bands stay on the fact
    * scan, and the OR of ANDs evaluates inside whole-stage codegen —
    * one pass, no union-of-three-scans. Output is a single exact-sum
    * row.
    */
  def q19Disjunctive(spark: SparkSession, dir: String): DataFrame =
    Source.table(spark, dir, "lineitem")
      .join(broadcast(Source.table(spark, dir, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_size"))),
        col("l_partkey") === col("p_partkey"))
      .where(
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#15" && col("p_size").between(1, 35) &&
          col("l_quantity").between(20, 30)))
      .agg(sum(revTerm).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))

  /** TPC-H Q21-flavor suppliers-who-kept-orders-waiting: for finished
    * multi-supplier orders, count per supplier the orders where that
    * supplier was the ONLY late shipper (see [[lateShip]]). The
    * classic formulation is a double-correlated EXISTS / NOT EXISTS —
    * two extra self-joins of the fact table. Here it collapses to two
    * stacked PLAIN aggregates (see [[q21Frame]] for why not a double
    * `countDistinct`): any-late per (order, supplier), then per order
    * the supplier count, late count, and (conditional MAX, well-defined
    * exactly when the late count is 1) the lone late supplier; orders
    * with >1 supplier and exactly one late supplier attribute to that
    * supplier. One fact-fact shuffle on the order key, one tiny
    * supplier-grain count — no self-join at any scale.
    */
  def q21Waiting(spark: SparkSession, dir: String): DataFrame =
    q21Frame(
      Source.table(spark, dir, "lineitem"),
      Source.table(spark, dir, "orders"),
      Source.table(spark, dir, "supplier"))

  /** The q21 aggregate chain over caller-supplied frames (plain or
    * bucketed tables). TWO STACKED plain aggregates, deliberately NOT
    * a double `countDistinct`: multi-distinct triggers Spark's Expand
    * rewrite — 3× the fact rows through an intermediate aggregate
    * whose shuffle keys on the EXPANDED tuple (orderkey, cond-key,
    * suppkey, gid), which no order-key layout can satisfy. The
    * supplier-grain first level (any-late per (order, supplier)) and
    * the order-grain second level both cluster on the order key, so
    * the whole fact path is one shuffle unbucketed and ZERO shuffles
    * over the bucketed layout.
    */
  private def q21Frame(li: DataFrame, ord: DataFrame,
                       supp: DataFrame): DataFrame =
    li.join(ord
        .where(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(lateShip, 1L).otherwise(0L)).as("late"))
      .groupBy(col("l_orderkey"))
      .agg(
        count(lit(1)).as("n_supp"),
        sum(col("late")).as("n_late"),
        max(when(col("late") === 1L, col("l_suppkey"))).as("lone_late"))
      .where(col("n_supp") > 1 && col("n_late") === 1)
      .groupBy(col("lone_late").as("s_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(supp
        .select(col("s_suppkey").as("sk"), col("s_name"))),
        col("s_suppkey") === col("sk"))
      .select(col("s_suppkey"), col("s_name"), col("numwait"))

  /** TPC-H Q11-flavor important stock: parts whose traded inventory
    * value from one nation's suppliers exceeds a fraction of that
    * nation's total (no partsupp in this schema: value = Σ quantity ×
    * retail price over shipped lines — SURVEY §3). The HAVING
    * `> SUM(...) * fraction` scalar subquery becomes a DIVISION-FREE
    * exact-decimal threshold (`val × 1/fraction > total`) computed by
    * a global window over the part-grain aggregate — the fact is
    * scanned once; nation-filtered suppliers and the part price map
    * broadcast.
    */
  def q11ImportantStock(spark: SparkSession, dir: String,
                        nationName: String = "NATION_3",
                        fractionInv: Int = 1000): DataFrame = {
    val supp = Source.table(spark, dir, "supplier")
      .join(broadcast(Source.table(spark, dir, "nation")
        .where(col("n_name") === nationName)
        .select(col("n_nationkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val v = Source.table(spark, dir, "lineitem")
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Source.table(spark, dir, "part")
        .select(col("p_partkey"), col("p_retailprice"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey").as("p_partkey"))
      .agg(sum(expr(
        "CAST(l_quantity AS DECIMAL(12,2)) * CAST(p_retailprice AS DECIMAL(12,2))"))
        .as("value"))
    // the national total rides a global window over the PART-GRAIN
    // aggregate (vocabulary-sized at any corpus scale) — a broadcast
    // scalar subquery would re-scan the fact (q15's measured
    // exchange-reuse trap)
    v.withColumn("total", sum(col("value")).over(Window.partitionBy(lit(1))))
      .where(col("value") * lit(fractionInv) > col("total"))
      .select(col("p_partkey"), col("value").cast("double").as("value"))
  }

  /** TPC-H Q16-flavor parts/supplier relationship: distinct supplier
    * count per (brand, type, size) bucket for selected sizes,
    * excluding one brand and excluding flagged suppliers (no comment
    * column in this schema: negative account balance stands in for the
    * complaints predicate — SURVEY §3). The `NOT IN (SELECT ...)`
    * becomes a LEFT ANTI against the tiny flagged-key list
    * (broadcast); part attributes broadcast onto the fact; the
    * distinct count is the standard two-phase expand-distinct
    * aggregate, keyed by the small (brand, type, size) vocabulary.
    */
  def q16PartsSupplier(spark: SparkSession, dir: String,
                       excludeBrand: String = "Brand#5",
                       sizes: Seq[Int] = Seq(1, 4, 9, 16, 25, 36)): DataFrame =
    Source.table(spark, dir, "lineitem")
      .join(broadcast(Source.table(spark, dir, "part")
        .where(col("p_brand") =!= excludeBrand && col("p_size").isin(sizes: _*))
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(Source.table(spark, dir, "supplier")
        .where(col("s_acctbal") < 0)
        .select(col("s_suppkey"))),
        col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))

  /** TPC-H Q20-flavor potential part promotion: suppliers whose one-
    * year shipped quantity of token-named parts exceeds 1.2× the
    * per-supplier average (no partsupp availqty in this schema; the
    * above-average share stands in for the excess-stock predicate —
    * SURVEY §3). Same scale recipe as [[q11ImportantStock]]: the
    * scalar AVG threshold is DIVISION-FREE (`qty × n × 10 > 12 ×
    * total`, all exact decimal) over the supplier-grain aggregate via
    * a global window; the name-filtered part list broadcasts and the
    * year predicate reaches the fact scan.
    */
  def q20PotentialPromo(spark: SparkSession, dir: String,
                        nameToken: String = "red",
                        shipYear: Int = 1997): DataFrame = {
    val q = Source.table(spark, dir, "lineitem")
      .where(year(col("l_shipdate")) === shipYear)
      .join(broadcast(Source.table(spark, dir, "part")
        .where(col("p_name").contains(nameToken))
        .select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"))
      .agg(sum(expr("CAST(l_quantity AS DECIMAL(12,2))")).as("qty"))
    // threshold stats ride a global window over the SUPPLIER-GRAIN
    // aggregate (dimension-sized) — never a fact re-scan
    q.withColumn("n", count(lit(1)).over(Window.partitionBy(lit(1))))
      .withColumn("tot", sum(col("qty")).over(Window.partitionBy(lit(1))))
      .where(col("qty") * col("n") * lit(10) > lit(12) * col("tot"))
      .join(broadcast(Source.table(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("qty").cast("double").as("qty"))
  }

  /** TPC-H Q22-flavor global sales opportunity: per nation, the count
    * and total balance of above-average-balance customers who never
    * placed an URGENT order. Two classic shapes, both made
    * scale-safe: the scalar AVG subquery becomes a DIVISION-FREE
    * threshold (`bal × n_pos > Σ pos` — exact decimal, so no
    * engine-specific quotient rounding can flip a boundary customer)
    * carried by a one-row broadcast cross join; the NOT EXISTS becomes
    * a LEFT ANTI join against the distinct urgent-customer keys,
    * shuffling on the customer key only.
    */
  def q22Global(spark: SparkSession, dir: String): DataFrame = {
    val bal = expr("CAST(c_acctbal AS DECIMAL(12,2))")
    val stats = Source.table(spark, dir, "customer")
      .where(col("c_acctbal") > 0)
      .agg(count(lit(1)).as("n_pos"), sum(bal).as("sum_pos"))
    Source.table(spark, dir, "customer")
      .crossJoin(broadcast(stats))
      .where(bal * col("n_pos") > col("sum_pos"))
      .join(Source.table(spark, dir, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey")).distinct(),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"),
        sum(bal).cast("double").as("totacctbal"))
  }

  /** Top-k onboarding paths: the k most common first-`steps`
    * event-type sequences across users — the product-analytics "what
    * do new users actually do" read (Amplitude/Mixpanel Pathfinder
    * surface; the reference has no event layer, this extends the
    * events stream the same way [[eventTransitions]] does).
    *
    * Scale shape: the per-user window ranks events once (one shuffle
    * on the user key — partition size is ONE user's history), the
    * `rn <= steps` filter bounds the collect_list at `steps` elements
    * per user BEFORE any buffering happens, the path census reduces
    * user-count rows onto a vocabulary of at most |event_type|^steps
    * paths with map-side combine, and the final top-k rides
    * `orderBy().limit()` → TakeOrderedAndProject (per-partition heaps
    * + one k-row merge, never a global sort). Ties at the k boundary
    * break on the path string, so the cut is engine-deterministic.
    * (ts, event_id) totally orders each user stream — the
    * [[eventTransitions]] contract.
    */
  def pathTopK(spark: SparkSession, dir: String,
               steps: Int = 5, k: Int = 10): DataFrame = {
    val raw = Source.table(spark, dir, "events")
    val ev = raw.select(col("user_id"),
      graft.tsdb.Db.tsNs(raw.schema).as("ts"),
      col("event_id"), col("event_type"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val ranked = ev
      .select(col("user_id"), col("event_type"),
        row_number().over(w).as("rn"))
      .where(col("rn") <= steps)
    val paths = ranked.groupBy(col("user_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("rn"), col("event_type")))),
          s => s.getField("event_type")), ">").as("path"))
    paths.groupBy(col("path")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path"))
      .limit(k)
  }

  /** Last-touch attribution: each purchase is credited to the latest
    * preceding NON-purchase event in the same user's stream (the
    * marketing-attribution read: which interaction "caused" the
    * conversion). Output per touch channel: conversions credited and
    * exact-decimal revenue (the purchase `value`), cast to double
    * once.
    *
    * Scale shape: ONE pass over the events stream — the credited
    * touch is `last(non-purchase event, ignoreNulls)` over the
    * running per-user frame (rows unbounded-preceding → 1 preceding),
    * which Spark evaluates in a single running-frame window after the
    * one user-key shuffle; no self-join of the stream against itself
    * (the naive as-of formulation), no event-grain second shuffle.
    * The final aggregate reduces purchase-count rows onto the
    * |event_type| vocabulary. Purchases with no preceding touch
    * (stream starts with a purchase) drop — attribution credits
    * interactions, not spontaneity; the oracle encodes the same rule.
    * (ts, event_id) totally orders the frame, so the credited touch
    * is engine-deterministic even for same-timestamp arrivals.
    */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    val raw = Source.table(spark, dir, "events")
    val ev = raw.select(col("user_id"),
      graft.tsdb.Db.tsNs(raw.schema).as("ts"),
      col("event_id"), col("event_type"), col("value"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ev.select(col("event_type"), col("value"),
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w).as("touch"))
      .where(col("event_type") === "purchase" && col("touch").isNotNull)
      .groupBy(col("touch"))
      .agg(count(lit(1)).as("n_conv"),
        sum(col("value").cast("decimal(28,6)")).cast("double").as("revenue"))
  }

  /** New-vs-returning daily active users — the growth-accounting
    * decomposition every product dashboard leads with: per day, active
    * users split into first-ever-seen ("new") and the rest
    * ("returning"); DAU alone can't distinguish acquisition from
    * retention, and the mix is the signal.
    *
    * Scale shape: events collapse to the DISTINCT (user, day) frame
    * first (one shuffle — the [[activeUsers]] posture: days × users,
    * never events); first-seen day is a user-grain aggregate of that
    * same frame joined back on the user key; the final census is one
    * conditional aggregate onto day-grain output. Pure integer counts
    * end to end.
    */
  def newVsReturning(spark: SparkSession, dir: String): DataFrame = {
    val day = 86400L * 1000000000L
    val raw = Source.table(spark, dir, "events")
    val du = raw.select(col("user_id"), graft.tsdb.Db.tsNs(raw.schema).as("ts"))
      .select(col("user_id"), (expr(s"ts div ${day}L") * lit(day)).as("day"))
      .distinct()
    val first = du.groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
    du.join(first, Seq("user_id"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("day") === col("first_day"), lit(1L)).otherwise(lit(0L)))
          .as("n_new"))
      .withColumn("n_returning", col("n_active") - col("n_new"))
  }

  /** Market-basket co-purchase mining: the k part pairs most often
    * ordered together — the "frequently bought with" read, the 2-item
    * special case of frequent-itemset mining that covers most of what
    * production recommenders actually deploy.
    *
    * Scale shape: the per-order item set is DISTINCT-ed first (one
    * orderkey shuffle; "ordered together" counts an order once however
    * many lineitems repeat a part), then the pair fan-out is a
    * SELF-equi-join on the order key whose both sides are the same
    * frame — co-partitioned by construction, so no second exchange —
    * with `part_a < part_b` bounding output at C(items, 2) per order
    * (order size is bounded by the schema, ~7 lineitems, so the blowup
    * is a constant, never corpus-shaped); the census reduces with
    * map-side combine and the final cut rides TakeOrderedAndProject
    * (plan-spec'd), ties broken on the pair so the k boundary is
    * engine-deterministic.
    */
  def copurchase(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val items = Source.table(spark, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey")).distinct()
    items.select(col("o"), col("l_partkey").as("part_a"))
      .join(items.select(col("o"), col("l_partkey").as("part_b")), Seq("o"))
      .where(col("part_a") < col("part_b"))
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
      .limit(k)
  }

  /** Lift-scored co-purchase mining — [[copurchase]]'s statistically
    * honest sibling: raw pair counts surface whatever is POPULAR;
    * `lift = P(ab) / (P(a)·P(b))` surfaces what is ASSOCIATED (lift 1
    * = independence, the recommendation signal), with
    * `confidence = P(b|a)` alongside. A minimum-support floor keeps
    * one-off co-occurrences of rare items from posting infinite-ish
    * lifts — the standard association-rule hygiene.
    *
    * Scale shape: [[copurchase]]'s bounded self-join feeds the pair
    * census; item marginals are one aggregate on the part key joined
    * back un-hinted (vocabulary-sized — AQE broadcasts when small,
    * shuffles when not); the order total is a ONE-ROW aggregate
    * broadcast back. Lift and confidence are each exact int64 products
    * → ONE IEEE division (`(n_ab·N) / (n_a·n_b)`) — never a chain of
    * pre-divided probabilities, whose intermediate rounding could
    * reorder ties between engines; the cut is TakeOrderedAndProject
    * with ties broken on the pair.
    */
  def copurchaseLift(spark: SparkSession, dir: String,
                     k: Int = 20, minSupport: Long = 3L): DataFrame = {
    require(minSupport >= 1, "minSupport must be >= 1")
    val items = Source.table(spark, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey")).distinct()
    val total = items.select(col("o")).distinct()
      .agg(count(lit(1)).as("n_orders_total"))
    val marg = items.groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
    val pairs = items.select(col("o"), col("l_partkey").as("part_a"))
      .join(items.select(col("o"), col("l_partkey").as("part_b")), Seq("o"))
      .where(col("part_a") < col("part_b"))
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= minSupport)
    pairs
      .join(marg.select(col("l_partkey").as("part_a"), col("n").as("n_a")),
        Seq("part_a"))
      .join(marg.select(col("l_partkey").as("part_b"), col("n").as("n_b")),
        Seq("part_b"))
      .crossJoin(broadcast(total))
      .select(col("part_a"), col("part_b"), col("n_ab"),
        ((col("n_ab") * col("n_orders_total")).cast("double")
          / (col("n_a") * col("n_b")).cast("double")).as("lift"),
        (col("n_ab").cast("double") / col("n_a").cast("double"))
          .as("confidence"))
      .orderBy(col("lift").desc, col("part_a"), col("part_b"))
      .limit(k)
  }

  /** Time-to-convert funnel latency: per user, the gap between their
    * FIRST `fromType` event and their first `toType` event at-or-after
    * it, rolled up per signup-day cohort as a conversion count and the
    * median gap in seconds — the "how long does onboarding take, and
    * is it getting slower for new cohorts" read [[funnel]]'s pure
    * counts can't answer.
    *
    * Scale shape: the first-`fromType` frame is a user-grain aggregate
    * (one user shuffle, map-side combine); conversions come from an
    * EQUI-join of `toType` events on the user key with the inequality
    * as a post-join filter — never a range join, and never a window
    * over the merged stream that would re-shuffle all event types;
    * a second user-grain aggregate takes the earliest qualifying
    * conversion. Gaps are pure int64 nanosecond arithmetic (`div` on
    * non-negative operands); the cohort median rides the
    * exact-interpolated `percentile` + round-6 parity recipe (15g)
    * over the cohort-day-grain frame. Users who never convert simply
    * drop from the inner join — the funnel denominator lives in
    * [[funnelSteps]], this operator measures latency.
    */
  def funnelTime(spark: SparkSession, dir: String,
                 fromType: String = "signup",
                 toType: String = "purchase"): DataFrame = {
    val day = 86400L * 1000000000L
    val raw = Source.table(spark, dir, "events")
    val ev = raw.select(col("user_id"),
      graft.tsdb.Db.tsNs(raw.schema).as("ts"), col("event_type"))
    val first = ev.where(col("event_type") === fromType)
      .groupBy(col("user_id")).agg(min(col("ts")).as("from_ts"))
    val conv = ev.where(col("event_type") === toType)
      .join(first, Seq("user_id"))
      .where(col("ts") >= col("from_ts"))
      .groupBy(col("user_id"), col("from_ts"))
      .agg(min(col("ts")).as("to_ts"))
    conv
      .select((expr(s"from_ts div ${day}L") * lit(day)).as("cohort_day"),
        expr("(to_ts - from_ts) div 1000000000").as("delta_s"))
      .groupBy(col("cohort_day"))
      .agg(count(lit(1)).as("n_conv"),
        round(expr("percentile(cast(delta_s as double), 0.5d)"), 6)
          .as("median_s"))
  }

  /** RFM customer segmentation — per customer: recency (days since
    * their last order, relative to the corpus's latest order),
    * frequency (order count), monetary (exact-decimal lifetime spend),
    * each scored 1–4 by which side of the three population quartiles
    * the value falls on, plus the composite `segment = r·100+f·10+m`
    * (the marketing-ops read: 144 ≈ "lapsed whale", 411 ≈ "fresh
    * one-timer"). The reference has no customer axis; this extends the
    * star schema the way [[q10Returns]] does.
    *
    * Scale shape: ONE orders scan collapses to the customer-grain
    * frame (one custkey shuffle, map-side combine), and ONE bounded
    * one-row aggregate over it computes the corpus "now" AND all nine
    * quartile boundaries together, broadcast back (never a global
    * window — an `ntile(5)` formulation would funnel every customer
    * through a single partition). Recency needs no second pass: with
    * `last_day = last_ns div day` (order dates are day-aligned, so
    * this commutes with the subtraction) the linear-transform identity
    * `quantile_p(now − X) = now − quantile_{1−p}(X)` lets recency be
    * SCORED directly against the `last_day` quartiles — older last
    * order ⇒ smaller `last_day` ⇒ more `<` comparisons true ⇒ higher
    * r_score, the same direction as scoring recency itself (a naive
    * recency-quartile formulation costs an extra full pass over the
    * customer frame just to materialize `now` first — this one's plan
    * has exactly two aggregates, total). Day arithmetic is pure int64
    * (`div` on positive operands — engine-exact); quartiles ride the
    * exact-interpolated `percentile` + round-6 recipe whose
    * cross-engine parity ts_quantile proves (exact percentile buffers
    * the customer-grain frame in the one-row reduce — at true corpus
    * scale swap in approx_percentile under a band gate, the 15g/15t
    * treatment); scores are `1 + Σ(boolean)` — boolean-to-int sums on
    * bit-identical operands, so a boundary can never flip between
    * engines.
    */
  def rfm(spark: SparkSession, dir: String): DataFrame = {
    val dayNs = 86400000000000L
    val orders = Source.table(spark, dir, "orders")
    val ns = expr("unix_micros(cast(o_orderdate as timestamp)) * 1000")
    val cust = orders
      .groupBy(col("o_custkey").as("cust_key"))
      .agg(max(ns).as("last_ns"), count(lit(1)).as("frequency"),
        sum(col("o_totalprice").cast("decimal(28,6)")).cast("double")
          .as("monetary"))
      .select(col("cust_key"), expr(s"last_ns div ${dayNs}L").as("last_day"),
        col("frequency"), col("monetary"))
    def q(c: String, p: Double, as: String) =
      round(expr(s"percentile(cast($c as double), ${p}d)"), 6).as(as)
    val bounds = cust.agg(
      max(col("last_day")).as("now_day"),
      q("last_day", 0.25, "l25"), q("last_day", 0.5, "l50"),
      q("last_day", 0.75, "l75"),
      q("frequency", 0.25, "f25"), q("frequency", 0.5, "f50"),
      q("frequency", 0.75, "f75"),
      q("monetary", 0.25, "m25"), q("monetary", 0.5, "m50"),
      q("monetary", 0.75, "m75"))
    def score(c: String, p: String) =
      (lit(1) + (col(c).cast("double") > col(s"${p}25")).cast("int")
        + (col(c).cast("double") > col(s"${p}50")).cast("int")
        + (col(c).cast("double") > col(s"${p}75")).cast("int"))
    // recency scored on the last_day axis (reversed comparisons — the
    // linear-transform identity above)
    def rScore =
      (lit(1) + (col("last_day").cast("double") < col("l75")).cast("int")
        + (col("last_day").cast("double") < col("l50")).cast("int")
        + (col("last_day").cast("double") < col("l25")).cast("int"))
    cust.crossJoin(broadcast(bounds))
      .select(col("cust_key"),
        (col("now_day") - col("last_day")).as("recency_days"),
        col("frequency"), col("monetary"),
        rScore.as("r_score"),
        score("frequency", "f").as("f_score"),
        score("monetary", "m").as("m_score"))
      .withColumn("segment",
        col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
  }
}

package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{NtpIds, TimeFns}
import graft.versions.Versions
import graft.harvest.StorageSync

/** Driver contract — one `queries` entry + `oracleSql` entry per
  * implemented operator family from SURVEY.md §2, all runnable on the
  * driver testdata tables (TESTDATA.md).
  *
  * Oracle-parity conventions (load-bearing — see tools/check_oracle.py):
  *  - every floating aggregate goes through exact int64 intermediates on
  *    the cents grid (order-independent sums, identical in Spark and
  *    DuckDB), then one deterministic bigint->double cast + division;
  *  - per-row double arithmetic is kept to the same parenthesization on
  *    both sides (IEEE ops are bit-deterministic);
  *  - every output column is string/bigint/double/boolean/timestamp with a
  *    lowercase alias, identical in both engines;
  *  - every query ends in a total ORDER BY.
  */
object SparkEntry {

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Land a query body's INDEPENDENT per-drop segments concurrently
    * (optimization guide §2.6 via [[graft.core.Overlap]]): each drop
    * writes its own `seg=<drop>` directory through its own staged swap,
    * so the landings share nothing; the merged serve is an
    * order-independent fold (sums / distinct / sketch merges), so the
    * landing ORDER was never semantic — only the wall clock moves.
    * The first landing's error (in item order) is raised only after
    * every landing has ended, so none still writes into a scratch dir
    * the caller deletes next.
    */
  private[graft] def parDrops[T](items: Seq[T])(f: T => Unit): Unit =
    graft.core.Overlap.all(items.map(it => () => f(it)))

  /** events.parquet's `ts` physical encoding has drifted across driver
    * testdata generations — TIMESTAMP(NANOS) (which Spark reads as a raw
    * long under spark.sql.legacy.parquet.nanosAsLong=true), then
    * TIMESTAMP(MICROS) unadjusted (read as TIMESTAMP_NTZ). The reference
    * is deliberately tolerant of upstream dtype drift (ntp_utils.py:71-112
    * parse_parquet accepts whatever dtypes arrive), so the engine is too:
    * branch on the LOADED dtype and normalize to a session-tz TimestampType
    * column carrying the same instants DuckDB sees reading the same file.
    */
  private[graft] def decodeEventsTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      // nanos-as-long: truncating div to micros — the same truncation
      // DuckDB applies reading a TIMESTAMP_NS file
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // unadjusted micros (TIMESTAMP_NTZ): instants are identical under
      // the UTC session tz; cast so downstream ops/oracle schemas agree
      case _: TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _: TimestampType => df
      case other => throw new IllegalStateException(
        s"events.ts: unsupported parquet encoding $other (expected int64-nanos, TIMESTAMP(MICROS), or TIMESTAMP_NTZ)")
    }
  }

  private[graft] def events(s: SparkSession, dir: String): DataFrame =
    decodeEventsTs(t(s, dir, "events"))

  /** Streaming twin of [[events]]: readStream needs an explicit schema, so
    * sniff the file's actual footer schema with the batch reader first,
    * then apply the same dtype-adaptive decode. One batch footer read per
    * query — O(1), not O(data).
    */
  private[graft] def eventsStream(s: SparkSession, dir: String): DataFrame = {
    val fileSchema = s.read.parquet(s"$dir/events.parquet").schema
    decodeEventsTs(
      s.readStream.schema(fileSchema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
  }

  /** The money/value columns in the testdata are 2-decimal values stored
    * as doubles. Exact, order-independent aggregation: snap to the integer
    * cents grid, sum as int64 (exact), and perform one deterministic
    * bigint->double cast + division at the end. Both engines compute the
    * identical double, unlike summing doubles (order-dependent) or casting
    * doubles to wide decimals (Spark uses the shortest-repr string, DuckDB
    * the exact binary expansion — they disagree at the 10th decimal).
    */
  private[graft] def cents(c: Column): Column = round(c * 100).cast("long")

  /** sum of a 2-decimal money column -> exact double. */
  private def moneySum(c: Column): Column = sum(cents(c)).cast("double") / 100.0

  /** sum of price*(1-discount) with 2-decimal price and discount -> exact double. */
  private def revenueSum(price: Column, discount: Column): Column =
    sum(cents(price) * (lit(100L) - cents(discount))).cast("double") / 10000.0

  /** ntp-shaped versioned-records table derived deterministically from
    * `orders`: surrogate id from the order key (every 7th key routed to
    * the minors group), natural key = customer, version timestamp =
    * order date in the reference's canonical 19-char form.
    */
  private[graft] def versionsDf(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").select(
      NtpIds.setNtpId(
        when(col("o_orderkey") % 7 === 0, col("o_orderkey") + NtpIds.MinOrderMinors)
          .otherwise(col("o_orderkey"))).as("_id"),
      col("o_orderkey").as("ok"),
      col("o_custkey").as("nk"),
      TimeFns.canon(col("o_orderdate")).as("updated"),
      col("o_orderstatus").as("status"),
      col("o_totalprice").as("totalprice"),
      col("o_orderpriority").as("priority"))
  }

  private[graft] val versionsSelect =
    """SELECT printf('ntp%08d', CASE WHEN o_orderkey % 7 = 0 THEN o_orderkey + 10000000 ELSE o_orderkey END) AS _id,
      |         o_orderkey AS ok, o_custkey AS nk,
      |         strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS updated,
      |         o_orderstatus AS status, o_totalprice AS totalprice, o_orderpriority AS priority
      |  FROM orders""".stripMargin

  private[graft] val versionsCte = s"WITH v AS (\n$versionsSelect)"

  /** Flagship: the full versioned-ingest slice (SURVEY §3.1) on sf0.001 —
    * derive versions, resolve the active row per natural key.
    */
  def entry(spark: SparkSession): DataFrame =
    Versions.resolveLatest(versionsDf(spark, "/root/testdata/sf0.001"), "nk", "_id", "updated")

  // ---------------------------------------------------------------- queries

  /** The end-to-end machinery journeys: queries that build a scratch
    * lake/index/sketch root on disk, land multiple drops/versions, then
    * serve — their wall time is dominated by many small staged-swap
    * write jobs, not by a query plan. Bench reports this tier separately
    * from the pure-plan tier so a plan regression in the 0.1-0.8 s pure
    * queries cannot hide inside the ±1 s of filesystem noise these
    * carry. Membership = "the query body creates a scratch temp dir"
    * (VerifyContractSpec pins the set against the query map).
    */
  val integrationQueries: Set[String] = Set(
    "dedup_cluster_incremental", "dedup_incremental", "ingest_orc_roundtrip", "ntp_repair_report",
    "q_approx_distinct_bound", "q_cdc_consume", "q_distinct_incremental",
    "q_hll_set_algebra",
    "q_heavy_hitters", "q_hist_median_est", "q_lake_point_lookup",
    "q_lake_time_travel", "q_quantile_sketch_bound", "q_snapshot_changes",
    "q_snapshot_point_lookup", "q_stream_topk", "q_summary_cdc", "q_summary_incremental",
    "q_zonemap_agg", "q_zonemap_range",
    "enrich_fuzzy_indexed",
    "pca_moments_incremental", "sem_cluster_incremental", "sim_ivf_persisted_topk",
    "sim_imi_persisted_topk",
    "sim_imi_opq_persisted_topk",
    "sim_opq_persisted_topk",
    "sim_pq_persisted_topk",
    "sim_mmr_indexed", "sim_mmr_pq", "sim_recall_board", "sim_hier_m_board",
    "txt_bm25_indexed", "txt_bpe_apply", "txt_clf_persisted", "txt_dsir_incremental",
    "txt_lm_incremental", "txt_stats_incremental")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map[String, (SparkSession, String) => DataFrame](
    // A2/A3-style wide aggregation (TPC-H Q1 shape)
    "q01_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(round(col("l_quantity")).cast("long")).cast("double").as("sum_qty"),
          moneySum(col("l_extendedprice")).as("sum_base_price"),
          revenueSum(col("l_extendedprice"), col("l_discount")).as("sum_disc_price"),
          (sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))) * (lit(100L) + cents(col("l_tax"))))
            .cast("double") / 1000000.0).as("sum_charge"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // J-family: 3-way join + agg + top-k (TPC-H Q3 shape)
    "q03_shipping_priority" -> ((s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders").filter(col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1998-03-15 00:00:00")))
      val l = t(s, dir, "lineitem").filter(col("l_shipdate") > lit(java.sql.Timestamp.valueOf("1998-03-15 00:00:00")))
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(revenueSum(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .select(col("l_orderkey"), col("revenue"), col("o_orderdate"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // J-family: 6-way star join with broadcast dims (TPC-H Q5 shape)
    "q05_local_supplier_volume" -> ((s, dir) => {
      val r = broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA"))
      val n = broadcast(t(s, dir, "nation"))
      val sup = broadcast(t(s, dir, "supplier"))
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1995-01-01 00:00:00")) &&
          col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")))
      val l = t(s, dir, "lineitem")
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(n, col("s_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(revenueSum(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // P-family: highly selective scan-level conjunction (TPC-H Q6 shape)
    // — the pushdown showcase: all three predicates and the two read
    // columns must reach the parquet scan (PushedFilters/ReadSchema), so
    // at 100 TB the job reads row groups whose min/max admit the window,
    // never the table
    "q06_forecast_revenue" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
          col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
          cents(col("l_discount")).between(5L, 7L) && col("l_quantity") < 24)
        .agg((sum(cents(col("l_extendedprice")) * cents(col("l_discount")))
            .cast("double") / 10000.0).as("revenue"),
          count(lit(1)).as("n"))
    }),

    // J-family: EXISTS-decorrelated semi join + priority histogram
    // (TPC-H Q4 shape, adapted to the driver schema: the qualifying
    // lineitem predicate is returnflag='R' since commit/receipt dates
    // don't exist here). The filter on the probe side runs BEFORE the
    // semi join, so the build side ships only qualifying orderkeys.
    "q04_order_priority" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
          col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1996-04-01 00:00:00")))
      val l = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"))
      o.join(l, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    }),

    // J-family: returned-item revenue per customer, 4-way join + top-k
    // (TPC-H Q10 shape) — nation broadcasts, the orders date window and
    // the returnflag filter both push to their scans before the fact
    // join, and the top-20 is a TakeOrdered, never a global sort
    "q10_returned_items" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val n = broadcast(t(s, dir, "nation"))
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
          col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1996-07-01 00:00:00")))
      val l = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(revenueSum(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // A-family: conditional aggregation over a fact-dim join (TPC-H Q14
    // shape — promo revenue share): one month of lineitem joins part on
    // the part key, the CASE folds inside the same aggregate pass, and
    // the share is one deterministic division of two cents-grid sums
    "q14_promo_revenue" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1996-03-01 00:00:00")) &&
          col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1996-04-01 00:00:00")))
      val p = broadcast(t(s, dir, "part").select(col("p_partkey"), col("p_type")))
      val disc = cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))
      l.join(p, col("l_partkey") === col("p_partkey"))
        .agg(
          (sum(when(col("p_type") === "PROMO", disc).otherwise(lit(0L))).cast("double") * 100.0 /
            sum(disc).cast("double")).as("promo_pct"),
          count(lit(1)).as("n"))
    }),

    // A/J-family: argmax via a broadcast scalar (TPC-H Q15 shape — top
    // supplier): quarterly revenue per supplier, the global max revenue
    // computed once as a 1-row aggregate and broadcast back, so finding
    // "who achieved the maximum" costs one extra aggregate-sized join,
    // never a second fact scan or a global sort
    "q15_top_supplier" -> ((s, dir) => {
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
          col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1996-04-01 00:00:00")))
        .groupBy(col("l_suppkey"))
        .agg(sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
          .as("__revc"))
        // materialize the aggregate-sized frame once: referencing the lazy
        // plan from both the max branch and the filter branch would expand
        // it twice and SCAN THE FACT TABLE TWICE (verified via explain)
        .localCheckpoint(true)
      val top = rev.agg(max(col("__revc")).as("__maxc"))
      rev.crossJoin(broadcast(top))
        .filter(col("__revc") === col("__maxc"))
        .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          (col("__revc").cast("double") / 10000.0).as("total_revenue"))
        .orderBy(col("s_suppkey"))
    }),

    // A/J-family: HAVING-gated semi join (TPC-H Q18 shape — large-volume
    // orders): the qualifying orderkey set is an aggregate + filter
    // (map-side combined, aggregate-sized output), then orders/customer
    // join only against that set; top-20 is a TakeOrdered
    "q18_large_volume" -> ((s, dir) => {
      val big = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(round(col("l_quantity")).cast("long")).as("total_qty"))
        .filter(col("total_qty") > 200L)
      t(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"),
          col("total_qty").cast("double").as("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
    }),

    // J-family: two-nation trade volume (TPC-H Q7 shape — volume
    // shipping): supplier and customer both pre-restricted to the two
    // nations via broadcast joins against the filtered nation dim, so
    // the fact join carries only candidate rows; the cross-pair filter
    // (different nations on each side) runs after both attaches; the
    // date window pushes to the lineitem scan
    "q07_volume_shipping" -> ((s, dir) => {
      val nn = t(s, dir, "nation").filter(col("n_name").isin("NATION_1", "NATION_2"))
      val sup = t(s, dir, "supplier")
        .join(broadcast(nn.select(col("n_nationkey").as("__snk"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("__snk"))
        .select(col("s_suppkey"), col("supp_nation"))
      val cus = t(s, dir, "customer")
        .join(broadcast(nn.select(col("n_nationkey").as("__cnk"), col("n_name").as("cust_nation"))),
          col("c_nationkey") === col("__cnk"))
        .select(col("c_custkey"), col("cust_nation"))
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1995-01-01 00:00:00")) &&
          col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")))
      l.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(cus, col("o_custkey") === col("c_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(revenueSum(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }),

    // A/J-family: national market share (TPC-H Q8 shape): the ASIA
    // customer filter rides a broadcast nation⨝region attach, the
    // STANDARD part filter and the supplier-nation name both broadcast;
    // the share is one deterministic division of two cents-grid sums
    // folded in a single aggregate pass per order year
    "q08_market_share" -> ((s, dir) => {
      val p = broadcast(t(s, dir, "part").filter(col("p_type") === "STANDARD")
        .select(col("p_partkey")))
      val sup = broadcast(t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation").select(col("n_nationkey").as("__snk"),
          col("n_name").as("__snation"))), col("s_nationkey") === col("__snk"))
        .select(col("s_suppkey"), col("__snation")))
      val asiaNations = broadcast(t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("__ank")))
      val cus = t(s, dir, "customer")
        .join(asiaNations, col("c_nationkey") === col("__ank"))
        .select(col("c_custkey"))
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1995-01-01 00:00:00")) &&
          col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")))
      val volc = cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))
      t(s, dir, "lineitem")
        .join(p, col("l_partkey") === col("p_partkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(cus, col("o_custkey") === col("c_custkey"), "left_semi")
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg((sum(when(col("__snation") === "NATION_2", volc).otherwise(lit(0L))).cast("double") /
          sum(volc).cast("double")).as("mkt_share"))
        .orderBy(col("o_year"))
    }),

    // A/J-family: customer order-count distribution (TPC-H Q13 shape):
    // LEFT OUTER with the anti-predicate inside the join condition so
    // zero-order customers survive with count 0; two aggregate-sized
    // group-bys, the second over at most max-order-count rows
    "q13_customer_distribution" -> ((s, dir) => {
      val o = t(s, dir, "orders").filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
        .select(col("o_custkey"), col("o_orderkey"))
      t(s, dir, "customer")
        .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // A/J-family: small-quantity-order revenue (TPC-H Q17 shape —
    // correlated per-part average): the brand-scoped fact slice is
    // materialized ONCE (localCheckpoint, the q15 discipline) and feeds
    // both the per-part quantity stats and the final filter; the
    // correlated `qty < 0.2 * avg(qty)` comparison runs as exact
    // integer cross-multiplication (qty*5*n < sum), no doubles anywhere
    // until the single output division
    "q17_small_quantity_revenue" -> ((s, dir) => {
      val bp = broadcast(t(s, dir, "part").filter(col("p_brand") === "Brand#23")
        .select(col("p_partkey")))
      val lp = t(s, dir, "lineitem")
        .join(bp, col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), round(col("l_quantity")).cast("long").as("__qty"),
          col("l_extendedprice"))
        .localCheckpoint(true)
      val pq = lp.groupBy(col("l_partkey").as("__pk"))
        .agg(count(lit(1)).as("__pn"), sum(col("__qty")).as("__psq"))
      lp.join(broadcast(pq), col("l_partkey") === col("__pk"))
        .filter(col("__qty") * lit(5L) * col("__pn") < col("__psq"))
        .agg((moneySum(col("l_extendedprice")) / 7.0).as("avg_yearly"),
          count(lit(1)).as("n"))
    }),

    // P/J-family: disjunctive predicate pushdown (TPC-H Q19 shape): the
    // three-brand union prunes the part scan, the per-branch size
    // bounds ride the broadcast dim, and the quantity arm of each
    // disjunct evaluates post-join on the cents-free integer grid
    "q19_disjunctive_revenue" -> ((s, dir) => {
      val p = broadcast(t(s, dir, "part")
        .filter((col("p_brand") === "Brand#12" && col("p_size").between(1, 5)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10)) ||
          (col("p_brand") === "Brand#34" && col("p_size").between(1, 15)))
        .select(col("p_partkey"), col("p_brand")))
      val qty = round(col("l_quantity")).cast("long")
      t(s, dir, "lineitem")
        .join(p, col("l_partkey") === col("p_partkey"))
        .filter((col("p_brand") === "Brand#12" && qty.between(1L, 11L)) ||
          (col("p_brand") === "Brand#23" && qty.between(10L, 20L)) ||
          (col("p_brand") === "Brand#34" && qty.between(20L, 30L)))
        .agg(revenueSum(col("l_extendedprice"), col("l_discount")).as("revenue"),
          count(lit(1)).as("n"))
    }),

    // A/X-family: dormant high-balance customers (TPC-H Q22 shape): the
    // positive-balance average comparison runs as exact integer
    // cross-multiplication against a broadcast 1-row aggregate
    // (bal*n > sum), recent-order holders drop via one anti join, and
    // the result is an aggregate per nation
    "q22_sales_opportunity" -> ((s, dir) => {
      val pos = t(s, dir, "customer").filter(col("c_acctbal") > 0.0)
        .agg(sum(cents(col("c_acctbal"))).as("__s"), count(lit(1)).as("__n"))
      val recent = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1999-01-01 00:00:00")))
        .select(col("o_custkey"))
      t(s, dir, "customer")
        .crossJoin(broadcast(pos))
        .filter(cents(col("c_acctbal")) * col("__n") > col("__s"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("numcust"), moneySum(col("c_acctbal")).as("totacctbal"))
        .orderBy(col("nationkey"))
    }),

    // J/W-family: min-cost supplier per part (TPC-H Q2 shape — the
    // correlated `cost = (SELECT min(cost) ...)` subquery decorrelated
    // as a window min). The offer table (partsupp stand-in) is derived
    // once from the fact restricted by BOTH broadcast dims BEFORE the
    // pair aggregate, so the shuffle carries only qualifying pairs; the
    // per-part minimum rides a window over the pair-sized frame (one
    // extra pair-sized shuffle, never a second fact scan), and supplier
    // attributes re-attach by broadcast after the aggregate
    "q02_min_cost_supplier" -> ((s, dir) => {
      val selp = broadcast(t(s, dir, "part")
        .filter(col("p_size") <= 15 && col("p_type") === "STANDARD")
        .select(col("p_partkey")))
      val asupp = broadcast(t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
          .join(broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name")))
      val ps = t(s, dir, "lineitem")
        .join(selp, col("l_partkey") === col("p_partkey"))
        .join(asupp.select(col("s_suppkey")), col("l_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(cents(col("l_extendedprice"))).as("__cost"))
      val w = Window.partitionBy(col("l_partkey"))
      ps.withColumn("__minc", min(col("__cost")).over(w))
        .filter(col("__cost") === col("__minc"))
        .join(asupp, col("l_suppkey") === col("s_suppkey"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("l_partkey").as("p_partkey"),
          (col("__cost").cast("double") / 100.0).as("min_cost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
    }),

    // A/J-family: profit rollup by supplier nation and ship year (TPC-H
    // Q9 shape): both dims broadcast onto the fact, the profit measure
    // (revenue minus retail cost) folds on an exact 1/10000-dollar
    // integer grid inside ONE aggregate pass — negative line profits are
    // exact too, so the sum is order-independent
    "q09_product_profit" -> ((s, dir) => {
      val p = broadcast(t(s, dir, "part").filter(col("p_name").contains("widget"))
        .select(col("p_partkey"), cents(col("p_retailprice")).as("__rp")))
      val sup = broadcast(t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name")))
      val profit = cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))) -
        col("__rp") * lit(100L) * round(col("l_quantity")).cast("long")
      t(s, dir, "lineitem")
        .join(p, col("l_partkey") === col("p_partkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("n_name").as("nation"), year(col("l_shipdate")).cast("long").as("o_year"))
        .agg((sum(profit).cast("double") / 10000.0).as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }),

    // A-family: parts above a fraction of global value (TPC-H Q11 shape
    // — HAVING against a global scalar): the per-part aggregate is
    // materialized ONCE (q15 discipline — both the total and the filter
    // read it, a lazy plan would scan the fact twice), the global total
    // is a broadcast 1-row aggregate, and the fraction compare runs as
    // exact integer cross-multiplication (vc*1000 > total)
    "q11_important_parts" -> ((s, dir) => {
      val euro = broadcast(t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
          .join(broadcast(t(s, dir, "region").filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey")))
      val g = t(s, dir, "lineitem")
        .join(euro, col("l_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy(col("l_partkey"))
        .agg(sum(cents(col("l_extendedprice"))).as("__vc"))
        .localCheckpoint(true)
      val tot = g.agg(sum(col("__vc")).as("__tot"))
      g.crossJoin(broadcast(tot))
        .filter(col("__vc") * lit(1000L) > col("__tot"))
        .select(col("l_partkey").as("partkey"),
          (col("__vc").cast("double") / 100.0).as("value"))
        .orderBy(col("value").desc, col("partkey"))
    }),

    // A/J-family: two-way conditional line counts by flag (TPC-H Q12
    // shape — shipmode priority split, adapted: returnflag plays the
    // shipmode dimension since the driver schema has no shipmode): the
    // ship-year window pushes to the fact scan, the order join carries
    // only (orderkey, priority), and both CASE counts fold in one
    // aggregate pass
    "q12_priority_lines" -> ((s, dir) => {
      val urgent = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
          col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")))
        .select(col("l_orderkey"), col("l_returnflag"))
      l.join(t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(sum(when(urgent, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(urgent, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy(col("l_returnflag"))
    }),

    // A/X-family: distinct supplier counts per part attribute (TPC-H
    // Q16 shape): the brand/type/size slice prunes the broadcast part
    // dim, complained-about suppliers drop via one broadcast anti join
    // (NOT IN over a never-null key), and the count(DISTINCT) shuffles
    // pairs, never raw lines
    "q16_supplier_part_counts" -> ((s, dir) => {
      val p = broadcast(t(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#23" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 4, 7, 10, 14, 19, 23, 36, 45, 49))
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size")))
      val bad = broadcast(t(s, dir, "supplier").filter(col("s_acctbal") < 2000.0)
        .select(col("s_suppkey")))
      t(s, dir, "lineitem").select(col("l_partkey"), col("l_suppkey"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .join(bad, col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
    }),

    // A/J-family: suppliers whose recent share exceeds half their total
    // (TPC-H Q20 shape — the nested `> 0.5 * (SELECT sum ...)`
    // correlated threshold): both conditional sums fold in ONE pair
    // aggregate over the brand-sliced fact (the correlated subquery
    // never runs per-row), the half compare is exact integer
    // cross-multiplication, and the supplier/nation gates are semi joins
    "q20_excess_share_suppliers" -> ((s, dir) => {
      val lp = broadcast(t(s, dir, "part").filter(col("p_name").startsWith("large"))
        .select(col("p_partkey")))
      val qty = round(col("l_quantity")).cast("long")
      val in96 = col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
        col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00"))
      val sel = t(s, dir, "lineitem")
        .join(lp, col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(when(in96, qty).otherwise(0L)).as("__q96"), sum(qty).as("__qall"))
        .filter(col("__q96") * lit(2L) > col("__qall"))
        .select(col("l_suppkey"))
      val asiaN = broadcast(t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey")))
      t(s, dir, "supplier")
        .join(sel, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .join(asiaN, col("s_nationkey") === col("n_nationkey"), "left_semi")
        .select(col("s_name"), col("s_acctbal"))
        .orderBy(col("s_name"))
    }),

    // A/J/W-family: the sole late supplier of multi-supplier orders
    // (TPC-H Q21 shape — EXISTS l2 / NOT EXISTS l3 self-joins,
    // decorrelated): one pair aggregate over the F-status fact (late
    // flag + late-line count per order×supplier), then BOTH existence
    // tests ride one window over the pair-sized frame — supplier count
    // and late-supplier count per order — so the fact is scanned once,
    // vs three times for the literal semi+anti formulation; lateness is
    // shipdate > orderdate + 90 days (the driver schema has no
    // commit/receipt dates)
    "q21_waiting_suppliers" -> ((s, dir) => {
      val o = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      val late = col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS")
      val pairs = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(late).as("__late"), sum(when(late, 1L).otherwise(0L)).as("__nll"))
      val w = Window.partitionBy(col("l_orderkey"))
      pairs
        .withColumn("__ns", count(lit(1)).over(w))
        .withColumn("__nlate", sum(when(col("__late"), 1L).otherwise(0L)).over(w))
        .filter(col("__late") && col("__ns") > 1 && col("__nlate") === 1)
        .join(broadcast(t(s, dir, "supplier").select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(sum(col("__nll")).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    }),

    // W-family: ranked window (top-3 per group)
    "q_top3_customers_per_nation" -> ((s, dir) => {
      val w = Window.partitionBy(col("c_nationkey")).orderBy(col("c_acctbal").desc, col("c_custkey"))
      t(s, dir, "customer").join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("n_name"), col("c_name"), col("c_acctbal"))
        .orderBy(col("n_name"), col("c_acctbal").desc, col("c_name"))
    }),

    // W-family: running aggregate frame
    "q_running_revenue" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          (sum(cents(col("o_totalprice"))).over(w).cast("double") / 100.0).as("running_total"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // X-family: FULL OUTER reconciliation — per-nation customer vs
    // supplier balance totals where each side deliberately misses some
    // nations, so both null-sides of the join are exercised; the dim
    // attach resolves the surviving key via coalesce and broadcasts
    "q_nation_balance_fulljoin" -> ((s, dir) => {
      val cust = t(s, dir, "customer").filter(col("c_nationkey") =!= 3)
        .groupBy(col("c_nationkey")).agg(moneySum(col("c_acctbal")).as("cust_bal"))
      val supp = t(s, dir, "supplier").filter(col("s_nationkey") < 12)
        .groupBy(col("s_nationkey")).agg(moneySum(col("s_acctbal")).as("supp_bal"))
      cust.join(supp, col("c_nationkey") === col("s_nationkey"), "full_outer")
        .join(broadcast(t(s, dir, "nation")),
          coalesce(col("c_nationkey"), col("s_nationkey")) === col("n_nationkey"))
        .select(col("n_name"),
          coalesce(col("cust_bal"), lit(0.0)).as("cust_bal"),
          coalesce(col("supp_bal"), lit(0.0)).as("supp_bal"))
        .orderBy(col("n_name"))
    }),

    // A-family: relational PIVOT — status counts spread into one column
    // per status value (explicit value list keeps the plan single-pass:
    // no distinct-scan to discover columns)
    "q_pivot_status" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p"))
        .orderBy(col("o_orderpriority"))
    }),

    // A-family: CUBE — all four grouping combinations in one pass
    // (completes the multi-grouping trio beside GROUPING SETS and ROLLUP)
    "q_cube_orders" -> ((s, dir) => {
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("total_price"))
        .select(coalesce(col("o_orderstatus"), lit("(all)")).as("dim_status"),
          coalesce(col("o_orderpriority"), lit("(all)")).as("dim_priority"),
          col("n"), col("total_price"))
        .orderBy(col("dim_status"), col("dim_priority"))
    }),

    // W-family: the remaining analytic-window inventory in one pass —
    // lag/lead on the cents grid, ntile buckets, percent_rank (exact:
    // (rank-1)/(n-1) of small ints divides identically in any engine);
    // one window spec shared by all four, so one sort per partition
    "q_window_suite" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        lag(cents(col("o_totalprice")), 1).over(w).as("prev_cents"),
        lead(cents(col("o_totalprice")), 1).over(w).as("next_cents"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("pct_rank"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // X-family: the remaining relational set operators explicitly —
    // INTERSECT / EXCEPT (distinct) and their ALL multiset forms over
    // two overlapping projections, reported as cardinalities
    "q_set_ops" -> ((s, dir) => {
      def side(m: Int) = t(s, dir, "customer")
        .filter(col("c_custkey") % m === 0)
        .select(col("c_nationkey"), col("c_mktsegment"))
      val a = side(2)
      val b = side(3)
      Seq(
        ("intersect", a.intersect(b)), ("except", a.except(b)),
        ("intersect_all", a.intersectAll(b)), ("except_all", a.exceptAll(b)))
        .map { case (op, df) => df.agg(count(lit(1)).as("n")).select(lit(op).as("op"), col("n")) }
        .reduce(_.unionByName(_))
        .orderBy(col("op"))
    }),

    // A2/K8: calc_summary one-pass GROUPING SETS (reference calc_summary.py:55-78)
    "q_summary_grouping_sets" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_gs")
      s.sql(
        """SELECT coalesce(o_orderstatus, '(all)') AS dim_status,
          |       coalesce(o_orderpriority, '(all)') AS dim_priority,
          |       count(*) AS n
          |FROM orders_gs
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          |ORDER BY dim_status, dim_priority""".stripMargin)
    }),

    // P5/J-family: anti join (NOT EXISTS)
    "q_customers_no_orders" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // P5/J-family: semi join (EXISTS) + agg
    "q_customer_segments_active" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
        .orderBy(col("c_mktsegment"))
    }),

    // X1-X3/J5: storage sync reconciliation manifest
    "q_sync_reconcile" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val origin = o.filter(col("o_orderkey") % 2 === 0)
        .select(concat(NtpIds.setNtpId(col("o_orderkey")), lit("_doc.pdf")).as("name"))
      val dest = o.filter(col("o_orderkey") % 3 === 0)
        .select(concat(NtpIds.setNtpId(col("o_orderkey")), lit("_doc.pdf")).as("name"))
      StorageSync.reconcile(origin, dest).orderBy(col("op"), col("name"))
    }),

    // W2/J2: latest-active-version resolution
    "ntp_latest_versions" -> ((s, dir) => {
      Versions.resolveLatest(versionsDf(s, dir), "nk", "_id", "updated")
        .select(col("_id"), col("nk"), col("updated"))
        .orderBy(col("nk"))
    }),

    // J3/K1: tombstone fan-out with updated_to pointers
    "ntp_tombstones" -> ((s, dir) => {
      Versions.tombstones(versionsDf(s, dir), "nk", "_id", "updated")
        .orderBy(col("_id"))
    }),

    // A9/F6: merge_updates — canonical sorted distinct timeline per key
    "ntp_merge_updates" -> ((s, dir) => {
      versionsDf(s, dir).groupBy(col("nk"))
        .agg(array_join(array_sort(array_distinct(collect_list(col("updated")))), ",").as("updates"))
        .orderBy(col("nk"))
    }),

    // F18: field-level diff of the two latest versions per key ('' = the
    // reference's absence marker; mods synthesize added/missing cases)
    "ntp_record_diff" -> ((s, dir) => {
      val w = Window.partitionBy(col("nk")).orderBy(col("updated").desc, col("_id").desc)
      val r = versionsDf(s, dir).withColumn("rn", row_number().over(w))
      val n = r.filter(col("rn") === 1).select(col("nk"),
        when(col("ok") % 3 === 0, "").otherwise(col("status")).as("ns"),
        when(col("ok") % 4 === 0, "").otherwise(col("priority")).as("np"))
      val o = r.filter(col("rn") === 2).select(col("nk"),
        when(col("ok") % 5 === 0, "").otherwise(col("status")).as("os"),
        when(col("ok") % 6 === 0, "").otherwise(col("priority")).as("op"))
      n.join(o, "nk")
        .select(col("nk"), Versions.diffFields(
          struct(col("ns").as("status"), col("np").as("priority")),
          struct(col("os").as("status"), col("op").as("priority")),
          Seq("status", "priority")).as("d"))
        .select(col("nk"),
          array_join(col("d.added"), ",").as("added"),
          array_join(col("d.modified"), ",").as("modified"),
          array_join(col("d.missing"), ",").as("missing"))
        .orderBy(col("nk"))
    }),

    // J7: legacy-recovery — dangling ids look up their natural key in the
    // legacy set and repoint to the key's current active version
    "ntp_legacy_recover" -> ((s, dir) => {
      val v = versionsDf(s, dir)
      val legacy = v.filter(col("ok") % 5 === 0)
      val current = v.filter(col("ok") % 5 =!= 0)
      val actives = Versions.resolveLatest(current, "nk", "_id", "updated")
      val missing = v.filter(col("ok") % 4 === 0).select(col("_id"))
      Versions.recoverLegacy(missing, legacy.select(col("_id"), col("nk")),
          actives.select(col("_id"), col("nk")))
        .orderBy(col("_id"))
    }),

    // K-maintenance: the REAL RepairJob over a REAL partitioned lake whose
    // tombstones each point at the version that superseded them (the
    // one-hop-stale state incremental ingest leaves behind). Stale = the
    // pointer lands on another tombstone (rank >= 3); the report repoints
    // every one to its key's active head, and the lake rewrite rides the
    // partition-scoped upsert. The oracle recomputes the expected report
    // from the same ranking in SQL.
    "ntp_repair_report" -> ((s, dir) => {
      val w = Window.partitionBy(col("nk")).orderBy(col("updated").desc, col("_id").desc)
      val ranked = versionsDf(s, dir).filter(col("nk") % 4 === 0)
        .select(col("_id"), col("nk"), col("updated"))
        .withColumn("rk", row_number().over(w))
        .withColumn("prev", lag(col("_id"), 1).over(w))
      val state = ranked.select(col("_id"), col("nk"),
          when(col("rk") > 1, lit(true)).as("obsolete_version"),
          when(col("rk") > 1, col("prev")).as("updated_to"))
        .withColumn("grp", NtpIds.group(col("_id")))
        // 4 buckets: enough to exercise the partition-scoped rewrite
        // end-to-end; the report is bucket-count-invariant, and 16 made
        // scratch-lake IO ~12 % of the whole bench suite.
        .withColumn("bucket", pmod(hash(col("nk")), lit(4)))
      val tmp = java.nio.file.Files.createTempDirectory("graft_repair_q").toString
      val lake = new graft.lake.LakeTable(s, tmp + "/lake", "_id",
        graft.pipeline.IngestJob.LakePartitionCols, nBuckets = 4)
      lake.overwrite(state)
      val report = graft.pipeline.RepairJob.run(s, lake, "nk")
      // the report is checkpoint-backed; the scratch lake can go
      new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      report.orderBy(col("_id"))
    }),

    // A6 audit: versions-per-key histogram (reference clean_place.py:125-128)
    "ntp_version_histogram" -> ((s, dir) => {
      versionsDf(s, dir).groupBy(col("nk"))
        .agg(count(lit(1)).as("n_versions"))
        .groupBy(col("n_versions")).agg(count(lit(1)).as("n_keys"))
        .orderBy(col("n_versions"))
    }),

    // A8 audit: distinct surrogate ids per natural key must equal the
    // version count (reference check_unique_place_id.py:48-59)
    "ntp_id_audit" -> ((s, dir) => {
      versionsDf(s, dir).groupBy(col("nk"))
        .agg(count(lit(1)).as("n_versions"),
          countDistinct(col("_id")).as("n_ids"))
        .withColumn("ids_unique", col("n_versions") === col("n_ids"))
        .orderBy(col("nk"))
    }),

    // A1/F1-F4: per-group max-id watermark
    "ntp_group_watermarks" -> ((s, dir) => {
      versionsDf(s, dir)
        .groupBy(NtpIds.group(col("_id")).as("grp"))
        .agg(max(col("_id")).as("max_id"),
          max(NtpIds.parseNtpId(col("_id"))).as("max_order"),
          count(lit(1)).as("n"))
        .orderBy(col("grp"))
    }),

    // W1: contiguous per-group id assignment without a global sort
    "ntp_assign_ids" -> ((s, dir) => {
      val grp0 = versionsDf(s, dir).filter(col("ok") % 7 =!= 0).select(col("ok"))
      graft.versions.IdAssign.assignSequential(grp0, "ok", 1L)._1
        .select(col("ok"), NtpIds.setNtpId(col("seq")).as("_id"))
        .orderBy(col("ok"))
    }),

    // F21/J2: timestamp-overlap same-version test between batch and existing
    "ntp_overlap_merge" -> ((s, dir) => {
      val v = versionsDf(s, dir)
      val inc = v.filter(col("ok") % 3 === 0).groupBy(col("nk"))
        .agg(array_sort(collect_set(col("updated"))).as("u_inc"))
      val exi = v.filter(col("ok") % 3 =!= 0).groupBy(col("nk"))
        .agg(array_sort(collect_set(col("updated"))).as("u_exi"))
      inc.join(exi, Seq("nk"))
        .select(col("nk"), TimeFns.updatesOverlap(col("u_inc"), col("u_exi")).as("same_version"))
        .orderBy(col("nk"))
    }),

    // J2/F21/F19/W1 roundtrip: re-deliver ok%3==0 rows against the lake
    // built from the rest — overlapping rows merge id-stable (timeline
    // union + field precedence), the rest get fresh sequential ids from
    // the watermark. Runs the REAL IngestJob.overlapMerge + IdAssign.
    "ntp_ingest_overlap_roundtrip" -> ((s, dir) => {
      val v = versionsDf(s, dir)
      // localCheckpoint, not persist: the query runs three actions
      // (watermark collect, zipWithIndex's partition-size job, the final
      // materialize), and each would otherwise re-run the resolveLatest
      // window and the classification join from the scan. An explicit
      // persist can't be unpersisted here — the caller materializes the
      // returned frame AFTER this function returns — so it leaked a
      // MEMORY_AND_DISK entry per invocation; checkpoint blocks are
      // instead reclaimed by the ContextCleaner once the frame is
      // unreachable (and the bench's between-query unpersist-all).
      val exi = Versions.resolveLatest(v.filter(col("ok") % 3 =!= 0), "nk", "_id", "updated")
        .withColumn("updated_arr", array(col("updated")))
        .localCheckpoint(eager = true)
      val inc = v.filter(col("ok") % 3 === 0)
        .select(col("nk"), col("ok"), col("updated"), col("status"))
        .withColumn("updated_arr", array(col("updated")))
        .withColumn("updated_key", col("updated"))
      val (merged, fresh0, _) = graft.pipeline.IngestJob.overlapMerge(exi, inc, "nk")
      val fresh = fresh0.localCheckpoint(eager = true)
      val mergedOut = merged.select(col("_id"), col("nk"), lit("merged").as("origin"),
        array_join(col("updated_arr"), ",").as("timeline"),
        col("status").as("status_out"), col("ok").as("ok_out"))
      val wm = exi.agg(max(NtpIds.parseNtpId(col("_id")))).collect().head.getLong(0)
      val freshOut = graft.versions.IdAssign.assignSequential(fresh, "ok", wm + 1)._1
        .select(NtpIds.setNtpId(col("seq")).as("_id"), col("nk"), lit("fresh").as("origin"),
          col("updated").as("timeline"), col("status").as("status_out"), col("ok").as("ok_out"))
      mergedOut.unionByName(freshOut).orderBy(col("_id"))
    }),

    // O-family: exact lower-median per group — histogram-CDF rank-select
    // (ops.Quantiles), not a window partitioned on the 3-value status key
    "q_median_order_value" -> ((s, dir) => {
      graft.ops.Quantiles.medianByGroup(
          t(s, dir, "orders").select(col("o_orderstatus"), col("o_totalprice")),
          "o_orderstatus", "o_totalprice")
        .select(col("o_orderstatus"), col("median").as("median_price"))
        .orderBy(col("o_orderstatus"))
    }),

    // W-family: exact ntile-quartile stats via the same histogram CDF —
    // no raw-row window on the low-cardinality event_type key
    "q_events_quartiles" -> ((s, dir) => {
      graft.ops.Quantiles.ntileStats(
          t(s, dir, "events").select(col("event_type"), col("value")),
          "event_type", "value", 4)
        .select(col("event_type"), col("q").cast("long").as("q"),
                col("n"), col("minv"), col("maxv"))
        .orderBy(col("event_type"), col("q"))
    }),

    // decorrelated-subquery shape: rows above their group average (exact)
    "q_above_nation_avg" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val a = c.groupBy(col("c_nationkey"))
        .agg((sum(cents(col("c_acctbal"))).cast("double") / count(lit(1))).as("avg_cents"))
      c.join(a, Seq("c_nationkey"))
        .filter(cents(col("c_acctbal")) > col("avg_cents"))
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // streaming-shape: gap-based sessionization over the events stream table
    "q_events_sessionize" -> ((s, dir) => {
      events(s, dir).createOrReplaceTempView("events_sess")
      s.sql(
        """WITH marked AS (
          |  SELECT user_id, ts, event_id, value,
          |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
          |                   OR ts > lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) + INTERVAL 30 MINUTE
          |              THEN 1 ELSE 0 END AS is_new
          |  FROM events_sess),
          |sessions AS (
          |  SELECT user_id, ts, event_id, value,
          |         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
          |  FROM marked)
          |SELECT user_id, session_id, count(*) AS n_events,
          |       min(ts) AS session_start, max(ts) AS session_end,
          |       CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
          |FROM sessions GROUP BY user_id, session_id
          |ORDER BY user_id, session_id""".stripMargin)
    }),

    // streaming-shape: tumbling-window aggregation
    "q_events_windowed" -> ((s, dir) => {
      events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("wstart"), col("event_type"))
        .agg(count(lit(1)).as("n"), moneySum(col("value")).as("sum_value"))
        .orderBy(col("wstart"), col("event_type"))
    }),

    // J-family extension: interval (range) join as a bin equi-join —
    // Spark would plan the raw BETWEEN condition as broadcast-nested-
    // loop; ops/TimeJoins bins both sides so Catalyst plans a hash
    // shuffle join instead. 48 overlapping 2-hour windows anchored at
    // the corpus's first event; every event joins the windows containing
    // its instant. The oracle recomputes via the naive BETWEEN join.
    "q_range_join_binned" -> ((s, dir) => {
      val hourUs = 3600L * 1000000L
      val ev = events(s, dir).select(col("event_id"), unix_micros(col("ts")).as("us"))
      val base = ev.agg(min(col("us")).as("t0"))
      val ivals = s.range(48).select(col("id").as("iid"))
        .crossJoin(broadcast(base))
        .select(col("iid"), (col("t0") + col("iid") * hourUs).as("lo"),
          (col("t0") + (col("iid") + lit(2L)) * hourUs).as("hi"))
      graft.ops.TimeJoins.pointInIntervalJoin(ev, "us", ivals, "lo", "hi", hourUs)
        .select(col("event_id").cast("long").as("event_id"),
          col("iid").cast("long").as("iid"))
        .orderBy(col("event_id"), col("iid"))
    }),

    // A2-family: ROLLUP hierarchy aggregation
    "q_rollup_orders" -> ((s, dir) => {
      t(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("sum_price"))
        .select(coalesce(col("o_orderstatus"), lit("(all)")).as("dim_status"),
          coalesce(col("o_orderpriority"), lit("(all)")).as("dim_priority"),
          col("n"), col("sum_price"))
        .orderBy(col("dim_status"), col("dim_priority"))
    }),

    // §2.10: REAL Structured Streaming execution — the events table is
    // replayed through readStream, aggregated with the streaming engine
    // (memory sink, AvailableNow), and the result must hash-match the
    // batch oracle exactly
    "q_stream_windowed" -> ((s, dir) => {
      // the library windowedCounts (cents-grid sum_value); a replay-sized
      // watermark delay so no event is "late" across micro-batches — the
      // batch oracle sees every row, so must the stream. eventsStream
      // adapts to the file's actual ts encoding (nanos-long vs micros).
      // state-store count follows shuffle partitions: a (hour, type)
      // aggregation has a few hundred groups — 8 stores, not 32, halves
      // the per-batch store open/commit overhead that dominates this
      // query. The 8 lives in a CLONED session (isolated SQL conf, shared
      // context/cache) so a concurrent caller of `s` never observes it.
      val s2 = s.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", "8")
      val stream = graft.streaming.EventStreams.windowedCounts(
        eventsStream(s2, dir), "1 hour", "3650 days")
      val q = stream.writeStream.format("memory").queryName("graft_stream_windowed_sink")
        .outputMode("complete").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s2.table("graft_stream_windowed_sink")
        .select(col("wstart"), col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("wstart"), col("event_type"))
    }),

    // §2.10: the CUSTOM stateful operator under the real streaming engine —
    // flatMapGroupsWithState sessionization replayed over the events table
    // must hash-match the batch window-sessionize oracle for every session
    // CLOSED BY A SUCCESSOR. The watermark delay is set beyond the data
    // horizon so the timeout-flush path (ms-granular, engine-internal
    // rounding) stays out of the comparison — it is covered by the
    // cross-batch unit spec; each user's open tail session is unemitted.
    "q_stream_sessionize" -> ((s, dir) => {
      import graft.streaming.EventStreams
      s.catalog.dropTempView("graft_stream_sessionize_sink") // stale sink from a prior run in this JVM
      val stream = eventsStream(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .as[EventStreams.Event](org.apache.spark.sql.Encoders.product[EventStreams.Event])
      // unlike q_stream_windowed, state-store count is NOT the bottleneck
      // here: sessionization does real per-user work (sort + fold), which
      // wants the full partition parallelism — measured neutral at 8
      val q = EventStreams.sessionizeStateful(stream, gapMs = 30 * 60 * 1000,
          watermarkDelay = "3650 days")
        .writeStream.format("memory").queryName("graft_stream_sessionize_sink")
        .outputMode("append").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("graft_stream_sessionize_sink")
        .select(col("user_id"), col("session_id"), col("n_events"),
          col("session_start"), col("session_end"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    // §2.10: STREAM-STREAM interval join — each view event paired with
    // the same user's purchases within the next 6 hours, both sides
    // replayed as real streams. Spark buffers both sides in watermarked
    // state and emits pairs as they match; the time-range condition is
    // what lets the engine prune state at a real watermark (the replay
    // watermark here is horizon-sized so no pair is dropped and the
    // result is the exact batch join). Must hash-match the batch oracle.
    "q_stream_stream_join" -> ((s, dir) => {
      // cloned session for the same hermeticity reason as q_stream_windowed
      val s2 = s.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", "8")
      val views = eventsStream(s2, dir).filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("view_ts"))
        .withWatermark("view_ts", "3650 days")
      val purchases = eventsStream(s2, dir).filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", "3650 days")
      val joined = views.join(purchases,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("view_ts") &&
          col("purchase_ts") <= col("view_ts") + expr("INTERVAL 6 HOURS"))
        .select(col("view_id").cast("long").as("view_id"),
          col("purchase_id").cast("long").as("purchase_id"),
          col("user_id").cast("long").as("user_id"))
      // a stream-stream join opens FOUR state stores per shuffle
      // partition (left/right x keyed/keyWithIndex); at 32 partitions the
      // per-batch store open/commit overhead dominates this replay — 8
      // partitions (set on the cloned session above) quarters it
      val q = joined.writeStream.format("memory").queryName("graft_stream_ssjoin_sink")
        .outputMode("append").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s2.table("graft_stream_ssjoin_sink").orderBy(col("view_id"), col("purchase_id"))
    }),

    // §2.10: STREAM-STATIC enrichment join — the remaining streaming join
    // shape: the replayed event stream joins the static customer dim
    // in-flight (broadcast against every micro-batch; at scale the static
    // side is a slowly-changing lake table) and aggregates per segment.
    // Must hash-match the batch join+agg oracle exactly.
    "q_stream_enrich_join" -> ((s, dir) => {
      s.catalog.dropTempView("graft_stream_enrich_sink") // stale sink from a prior run in this JVM
      val dim = t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
      val stream = eventsStream(s, dir)
        .withColumn("c_custkey", expr("user_id % 100 + 1"))
        .join(dim, "c_custkey")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("__cents"))
        .select(col("c_mktsegment"), col("n"),
          (col("__cents").cast("double") / 100.0).as("sum_value"))
      val q = stream.writeStream.format("memory").queryName("graft_stream_enrich_sink")
        .outputMode("complete").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("graft_stream_enrich_sink").orderBy(col("c_mktsegment"))
    }),

    // §2.10 x corpus tier: streaming exact-dedup of the document feed by
    // canonical fingerprint under the real streaming engine; the emitted
    // fingerprint SET must hash-match the batch DISTINCT oracle
    "q_stream_dedup_docs" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      s.catalog.dropTempView("graft_stream_dedup_docs_sink") // stale sink from a prior run in this JVM
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      val q = graft.streaming.EventStreams.dedupCorpus(stream, "text")
        .writeStream.format("memory").queryName("graft_stream_dedup_docs_sink")
        .outputMode("append").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("graft_stream_dedup_docs_sink").orderBy(col("fp"))
    }),

    // §2.10 x frequent-items tier: the event feed streams through
    // topkSink (one bounded-error count segment per micro-batch) and the
    // SERVED sketch goes under the driver's hash gate — with k >= the
    // event_type domain every segment retains losslessly (cutoffs 0), so
    // n_est and n_hi must BOTH equal the exact batch GROUP BY count
    "q_stream_topk" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream_topk_q").toString
      val stream = eventsStream(s, dir).select(col("event_type"))
      val q = graft.streaming.EventStreams.topkSink(tmp + "/topk", Nil, "event_type", 64)(stream)
        .option("checkpointLocation", tmp + "/ckpt")
        .start()
      q.awaitTermination()
      val out = graft.ops.Sketches.serveTopK(s, tmp + "/topk", Nil, "event_type")
        .select(col("event_type"), col("n_est"), col("n_hi"))
        .orderBy(col("event_type"))
        .localCheckpoint(true) // the scratch segments are deleted next
      new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      out
    }),

    // Beyond-reference lake tier: REAL bloom-indexed point lookup over a
    // REAL scratch lake (the ntp_repair_report pattern) — lands the
    // documents table as an 8-file hash-distributed lake, builds the
    // per-file bloom sidecar, and serves a 3-present + 1-absent key set
    // through lookupKeys; the oracle is the plain WHERE ... IN over the
    // same parquet. Proves build -> sidecar -> candidate pruning ->
    // basePath read end-to-end under the driver's hash gate.
    "q_lake_point_lookup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_bloom_q").toString
      val lake = new graft.lake.LakeTable(s, tmp + "/lake", "doc_id")
      lake.overwrite(docs.repartition(8, col("doc_id")))
      lake.buildBloomIndex()
      val (rows, _) = lake.lookupKeys(Seq("3", "7", "11", "999983"))
      val out = rows
        .select(col("doc_id").cast("long").as("doc_id"), col("source"),
          col("lang"), col("n_chars").cast("long").as("n_chars"))
        .orderBy(col("doc_id"))
        .localCheckpoint(true) // the scratch lake is deleted next
      new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      out
    }),

    // Snapshot x index tier INTEGRATION: the same per-file bloom index,
    // resolved from SNAPSHOT MANIFESTS instead of directory walks — no
    // recursive listing anywhere in build, refresh or lookup. v1 lands
    // the docs and gets indexed; a CoW upsert rewrites the files holding
    // every 97th key (immutable new files); the refresh re-blooms ONLY
    // that churn; the lookup then serves 3 present + 1 absent key from
    // the CURRENT version — probed key 97 carrying the post-upsert value
    // proves the index tracked the rewrite, not the stale v1 state.
    "q_snapshot_point_lookup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_snapbloom_q").toString
      val lake = new graft.lake.SnapshotLake(s, tmp + "/lake", "doc_id")
      lake.overwrite(docs.repartition(8, col("doc_id")))                     // v1
      graft.lake.BloomIndex.refreshSnapshot(lake, "doc_id")
      lake.upsert(docs.filter(col("doc_id") % 97 === 0)                      // v2 (CoW)
        .withColumn("n_chars", col("n_chars") + lit(1L)))
      graft.lake.BloomIndex.refreshSnapshot(lake, "doc_id") // churn-only
      val (rows, _) = graft.lake.BloomIndex.lookupSnapshot(lake, "doc_id",
        Seq("3", "7", "97", "999983"))
      val out = rows
        .select(col("doc_id").cast("long").as("doc_id"), col("source"),
          col("lang"), col("n_chars").cast("long").as("n_chars"))
        .orderBy(col("doc_id"))
        .localCheckpoint(true) // the scratch lake is deleted next
      new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      out
    }),

    // Zone-map (min/max stats) tier: the RANGE-scan sibling of the bloom
    // point lookup, pruned by the per-file stats each commit writes into
    // its manifest — v1 scatters the keys, v2 sort-rewrites by price so
    // each file covers a narrow price interval, v3 (CoW upsert) moves
    // every 97th key's price. The range scan opens only overlapping files
    // and must hash-match the plain BETWEEN recompute.
    "q_zonemap_range" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_zmrange_q").toString
      val lake = new graft.lake.SnapshotLake(s, tmp + "/lake", "o_orderkey")
      lake.overwrite(orders.repartition(8, col("o_orderkey")))             // v1 scattered
      lake.cluster(Seq(col("o_totalprice")), 8)                            // v2 clustered
      lake.upsert(orders.filter(col("o_orderkey") % 97 === 0)              // v3 (CoW)
        .withColumn("o_totalprice", col("o_totalprice") + 600000.0))
      val (rows, _) = graft.lake.ZoneMapIndex.rangeLookupSnapshot(
        lake, "o_totalprice", lit(400000.0), lit(700000.0))
      val out = rows
        .orderBy(col("o_orderkey"))
        .localCheckpoint(true) // the scratch lake is deleted next
      new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      out
    }),

    // Metadata-only aggregate from the manifest's per-file stats:
    // min/max/count of the price column with ZERO data files opened —
    // `SELECT min(x), max(x), count(*)` in milliseconds at 100 TB. The
    // CoW upsert's files carry their stats from the commit, so the served
    // row must hash-match the full-scan recompute.
    "q_zonemap_agg" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_zmagg_q").toString
      val lake = new graft.lake.SnapshotLake(s, tmp + "/lake", "o_orderkey")
      lake.overwrite(orders.repartition(8, col("o_orderkey")))             // v1
      lake.upsert(orders.filter(col("o_orderkey") % 97 === 0)              // v2 (CoW)
        .withColumn("o_totalprice", col("o_totalprice") + 600000.0))
      val out = graft.lake.ZoneMapIndex.aggregateFromStats(lake, "o_totalprice")
        .localCheckpoint(true) // the scratch lake is deleted next
      new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      out
    }),

    // Beyond-reference lake tier: snapshot versioning end-to-end over a
    // REAL scratch SnapshotLake — overwrite v1, file-level CoW upsert
    // v2, CoW delete v3, then TIME TRAVEL back to v1 and diff it against
    // the current state. The oracle recomputes the whole version diff
    // from the source parquet in pure SQL, so manifest resolution, the
    // copy-on-write merge, the pinned-schema multi-file read and
    // readAt() all sit under the driver's hash gate.
    "q_lake_time_travel" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
        .filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_snap_q").toString
      val lake = new graft.lake.SnapshotLake(s, tmp + "/lake", "c_custkey")
      lake.overwrite(cust.repartition(8, col("c_custkey")))                 // v1
      lake.upsert(cust.filter(col("c_custkey") % 6 === 0)                   // v2
        .withColumn("c_acctbal", col("c_acctbal") + 1000.0))
      lake.deleteWhere(col("c_custkey") % 9 === 0)                          // v3
      val v1 = lake.readAt(1).select(col("c_custkey"), col("c_acctbal").as("bal_v1"))
      val now = lake.read.select(col("c_custkey"), col("c_acctbal").as("bal_now"))
      val out = v1.join(now, Seq("c_custkey"), "left_outer")
        .select(col("c_custkey"), col("bal_v1"), col("bal_now"),
          when(col("bal_now").isNull, "deleted")
            .when(col("bal_now") =!= col("bal_v1"), "updated")
            .otherwise("kept").as("op"))
        .orderBy(col("c_custkey"))
        .localCheckpoint(true) // the scratch lake is deleted next
      new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      out
    }),

    // Snapshot-lake CDC read: the net row-level change feed between two
    // committed versions, recomputed stateless by the oracle. The feed
    // opens only the CHURNED files (carried-by-reference files cancel),
    // so the query proves insert/update/delete classification, the
    // verbatim-copy cancellation of the CoW rewrite, and the pre-image
    // semantics of deletes, all under the driver's hash gate.
    "q_snapshot_changes" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_cdc_q").toString
      val lake = new graft.lake.SnapshotLake(s, tmp + "/lake", "c_custkey")
      lake.overwrite(cust.filter(col("c_custkey") % 3 === 0)                // v1
        .repartition(8, col("c_custkey")))
      lake.upsert(cust.filter(col("c_custkey") % 6 === 0)                   // v2
          .withColumn("c_acctbal", col("c_acctbal") + 1000.0)
        .unionByName(cust.filter(col("c_custkey") % 3 === 1)))
      lake.deleteWhere(col("c_custkey") % 9 === 0)                          // v3
      val out = lake.changesSince(1L)
        .orderBy(col("c_custkey"))
        .localCheckpoint(true) // the scratch lake is deleted next
      new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      out
    }),

    // Beyond-reference lake tier: the Morton (z-order) clustering key —
    // pure shift/mask Column algebra (lake/Zorder.scala), bit-identical
    // in any engine; the lake's clusterBy sorts rewrites by this key so
    // min/max footers prune on every interleaved column
    "q_zorder_key" -> ((s, dir) => {
      t(s, dir, "part").select(
        col("p_partkey").cast("long").as("p_partkey"),
        graft.lake.Zorder.zValue2(
          pmod(col("p_partkey"), lit(4096)), col("p_size")).as("zkey"))
        .orderBy(col("p_partkey"))
    }),

    // Beyond-reference incremental-summary tier (the churn-proportional
    // twin of q_summary_grouping_sets / calc_summary.py:53-80): three
    // "monthly drops" each land ONE aggregate-sized partial segment, the
    // first two fold via compact, and serve merges segments — the raw
    // rows of a landed drop are never rescanned. Result must hash-match
    // the one-shot GROUP BY oracle over the whole table.
    "q_summary_incremental" -> ((s, dir) => {
      import graft.lake.MaterializedAgg
      val orders = t(s, dir, "orders")
      val tmp = java.nio.file.Files.createTempDirectory("graft_matagg_q").toString
      val sumPath = tmp + "/summary"
      val spec = MaterializedAgg.Spec(
        dims = Seq("o_orderstatus", "o_orderpriority"),
        sums = Seq("sum_cents" -> cents(col("o_totalprice"))),
        mins = Seq("min_orderkey" -> col("o_orderkey")),
        maxs = Seq("max_orderkey" -> col("o_orderkey")))
      parDrops(0 to 1) { d =>
        MaterializedAgg.landDrop(
          orders.filter(pmod(col("o_orderkey"), lit(3)) === d), spec, sumPath, s"drop$d")
      }
      MaterializedAgg.compact(s, sumPath, spec, "base")
      // a late drop lands AFTER compaction — the segment merge must fold
      // it in without touching the compacted history
      MaterializedAgg.landDrop(
        orders.filter(pmod(col("o_orderkey"), lit(3)) === 2), spec, sumPath, "drop2")
      val out = MaterializedAgg.serve(s, sumPath, spec)
        .select(col("o_orderstatus"), col("o_orderpriority"), col("n"),
          (col("sum_cents").cast("double") / 100.0).as("total_price"),
          col("min_orderkey"), col("max_orderkey"))
        .orderBy(col("o_orderstatus"), col("o_orderpriority"))
        .localCheckpoint(true) // the scratch summary is deleted next
      new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      out
    }),

    // CDC-maintained summary: the retractable form of
    // q_summary_incremental. A snapshot lake goes through overwrite
    // (with a deliberately WRONG doubled slice) -> correcting upsert ->
    // delete; the summary is maintained from one full-drop segment plus
    // one Delta-CDF-style change-feed segment per version interval
    // (-pre +post retraction) and must hash-match the one-shot oracle
    // over the FINAL state — updates, inserts, deletes and CoW-carried
    // row cancellation all exercised without ever rescanning the lake
    "q_summary_cdc" -> ((s, dir) => {
      import graft.lake.{MaterializedAgg, SnapshotLake}
      val orders = t(s, dir, "orders").select(
        col("o_orderkey").cast("string").as("_id"),
        col("o_orderstatus"), col("o_orderpriority"),
        cents(col("o_totalprice")).as("vc"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_cdcsum_q").toString
      val lake = new SnapshotLake(s, tmp + "/lake", "_id")
      val key = col("_id").cast("long")
      lake.overwrite(orders.filter(key % 3 =!= 2)
        .withColumn("vc", when(key % 5 === 0, col("vc") * 2).otherwise(col("vc"))))
      // v2 batch = exactly the churn: the corrected slice + the missing
      // third (an upsert of the FULL table would reach the same state
      // but rewrite every file — the drop is the unit of work, not the
      // corpus). CoW still carries and cancels the co-located untouched
      // rows of every rewritten file.
      val spec = MaterializedAgg.Spec(Seq("o_orderstatus", "o_orderpriority"),
        sums = Seq("sum_cents" -> col("vc")))
      val sumPath = tmp + "/summary"
      // pipeline commits WITH feed landings (guide §2.6): a landing only
      // reads versions already committed (manifests pin their files —
      // CoW never deletes an old version's data, q_lake_time_travel's
      // contract), so the v1 base drop overlaps the v2 commit, the v1→2
      // change drop overlaps the v3 commit, and the segment landings
      // stay disjoint-dir/order-independent (the parDrops contract)
      graft.core.Overlap.both(
        MaterializedAgg.landDrop(lake.readAt(1), spec, sumPath, "v1"), {
          lake.upsert(orders.filter(key % 5 === 0 || key % 3 === 2))
          graft.core.Overlap.both(
            MaterializedAgg.landChangesDrop(
              lake.changesBetween(1, 2, preImages = true), spec, sumPath, "v1to2"), {
              lake.deleteWhere(key % 7 === 0)
              MaterializedAgg.landChangesDrop(
                lake.changesBetween(2, 3, preImages = true), spec, sumPath, "v2to3")
            })
        })
      val out = MaterializedAgg.serve(s, sumPath, spec)
        .select(col("o_orderstatus"), col("o_orderpriority"), col("n"),
          (col("sum_cents").cast("double") / 100.0).as("total_price"))
        .orderBy(col("o_orderstatus"), col("o_orderpriority"))
        .localCheckpoint(true) // the scratch lake+summary are deleted next
      new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      out
    }),

    // the SUBSCRIPTION half of the CDC story: the same retractable
    // summary as q_summary_cdc, but maintained through a DURABLE POLL
    // CONSUMER (offset directory of create-exclusive claims) instead of
    // hand-fed version intervals — a poll before any new commit
    // delivers nothing, each interval lands as an idempotent
    // interval-keyed segment, and a FRESH consumer instance on the same
    // offset dir (the restart case) resumes exactly where the first
    // left off and then reports caught-up. Served summary must
    // hash-match the one-shot oracle over the final lake state.
    "q_cdc_consume" -> ((s, dir) => {
      import graft.lake.{CdcConsumer, MaterializedAgg, SnapshotLake}
      // half the table: the row proves the consumption machinery (offsets,
      // resume, idempotent interval segments), not lake throughput — the
      // full-scan CDC cost is already measured by q_summary_cdc
      val orders = t(s, dir, "orders")
        .filter(col("o_orderkey") % 2 === 0)
        .select(
          col("o_orderkey").cast("string").as("_id"),
          col("o_orderstatus"), col("o_orderpriority"),
          cents(col("o_totalprice")).as("vc"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_cdccons_q").toString
      val lake = new SnapshotLake(s, tmp + "/lake", "_id")
      val key = col("_id").cast("long")
      lake.overwrite(orders.filter(key % 3 =!= 2)                          // v1
        .withColumn("vc", when(key % 5 === 0, col("vc") * 2).otherwise(col("vc"))))
      val spec = MaterializedAgg.Spec(Seq("o_orderstatus", "o_orderpriority"),
        sums = Seq("sum_cents" -> col("vc")))
      val sumPath = tmp + "/summary"
      MaterializedAgg.landDrop(lake.readAt(1), spec, sumPath, "v1")        // consumer base
      def fold(changes: org.apache.spark.sql.DataFrame, f: Long, to: Long): Unit =
        MaterializedAgg.landChangesDrop(changes, spec, sumPath, s"v${f}to$to")
      val consumer = new CdcConsumer(lake, tmp + "/offsets", startVersion = 1L)
      assert(consumer.poll(fold).isEmpty, "caught-up consumer must deliver nothing")
      lake.upsert(orders.filter(key % 5 === 0 || key % 3 === 2))           // v2
      assert(consumer.poll(fold).contains((1L, 2L)), "poll must deliver v1->v2")
      lake.deleteWhere(key % 7 === 0)                                      // v3
      // restart: a fresh consumer on the same offset dir resumes at 2
      val resumed = new CdcConsumer(lake, tmp + "/offsets", startVersion = 1L)
      assert(resumed.poll(fold).contains((2L, 3L)), "resumed poll must deliver v2->v3")
      assert(resumed.poll(fold).isEmpty, "consumer must now be caught up")
      val out = MaterializedAgg.serve(s, sumPath, spec)
        .select(col("o_orderstatus"), col("o_orderpriority"), col("n"),
          (col("sum_cents").cast("double") / 100.0).as("total_price"))
        .orderBy(col("o_orderstatus"), col("o_orderpriority"))
        .localCheckpoint(true) // the scratch lake+summary are deleted next
      new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      out
    }),

    // Beyond-reference incremental-cardinality tier, exact form: each
    // drop lands its distinct (dims, key) pairs; distinct is idempotent
    // under union, so the merged segments re-distinct to the corpus
    // cardinality without ever rescanning a landed drop
    "q_distinct_incremental" -> ((s, dir) => {
      import graft.ops.Sketches
      val orders = t(s, dir, "orders")
      val tmp = java.nio.file.Files.createTempDirectory("graft_dsk_q").toString
      val path = tmp + "/distinct"
      parDrops(0 to 2) { d =>
        Sketches.landDistinctDrop(
          orders.filter(pmod(col("o_orderkey"), lit(3)) === d),
          Seq("o_orderstatus"), "o_custkey", path, s"drop$d")
      }
      val out = Sketches.serveDistinct(s, path, Seq("o_orderstatus"), "o_custkey")
        .orderBy(col("o_orderstatus"))
        .localCheckpoint(true) // the scratch segments are deleted next
      new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      out
    }),

    // Sublinear form: per-drop Datasketches HLL sketches (KBs per group
    // at ANY drop size), merged losslessly at serve. The driver-checked
    // contract is the bound, not the estimate: n_exact must match the
    // oracle's COUNT(DISTINCT) and the merged estimate must sit within
    // 2% of it (the lgK=14 envelope is ~0.8%) — if the sketch tier ever
    // drifts out of tolerance this query goes red
    "q_approx_distinct_bound" -> ((s, dir) => {
      import graft.ops.Sketches
      val orders = t(s, dir, "orders")
      val tmp = java.nio.file.Files.createTempDirectory("graft_hll_q").toString
      val path = tmp + "/hll"
      parDrops(0 to 2) { d =>
        Sketches.landHllDrop(
          orders.filter(pmod(col("o_orderkey"), lit(3)) === d),
          Seq("o_orderpriority"), "o_custkey", path, s"drop$d")
      }
      val est = Sketches.serveHllEstimate(s, path, Seq("o_orderpriority"))
      val exact = orders.groupBy(col("o_orderpriority"))
        .agg(count_distinct(col("o_custkey")).as("n_exact"))
      val out = exact.join(est, "o_orderpriority")
        .select(col("o_orderpriority"), col("n_exact"),
          Sketches.withinRelError(col("n_estimate"), col("n_exact"), 0.02)
            .as("within_2pct"))
        .orderBy(col("o_orderpriority"))
        .localCheckpoint(true) // the scratch sketches are deleted next
      new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      out
    }),

    // HLL SET ALGEBRA — the join-cardinality-estimation primitive: two
    // independently-maintained sketch tiers (customers active before /
    // since 1995, per priority, 2 drops each) serve |A|, |B|, |A∪B| and
    // the inclusion-exclusion |A∩B| from KB-sized sketches, no raw scan
    // of either side. The driver-checked contract: exact intersection +
    // union from DuckDB, and the estimate must sit within 4% OF THE
    // UNION (the honest bound — three ~0.8% estimates compound, and an
    // intersection has no relative guarantee of its own size)
    "q_hll_set_algebra" -> ((s, dir) => {
      import graft.ops.Sketches
      val orders = t(s, dir, "orders")
      val tmp = java.nio.file.Files.createTempDirectory("graft_hllset_q").toString
      val cut = to_date(lit("1995-01-01"))
      val early = orders.filter(col("o_orderdate") < cut)
      val late = orders.filter(col("o_orderdate") >= cut)
      parDrops(for { (side, df) <- Seq(("a", early), ("b", late)); d <- 0 to 1 }
        yield (side, df, d)) { case (side, df, d) =>
        Sketches.landHllDrop(df.filter(pmod(col("o_orderkey"), lit(2)) === d),
          Seq("o_orderpriority"), "o_custkey", s"$tmp/$side", s"drop$d")
      }
      val est = Sketches.serveHllSetAlgebra(s, s"$tmp/a", s"$tmp/b",
        Seq("o_orderpriority"))
      val pairsA = early.select(col("o_orderpriority"), col("o_custkey")).distinct()
      val pairsB = late.select(col("o_orderpriority"), col("o_custkey")).distinct()
      val exactI = pairsA.join(pairsB, Seq("o_orderpriority", "o_custkey"), "left_semi")
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n_inter_exact"))
      val exactU = pairsA.unionByName(pairsB).distinct()
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n_union_exact"))
      val out = exactU
        .join(exactI, Seq("o_orderpriority"), "left_outer")
        .na.fill(0L, Seq("n_inter_exact"))
        .join(est, Seq("o_orderpriority"))
        .select(col("o_orderpriority"), col("n_inter_exact"), col("n_union_exact"),
          (abs(col("n_intersect").cast("double") - col("n_inter_exact").cast("double"))
            <= col("n_union_exact").cast("double") * 0.04).as("within_bound"))
        .orderBy(col("o_orderpriority"))
        .localCheckpoint(true) // the scratch sketches are deleted next
      new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      out
    }),

    // the LONG-TAIL distribution member of the incremental tier: per-drop
    // ε-rank quantile summaries (weighted exact order statistics) merged
    // across 3 drops; the estimate's TRUE rank must sit within the
    // summed segment bound of the target rank — a fixed-width histogram
    // has no such bound on a heavy tail. DuckDB recomputes the exact
    // side; the flag goes red if the sketch tier ever drifts
    "q_quantile_sketch_bound" -> ((s, dir) => {
      import graft.ops.Sketches
      val orders = t(s, dir, "orders")
      val tmp = java.nio.file.Files.createTempDirectory("graft_qsk_q").toString
      val path = tmp + "/qs"
      val k = 64
      parDrops(0 to 2) { d =>
        Sketches.landQuantileDrop(
          orders.filter(pmod(col("o_orderkey"), lit(3)) === d),
          Seq("o_orderpriority"), col("o_totalprice"), k, path, s"drop$d")
      }
      val est = Sketches.serveQuantile(s, path, Seq("o_orderpriority"), 1, 2)
      // true rank of the estimate vs the target rank, within the summed
      // segment envelope Σ_seg (ceil(n_seg/(2k)) + 1) <= n/(2k) + 2·S
      // (S = 3 drops here)
      val out = orders.join(est, "o_orderpriority")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_exact"),
          sum(when(col("o_totalprice") <= col("q_est"), 1L).otherwise(0L)).as("__rk"))
        .select(col("o_orderpriority"), col("n_exact"),
          (abs(col("__rk") - ((col("n_exact") + 1) / lit(2)).cast("long")) <=
            col("n_exact") / lit(2 * k) + lit(6)).as("within_rank_bound"))
        .orderBy(col("o_orderpriority"))
        .localCheckpoint(true) // the scratch sketches are deleted next
      new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      out
    }),

    // the FREQUENT-ITEMS member of the incremental tier: per-drop exact
    // top-k segments (SpaceSaving posture — k rows per drop, never the
    // key domain) merge to per-key bounds n_est <= true <= n_hi, and
    // every key above the summed retention cutoffs is GUARANTEED to
    // surface. The key is deterministically skewed (5 hot keys spread
    // across all three drops, ~uniform cold tail) so the guarantee set
    // is exactly the hot keys; the oracle recomputes segment retention,
    // cutoffs and bounds from scratch in SQL — the whole sketch is
    // hash-checked, not just the contract booleans
    "q_heavy_hitters" -> ((s, dir) => {
      import graft.ops.Sketches
      val hhKey = when(col("o_orderkey") % 2 === 0,
          concat(lit("hot"), (col("o_orderkey") % 5).cast("string")))
        .otherwise(concat(lit("cold"), col("o_custkey").cast("string")))
      val orders = t(s, dir, "orders").withColumn("hh_key", hhKey)
      val tmp = java.nio.file.Files.createTempDirectory("graft_topk_q").toString
      val path = tmp + "/topk"
      parDrops(0 to 2) { d =>
        Sketches.landTopKDrop(
          orders.filter(pmod(col("o_orderkey"), lit(3)) === d),
          Nil, "hh_key", k = 64, path, s"drop$d")
      }
      val sk = Sketches.serveTopK(s, path, Nil, "hh_key")
      val exact = orders.groupBy(col("hh_key")).agg(count(lit(1)).as("n_exact"))
      val out = exact
        .crossJoin(broadcast(Sketches.totalCutoff(s, path, Nil)))
        .filter(col("n_exact") > col("total_cutoff")) // the guarantee set
        .join(sk, Seq("hh_key")) // inner: guaranteed present
        .select(col("hh_key"), col("n_exact"), col("n_est"), col("n_hi"),
          (col("n_est") <= col("n_exact") && col("n_exact") <= col("n_hi"))
            .as("bounds_hold"))
        .orderBy(col("n_exact").desc, col("hh_key"))
        .localCheckpoint(true) // the scratch segments are deleted next
      new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      out
    }),

    // the DISTRIBUTION member of the incremental tier: per-drop
    // fixed-grid histograms merge by addition, and the merged sketch
    // answers quantiles with error < one bucket width. The estimate is
    // deterministically the grid-floor of the exact lower median, which
    // is exactly what the oracle recomputes — hash-equal, no tolerance
    "q_hist_median_est" -> ((s, dir) => {
      import graft.ops.Sketches
      val orders = t(s, dir, "orders")
      val tmp = java.nio.file.Files.createTempDirectory("graft_hseg_q").toString
      val path = tmp + "/hist"
      parDrops(0 to 2) { d =>
        Sketches.landHistDrop(
          orders.filter(pmod(col("o_orderkey"), lit(3)) === d),
          Seq("o_orderpriority"), cents(col("o_totalprice")),
          lo = 0L, width = 500000L, nBuckets = 120, path, s"drop$d")
      }
      val out = Sketches.quantileFromHist(
          Sketches.serveHist(s, path, Seq("o_orderpriority")),
          Seq("o_orderpriority"), num = 1, den = 2, lo = 0L, width = 500000L)
        .orderBy(col("o_orderpriority"))
        .localCheckpoint(true) // the scratch segments are deleted next
      new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
      out
    }),

    // Beyond-reference data-quality tier: one-pass column profiler
    // (rows/nulls/exact-distinct/min/max per column in a single wide
    // aggregate + stack unpivot — no per-column rescans)
    "q_profile_orders" -> ((s, dir) => {
      graft.ops.Profiler.profile(t(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
          "o_orderdate"))
        .orderBy(col("col_name"))
    }),

    // Beyond-reference data-quality tier: declarative EXPECTATIONS
    // (the checking-script audits as a rule engine) — N rules cost one
    // scan + one aggregate; uniqueness rides the same pass. The range
    // and regex rules are chosen to have real violations in the data
    "q_dq_expectations" -> ((s, dir) => {
      import graft.ops.Expectations._
      report(t(s, dir, "orders"), Seq(
          notNull("o_custkey"),
          inRange("o_totalprice", lit(0.0), lit(400000.0)),
          accepted("o_orderstatus", Seq("F", "O", "P")),
          matches("o_orderpriority", "^[1-5]-[A-Z]+$")),
        uniqueCols = Seq("o_orderkey"))
        .orderBy(col("rule"))
    }),

    // the dead-letter half of the expectations tier: per-row rule
    // annotation (pure column algebra, no shuffle) and the dirty-row
    // quarantine view a streaming ingest appends — rule names in
    // declaration order
    "q_dq_quarantine" -> ((s, dir) => {
      import graft.ops.Expectations._
      val (_, dirty) = split(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderpriority")),
        Seq(inRange("o_totalprice", lit(0.0), lit(400000.0)),
          matches("o_orderpriority", "^[1-5]-[A-Z]+$")))
      dirty.select(col("o_orderkey"),
          array_join(col("violated"), ",").as("violated"))
        .orderBy(col("o_orderkey"))
    }),

    // skewed-fact equi-join via deterministic salting: dim replicated
    // per salt, fact salted from its own id — row-identical to the
    // plain join, hot keys spread over `salt` reducers
    "q_salted_join" -> ((s, dir) => {
      val dim = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      graft.ops.Skew.saltedJoin(t(s, dir, "orders"), dim,
          "o_custkey", col("o_orderkey"), salt = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("total_price"))
        .orderBy(col("c_mktsegment"))
    }),

    // time-series resample with zero-filled gaps: per event type, hourly
    // counts over the type's dense [first, last] hour grid — quiet hours
    // materialize at 0 instead of silently vanishing from the groupBy
    "q_resample_gapfill" -> ((s, dir) => {
      graft.ops.TimeJoins.resampleGapFill(events(s, dir), "event_type", "ts")
        .orderBy(col("event_type"), col("bucket"))
    }),

    // distribution audit beside the profiler: fixed-width histogram on
    // the integer cents grid (bucket edges exact in any engine)
    "q_histogram_prices" -> ((s, dir) => {
      graft.ops.Profiler.intHistogram(t(s, dir, "orders"),
        cents(col("o_totalprice")), lo = 0L, width = 500000L, nBuckets = 12)
        .orderBy(col("bucket"))
    }),

    // F7-shape: JSON field extraction + agg
    "q_events_json_extract" -> ((s, dir) => {
      t(s, dir, "events")  // props only — no ts needed
        .select(col("event_type"), regexp_extract(col("props"), "\"k\": (-?[0-9]+)", 1).cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    })) ++ CorpusQueries.queries

  // ------------------------------------------------------------- oracle SQL

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS DOUBLE) AS sum_qty,
        |       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
        |       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE) / 10000.0 AS sum_disc_price,
        |       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT)) * (100 + CAST(round(l_tax*100) AS BIGINT))) AS DOUBLE) / 1000000.0 AS sum_charge,
        |       count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q03_shipping_priority" ->
      """SELECT l_orderkey,
        |       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue,
        |       o_orderdate
        |FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q05_local_supplier_volume" ->
      """SELECT n_name,
        |       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
        |  AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,

    "q06_forecast_revenue" ->
      """SELECT CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * CAST(round(l_discount*100) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue,
        |       count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND CAST(round(l_discount*100) AS BIGINT) BETWEEN 5 AND 7
        |  AND l_quantity < 24""".stripMargin,

    "q04_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q10_returned_items" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q14_promo_revenue" ->
      """SELECT CAST(sum(CASE WHEN p_type = 'PROMO'
        |                     THEN CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))
        |                     ELSE 0 END) AS DOUBLE) * 100.0 /
        |       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE) AS promo_pct,
        |       count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'""".stripMargin,

    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS revc
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(revc AS DOUBLE) / 10000.0 AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE revc = (SELECT max(revc) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,

    "q18_large_volume" ->
      """WITH big AS (
        |  SELECT l_orderkey, sum(CAST(round(l_quantity) AS BIGINT)) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(CAST(round(l_quantity) AS BIGINT)) > 200)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
        |       CAST(total_qty AS DOUBLE) AS total_qty
        |FROM orders JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,

    "q07_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue
        |FROM supplier, lineitem, orders, customer, nation n1, nation n2
        |WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey AND c_custkey = o_custkey
        |  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
        |  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |  AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

    "q08_market_share" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |       CAST(sum(CASE WHEN n2.n_name = 'NATION_2'
        |                     THEN CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))
        |                     ELSE 0 END) AS DOUBLE) /
        |       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE) AS mkt_share
        |FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
        |WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey AND l_orderkey = o_orderkey
        |  AND o_custkey = c_custkey AND c_nationkey = n1.n_nationkey
        |  AND n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
        |  AND s_nationkey = n2.n_nationkey AND p_type = 'STANDARD'
        |  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY o_year ORDER BY o_year""".stripMargin,

    "q13_customer_distribution" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
        |  GROUP BY c_custkey) t
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q17_small_quantity_revenue" ->
      """WITH lp AS (
        |  SELECT l_partkey, CAST(round(l_quantity) AS BIGINT) AS qty, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#23'),
        |pq AS (SELECT l_partkey AS pk, count(*) AS pn, sum(qty) AS psq FROM lp GROUP BY pk)
        |SELECT CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE) / 100.0 / 7.0 AS avg_yearly,
        |       count(*) AS n
        |FROM lp JOIN pq ON l_partkey = pk
        |WHERE qty * 5 * pn < psq""".stripMargin,

    "q19_disjunctive_revenue" ->
      """SELECT CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue,
        |       count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |       AND CAST(round(l_quantity) AS BIGINT) BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |       AND CAST(round(l_quantity) AS BIGINT) BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
        |       AND CAST(round(l_quantity) AS BIGINT) BETWEEN 20 AND 30)""".stripMargin,

    "q22_sales_opportunity" ->
      """WITH pos AS (
        |  SELECT sum(CAST(round(c_acctbal*100) AS BIGINT)) AS s, count(*) AS n
        |  FROM customer WHERE c_acctbal > 0.0)
        |SELECT c_nationkey AS nationkey, count(*) AS numcust,
        |       CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS DOUBLE) / 100.0 AS totacctbal
        |FROM customer, pos
        |WHERE CAST(round(c_acctbal*100) AS BIGINT) * n > s
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
        |GROUP BY nationkey ORDER BY nationkey""".stripMargin,

    "q02_min_cost_supplier" ->
      """WITH selp AS (SELECT p_partkey FROM part WHERE p_size <= 15 AND p_type = 'STANDARD'),
        |asupp AS (SELECT s_suppkey, s_name, s_acctbal, n_name FROM supplier, nation, region
        |          WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey AND r_name = 'ASIA'),
        |ps AS (SELECT l_partkey, l_suppkey, min(CAST(round(l_extendedprice*100) AS BIGINT)) AS cost
        |       FROM lineitem JOIN selp ON l_partkey = p_partkey
        |       WHERE l_suppkey IN (SELECT s_suppkey FROM asupp)
        |       GROUP BY l_partkey, l_suppkey),
        |off AS (SELECT l_partkey, l_suppkey, cost, s_name, s_acctbal, n_name
        |        FROM ps JOIN asupp ON l_suppkey = s_suppkey)
        |SELECT s_acctbal, s_name, n_name, l_partkey AS p_partkey,
        |       CAST(cost AS DOUBLE)/100.0 AS min_cost
        |FROM off WHERE cost = (SELECT min(cost) FROM off o2 WHERE o2.l_partkey = off.l_partkey)
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey""".stripMargin,

    "q09_product_profit" ->
      """SELECT n_name AS nation, CAST(year(l_shipdate) AS BIGINT) AS o_year,
        |       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))
        |                - CAST(round(p_retailprice*100) AS BIGINT) * 100 * CAST(round(l_quantity) AS BIGINT)) AS DOUBLE)/10000.0 AS sum_profit
        |FROM lineitem, part, supplier, nation
        |WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |  AND p_name LIKE '%widget%'
        |GROUP BY n_name, CAST(year(l_shipdate) AS BIGINT)
        |ORDER BY nation, o_year DESC""".stripMargin,

    "q11_important_parts" ->
      """WITH g AS (
        |  SELECT l_partkey, sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS vc
        |  FROM lineitem WHERE l_suppkey IN (
        |    SELECT s_suppkey FROM supplier, nation, region
        |    WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey AND r_name = 'EUROPE')
        |  GROUP BY l_partkey)
        |SELECT l_partkey AS partkey, CAST(vc AS DOUBLE)/100.0 AS value
        |FROM g WHERE vc * 1000 > (SELECT sum(vc) FROM g)
        |ORDER BY value DESC, partkey""".stripMargin,

    "q12_priority_lines" ->
      """SELECT l_returnflag,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q16_supplier_part_counts" ->
      """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#23' AND p_type <> 'PROMO'
        |  AND p_size IN (1,4,7,10,14,19,23,36,45,49)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 2000.0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "q20_excess_share_suppliers" ->
      """WITH sel AS (
        |  SELECT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE 'large%'
        |  GROUP BY l_suppkey, l_partkey
        |  HAVING 2*sum(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |                     AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |               THEN CAST(round(l_quantity) AS BIGINT) ELSE 0 END)
        |        > sum(CAST(round(l_quantity) AS BIGINT)))
        |SELECT s_name, s_acctbal FROM supplier
        |WHERE s_suppkey IN (SELECT l_suppkey FROM sel)
        |  AND s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey IN
        |      (SELECT r_regionkey FROM region WHERE r_name = 'ASIA'))
        |ORDER BY s_name""".stripMargin,

    "q21_waiting_suppliers" ->
      """WITH o AS (SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderstatus = 'F'),
        |l AS (SELECT l_orderkey, l_suppkey, (l_shipdate > o_orderdate + INTERVAL 90 DAY) AS late
        |      FROM lineitem JOIN o ON l_orderkey = o_orderkey)
        |SELECT s_name, count(*) AS numwait
        |FROM l l1 JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE l1.late
        |  AND EXISTS (SELECT 1 FROM l l2
        |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM l l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin,

    "q_top3_customers_per_nation" ->
      """SELECT n_name, c_name, c_acctbal FROM (
        |  SELECT n_name, c_name, c_acctbal,
        |         row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey) t
        |WHERE rn <= 3 ORDER BY n_name, c_acctbal DESC, c_name""".stripMargin,

    "q_running_revenue" ->
      """SELECT o_custkey, o_orderkey,
        |       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT))
        |            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0 AS running_total
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_nation_balance_fulljoin" ->
      """WITH cb AS (
        |  SELECT c_nationkey, CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS DOUBLE) / 100.0 AS cust_bal
        |  FROM customer WHERE c_nationkey <> 3 GROUP BY c_nationkey),
        |sb AS (
        |  SELECT s_nationkey, CAST(sum(CAST(round(s_acctbal*100) AS BIGINT)) AS DOUBLE) / 100.0 AS supp_bal
        |  FROM supplier WHERE s_nationkey < 12 GROUP BY s_nationkey)
        |SELECT n_name, coalesce(cust_bal, 0.0) AS cust_bal, coalesce(supp_bal, 0.0) AS supp_bal
        |FROM cb FULL OUTER JOIN sb ON c_nationkey = s_nationkey
        |JOIN nation ON coalesce(c_nationkey, s_nationkey) = n_nationkey
        |ORDER BY n_name""".stripMargin,

    "q_pivot_status" ->
      """SELECT o_orderpriority,
        |       CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS n_f,
        |       CAST(count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS n_o,
        |       CAST(count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS n_p
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_set_ops" ->
      """WITH a AS (SELECT c_nationkey, c_mktsegment FROM customer WHERE c_custkey % 2 = 0),
        |     b AS (SELECT c_nationkey, c_mktsegment FROM customer WHERE c_custkey % 3 = 0)
        |SELECT 'except' AS op, count(*) AS n FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
        |UNION ALL
        |SELECT 'except_all', count(*) FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
        |UNION ALL
        |SELECT 'intersect', count(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
        |UNION ALL
        |SELECT 'intersect_all', count(*) FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
        |ORDER BY op""".stripMargin,

    "q_cube_orders" ->
      """SELECT coalesce(o_orderstatus, '(all)') AS dim_status,
        |       coalesce(o_orderpriority, '(all)') AS dim_priority,
        |       count(*) AS n,
        |       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_price
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY dim_status, dim_priority""".stripMargin,

    "q_window_suite" ->
      """SELECT o_custkey, o_orderkey,
        |       lag(CAST(round(o_totalprice*100) AS BIGINT)) OVER w AS prev_cents,
        |       lead(CAST(round(o_totalprice*100) AS BIGINT)) OVER w AS next_cents,
        |       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |       percent_rank() OVER w AS pct_rank
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_summary_grouping_sets" ->
      """SELECT coalesce(o_orderstatus, '(all)') AS dim_status,
        |       coalesce(o_orderpriority, '(all)') AS dim_priority,
        |       count(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY dim_status, dim_priority""".stripMargin,

    "q_summary_cdc" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_price
        |FROM orders WHERE o_orderkey % 7 <> 0
        |GROUP BY o_orderstatus, o_orderpriority
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,

    // same final state as q_summary_cdc — what differs is the consumption
    // machinery (durable offsets, restart resume), which the assertions
    // inside the query enforce
    "q_cdc_consume" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_price
        |FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 7 <> 0
        |GROUP BY o_orderstatus, o_orderpriority
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,

    "q_distinct_incremental" ->
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_distinct
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_approx_distinct_bound" ->
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_exact,
        |       true AS within_2pct
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_hll_set_algebra" ->
      """WITH a AS (SELECT DISTINCT o_orderpriority, o_custkey FROM orders
        |           WHERE o_orderdate < DATE '1995-01-01'),
        |b AS (SELECT DISTINCT o_orderpriority, o_custkey FROM orders
        |      WHERE o_orderdate >= DATE '1995-01-01'),
        |i AS (SELECT o_orderpriority, count(*) AS n_inter_exact
        |      FROM (SELECT * FROM a INTERSECT SELECT * FROM b) GROUP BY 1),
        |u AS (SELECT o_orderpriority, count(*) AS n_union_exact
        |      FROM (SELECT * FROM a UNION SELECT * FROM b) GROUP BY 1)
        |SELECT u.o_orderpriority, COALESCE(i.n_inter_exact, 0) AS n_inter_exact,
        |       u.n_union_exact, true AS within_bound
        |FROM u LEFT JOIN i USING (o_orderpriority)
        |ORDER BY o_orderpriority""".stripMargin,

    "q_quantile_sketch_bound" ->
      """SELECT o_orderpriority, count(*) AS n_exact, true AS within_rank_bound
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // full from-scratch recompute of the top-k sketch: per-segment
    // retention (rn <= 64, ties by key), retention cutoffs, merged
    // bounds, and the guarantee-set filter
    "q_heavy_hitters" ->
      """WITH base AS (
        |  SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'hot' || CAST(o_orderkey % 5 AS VARCHAR)
        |              ELSE 'cold' || CAST(o_custkey AS VARCHAR) END AS hh_key,
        |         o_orderkey % 3 AS seg
        |  FROM orders),
        |cnts AS (SELECT seg, hh_key, count(*) AS cnt FROM base GROUP BY seg, hh_key),
        |ranked AS (SELECT seg, hh_key, cnt,
        |                  row_number() OVER (PARTITION BY seg ORDER BY cnt DESC, hh_key) AS rn
        |           FROM cnts),
        |kept AS (SELECT seg, hh_key, cnt FROM ranked WHERE rn <= 64),
        |segcut AS (SELECT s.seg, coalesce(c.cutoff, 0) AS cutoff
        |           FROM (SELECT DISTINCT seg FROM ranked) s
        |           LEFT JOIN (SELECT seg, max(cnt) AS cutoff FROM ranked WHERE rn > 64 GROUP BY seg) c
        |           USING (seg)),
        |tot AS (SELECT CAST(sum(cutoff) AS BIGINT) AS total_cutoff FROM segcut),
        |est AS (SELECT hh_key, CAST(sum(k.cnt) AS BIGINT) AS n_est,
        |               CAST(sum(sc.cutoff) AS BIGINT) AS present
        |        FROM kept k JOIN segcut sc USING (seg) GROUP BY hh_key),
        |exact AS (SELECT hh_key, count(*) AS n_exact FROM base GROUP BY hh_key)
        |SELECT e.hh_key, e.n_exact, s.n_est,
        |       s.n_est + t.total_cutoff - s.present AS n_hi,
        |       (s.n_est <= e.n_exact AND e.n_exact <= s.n_est + t.total_cutoff - s.present) AS bounds_hold
        |FROM exact e CROSS JOIN tot t JOIN est s USING (hh_key)
        |WHERE e.n_exact > t.total_cutoff
        |ORDER BY e.n_exact DESC, e.hh_key""".stripMargin,

    // the salt only reshapes the shuffle — the oracle is the plain join
    "q_salted_join" ->
      """SELECT c_mktsegment, count(*) AS n,
        |       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_resample_gapfill" ->
      """WITH b AS (SELECT event_type, date_trunc('hour', ts) AS bucket, count(*) AS n
        |           FROM events GROUP BY event_type, date_trunc('hour', ts)),
        |r AS (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi FROM b GROUP BY event_type),
        |g AS (SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket FROM r)
        |SELECT g.event_type, g.bucket, coalesce(b.n, 0) AS n
        |FROM g LEFT JOIN b ON g.event_type = b.event_type AND g.bucket = b.bucket
        |ORDER BY g.event_type, g.bucket""".stripMargin,

    "q_histogram_prices" ->
      """WITH c AS (SELECT CAST(round(o_totalprice*100) AS BIGINT) AS v FROM orders)
        |SELECT CASE WHEN v < 0 THEN -1
        |            WHEN v >= 500000 * 12 THEN 12
        |            ELSE v // 500000 END AS bucket,
        |       count(*) AS n
        |FROM c GROUP BY bucket ORDER BY bucket""".stripMargin,

    // the exact lower median's grid floor — what the merged histogram
    // sketch must land on
    "q_hist_median_est" ->
      """WITH c AS (SELECT o_orderpriority, CAST(round(o_totalprice*100) AS BIGINT) AS v, o_orderkey FROM orders),
        |r AS (SELECT o_orderpriority, v,
        |       row_number() OVER (PARTITION BY o_orderpriority ORDER BY v, o_orderkey) AS rn,
        |       count(*) OVER (PARTITION BY o_orderpriority) AS cnt FROM c)
        |SELECT o_orderpriority, (v // 500000) * 500000 AS est FROM r
        |WHERE rn = (cnt + 1) // 2 ORDER BY o_orderpriority""".stripMargin,

    // each rule recomputed as a conditional count over one scan; the
    // anchored regex makes Spark's partial-match rlike and DuckDB's
    // regexp_matches decide identically
    "q_dq_expectations" ->
      """WITH t AS (SELECT count(*) AS n,
        |  sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS v0,
        |  sum(CASE WHEN o_totalprice IS NOT NULL
        |           AND (o_totalprice < 0.0 OR o_totalprice > 400000.0) THEN 1 ELSE 0 END) AS v1,
        |  sum(CASE WHEN o_orderstatus IS NOT NULL
        |           AND o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END) AS v2,
        |  sum(CASE WHEN o_orderpriority IS NOT NULL
        |           AND NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z]+$') THEN 1 ELSE 0 END) AS v3,
        |  count(o_orderkey) - count(DISTINCT o_orderkey) AS u0
        |  FROM orders)
        |SELECT * FROM (
        |  SELECT 'not_null(o_custkey)' AS rule, CAST(v0 AS BIGINT) AS violations,
        |         n AS n_rows, v0 = 0 AS pass FROM t
        |  UNION ALL SELECT 'in_range(o_totalprice)', CAST(v1 AS BIGINT), n, v1 = 0 FROM t
        |  UNION ALL SELECT 'accepted(o_orderstatus)', CAST(v2 AS BIGINT), n, v2 = 0 FROM t
        |  UNION ALL SELECT 'matches(o_orderpriority)', CAST(v3 AS BIGINT), n, v3 = 0 FROM t
        |  UNION ALL SELECT 'unique(o_orderkey)', CAST(u0 AS BIGINT), n, u0 = 0 FROM t)
        |ORDER BY rule""".stripMargin,

    // per-row recompute of the violated-rule list, same declaration order
    "q_dq_quarantine" ->
      """WITH ann AS (SELECT o_orderkey,
        |  list_filter([
        |    CASE WHEN o_totalprice IS NOT NULL
        |         AND (o_totalprice < 0.0 OR o_totalprice > 400000.0)
        |         THEN 'in_range(o_totalprice)' END,
        |    CASE WHEN o_orderpriority IS NOT NULL
        |         AND NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z]+$')
        |         THEN 'matches(o_orderpriority)' END],
        |    x -> x IS NOT NULL) AS v
        |  FROM orders)
        |SELECT o_orderkey, array_to_string(v, ',') AS violated
        |FROM ann WHERE len(v) > 0 ORDER BY o_orderkey""".stripMargin,

    "q_profile_orders" -> {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority", "o_orderdate")
      cols.map { c =>
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |       count(*) - count($c) AS n_null,
           |       count(DISTINCT $c) AS n_distinct,
           |       CAST(min($c) AS VARCHAR) AS min_value,
           |       CAST(max($c) AS VARCHAR) AS max_value
           |FROM orders""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },

    "q_summary_incremental" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_price,
        |       min(o_orderkey) AS min_orderkey, max(o_orderkey) AS max_orderkey
        |FROM orders
        |GROUP BY o_orderstatus, o_orderpriority
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,

    "q_customers_no_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q_customer_segments_active" ->
      """SELECT c_mktsegment, count(*) AS n FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_sync_reconcile" ->
      """WITH origin AS (
        |  SELECT printf('ntp%08d', o_orderkey) || '_doc.pdf' AS name FROM orders WHERE o_orderkey % 2 = 0),
        |dest AS (
        |  SELECT printf('ntp%08d', o_orderkey) || '_doc.pdf' AS name FROM orders WHERE o_orderkey % 3 = 0)
        |SELECT 'ADD' AS op, name FROM origin WHERE name NOT IN (SELECT name FROM dest)
        |UNION ALL
        |SELECT 'DEL' AS op, name FROM dest WHERE name NOT IN (SELECT name FROM origin)
        |UNION ALL
        |SELECT 'KEEP' AS op, name FROM origin WHERE name IN (SELECT name FROM dest)
        |ORDER BY op, name""".stripMargin,

    "ntp_latest_versions" -> (versionsCte +
      """
        |SELECT _id, nk, updated FROM (
        |  SELECT _id, nk, updated,
        |         row_number() OVER (PARTITION BY nk ORDER BY updated DESC, _id DESC) AS rn
        |  FROM v) t
        |WHERE rn = 1 ORDER BY nk""".stripMargin),

    "ntp_tombstones" -> (versionsCte +
      """
        |SELECT _id, nk, TRUE AS obsolete_version, updated_to FROM (
        |  SELECT _id, nk,
        |         row_number() OVER (PARTITION BY nk ORDER BY updated DESC, _id DESC) AS rn,
        |         first_value(_id) OVER (PARTITION BY nk ORDER BY updated DESC, _id DESC
        |                                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS updated_to
        |  FROM v) t
        |WHERE rn > 1 ORDER BY _id""".stripMargin),

    "ntp_merge_updates" -> (versionsCte +
      """
        |SELECT nk, array_to_string(list_sort(list_distinct(list(updated))), ',') AS updates
        |FROM v GROUP BY nk ORDER BY nk""".stripMargin),

    "ntp_record_diff" -> (versionsCte +
      """,
        |r AS (SELECT nk, ok, status, priority,
        |             row_number() OVER (PARTITION BY nk ORDER BY updated DESC, _id DESC) AS rn FROM v),
        |n AS (SELECT nk, CASE WHEN ok % 3 = 0 THEN '' ELSE status END AS ns,
        |             CASE WHEN ok % 4 = 0 THEN '' ELSE priority END AS np FROM r WHERE rn = 1),
        |o AS (SELECT nk, CASE WHEN ok % 5 = 0 THEN '' ELSE status END AS os,
        |             CASE WHEN ok % 6 = 0 THEN '' ELSE priority END AS op FROM r WHERE rn = 2)
        |SELECT n.nk AS nk,
        |  concat_ws(',', CASE WHEN ns <> '' AND os = '' THEN 'status' END,
        |                 CASE WHEN np <> '' AND op = '' THEN 'priority' END) AS added,
        |  concat_ws(',', CASE WHEN ns <> os AND ns <> '' AND os <> '' THEN 'status' END,
        |                 CASE WHEN np <> op AND np <> '' AND op <> '' THEN 'priority' END) AS modified,
        |  concat_ws(',', CASE WHEN ns = '' AND os <> '' THEN 'status' END,
        |                 CASE WHEN np = '' AND op <> '' THEN 'priority' END) AS missing
        |FROM n JOIN o ON n.nk = o.nk ORDER BY nk""".stripMargin),

    "ntp_legacy_recover" -> (versionsCte +
      """,
        |legacy AS (SELECT _id, nk FROM v WHERE ok % 5 = 0),
        |cur AS (SELECT _id, nk FROM (
        |          SELECT _id, nk, row_number() OVER (PARTITION BY nk ORDER BY updated DESC, _id DESC) AS rn
        |          FROM v WHERE ok % 5 <> 0) t WHERE rn = 1),
        |missing AS (SELECT _id FROM v WHERE ok % 4 = 0)
        |SELECT m._id, l.nk AS nk, c._id AS updated_to,
        |       CASE WHEN l._id IS NULL THEN 'NOT_IN_LEGACY'
        |            WHEN c._id IS NULL THEN 'NO_ACTIVE'
        |            ELSE 'REPOINTED' END AS action
        |FROM missing m
        |LEFT JOIN legacy l ON m._id = l._id
        |LEFT JOIN cur c ON l.nk = c.nk
        |ORDER BY m._id""".stripMargin),

    "ntp_repair_report" -> (versionsCte +
      """,
        |r AS (SELECT _id, nk,
        |        row_number() OVER (PARTITION BY nk ORDER BY updated DESC, _id DESC) AS rk,
        |        lag(_id, 1) OVER (PARTITION BY nk ORDER BY updated DESC, _id DESC) AS prev
        |      FROM v WHERE nk % 4 = 0),
        |h AS (SELECT nk, _id AS head FROM r WHERE rk = 1)
        |SELECT r._id AS _id, r.nk AS nk, r.prev AS old_to, h.head AS new_to,
        |       'REPOINTED' AS action
        |FROM r JOIN h ON r.nk = h.nk
        |WHERE r.rk >= 3
        |ORDER BY r._id""".stripMargin),

    "ntp_version_histogram" -> (versionsCte +
      """
        |SELECT n_versions, count(*) AS n_keys FROM (
        |  SELECT nk, count(*) AS n_versions FROM v GROUP BY nk) t
        |GROUP BY n_versions ORDER BY n_versions""".stripMargin),

    "ntp_id_audit" -> (versionsCte +
      """
        |SELECT nk, count(*) AS n_versions, count(DISTINCT _id) AS n_ids,
        |       count(*) = count(DISTINCT _id) AS ids_unique
        |FROM v GROUP BY nk ORDER BY nk""".stripMargin),

    "ntp_group_watermarks" -> (versionsCte +
      """
        |SELECT CASE WHEN _id LIKE 'ntp1%' THEN 1 ELSE 0 END AS grp,
        |       max(_id) AS max_id,
        |       max(CAST(substr(_id, 4, 8) AS BIGINT)) AS max_order,
        |       count(*) AS n
        |FROM v GROUP BY 1 ORDER BY grp""".stripMargin),

    "ntp_overlap_merge" -> (versionsCte +
      """,
        |inc AS (SELECT nk, list_sort(list_distinct(list(updated))) AS u FROM v WHERE ok % 3 = 0 GROUP BY nk),
        |exi AS (SELECT nk, list_sort(list_distinct(list(updated))) AS u FROM v WHERE ok % 3 <> 0 GROUP BY nk)
        |SELECT inc.nk AS nk, len(list_intersect(inc.u, exi.u)) > 0 AS same_version
        |FROM inc JOIN exi ON inc.nk = exi.nk ORDER BY nk""".stripMargin),

    "ntp_ingest_overlap_roundtrip" -> (versionsCte +
      """,
        |exi AS (SELECT _id, ok, nk, updated, status FROM (
        |          SELECT _id, ok, nk, updated, status,
        |                 row_number() OVER (PARTITION BY nk ORDER BY updated DESC, _id DESC) AS rn
        |          FROM v WHERE ok % 3 <> 0) t WHERE rn = 1),
        |inc AS (SELECT nk, ok, updated, status FROM v WHERE ok % 3 = 0),
        |cls AS (SELECT i.nk, i.ok, i.updated, i.status,
        |               e._id AS act_id,
        |               (e.nk IS NOT NULL AND i.updated = e.updated) AS ovl,
        |               i.updated || CAST(i.ok AS VARCHAR) || i.updated || i.status AS ord
        |        FROM inc i LEFT JOIN exi e ON i.nk = e.nk),
        |mg AS (SELECT act_id,
        |              list_sort(list_distinct(list(updated))) AS inc_arr,
        |              arg_max(ok, ord) AS new_ok,
        |              arg_max(status, ord) AS new_status
        |       FROM cls WHERE ovl GROUP BY act_id),
        |merged AS (SELECT e._id, e.nk, 'merged' AS origin,
        |                  array_to_string(list_sort(list_distinct(list_concat([e.updated], m.inc_arr))), ',') AS timeline,
        |                  CASE WHEN m.new_status IS NULL OR m.new_status = '' THEN e.status ELSE m.new_status END AS status_out,
        |                  m.new_ok AS ok_out
        |           FROM exi e JOIN mg m ON e._id = m.act_id),
        |wm AS (SELECT max(CAST(substr(_id, 4, 8) AS BIGINT)) AS w FROM exi),
        |fresh AS (SELECT printf('ntp%08d', (SELECT w FROM wm) + row_number() OVER (ORDER BY ok)) AS _id,
        |                 nk, 'fresh' AS origin, updated AS timeline, status AS status_out, ok AS ok_out
        |          FROM cls WHERE NOT ovl)
        |SELECT _id, nk, origin, timeline, status_out, ok_out FROM merged
        |UNION ALL
        |SELECT _id, nk, origin, timeline, status_out, ok_out FROM fresh
        |ORDER BY _id""".stripMargin),

    "ntp_assign_ids" ->
      """SELECT o_orderkey AS ok,
        |       printf('ntp%08d', row_number() OVER (ORDER BY o_orderkey)) AS _id
        |FROM orders WHERE o_orderkey % 7 <> 0 ORDER BY ok""".stripMargin,

    "q_median_order_value" ->
      """WITH r AS (
        |  SELECT o_orderstatus, o_totalprice,
        |         row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey) AS rn,
        |         count(*) OVER (PARTITION BY o_orderstatus) AS cnt
        |  FROM orders)
        |SELECT o_orderstatus, o_totalprice AS median_price FROM r
        |WHERE rn = (cnt + 1) // 2 ORDER BY o_orderstatus""".stripMargin,

    "q_events_quartiles" ->
      """SELECT event_type, q, count(*) AS n, min(value) AS minv, max(value) AS maxv
        |FROM (SELECT event_type, value,
        |             ntile(4) OVER (PARTITION BY event_type ORDER BY value, event_id) AS q
        |      FROM events) t
        |GROUP BY event_type, q ORDER BY event_type, q""".stripMargin,

    "q_above_nation_avg" ->
      """WITH a AS (
        |  SELECT c_nationkey,
        |         CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS DOUBLE) / count(*) AS avg_cents
        |  FROM customer GROUP BY c_nationkey)
        |SELECT c.c_custkey, c.c_name
        |FROM customer c JOIN a ON c.c_nationkey = a.c_nationkey
        |WHERE CAST(round(c.c_acctbal*100) AS BIGINT) > a.avg_cents
        |ORDER BY c_custkey""".stripMargin,

    "q_events_sessionize" ->
      """WITH marked AS (
        |  SELECT user_id, ts, event_id, value,
        |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |                   OR ts > lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) + INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS is_new
        |  FROM events),
        |sessions AS (
        |  SELECT user_id, ts, event_id, value,
        |         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM marked)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
        |       min(ts) AS session_start, max(ts) AS session_end,
        |       CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    "q_events_windowed" ->
      """SELECT date_trunc('hour', ts) AS wstart, event_type, count(*) AS n,
        |       CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
        |FROM events GROUP BY date_trunc('hour', ts), event_type
        |ORDER BY wstart, event_type""".stripMargin,

    // naive BETWEEN recompute of the binned interval join
    "q_range_join_binned" ->
      """WITH base AS (SELECT min(epoch_us(ts)) AS t0 FROM events),
        |ivals AS (SELECT CAST(i AS BIGINT) AS iid,
        |                 t0 + i * 3600000000 AS lo,
        |                 t0 + (i + 2) * 3600000000 AS hi
        |          FROM base, range(48) AS t(i))
        |SELECT CAST(e.event_id AS BIGINT) AS event_id, v.iid
        |FROM events e JOIN ivals v
        |  ON epoch_us(e.ts) >= v.lo AND epoch_us(e.ts) < v.hi
        |ORDER BY event_id, iid""".stripMargin,

    "q_rollup_orders" ->
      """SELECT coalesce(o_orderstatus, '(all)') AS dim_status,
        |       coalesce(o_orderpriority, '(all)') AS dim_priority,
        |       count(*) AS n,
        |       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY dim_status, dim_priority""".stripMargin,

    "q_stream_dedup_docs" ->
      """SELECT DISTINCT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp
        |FROM documents ORDER BY fp""".stripMargin,

    // lossless retention (k >= domain): the served sketch's bounds
    // collapse to the exact count on both sides
    "q_stream_topk" ->
      """SELECT event_type, count(*) AS n_est, count(*) AS n_hi
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_stream_windowed" ->
      """SELECT date_trunc('hour', ts) AS wstart, event_type, count(*) AS n,
        |       CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
        |FROM events GROUP BY date_trunc('hour', ts), event_type
        |ORDER BY wstart, event_type""".stripMargin,

    "q_stream_stream_join" ->
      """SELECT CAST(a.event_id AS BIGINT) AS view_id,
        |       CAST(b.event_id AS BIGINT) AS purchase_id,
        |       CAST(a.user_id AS BIGINT) AS user_id
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND a.event_type = 'view' AND b.event_type = 'purchase'
        | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 6 HOUR
        |ORDER BY view_id, purchase_id""".stripMargin,

    "q_stream_enrich_join" ->
      """SELECT c.c_mktsegment, count(*) AS n,
        |       CAST(sum(CAST(round(e.value*100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
        |FROM events e JOIN customer c ON (e.user_id % 100) + 1 = c.c_custkey
        |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin,

    "q_stream_sessionize" ->
      """WITH marked AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |                   OR ts > lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) + INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS is_new
        |  FROM events),
        |sessions AS (
        |  SELECT user_id, ts, event_id,
        |         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM marked),
        |agg AS (
        |  SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
        |         min(ts) AS session_start, max(ts) AS session_end,
        |         max(CAST(session_id AS BIGINT)) OVER (PARTITION BY user_id) AS max_sid
        |  FROM sessions GROUP BY user_id, session_id)
        |SELECT user_id, session_id, n_events, session_start, session_end
        |FROM agg
        |WHERE session_id < max_sid
        |ORDER BY user_id, session_id""".stripMargin,

    "q_events_json_extract" ->
      """SELECT event_type,
        |       CAST(sum(CAST(regexp_extract(props, '"k": (-?[0-9]+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
        |       count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the lookup result is just the semantics of IN — the bloom pruning
    // being exercised on the Spark side can't change the rows, only how
    // many files produce them
    "q_lake_point_lookup" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, source, lang,
        |       CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents WHERE doc_id IN (3, 7, 11, 999983)
        |ORDER BY doc_id""".stripMargin,

    // manifest-resolved lookup over the CURRENT snapshot: base docs with
    // the CoW upsert's +1 applied to every 97th key
    "q_snapshot_point_lookup" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, source, lang,
        |       CAST(n_chars + CASE WHEN doc_id % 97 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_chars
        |FROM documents WHERE doc_id IN (3, 7, 97, 999983)
        |ORDER BY doc_id""".stripMargin,

    // the zone-map range scan is just BETWEEN over the post-upsert state
    // — the file pruning on the Spark side can't change the rows, only
    // how many files produce them
    "q_zonemap_range" ->
      """WITH cur AS (
        |  SELECT o_orderkey, o_custkey,
        |         CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 600000.0
        |              ELSE o_totalprice END AS o_totalprice
        |  FROM orders)
        |SELECT o_orderkey, o_custkey, o_totalprice FROM cur
        |WHERE o_totalprice >= 400000.0 AND o_totalprice <= 700000.0
        |ORDER BY o_orderkey""".stripMargin,

    // the metadata-served aggregate is just min/max/count over the
    // post-upsert state — per-file stats are exact, so their fold equals
    // the full scan's
    "q_zonemap_agg" ->
      """WITH cur AS (
        |  SELECT CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 600000.0
        |              ELSE o_totalprice END AS p
        |  FROM orders)
        |SELECT min(p) AS min_v, max(p) AS max_v,
        |       count(*) AS n_rows, count(p) AS n_vals
        |FROM cur""".stripMargin,

    // the snapshot-lake version diff, recomputed stateless: v1 is the
    // filtered base, "now" applies the upsert's +1000 and the delete's
    // %9 removal on top of it
    "q_lake_time_travel" ->
      """WITH v1 AS (SELECT c_custkey, c_acctbal AS bal_v1 FROM customer
        |            WHERE c_custkey % 3 = 0),
        |now AS (SELECT c_custkey,
        |               CASE WHEN c_custkey % 6 = 0 THEN c_acctbal + 1000.0
        |                    ELSE c_acctbal END AS bal_now
        |        FROM customer
        |        WHERE c_custkey % 3 = 0 AND c_custkey % 9 <> 0)
        |SELECT v1.c_custkey, v1.bal_v1, now.bal_now,
        |       CASE WHEN now.c_custkey IS NULL THEN 'deleted'
        |            WHEN now.bal_now <> v1.bal_v1 THEN 'updated'
        |            ELSE 'kept' END AS op
        |FROM v1 LEFT JOIN now ON v1.c_custkey = now.c_custkey
        |ORDER BY v1.c_custkey""".stripMargin,

    // the net change feed, recomputed stateless: inserts are the v2 keys
    // outside the base that survive the delete, updates the +1000 keys
    // that survive it, deletes the base keys the %9 predicate removed
    // (pre-image = the v1 balance, BEFORE the intervening +1000)
    "q_snapshot_changes" ->
      """SELECT c_custkey, c_name, c_acctbal, 'insert' AS change_type
        |FROM customer WHERE c_custkey % 3 = 1
        |UNION ALL
        |SELECT c_custkey, c_name, c_acctbal + 1000.0 AS c_acctbal,
        |       'update_post' AS change_type
        |FROM customer WHERE c_custkey % 6 = 0 AND c_custkey % 9 <> 0
        |UNION ALL
        |SELECT c_custkey, c_name, c_acctbal, 'delete' AS change_type
        |FROM customer WHERE c_custkey % 3 = 0 AND c_custkey % 9 = 0
        |ORDER BY c_custkey""".stripMargin,

    // magic-shift Morton interleave, stage by stage; every intermediate is
    // BIGINT so the shifts can't overflow DuckDB's 32-bit INTEGER
    "q_zorder_key" ->
      """WITH b0 AS (SELECT CAST(p_partkey AS BIGINT) AS p_partkey,
        |                   CAST(p_partkey % 4096 AS BIGINT) AS a,
        |                   CAST(p_size AS BIGINT) AS b FROM part),
        |b1 AS (SELECT p_partkey, (a | (a << 8)) & 16711935 AS a,
        |                         (b | (b << 8)) & 16711935 AS b FROM b0),
        |b2 AS (SELECT p_partkey, (a | (a << 4)) & 252645135 AS a,
        |                         (b | (b << 4)) & 252645135 AS b FROM b1),
        |b3 AS (SELECT p_partkey, (a | (a << 2)) & 858993459 AS a,
        |                         (b | (b << 2)) & 858993459 AS b FROM b2),
        |b4 AS (SELECT p_partkey, (a | (a << 1)) & 1431655765 AS a,
        |                         (b | (b << 1)) & 1431655765 AS b FROM b3)
        |SELECT p_partkey, CAST(a | (b << 1) AS BIGINT) AS zkey
        |FROM b4 ORDER BY p_partkey""".stripMargin) ++ CorpusQueries.oracleSql
}

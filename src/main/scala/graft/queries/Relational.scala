package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{OracleSql, QueryDef, Tables}
import graft.core.QueryDef.OrderedOut

/** Relational batch catalog — the operator categories the reference lacks
  * entirely (SURVEY.md §2.5): joins of every flavor, hash/distinct/grouped
  * aggregation, rollup/cube, window functions, top-k, set ops.
  *
  * Scale notes (100 TB):
  *   - dimension joins (region, nation, the range-bucket dim) broadcast —
  *     no shuffle of the fact side;
  *   - fact-fact joins (orders⋈customer) shuffle on the join key and get
  *     partial aggregation map-side before the exchange;
  *   - the as-of join is the union+window formulation: one shuffle on the
  *     partition key, no per-row range probe, state O(1) per row — this is
  *     the formulation that survives 1000 executors, unlike a theta-join;
  *   - top-k is TakeOrderedAndProject (per-partition k, then merge), never a
  *     global sort;
  *   - trailing orderBy(unique key) on each query is oracle-harness
  *     stabilization, not part of the operator under test.
  */
object Relational {

  /** Tiny dim ⋈ tiny dim — Catalyst auto-broadcasts; the explicit hint
    * documents intent and keeps the plan stable under AQE. */
  def joinBroadcast(s: SparkSession, d: String): DataFrame =
    Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"), col("r_name"))
      .orderedBy("n_nationkey")

  /** Fact ⋈ fact ⋈ dim with grouped agg: orders⋈customer shuffles on
    * custkey, nation broadcasts. The customer side carries an explicit
    * `merge` hint: at test SF it sits under the broadcast threshold and
    * Catalyst would silently plan BHJ — the hint pins the SortMergeJoin
    * this query exists to exercise (at 100 TB both sides are facts and SMJ
    * is the honest strategy), and the plan guard asserts it. */
  def joinSmj(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.customer(s, d).hint("merge"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("order_cnt"),
        // Exact decimal sum, ONE final cast to double: Spark widens
        // sum(decimal(18,2)) to decimal(28,2) while DuckDB widens to
        // decimal(38,2) — emitting double sidesteps the width mismatch
        // without losing determinism (the sum itself stays exact).
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_total")
      )
      .orderedBy("n_name")

  /** The third equi-join strategy, SHUFFLED HASH (no sort of either side —
    * builds a hash map per partition from the smaller side): right at
    * 100 TB when both sides are too big to broadcast but one is much
    * smaller than the other and sorting the big side (SMJ) is the
    * dominant cost. Hinted; the plan guard asserts the strategy so a
    * silent Catalyst fallback to SMJ fails loudly. Same aggregate as
    * [[joinSmj]] over a different dim, so strategy is the only variable. */
  def joinShj(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.supplier(s, d).hint("shuffle_hash"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey"))
      .agg(
        count(lit(1)).as("item_cnt"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price")
      )
      .orderedBy("s_nationkey")

  /** Runtime BLOOM-FILTER join: Catalyst's InjectRuntimeFilter builds a
    * bloom filter from the SELECTIVE dim side (part, filtered to one
    * brand) and pushes `might_contain(xxhash64(l_partkey))` onto the fact
    * scan — at 100 TB this prunes ~96% of lineitem BEFORE the shuffle,
    * the single biggest exchange-volume lever Spark has for selective
    * fact⋈dim shuffle joins. Injection is gated on plan-size thresholds
    * (application side > 10 GB by default) that testdata never meets, so
    * the query runs in a conf-isolated child session — `newSession`
    * starts from the BUILDER-time conf (runtime `conf.set` changes on the
    * parent are NOT inherited; that would be `cloneSession`, which is
    * private) and shares the SparkContext and cached data — with the
    * thresholds scaled down to replicate cluster-scale conditions;
    * broadcast is disabled there because a broadcast join already prunes
    * build-side misses in the probe — the filter only pays on shuffle
    * joins, which is what 100 TB plans. The filter is semantics-free
    * (false positives only re-admit rows the join drops), so the oracle
    * is the plain join SQL; the plan guard asserts `might_contain` /
    * `bloom_filter_agg` actually landed. */
  def joinBloom(s: SparkSession, d: String): DataFrame = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1KB")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    Tables.lineitem(s2, d)
      .join(Tables.part(s2, d).filter(col("p_brand") === "Brand#23"),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("item_cnt"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price")
      )
      .orderedBy("l_returnflag")
  }

  /** Left outer join preserving order-less customers (count=0, spend=0). */
  def joinLeft(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(
        count(col("o_orderkey")).as("order_cnt"),
        coalesce(sum(col("o_totalprice").cast("decimal(18,2)")),
          lit(0).cast("decimal(18,2)")).cast("double").as("spend")
      )
      .orderedBy("c_custkey")

  def joinSemi(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderedBy("c_custkey")

  /** Anti-joined against pending orders only — every customer has *some*
    * order in this data, so the unfiltered anti-join would be empty. */
  def joinAnti(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_orderstatus") === "P"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderedBy("c_custkey")

  /** Range/theta join against a literal bucket dimension — broadcast, so the
    * inequality predicate never drives a shuffle. */
  def joinRange(s: SparkSession, d: String): DataFrame = {
    val buckets = s.createDataFrame(Seq(
      (1, 16, "small"), (17, 33, "medium"), (34, 50, "large")
    )).toDF("lo", "hi", "bucket")
    Tables.part(s, d)
      .join(broadcast(buckets), col("p_size") >= col("lo") && col("p_size") <= col("hi"))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("part_cnt"),
        sum(col("p_retailprice").cast("decimal(18,2)")).cast("double").as("sum_retail")
      )
      .orderedBy("bucket")
  }

  /** Skew-safe salted equi-join (Layout.saltedJoin): the fact side's join
    * key is salted into 4 buckets and the dim replicated 4×, so one
    * dominant key spreads over 4 reducers — the manual skew treatment for
    * contexts where AQE's runtime skew split can't help (stream-static
    * joins, deterministic plans). The salt is a deterministic content hash
    * of the fact row (Layout.saltedJoin — no rand(), no
    * monotonically_increasing_id), so re-runs and task retries replay the
    * same partitioning. Result is IDENTICAL to the plain join (the oracle
    * is the unsalted SQL), which is the point: salting is a physical-layout
    * decision, not a semantic one. */
  def joinSalted(s: SparkSession, d: String): DataFrame =
    graft.core.Layout.saltedJoin(
        Tables.orders(s, d), Tables.customer(s, d), "o_custkey", "c_custkey", 4)
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("order_cnt"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_total"))
      .orderedBy("c_mktsegment")

  /** TPC-H Q1 (pricing summary report) — the canonical scan-heavy
    * aggregate, verbatim shape on the testdata's lineitem: one pass,
    * partial+final HashAggregate on a 2-value key, every measure exact.
    * Float discipline: the per-row disc_price/charge products are fixed
    * IEEE trees rounded to 6dp decimals before the EXACT sums (the bm25
    * component rule), averages are one IEEE divide over exact sums, and
    * each output casts to double ONCE. */
  def tpchQ1(s: SparkSession, d: String): DataFrame =
    q1Aggregate(Tables.lineitem(s, d)).orderedBy("l_returnflag", "l_linestatus")

  /** TPC-H Q1 under the STREAMING engine (37th bridge): the canonical
    * pricing-summary aggregate as a complete-mode streaming aggregation
    * over the lineitem file source — the same partial/merge lanes cross
    * the StateStore instead of a batch exchange, and the IDENTICAL Q1
    * oracle adjudicates the result. The one relational-canon shape worth
    * bridging: pure grouped aggregation with 6-row state, exactly what a
    * production pricing monitor would run per ingest batch. */
  def tpchQ1Streamed(s: SparkSession, d: String): DataFrame =
    Tables.runStreamComplete(s, "tpch_q1_streamed_") { cs =>
      q1Aggregate(Tables.lineitemStream(cs, d))
    }.orderedBy("l_returnflag", "l_linestatus")

  /** ONE Q1 body serves the batch query and its streaming bridge — a
    * measure change cannot split their claims. */
  private def q1Aggregate(lineitem: DataFrame): DataFrame = {
    val cutoff = lit("1998-09-02").cast("timestamp")
    val disc = expr(
      "CAST(round(l_extendedprice * (1 - l_discount), 6) AS DECIMAL(28,6))")
    val charge = expr(
      "CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6) " +
        "AS DECIMAL(28,6))")
    lineitem
      .filter(col("l_shipdate") <= cutoff)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("sum_base_price"),
        sum(disc).cast("double").as("sum_disc_price"),
        sum(charge).cast("double").as("sum_charge"),
        (sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          / count(lit(1))).as("avg_qty"),
        (sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          / count(lit(1))).as("avg_price"),
        (sum(col("l_discount").cast("decimal(18,2)")).cast("double")
          / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  private val tpchQ1Oracle =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount), 6)
      |           AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
      |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6)
      |           AS DECIMAL(28,6))) AS DOUBLE) AS sum_charge,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
      |  CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q3 (shipping-priority revenue), adapted to the testdata's
    * orders (no o_shippriority column — dropped from the projection;
    * otherwise verbatim): BUILDING-segment customers, orders placed
    * before / lines shipped after the date, top 10 open orders by
    * exact-decimal revenue. Plan: two key joins, one (orderkey,
    * orderdate) aggregate, TakeOrderedAndProject for the top-k. The
    * customer side carries NO broadcast hint on purpose: customer scales
    * linearly with SF (FIXTURES.md), so a pinned broadcast would OOM a
    * 100 TB run exactly when it matters — AQE's size-based choice
    * broadcasts it at test SF (plan-guarded in CatalogSpec) and degrades
    * to a shuffle join when the filtered side outgrows the threshold. */
  def tpchQ3(s: SparkSession, d: String): DataFrame = {
    val date = lit("1998-03-15").cast("timestamp")
    val rev = expr(
      "CAST(round(l_extendedprice * (1 - l_discount), 6) AS DECIMAL(28,6))")
    val c = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val o = Tables.orders(s, d).filter(col("o_orderdate") < date)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val l = Tables.lineitem(s, d).filter(col("l_shipdate") > date)
      .select(col("l_orderkey"), rev.as("rev"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sum(col("rev")).cast("double").as("revenue"))
      .select(col("l_orderkey"),
        unix_timestamp(col("o_orderdate")).as("o_date"), col("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
      .orderedBy("l_orderkey")
  }

  private val tpchQ3Oracle =
    """SELECT l_orderkey, o_date, revenue FROM (
      |  SELECT l_orderkey,
      |         CAST(epoch(o_orderdate) AS BIGINT) AS o_date,
      |         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount), 6)
      |                  AS DECIMAL(28,6))) AS DOUBLE) AS revenue
      |  FROM customer JOIN orders ON c_custkey = o_custkey
      |  JOIN lineitem ON l_orderkey = o_orderkey
      |  WHERE c_mktsegment = 'BUILDING'
      |    AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      |    AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
      |  GROUP BY l_orderkey, o_orderdate
      |  ORDER BY revenue DESC, l_orderkey LIMIT 10)
      |ORDER BY l_orderkey""".stripMargin

  /** TPC-H Q5 (local-supplier volume) — the 6-way join classic, verbatim
    * on the testdata schema: ASIA-region customers' orders in a 1-year
    * window, revenue credited only when the line's supplier sits in the
    * customer's own nation. Plan shape: region→nation fold to a
    * broadcast-sized build side, the two fact tables (orders, lineitem)
    * meet on one orderkey exchange, and the n_name aggregate is 25-row
    * state. Hints ONLY on the fixed-cardinality dims (region 5 rows,
    * nation 25 rows — constant at any SF); supplier and customer scale
    * linearly with SF, so their join strategies are left to AQE's
    * size-based choice (broadcast at test SF, plan-guarded; shuffle when
    * a 100 TB run outgrows the threshold). Revenue is the Q1/Q3
    * exact-decimal lane. */
  def tpchQ5(s: SparkSession, d: String): DataFrame = {
    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1997-01-01").cast("timestamp")
    val rev = expr(
      "CAST(round(l_extendedprice * (1 - l_discount), 6) AS DECIMAL(28,6))")
    val nat = Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val sup = Tables.supplier(s, d)
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_nationkey"))
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_nationkey"))
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"), rev.as("rev"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(sup,
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("rev")).cast("double").as("revenue"))
      .orderedBy("n_name")
  }

  private val tpchQ5Oracle =
    """SELECT n_name,
      |       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount), 6)
      |                AS DECIMAL(28,6))) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** TPC-H Q18 (large-volume customers) — the HAVING-semi-join classic:
    * orders whose total line quantity exceeds 300, joined back to their
    * customers and re-aggregated, top 100 by price. Plan shape: the
    * HAVING aggregate folds lineitem once (exact-decimal quantity sums),
    * its survivor set broadcasts into a semi-join on orders, and the
    * final per-order aggregate reuses the orderkey exchange;
    * TakeOrderedAndProject caps the output. The ONE retained hint is on
    * `big`: its cardinality is set by the `> 300` HAVING cut (TPC-H spec
    * selectivity ~0.004% of orders — key-only rows, still broadcastable
    * at 100 TB), not by SF-linear table size; customer, which DOES scale
    * linearly, carries no hint — AQE broadcasts its key-only projection
    * at test SF (plan-guarded) and shuffles it when it outgrows the
    * threshold. The deliberate
    * extra over the spec: an o_orderkey tiebreak so the top-100 cut is
    * deterministic under the hash gate. */
  def tpchQ18(s: SparkSession, d: String): DataFrame = {
    val qty = sum(col("l_quantity").cast("decimal(18,2)"))
    val big = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey")).agg(qty.as("q"))
      .filter(col("q") > 300).select(col("l_orderkey").as("big_key"))
    val l = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_quantity"))
      .join(broadcast(big), col("l_orderkey") === col("big_key"), "left_semi")
    l.join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d).select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"))
      .agg(qty.cast("double").as("total_qty"))
      .select(col("c_custkey"), col("o_orderkey"),
        unix_timestamp(col("o_orderdate")).as("o_date"),
        col("o_totalprice"), col("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_date"), col("o_orderkey"))
      .limit(100)
      .orderedBy("o_orderkey")
  }

  private val tpchQ18Oracle =
    """SELECT c_custkey, o_orderkey, o_date, o_totalprice, total_qty FROM (
      |  SELECT c_custkey, o_orderkey,
      |         CAST(epoch(o_orderdate) AS BIGINT) AS o_date,
      |         o_totalprice,
      |         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
      |           AS total_qty
      |  FROM customer JOIN orders ON c_custkey = o_custkey
      |  JOIN lineitem ON o_orderkey = l_orderkey
      |  WHERE o_orderkey IN (
      |    SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      |    HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 300)
      |  GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
      |  ORDER BY o_totalprice DESC, o_date, o_orderkey LIMIT 100)
      |ORDER BY o_orderkey""".stripMargin

  /** TPC-H Q4 (order priority checking) — the correlated-EXISTS classic,
    * the one canonical shape the catalog lacked (q_scalar_subq covers
    * scalar subqueries only). Adapted to the testdata schema: lineitem
    * has no commit/receipt dates, so "a late line exists" becomes
    * `l_shipdate > o_orderdate + 90 days` — still correlated on BOTH the
    * join key AND an outer column, exactly what exercises Catalyst's
    * decorrelation. Written as SQL with the EXISTS left in, NOT as a
    * hand-built semi-join: RewritePredicateSubquery must rewrite it to a
    * left-semi join with the correlated predicate as a join condition
    * (plan-guarded in CatalogSpec — no per-row subquery execution
    * survives). Plan shape at scale: pushed date filter shrinks orders
    * to the 3-month window before the semi-join; the lineitem side
    * carries only (l_orderkey, l_shipdate); the priority aggregate is
    * 5-row state. */
  def tpchQ4(s: SparkSession, d: String): DataFrame = s.synchronized {
    // register→analyze serialized per session, same discipline as
    // Tpch.sqlQuery: a concurrent builder re-registering the _q4 views
    // for another dir between these lines would bind a cross-SF join
    Tables.orders(s, d).createOrReplaceTempView("orders_q4")
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem_q4")
    s.sql(
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders_q4 o
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem_q4 l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAYS)
        |GROUP BY o_orderpriority""".stripMargin)
      .orderedBy("o_orderpriority")
  }

  private val tpchQ4Oracle =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders o
      |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey
      |                AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Correlated LATERAL subquery (top-k-per-row): each customer's two
    * highest-value orders through a LATERAL (... ORDER BY ... LIMIT 2) —
    * the remaining canonical subquery position after Q4's EXISTS and
    * Q2/Q17's scalars. Written as SQL with the LATERAL left in: Catalyst
    * must decorrelate it (DecorrelateLateralSubquery) into an equi-join
    * against a WindowGroupLimit-pruned orders side — per-partition top-k
    * BEFORE the exchange, never a per-customer nested loop (plan-guarded).
    * At 100 TB that means orders is cut to ≤2 rows/customer map-side; the
    * join shuffles only survivors. Tie discipline: o_orderkey breaks
    * o_totalprice ties, so the top-2 SET is deterministic. */
  // ONE text serves both engines (the Tpch shared-SQL rule — two
  // hand-synced copies would fork silently on the next edit)
  private val joinLateralSql =
    """SELECT c_custkey, o_orderkey, o_totalprice
      |FROM %CUST% c,
      |LATERAL (SELECT o_orderkey, o_totalprice FROM %ORD%
      |         WHERE o_custkey = c.c_custkey
      |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t""".stripMargin

  def joinLateral(s: SparkSession, d: String): DataFrame = s.synchronized {
    Tables.customer(s, d).createOrReplaceTempView("customer_lat")
    Tables.orders(s, d).createOrReplaceTempView("orders_lat")
    s.sql(joinLateralSql
        .replace("%CUST%", "customer_lat").replace("%ORD%", "orders_lat"))
      .orderedBy("c_custkey", "o_orderkey")
  }

  private val joinLateralOracle =
    joinLateralSql.replace("%CUST%", "customer").replace("%ORD%", "orders") +
      "\nORDER BY c_custkey, o_orderkey"

  /** TPC-H Q13 (customer distribution) — the left-outer-then-aggregate
    * classic: every customer joined to their orders THROUGH a join-side
    * predicate (adapted: `o_orderstatus <> 'F'` stands in for the spec's
    * o_comment NOT LIKE — orders has no comment column), then
    * count(o_orderkey) per customer, where the COUNT-of-nulls semantics
    * carry the whole query: customers with no surviving order keep their
    * row through the outer join and land in the c_count = 0 class, which
    * an inner join (or a WHERE-side filter, which would turn the outer
    * join inner) silently deletes. Second aggregate folds the per-customer
    * counts into the (c_count, custdist) histogram — ≤ max-orders rows of
    * state. Scale shape: one shuffle on custkey for the outer join +
    * first aggregate, the histogram re-aggregates a customer-sized
    * relation; no hints anywhere (AQE broadcasts customer at test SF,
    * shuffles it at 100 TB — the Q3/Q5/Q18 rule). */
  def tpchQ13(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).select(col("c_custkey"))
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
    c.join(o, col("c_custkey") === col("o_custkey") &&
        col("o_orderstatus") =!= "F", "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderedBy("c_count")
  }

  private val tpchQ13Oracle =
    """SELECT c_count, count(*) AS custdist FROM (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT OUTER JOIN orders
      |    ON c_custkey = o_custkey AND o_orderstatus <> 'F'
      |  GROUP BY c_custkey)
      |GROUP BY c_count
      |ORDER BY c_count""".stripMargin

  /** AQE SKEW-JOIN — the runtime answer to the same hot-key problem
    * [[joinSalted]] solves by hand: a fact side where ~90% of rows share
    * one join key sort-merge-joins a small dim (broadcast disabled to
    * force the shuffle join), and ADAPTIVE execution detects the
    * oversized partition at runtime and splits it across tasks
    * (OptimizeSkewedJoin — `skew=true` in the final plan, pinned by
    * CatalogSpec). Thresholds are scaled to gate-sized data in a CHILD
    * session (the q_join_bloom conf-isolation pattern); production keeps
    * the defaults and the same plan shape appears at real skew. The
    * salted twin stays in the catalog: salting is the portable fix,
    * AQE the zero-code one — both under the same oracle discipline. */
  def joinSkewAqe(s0: SparkSession, d: String): DataFrame = {
    val s = s0.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "32KB")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    // the split must fire even though the agg below re-shuffles anyway
    s.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    // coalescing would wrap the stages in its own shuffle read first and
    // mask the skew rule at gate scale (production partition sizes keep
    // both rules active; only the thresholds are scaled here)
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    // fanOut: the skew SPLIT operates on map-output chunks, and the
    // single-row-group testdata scan is ONE map task — an indivisible
    // hot partition (at corpus scale the scan has thousands of splits
    // and this guard is a no-op, the fanOut contract)
    val fact = graft.core.QueryDef.fanOut(Tables.lineitem(s, d)).select(
      when(pmod(col("l_orderkey"), lit(10)) < 9, lit(1L))
        .otherwise(pmod(col("l_orderkey"), lit(25)) + 1).as("nk"),
      col("l_extendedprice"))
    val dim = Tables.nation(s, d)
      .select((col("n_nationkey") + 1).as("nk"), col("n_name"))
    fact.join(dim, "nk")
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("sum_price"))
      .orderedBy("n_name")
  }

  private val joinSkewAqeOracle: String =
    """SELECT n_name, count(*) AS cnt,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |         AS sum_price
      |FROM (SELECT CASE WHEN l_orderkey % 10 < 9 THEN 1
      |                  ELSE l_orderkey % 25 + 1 END AS nk,
      |             l_extendedprice FROM lineitem) f
      |JOIN (SELECT n_nationkey + 1 AS nk, n_name FROM nation) n USING (nk)
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** Z-order clustering key (Layout.zorderKey) over events: interleave
    * 16 bits of user_id with 16 bits of the event's epoch-minute, plus the
    * coarse zkey>>20 file bucket a write job would range-partition on —
    * the multi-dimensional layout that lets min/max file stats skip data
    * for predicates on EITHER user or time. The key derivation is what's
    * under oracle here (pure exact bit arithmetic, bit-identical
    * cross-engine); the write-side effect (PartitionFilters pruning) is
    * LayoutSpec's job. */
  def zorderQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(
      col("event_id"),
      (col("user_id") % 65536).as("x"),
      (expr("unix_micros(ts) DIV 60000000") % 65536).as("y"))
    ev.select(col("event_id"), col("x"), col("y"),
        graft.core.Layout.zorderKey(col("x"), col("y")).as("zkey"))
      .withColumn("zbucket", expr("zkey DIV 1048576"))
      .orderedBy("event_id")
  }

  /** Mirrors Layout.zorderKey bit-for-bit with DuckDB shift operators. */
  private val zorderOracle: String = {
    val interleave = (0 until 16).map(i =>
      s"(((x >> $i) & 1) << ${2 * i}) + (((y >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")
    s"""WITH e AS (
       |  SELECT event_id, user_id % 65536 AS x,
       |         (epoch_us(ts) // 60000000) % 65536 AS y
       |  FROM events),
       |z AS (SELECT event_id, x, y, $interleave AS zkey FROM e)
       |SELECT event_id, x, y, zkey, zkey // 1048576 AS zbucket
       |FROM z ORDER BY event_id""".stripMargin
  }

  /** As-of join: for every purchase event, the most recent click by the same
    * user at ts' <= ts. Union+window formulation (single shuffle on user_id,
    * sorted once, last(ignoreNulls) running value) — the scalable shape; a
    * per-row range probe would not survive 100 TB. Ties: clicks sort before
    * purchases at equal ts (is_p 0<1 — `<=` semantics), equal-ts clicks
    * resolve to the highest click event_id. */
  def joinAsof(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click").select(
      col("user_id"), col("ts"),
      col("event_id").as("click_id"), lit(0).as("is_p"),
      lit(null).cast("bigint").as("p_id"))
    val purchases = ev.filter(col("event_type") === "purchase").select(
      col("user_id"), col("ts"),
      lit(null).cast("bigint").as("click_id"), lit(1).as("is_p"),
      col("event_id").as("p_id"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("is_p"), col("click_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("asof_click_id", last(col("click_id"), ignoreNulls = true).over(w))
      .filter(col("is_p") === 1)
      .select(col("p_id").as("event_id"), col("asof_click_id"))
      .orderedBy("event_id")
  }

  /** [[joinAsof]] through the NATIVE whole-operator extension
    * ([[graft.plans.AsOfJoinExec]] — custom LogicalPlan + SparkStrategy +
    * merge SparkPlan): each side shuffles independently on user_id, sorts
    * map-side, and a single forward merge pass holds ONE candidate click
    * per key — no union, no window buffer, no post-filter. Identical
    * semantics (ties: `<=` at equal ts, highest click_id among equal-ts
    * clicks — the right-side (c_ts, click_id) sort with last-kept
    * candidate), adjudicated by the VERBATIM q_join_asof oracle. The
    * strategy is scoped to a child session, the qOhlcRewrite pattern. */
  def joinAsofNative(s: SparkSession, d: String): DataFrame = {
    val s2 = s.newSession()
    val ev = Tables.events(s2, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("p_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
    graft.plans.AsOfJoin.asof(purchases, clicks,
        Seq("user_id"), Seq("c_user"), "ts", "c_ts", Seq("click_id"))
      .select(col("p_id").as("event_id"), col("click_id").as("asof_click_id"))
      .orderedBy("event_id")
  }

  /** The NATIVE as-of exec under the STREAMING engine (27th
    * batch≡streaming bridge, the custom-SparkPlan one): purchases arrive
    * as 3 rate-limited micro-batches (maxFilesPerTrigger=1 over the
    * staged layout) and EACH batch as-of joins the static click table
    * through [[graft.plans.AsOfJoinExec]] inside foreachBatch — the
    * stream-static enrichment serving shape, planning the custom
    * strategy per micro-batch exactly as q_ohlc_rewrite_streamed proves
    * the optimizer RULE under the micro-batch planner. Every purchase's
    * match depends only on its own row and the static side, so the
    * union of per-batch results is the batch answer and the VERBATIM
    * asofOracle adjudicates. */
  def joinAsofStreamed(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("p_id"))
    // build-once staged layout (r20 opt, Tables.stageOnce rationale)
    val tmp = Tables.stageOnce(s, "asof_str3", d, "events") { p =>
      purchases.repartition(3).write.mode("overwrite").parquet(p)
    }
    Tables.runStreamForeachBatch(s, "asof_streamed_") { cs =>
      cs.readStream.schema(purchases.schema)
        .option("maxFilesPerTrigger", 1).parquet(tmp)
    } { (bs, batch) =>
      val clicks = Tables.events(bs, d).filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
          col("event_id").as("click_id"))
      graft.plans.AsOfJoin.asof(batch, clicks,
          Seq("user_id"), Seq("c_user"), "ts", "c_ts", Seq("click_id"))
        .select(col("p_id").as("event_id"), col("click_id").as("asof_click_id"))
    }.orderedBy("event_id")
  }

  /** TPC-H Q1 shape: partial+final hash aggregation over lineitem. Sums go
    * through exact decimal casts (2dp data); disc_price is a single IEEE
    * multiply per row (deterministic) then an exact decimal sum. */
  def aggHash(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(24,6)")).cast("double").as("sum_disc"),
        count(lit(1)).as("cnt")
      )
      .orderedBy("l_returnflag", "l_linestatus")

  /** Salted two-phase aggregation — the skew-agg twin of [[joinSalted]]:
    * when one grouping key dominates, salt it into buckets, partially
    * aggregate per (key, salt), then combine the partials per key. Sums and
    * counts re-aggregate losslessly (exact decimals), so the result is
    * IDENTICAL to the plain aggregation — the oracle is the unsalted SQL.
    * Salt is a deterministic content hash (no rand()), per Layout.salted. */
  def aggSalted(s: SparkSession, d: String): DataFrame = {
    val partial = Tables.lineitem(s, d)
      .withColumn("salt",
        pmod(hash(col("l_orderkey"), col("l_linenumber")), lit(8)))
      .groupBy(col("l_returnflag"), col("salt"))
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).as("psum"),
        count(lit(1)).as("pcnt"))
    partial
      .groupBy(col("l_returnflag"))
      .agg(
        sum(col("psum")).cast("double").as("sum_qty"),
        sum(col("pcnt")).as("cnt"))
      .orderedBy("l_returnflag")
  }

  def aggDistinct(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("parts"),
        countDistinct(col("l_suppkey")).as("supps"),
        count(lit(1)).as("cnt")
      )
      .orderedBy("l_returnflag")

  /** A fully-deterministic HLL-style distinct sketch, expressed as plain
    * relational ops — the "novel sketch" shape with a COMPLETE cross-engine
    * oracle (unlike the built-in approx_count_distinct, whose murmur/HLL++
    * internals DuckDB can't replay):
    *
    *   hash = 32-bit md5 prefix of the value; bucket = hash mod m (m=64);
    *   w = hash div m (26 bits); rho = leading-zero rank of w, computed
    *   EXACTLY via bin-string length (both engines have bin(); no
    *   floor(log2) boundary risk); register = max(rho) per bucket; raw HLL
    *   estimate = alpha·m² / Σ 2^-reg.
    *
    * Why the estimate is bit-identical cross-engine: every Σ term is an
    * exact dyadic 2^-k (k ≤ 27) built by integer shift + one divide, and
    * 64 such terms span < 52 mantissa bits, so EVERY partial sum is exact
    * — the harmonic mean is order-independent. The remaining ops are
    * single IEEE multiply/divide + round. Scale shape: two hash aggs
    * (partial map-side), ≤ m registers of state per group; no correction
    * branch (ln() would reintroduce last-ulp divergence) — this is the raw
    * estimator, ±~13% at m=64, and the test bounds it against the exact
    * count. */
  def distinctSketch(s: SparkSession, d: String, m: Int = 64): DataFrame = {
    val h = conv(substring(md5(col("l_partkey").cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("long")
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), h.as("h"))
      .withColumn("bucket", col("h") % m)
      .withColumn("w", expr(s"h DIV $m"))
      .withColumn("rho",
        when(col("w") === 0, lit(27)).otherwise(lit(27) - length(bin(col("w")))))
      .groupBy(col("l_returnflag"), col("bucket"))
      .agg(max(col("rho")).as("reg"))
      .groupBy(col("l_returnflag"))
      .agg(
        expr("sum(1.0 / shiftleft(CAST(1 AS BIGINT), CAST(reg AS INT)))").as("sp"),
        count(lit(1)).as("nb"))
      .select(col("l_returnflag"), col("nb"),
        round(lit(0.709 * m * m) / (col("sp") + (lit(m) - col("nb"))), 4).as("distinct_est"))
      .orderedBy("l_returnflag")
  }

  /** The EXACT `countDistinct` query text under the OPT-IN approximate
    * rewrite ([[graft.plans.ApproxDistinctRewrite]]): the user writes
    * count(DISTINCT …), the session flag consents to the estimate, and
    * the optimizer swaps in the [[graft.expr.HllDistinct]] aggregate —
    * O(64) state per group through ObjectHashAggregate partials instead
    * of the exact distinct's Expand + per-group key sets. The oracle
    * replays the full register chain per rewritten column, so the hash
    * adjudicates the rewrite AND the custom aggregate's arithmetic in
    * one gate; the untouched plain count(*) pins that the rule leaves
    * non-distinct aggregates alone. CatalogSpec pins the plan (the
    * hll_distinct aggregate present, no Expand) and the ±20% envelope
    * against the exact twin. */
  def distinctRewrite(s0: SparkSession, d: String): DataFrame = {
    val s = s0.newSession()
    s.conf.set(graft.plans.ApproxDistinctRewrite.ConfKey, "true")
    s.experimental.extraOptimizations =
      s.experimental.extraOptimizations :+ graft.plans.ApproxDistinctRewrite
    // ONE distinct aggregate by design: session-local extraOptimizations
    // run AFTER the built-in RewriteDistinctAggregates batch, which
    // expands multi-distinct aggregates before this rule could see them
    // (measured: with two countDistinct columns the rule never fires and
    // the exact counts come back). A single distinct survives the
    // logical batches intact (it plans at the physical stage), so the
    // rewrite hits it. A cluster deployment injecting the rule through
    // GraftExtensions' injectOptimizerRule runs inside the operator
    // batch and covers the multi-distinct case too.
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("parts"),
        count(lit(1)).as("cnt"))
      .orderedBy("l_returnflag")
  }

  private def distinctRewriteOracle(m: Int): String = {
    val hv = OracleSql.hexPrefixToLong("hx")
    def chain(c: String, tag: String, alias: String): String =
      s"""p$tag AS (
         |  SELECT l_returnflag, substr(md5(CAST($c AS VARCHAR)), 1, 8) AS hx
         |  FROM lineitem WHERE $c IS NOT NULL),
         |h$tag AS (SELECT l_returnflag, $hv AS h FROM p$tag),
         |b$tag AS (SELECT l_returnflag, h % $m AS bucket, h // $m AS w
         |          FROM h$tag),
         |r$tag AS (SELECT l_returnflag, bucket,
         |                 max(CASE WHEN w = 0 THEN 27
         |                     ELSE 27 - length(bin(w)) END) AS reg
         |          FROM b$tag GROUP BY l_returnflag, bucket),
         |a$tag AS (SELECT l_returnflag,
         |                 sum(CAST(1.0 AS DOUBLE)
         |                     / (CAST(1 AS BIGINT) << CAST(reg AS INT))) AS sp,
         |                 count(*) AS nb
         |          FROM r$tag GROUP BY l_returnflag),
         |raw$tag AS (SELECT l_returnflag, nb,
         |                   ${0.709 * m * m} / (sp + ($m - nb)) AS raw
         |            FROM a$tag),
         |e$tag AS (SELECT l_returnflag,
         |                 CAST(round(CASE WHEN nb < $m AND raw <= ${2.5 * m}
         |                   THEN $m * ln(CAST($m AS DOUBLE) / ($m - nb))
         |                   ELSE raw END) AS BIGINT) AS $alias
         |          FROM raw$tag)""".stripMargin
    s"""WITH ${chain("l_partkey", "1", "parts")},
       |c AS (SELECT l_returnflag, count(*) AS cnt
       |      FROM lineitem GROUP BY l_returnflag)
       |SELECT l_returnflag, COALESCE(parts, CAST(0 AS BIGINT)) AS parts, cnt
       |FROM c LEFT JOIN e1 USING (l_returnflag)
       |ORDER BY l_returnflag""".stripMargin
  }

  /** The [[graft.expr.HllDistinct]] aggregate under the STREAMING engine
    * (35th bridge): per-type distinct-user estimates through the
    * complete-mode streaming aggregation — the TypedImperativeAggregate's
    * serialize/merge path crosses the StateStore instead of a batch
    * exchange, and the register replay adjudicates the result like the
    * batch rewrite. Also the SQL-registration surface: the expression
    * runs as the registered `hll_distinct` function, not a rule swap. */
  def distinctStreamed(s: SparkSession, d: String): DataFrame =
    Tables.runStreamComplete(s, "distinct_streamed_") { cs =>
      Tables.eventsStream(cs, d)
        .groupBy(col("event_type"))
        .agg(expr("CAST(round(hll_distinct(user_id)) AS BIGINT)")
          .as("users_est"),
          count(lit(1)).as("n"))
    }.orderedBy("event_type")

  private def distinctStreamedOracle(m: Int): String = {
    val hv = OracleSql.hexPrefixToLong("hx")
    s"""WITH p AS (
       |  SELECT event_type, substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS hx
       |  FROM events WHERE user_id IS NOT NULL),
       |h AS (SELECT event_type, $hv AS h FROM p),
       |b AS (SELECT event_type, h % $m AS bucket, h // $m AS w FROM h),
       |r AS (SELECT event_type, bucket,
       |             max(CASE WHEN w = 0 THEN 27
       |                 ELSE 27 - length(bin(w)) END) AS reg
       |      FROM b GROUP BY event_type, bucket),
       |a AS (SELECT event_type,
       |             sum(CAST(1.0 AS DOUBLE)
       |                 / (CAST(1 AS BIGINT) << CAST(reg AS INT))) AS sp,
       |             count(*) AS nb
       |      FROM r GROUP BY event_type),
       |raw AS (SELECT event_type, nb,
       |               ${0.709 * m * m} / (sp + ($m - nb)) AS raw
       |        FROM a),
       |e AS (SELECT event_type,
       |             CAST(round(CASE WHEN nb < $m AND raw <= ${2.5 * m}
       |               THEN $m * ln(CAST($m AS DOUBLE) / ($m - nb))
       |               ELSE raw END) AS BIGINT) AS users_est
       |      FROM raw),
       |c AS (SELECT event_type, count(*) AS n FROM events GROUP BY event_type)
       |SELECT event_type,
       |       COALESCE(users_est, CAST(0 AS BIGINT)) AS users_est, n
       |FROM c LEFT JOIN e USING (event_type)
       |ORDER BY event_type""".stripMargin
  }

  private def distinctSketchOracle(m: Int): String = {
    val hv = OracleSql.hexPrefixToLong("hx")
    s"""WITH hsrc AS (
       |  SELECT l_returnflag, substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8) AS hx
       |  FROM lineitem),
       |h AS (SELECT l_returnflag, $hv AS h FROM hsrc),
       |b AS (SELECT l_returnflag, h % $m AS bucket, h // $m AS w FROM h),
       |r AS (SELECT l_returnflag, bucket,
       |             max(CASE WHEN w = 0 THEN 27 ELSE 27 - length(bin(w)) END) AS reg
       |      FROM b GROUP BY l_returnflag, bucket),
       |a AS (SELECT l_returnflag,
       |             sum(1.0 / (CAST(1 AS BIGINT) << CAST(reg AS INT))) AS sp,
       |             count(*) AS nb
       |      FROM r GROUP BY l_returnflag)
       |SELECT l_returnflag, nb,
       |       round(${0.709 * m * m} / (sp + ($m - nb)), 4) AS distinct_est
       |FROM a ORDER BY l_returnflag""".stripMargin
  }

  /** Sketch MERGE — the property that makes [[distinctSketch]] a 100 TB
    * operator: registers are a commutative-monoid state (bucket-wise max),
    * so per-PARTITION sketches (here: per day — the daily sketch table a
    * production pipeline persists) merge into exact union sketches without
    * rescanning history. The query builds daily (event_type, bucket, reg)
    * sub-sketches, merges them register-wise across days, and estimates
    * distinct users per event_type from the MERGED registers — at scale
    * the daily table is all that's ever recomputed, and the merge input is
    * m rows per (group, day), never the event stream. Algebraic check
    * (max-of-max = global max ⇒ merged ≡ direct whole-corpus sketch) is
    * pinned by a spec; the oracle replays the full two-level chain. */
  def sketchMerge(s: SparkSession, d: String, m: Int = 64): DataFrame = {
    val daily = dailySketch(Tables.events(s, d), m)
    val merged = daily
      .groupBy(col("event_type"), col("bucket"))
      .agg(max(col("reg")).as("reg"))
    val nDays = daily.select(col("event_type"), col("day")).distinct()
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_days"))
    merged.groupBy(col("event_type"))
      .agg(
        expr("sum(1.0 / shiftleft(CAST(1 AS BIGINT), CAST(reg AS INT)))").as("sp"),
        count(lit(1)).as("nb"))
      .join(nDays, "event_type") // few-groups join, post-aggregate
      .select(col("event_type"), col("n_days"), col("nb"),
        round(lit(0.709 * m * m) / (col("sp") + (lit(m) - col("nb"))), 4)
          .as("distinct_est"))
      .orderedBy("event_type")
  }

  /** The daily sketch table: one register row per (group, day, bucket). */
  private[queries] def dailySketch(events: DataFrame, m: Int): DataFrame = {
    val h = conv(substring(md5(col("user_id").cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("long")
    events
      .select(col("event_type"), to_date(col("ts")).as("day"), h.as("h"))
      .withColumn("bucket", col("h") % m)
      .withColumn("w", expr(s"h DIV $m"))
      .withColumn("rho",
        when(col("w") === 0, lit(27)).otherwise(lit(27) - length(bin(col("w")))))
      .groupBy(col("event_type"), col("day"), col("bucket"))
      .agg(max(col("rho")).as("reg"))
  }

  private def sketchMergeOracle(m: Int): String = {
    val hv = OracleSql.hexPrefixToLong("hx")
    s"""WITH hsrc AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day,
       |         substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS hx
       |  FROM events),
       |h AS (SELECT event_type, day, $hv AS h FROM hsrc),
       |b AS (SELECT event_type, day, h % $m AS bucket, h // $m AS w FROM h),
       |r AS (SELECT event_type, day, bucket,
       |             max(CASE WHEN w = 0 THEN 27 ELSE 27 - length(bin(w)) END) AS reg
       |      FROM b GROUP BY event_type, day, bucket),
       |mg AS (SELECT event_type, bucket, max(reg) AS reg
       |       FROM r GROUP BY event_type, bucket),
       |nd AS (SELECT event_type, count(DISTINCT day) AS n_days FROM r
       |       GROUP BY event_type),
       |a AS (SELECT event_type,
       |             sum(1.0 / (CAST(1 AS BIGINT) << CAST(reg AS INT))) AS sp,
       |             count(*) AS nb
       |      FROM mg GROUP BY event_type)
       |SELECT a.event_type, n_days, nb,
       |       round(${0.709 * m * m} / (sp + ($m - nb)), 4) AS distinct_est
       |FROM a JOIN nd USING (event_type) ORDER BY event_type""".stripMargin
  }

  /** HLL sketch — nondeterministic vs DuckDB, so rows-only check (no oracle). */
  def aggApprox(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey")).as("approx_parts"),
        count(lit(1)).as("cnt")
      )
      .orderedBy("l_returnflag")

  private def groupedSets(s: SparkSession, d: String, cube: Boolean): DataFrame = {
    val li = Tables.lineitem(s, d)
    val base =
      if (cube) li.cube(col("l_returnflag"), col("l_linestatus"))
      else li.rollup(col("l_returnflag"), col("l_linestatus"))
    base.agg(
        grouping(col("l_returnflag")).cast("int").as("g_rf"),
        grouping(col("l_linestatus")).cast("int").as("g_ls"),
        count(lit(1)).as("cnt"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty")
      )
      // coalesce the grouping nulls to a sentinel: Spark sorts NULLS FIRST,
      // DuckDB NULLS LAST — a sentinel dodges the divergence entirely.
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("g_rf"), col("g_ls"), col("cnt"), col("sum_qty"))
      .orderedBy("rf", "ls")
  }

  def rollupQ(s: SparkSession, d: String): DataFrame = groupedSets(s, d, cube = false)
  def cubeQ(s: SparkSession, d: String): DataFrame = groupedSets(s, d, cube = true)

  def winRank(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables.customer(s, d).select(
      col("c_custkey"), col("c_mktsegment"),
      row_number().over(w).cast("long").as("rn"),
      rank().over(w).cast("long").as("rnk"),
      dense_rank().over(w).cast("long").as("drnk"),
      // distribution ranks: exact rationals of (rank, n) — one IEEE divide,
      // deterministic cross-engine
      percent_rank().over(w).as("prnk"),
      cume_dist().over(w).as("cd"),
      ntile(4).over(w).cast("long").as("quartile")
    ).orderedBy("c_custkey")
  }

  /** Positional window values over an explicit frame: first/last/nth of the
    * running frame — raw stored doubles, no arithmetic. last_value over the
    * default running frame is the current row (both engines agree); nth
    * before the frame reaches 2 rows is null. */
  def winValue(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d).select(
      col("o_orderkey"),
      first(col("o_totalprice")).over(w).as("first_p"),
      last(col("o_totalprice")).over(w).as("last_p"),
      nth_value(col("o_totalprice"), 2).over(w).as("second_p")
    ).orderedBy("o_orderkey")
  }

  /** lag/lead move raw stored doubles — no arithmetic, bit-identical. */
  def winLag(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, d).select(
      col("o_orderkey"), col("o_custkey"),
      lag(col("o_totalprice"), 1).over(w).as("prev_price"),
      lead(col("o_totalprice"), 1).over(w).as("next_price")
    ).orderedBy("o_orderkey")
  }

  /** Running sum over an explicit ROWS frame, exact decimal. */
  def winFrame(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d).select(
      col("o_orderkey"),
      sum(col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double").as("running_spend")
    ).orderedBy("o_orderkey")
  }

  /** RANGE-frame window (value-banded, vs [[winFrame]]'s ROWS frame): per
    * part, the count and retail mass of same-brand parts within ±2 of its
    * size — the "neighborhood aggregate" frame type (price bands, time
    * bands). RANGE frames are VALUE-based, so tied order keys share one
    * frame and the result is deterministic without a tie-break column;
    * the sum is exact-decimal with one double cast. Scale shape: one
    * shuffle on the partition key, one sort per partition — the frame
    * itself is a sliding pointer pair over the sorted run. */
  def winRangeFrame(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("p_brand").orderBy(col("p_size"))
      .rangeBetween(-2, 2)
    Tables.part(s, d).select(
      col("p_partkey"),
      col("p_brand"),
      col("p_size").cast("long").as("p_size"),
      count(lit(1)).over(w).as("near_cnt"),
      sum(col("p_retailprice").cast("decimal(18,2)")).over(w)
        .cast("double").as("near_retail")
    ).orderedBy("p_partkey")
  }

  /** Top-k: Catalyst plans TakeOrderedAndProject (per-partition heap, merge
    * of k) — never a global sort. Tie-broken on the unique key. */
  def topk(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .select(col("o_orderkey"), col("o_totalprice"))
      .limit(10)

  private def buildingCustomers(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("key"))

  private def fOrderCustomers(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("key"))

  /** Full outer join over two key sets with exclusives on both sides —
    * the one outer-join flavor the catalog lacked. Output is the merged
    * key plus presence flags (null-pattern observability without nullable
    * payload columns). */
  def joinFull(s: SparkSession, d: String): DataFrame = {
    val b = buildingCustomers(s, d).distinct().withColumnRenamed("key", "bk")
    val f = fOrderCustomers(s, d).distinct().withColumnRenamed("key", "fk")
    b.join(f, col("bk") === col("fk"), "full_outer")
      .select(
        coalesce(col("bk"), col("fk")).as("key"),
        col("bk").isNotNull.as("in_building"),
        col("fk").isNotNull.as("in_f"))
      .orderedBy("key")
  }

  /** BUCKETED co-located join — the pre-shuffled layout that makes a
    * RECURRING fact⋈fact join free of exchanges: both sides are written
    * once as bucketed+sorted catalog tables on the join key
    * ([[graft.core.Layout.writeBucketed]], the build step), then the
    * serve-side join reads the bucketed scans whose reported distribution
    * already satisfies the join's requirement — NO Exchange on either
    * side (plan-guarded), where the same join over raw parquet shuffles
    * both facts ([[joinSmj]]). Each side is pre-repartitioned by the
    * key with Spark's own bucket hash so every task holds exactly one
    * bucket and each bucket lands in ONE file — the layout under which
    * the scan's per-bucket sort order is also usable. At 100 TB this is
    * the canonical amortization: one bucketed write pays for itself the
    * first time the daily join skips re-shuffling both tables. Same
    * build-once/serve-many pattern as the persisted ANN index
    * (q_sim_ivfpq_persisted); table names are dataset-keyed so scale
    * factors never collide, and results are bit-identical to the plain
    * join — the SAME oracle SQL shape adjudicates. Runs in a
    * conf-isolated child session with auto-broadcast off, so the
    * co-located SortMergeJoin is the strategy actually under test. */
  def joinBucketed(s: SparkSession, d: String): DataFrame = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val tag = d.replaceAll("[^A-Za-z0-9]", "_")
    val (tOrders, tCust) = (s"b_orders_$tag", s"b_customer_$tag")
    graft.core.Layout.writeBucketed(
      Tables.orders(s2, d).repartition(8, col("o_custkey")),
      tOrders, 8, "o_custkey")
    graft.core.Layout.writeBucketed(
      Tables.customer(s2, d).repartition(8, col("c_custkey")),
      tCust, 8, "c_custkey")
    s2.table(tOrders)
      .join(s2.table(tCust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("order_cnt"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_total"))
      .orderedBy("c_mktsegment")
  }

  def unionQ(s: SparkSession, d: String): DataFrame =
    buildingCustomers(s, d).union(fOrderCustomers(s, d)).distinct().orderedBy("key")

  def intersectQ(s: SparkSession, d: String): DataFrame =
    buildingCustomers(s, d).intersect(fOrderCustomers(s, d)).orderedBy("key")

  def exceptQ(s: SparkSession, d: String): DataFrame =
    buildingCustomers(s, d).except(fOrderCustomers(s, d)).orderedBy("key")

  /** Shared by q_join_asof (composed) and q_join_asof_native (custom
    * exec): one spec, two execution strategies under the same hash. */
  private val asofOracle: String =
    """WITH u AS (
      |  SELECT user_id, ts, event_id AS click_id, 0 AS is_p,
      |         NULL::BIGINT AS p_id
      |  FROM events WHERE event_type = 'click'
      |  UNION ALL
      |  SELECT user_id, ts, NULL::BIGINT, 1, event_id
      |  FROM events WHERE event_type = 'purchase'),
      |w AS (
      |  SELECT *, last_value(click_id IGNORE NULLS) OVER (
      |      PARTITION BY user_id
      |      ORDER BY date_trunc('microseconds', ts), is_p, click_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_click_id
      |  FROM u)
      |SELECT p_id AS event_id, asof_click_id FROM w WHERE is_p = 1
      |ORDER BY event_id""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    "q_join_broadcast" -> QueryDef(joinBroadcast, Some(
      """SELECT n_nationkey, n_name, r_name
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_nationkey""".stripMargin)),
    "q_join_smj" -> QueryDef(joinSmj, Some(
      """SELECT n_name, count(*) AS order_cnt,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |            JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin)),
    "q_join_shj" -> QueryDef(joinShj, Some(
      """SELECT s_nationkey, count(*) AS item_cnt,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)),
    // build-once bucketed layout, exchange-free serve-side join — the
    // recurring-join amortization; plan guard asserts zero Exchange
    // between the scans and the SMJ
    "q_join_bucketed" -> QueryDef(joinBucketed, Some(
      """SELECT c_mktsegment, count(*) AS order_cnt,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),
    "q_join_bloom" -> QueryDef(joinBloom, Some(
      """SELECT l_returnflag, count(*) AS item_cnt,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand = 'Brand#23'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    "q_join_left" -> QueryDef(joinLeft, Some(
      """SELECT c_custkey, count(o_orderkey) AS order_cnt,
        |       CAST(COALESCE(sum(CAST(o_totalprice AS DECIMAL(18,2))),
        |                CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin)),
    "q_join_semi" -> QueryDef(joinSemi, Some(
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin)),
    "q_join_anti" -> QueryDef(joinAnti, Some(
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin)),
    "q_join_range" -> QueryDef(joinRange, Some(
      """SELECT bucket, count(*) AS part_cnt,
        |       CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_retail
        |FROM part JOIN (VALUES (1, 16, 'small'), (17, 33, 'medium'),
        |                       (34, 50, 'large')) b(lo, hi, bucket)
        |  ON p_size >= lo AND p_size <= hi
        |GROUP BY bucket ORDER BY bucket""".stripMargin)),
    "q_zorder" -> QueryDef(zorderQ, Some(zorderOracle)),
    "q_join_salted" -> QueryDef(joinSalted, Some(
      """SELECT c_mktsegment, count(*) AS order_cnt,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),
    // the zero-code hot-key fix: AQE splits the skewed SMJ partition at
    // runtime (skew=true pinned by CatalogSpec)
    "q_join_skew_aqe" -> QueryDef(joinSkewAqe, Some(joinSkewAqeOracle)),
    // the canonical benchmark shapes, verbatim on the testdata schema
    "q_tpch_q1" -> QueryDef(tpchQ1, Some(tpchQ1Oracle)),
    "q_tpch_q1_streamed" -> QueryDef(tpchQ1Streamed, Some(tpchQ1Oracle)),
    "q_tpch_q3" -> QueryDef(tpchQ3, Some(tpchQ3Oracle)),
    "q_tpch_q5" -> QueryDef(tpchQ5, Some(tpchQ5Oracle)),
    "q_tpch_q18" -> QueryDef(tpchQ18, Some(tpchQ18Oracle)),
    "q_tpch_q4" -> QueryDef(tpchQ4, Some(tpchQ4Oracle)),
    "q_tpch_q13" -> QueryDef(tpchQ13, Some(tpchQ13Oracle)),
    "q_join_lateral" -> QueryDef(joinLateral, Some(joinLateralOracle)),
    "q_join_asof" -> QueryDef(joinAsof, Some(asofOracle)),
    // the SAME oracle adjudicates the native merge exec — composed window
    // formulation and custom SparkPlan must agree row-for-row
    "q_join_asof_native" -> QueryDef(joinAsofNative, Some(asofOracle)),
    // 27th bridge: the custom exec planned PER MICRO-BATCH (stream-static
    // as-of enrichment via foreachBatch) — same oracle again
    "q_join_asof_streamed" -> QueryDef(joinAsofStreamed, Some(asofOracle)),
    "q_agg_hash" -> QueryDef(aggHash, Some(
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
        |       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS sum_disc,
        |       count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    "q_agg_salted" -> QueryDef(aggSalted, Some(
      """SELECT l_returnflag,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    "q_agg_distinct" -> QueryDef(aggDistinct, Some(
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS parts,
        |       count(DISTINCT l_suppkey) AS supps, count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    "q_agg_approx" -> QueryDef(aggApprox, None,
      doc = "HLL approx_count_distinct — sketch differs from DuckDB's, rows-only check"),
    // the replayable sketch twin: md5-register HLL, full hash oracle
    // opt-in approximate rewrite: count(DISTINCT) -> HllDistinct under
    // the session flag; oracle replays the register chain per column
    "q_distinct_rewrite" -> QueryDef(distinctRewrite,
      Some(distinctRewriteOracle(64))),
    // 35th bridge: the HLL TypedImperativeAggregate through the
    // StateStore, invoked as the registered SQL function
    "q_distinct_streamed" -> QueryDef(distinctStreamed,
      Some(distinctStreamedOracle(64))),
    "q_distinct_sketch" -> QueryDef(distinctSketch(_, _),
      Some(distinctSketchOracle(64))),
    // sketch MERGEABILITY: daily register tables unioned register-wise —
    // the persisted-sketch-table pattern that avoids rescanning history
    "q_sketch_merge" -> QueryDef(sketchMerge(_, _), Some(sketchMergeOracle(64))),
    "q_rollup" -> QueryDef(rollupQ, Some(groupedSetsSql("ROLLUP"))),
    "q_cube" -> QueryDef(cubeQ, Some(groupedSetsSql("CUBE"))),
    "q_win_rank" -> QueryDef(winRank, Some(
      """SELECT c_custkey, c_mktsegment,
        |       row_number() OVER w AS rn, rank() OVER w AS rnk,
        |       dense_rank() OVER w AS drnk,
        |       percent_rank() OVER w AS prnk,
        |       cume_dist() OVER w AS cd,
        |       ntile(4) OVER w AS quartile
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
        |ORDER BY c_custkey""".stripMargin)),
    "q_win_value" -> QueryDef(winValue, Some(
      """SELECT o_orderkey,
        |       first_value(o_totalprice) OVER w AS first_p,
        |       last_value(o_totalprice) OVER w AS last_p,
        |       nth_value(o_totalprice, 2) OVER w AS second_p
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin)),
    "q_win_lag" -> QueryDef(winLag, Some(
      """SELECT o_orderkey, o_custkey,
        |       lag(o_totalprice, 1) OVER w AS prev_price,
        |       lead(o_totalprice, 1) OVER w AS next_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin)),
    "q_win_frame" -> QueryDef(winFrame, Some(
      """SELECT o_orderkey,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
        |FROM orders ORDER BY o_orderkey""".stripMargin)),
    "q_win_range_frame" -> QueryDef(winRangeFrame, Some(
      """SELECT p_partkey, p_brand, CAST(p_size AS BIGINT) AS p_size,
        |       count(*) OVER w AS near_cnt,
        |       CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS near_retail
        |FROM part
        |WINDOW w AS (PARTITION BY p_brand ORDER BY p_size
        |             RANGE BETWEEN 2 PRECEDING AND 2 FOLLOWING)
        |ORDER BY p_partkey""".stripMargin)),
    "q_topk" -> QueryDef(topk, Some(
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),
    "q_join_full" -> QueryDef(joinFull, Some(
      """SELECT COALESCE(b.key, f.key) AS key,
        |       b.key IS NOT NULL AS in_building,
        |       f.key IS NOT NULL AS in_f
        |FROM (SELECT DISTINCT c_custkey AS key FROM customer
        |      WHERE c_mktsegment = 'BUILDING') b
        |FULL OUTER JOIN (SELECT DISTINCT o_custkey AS key FROM orders
        |                 WHERE o_orderstatus = 'F') f
        |  ON b.key = f.key
        |ORDER BY key""".stripMargin)),
    "q_union" -> QueryDef(unionQ, Some(
      """SELECT c_custkey AS key FROM customer WHERE c_mktsegment = 'BUILDING'
        |UNION
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY key""".stripMargin)),
    "q_intersect" -> QueryDef(intersectQ, Some(
      """SELECT c_custkey AS key FROM customer WHERE c_mktsegment = 'BUILDING'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY key""".stripMargin)),
    "q_except" -> QueryDef(exceptQ, Some(
      """SELECT c_custkey AS key FROM customer WHERE c_mktsegment = 'BUILDING'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY key""".stripMargin))
  )

  private def groupedSetsSql(op: String): String =
    s"""SELECT COALESCE(l_returnflag, 'ALL') AS rf,
       |       COALESCE(l_linestatus, 'ALL') AS ls,
       |       CAST(GROUPING(l_returnflag) AS INTEGER) AS g_rf,
       |       CAST(GROUPING(l_linestatus) AS INTEGER) AS g_ls,
       |       count(*) AS cnt,
       |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
       |FROM lineitem GROUP BY $op(l_returnflag, l_linestatus)
       |ORDER BY rf, ls""".stripMargin
}

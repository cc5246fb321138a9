package graft.queries

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class StatsSpec extends SparkTestBase {

  private val d = "/root/testdata/sf0.001"
  import org.apache.spark.sql.Row

  test("moment formulas agree with Spark's builtin statistical aggregates") {
    // the catalog query computes stats from exact integer power sums (so the
    // DuckDB oracle replays them bit-for-bit); Spark's builtins use
    // streaming merges. Same estimator, different float paths — they must
    // agree to ~1e-8 relative on real data.
    val mine = Stats.aggStats(spark, d).collect()
      .map(r => r.getString(0) -> r).toMap
    val ref = graft.core.Tables.lineitem(spark, d)
      .groupBy(col("l_returnflag"))
      .agg(
        avg("l_quantity").as("mean_qty"),
        var_samp("l_quantity").as("var_samp_qty"),
        stddev_samp("l_quantity").as("std_samp_qty"),
        skewness("l_quantity").as("skew_qty"),
        kurtosis("l_quantity").as("kurt_qty"),
        covar_pop("l_quantity", "l_extendedprice").as("covar_pop"),
        covar_samp("l_quantity", "l_extendedprice").as("covar_samp"),
        corr("l_quantity", "l_extendedprice").as("corr_qp"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(mine.keySet == ref.keySet && mine.nonEmpty)
    def rel(a: Double, b: Double) = math.abs(a - b) / math.max(1.0, math.abs(b))
    for (flag <- mine.keys; i <- 2 until 10) {
      val a = mine(flag).getDouble(i)
      val b = ref(flag).getDouble(i - 1) // ref has no n column
      assert(rel(a, b) < 1e-6, s"flag=$flag col=$i mine=$a builtin=$b")
    }
  }

  test("histogram quantile bins cover the exact percentiles") {
    // the sketch's p50/p90 bin must contain the exact percentile value:
    // |exact - bin| < 1 (unit-wide bins)
    val sk = Stats.quantileHist(spark, d).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    val exact = graft.core.Tables.lineitem(spark, d)
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_quantity, 0.9)").as("p90"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    for (flag <- sk.keys) {
      val ((b50, b90), (e50, e90)) = (sk(flag), exact(flag))
      assert(math.abs(b50 - e50) <= 1.0, s"$flag p50 bin=$b50 exact=$e50")
      assert(math.abs(b90 - e90) <= 1.0, s"$flag p90 bin=$b90 exact=$e90")
    }
  }

  test("quantile sketch: estimates contained in the exact percentile's " +
    "rank window; plans ObjectHashAggregate") {
    val df = Stats.quantileSketch(spark, d)
    // the sampling bound the scaladoc claims: the true CDF at the sketch
    // estimate must sit within ~4σ = 4·sqrt(q(1-q)/k) of q (k=256 →
    // ±0.125 at p50, ±0.075 at p90), plus one discrete atom of slack
    // (l_quantity has ~50 distinct values, each carrying ~2% mass)
    val sk = df.collect()
      .map(r => r.getString(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    val li = graft.core.Tables.lineitem(spark, d)
      .select(col("l_returnflag"),
        round(col("l_quantity") * 100).cast("long").as("q100"))
    for ((flag, (p50, p90)) <- sk) {
      def cdfAt(v: Long): Double = {
        val Array(le, n) = li.filter(col("l_returnflag") === flag)
          .agg(sum((col("q100") <= v).cast("long")), count(lit(1)))
          .head.toSeq.map(_.asInstanceOf[Long].toDouble).toArray
        le / n
      }
      val (c50, c90) = (cdfAt(p50), cdfAt(p90))
      assert(c50 > 0.35 && c50 < 0.65, s"$flag: CDF(p50est)=$c50 outside window")
      assert(c90 > 0.80 && c90 <= 1.0, s"$flag: CDF(p90est)=$c90 outside window")
    }
    // scale shape: object-hash aggregation with map-side partials — O(k)
    // sketch state per group crosses the exchange, never the rows
    assert(df.queryExecution.executedPlan.toString.contains("ObjectHashAggregate"),
      "quantile_sketch lost the ObjectHashAggregate plan")
  }

  test("sessionize splits on gap > threshold, keeps runs together") {
    import spark.implicits._
    val t0 = 1700000000000000L // epoch micros
    val min = 60L * 1000000L
    val rows = Seq(
      // user 1: 3 events within gaps <= 5min => one session, then a 6-min
      // gap => second session
      (1L, 101L, t0), (1L, 102L, t0 + 4 * min), (1L, 103L, t0 + 9 * min),
      (1L, 104L, t0 + 15 * min + 1),
      // user 2: single event
      (2L, 201L, t0),
      // user 3: boundary case — gap of EXACTLY 5min stays in-session
      (3L, 301L, t0), (3L, 302L, t0 + 5 * min)
    )
    val dir = tempDir("graft-sess").toString
    rows.toDF("user_id", "event_id", "us")
      .select(col("user_id"), col("event_id"),
        // write NANOS so Tables.events' DIV 1000 truncation path is the
        // one under test
        (col("us") * 1000).as("ts"), lit("t").as("event_type"),
        lit(1.0).as("value"), lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Stats.sessionize(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(5)))).toMap
    assert(out.keySet == Set((1L, 1L), (1L, 2L), (2L, 1L), (3L, 1L)))
    assert(out((1L, 1L)) == ((3L, 9 * min)))     // 3 events over 9 min
    assert(out((1L, 2L)) == ((1L, 0L)))          // the post-gap singleton
    assert(out((3L, 1L)) == ((2L, 5 * min)))     // exact-gap stays together
  }

  test("latest-by-key picks the max (ts, value) pair via the ordered aggregate") {
    import spark.implicits._
    val t0 = 1700000000000000L
    val rows = Seq(
      // key (1, a): later ts wins regardless of value
      (1L, "a", t0, 9.0), (1L, "a", t0 + 10, 1.5),
      // key (1, b): ts tie — max value wins (the lexicographic tie rule)
      (1L, "b", t0, 3.0), (1L, "b", t0, 7.0),
      (2L, "a", t0 + 5, 4.25))
    val dir = tempDir("graft-latest").toString
    rows.toDF("user_id", "event_type", "us", "value")
      .select(lit(0L).as("event_id"), (col("us") * 1000).as("ts"),
        col("user_id"), col("event_type"), col("value"), lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Stats.latestByKey(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> ((r.getDouble(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(out((1L, "a")) == ((1.5, t0 + 10, 2L)))
    assert(out((1L, "b")) == ((7.0, t0, 2L)))
    assert(out((2L, "a")) == ((4.25, t0 + 5, 1L)))
  }

  test("embed sign-LSH cap: capped pairs are a subset of uncapped") {
    val d = "/root/testdata/sf0.001"
    val uncapped = graft.llm.Dedup.embedPairs(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = graft.llm.Dedup.embedPairs(spark, d, maxBucket = Some(64))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(uncapped))
    // 500 vectors over 4 buckets/band: the average bucket is ~125 > 64, so
    // the cap must actually bind at this scale
    assert(capped.size < uncapped.size || uncapped.isEmpty)
  }

  test("bigram LM: counts carry multiplicity and conditionals sum to 1 per w1") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b a c"), // bigrams: a b, b a, a b, b a, a c
      (2L, "a b"))
    val dir = tempDir("graft-bigram").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val out = graft.llm.TextStats.bigramLm(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out("a b") == ((3L, 4L, 0.75)))  // c(a·)=4: "a b"×3 + "a c"
    assert(out("b a") == ((2L, 2L, 1.0)))
    assert(out("a c") == ((1L, 4L, 0.25)))
  }

  test("full pipeline: bench held out, contaminated dropped, packs fill per (split, lang)") {
    import spark.implicits._
    val fillerW = (1 to 30).map(i => s"w$i").mkString(" ")
    val fillerX = (1 to 30).map(i => s"x$i").mkString(" ")
    val benchText = "the quick brown fox jumps over the lazy dog tonight " + fillerW
    val docs = Seq(
      (1L, benchText, "en"),                              // benchmark doc (id < 10)
      (20L, "contaminated copy shares this: the quick brown fox jumps over the lazy dog tonight", "en"),
      (21L, s"clean document alpha about $fillerX", "en"),
      (22L, s"fresh unrelated beta piece $fillerX reversed", "en"),
      (23L, "too short", "en"))                           // quality-gated out
    val dir = tempDir("graft-fullpipe").toString
    docs.toDF("doc_id", "text", "lang")
      .withColumn("source", lit("s")).withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.llm.Pipeline.fullPipeline(spark, dir, minTokens = 5,
        nearThreshold = 0.95, benchMax = 10L, budget = 40).collect()
      .map(r => r.getLong(0) -> ((r.getString(3), r.getLong(4)))).toMap
    // bench doc 1 held out; doc 20 shares bench shingles -> decontaminated;
    // doc 23 under minTokens; 21/22 survive (their Jaccard is ~0.85 via the
    // shared filler, below the 0.95 threshold) with in-budget pack 0
    assert(out.keySet == Set(21L, 22L), s"got $out")
    assert(out.values.forall(_._2 == 0L), s"got $out")
  }

  test("ngram dedup: rare-shingle pairs found, hot boilerplate shingles never join") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron"
    val boiler = "terms of service apply to this document"
    // docs 1/2: near-identical (share many rare shingles); docs 10..30 all
    // share ONLY the boilerplate sentence, whose shingles have df=21 >
    // maxDf=10 — the inverted index must produce NO pairs among them
    val docs = Seq(
      (1L, base + " tail one"),
      (2L, base + " tail two")
    ) ++ (10L to 30L).map(i => (i, s"unique$i " + boiler))
    val dir = tempDir("graft-ngram").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val pairs = graft.llm.Dedup.ngramPairs(spark, dir, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)), s"got ${pairs.toSeq}")
  }

  test("snapshot diff: statuses match the fixture derivation exactly") {
    val d = "/root/testdata/sf0.001"
    val ids = graft.core.Tables.documents(spark, d).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val got = Stats.snapshotDiff(spark, d).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val removed = ids.filter(_ % 23 == 0)
    val kept = ids -- removed
    val changed = kept.filter(_ % 7 == 0)
    val added = kept.filter(_ % 11 == 0).map(_ + 1000000L)
    assert(got.filter(_._2 == "removed").keySet == removed)
    assert(got.filter(_._2 == "changed").keySet == changed)
    assert(got.filter(_._2 == "added").keySet == added)
    assert(got.filter(_._2 == "unchanged").keySet == kept -- changed)
    assert(got.size == ids.size + added.size)
  }

  test("profileFor: null counts, exact cardinality, and length spread per column") {
    import spark.implicits._
    val df = Seq(
      (Option(1L), Option("xx")),
      (None: Option[Long], Option("y")),
      (Option(1L), None: Option[String])
    ).toDF("a", "b")
    val got = Stats.profileFor(df, Seq("a", "b")).collect()
      .map(r => r.getString(0) -> r).toMap
    val a = got("a"); val b = got("b")
    assert(a.getLong(1) == 3 && b.getLong(1) == 3, "n_rows counts nulls too")
    assert(a.getLong(2) == 1, "one null in a")
    assert(b.getLong(2) == 1, "one null in b")
    assert(a.getLong(3) == 1, "a has one distinct non-null value")
    assert(b.getLong(3) == 2)
    // a's values stringify to "1" (len 1); b spans "y".."xx"
    assert(a.getLong(4) == 1 && a.getLong(5) == 1)
    assert(b.getLong(4) == 1 && b.getLong(5) == 2)
    assert(b.getDouble(6) == 1.5, "avg_len over non-null cells only")
  }

  test("profile sketch: distinct estimate within ±15% of the exact profile") {
    // the envelope gauge behind q_profile_sketch's "swap countDistinct
    // for registers" claim: per column, the 256-register estimate (raw
    // HLL stderr ≈ 6.5%; linear counting below 2.5m) must land within
    // ±15% of q_profile's exact n_distinct — wide enough for the
    // estimator's variance, tight enough that a broken register chain
    // (wrong rho width, missing correction) fails immediately (the
    // uncorrected raw estimator read a 5-value enum as ~48)
    val exact = Stats.profile(spark, d).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    val est = Stats.profileSketch(spark, d).collect()
      .map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(exact.keySet == est.keySet && exact.size == 5)
    for ((c, n) <- exact) {
      val e = est(c)
      assert(math.abs(e - n) <= 0.15 * n,
        s"col=$c exact=$n sketch=$e outside the 15% envelope")
    }
    // the non-cardinality metrics must MATCH the exact profile exactly —
    // they ride the same partial-agg state, only n_distinct is estimated
    val exactRest = Stats.profile(spark, d).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(4),
        r.getLong(5), r.getDouble(6)))).toMap
    val sketchRest = Stats.profileSketch(spark, d).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(5),
        r.getLong(6), r.getDouble(7)))).toMap
    assert(exactRest == sketchRest)
  }

  test("streaming profile: register fold spans >1 micro-batch and equals the single-pass sketch") {
    val (streamed, batches) = Stats.profileSketchStreamedStats(spark, d)
    assert(batches >= 2, s"expected >1 micro-batch, got $batches")
    // every lv1 field merges by an exact monoid (reg max, count/length
    // sum/min/max), so the folded profile — estimates included — must be
    // row-identical to the batch sketch
    val got = streamed.collect().toSeq
    val want = Stats.profileSketch(spark, d).collect().toSeq
    assert(got == want, s"folded profile diverges:\n$got\nvs\n$want")
  }

  test("streaming CDC: the change fold spans >1 micro-batch and equals the batch apply") {
    val (streamed, batches) = Stats.cdcStreamedStats(spark, d)
    assert(batches >= 2, s"expected >1 micro-batch, got $batches")
    val got = streamed.collect().toSeq
    val want = Stats.cdcApply(spark, d).collect().toSeq
    assert(got == want, s"folded CDC apply diverges:\n$got\nvs\n$want")
    // the fixture updates every keyed user (each has events in both
    // slices), and the D lane actually drops rows: fewer output rows
    // than distinct users proves deletes executed
    val nUsers = graft.core.Tables.events(spark, d)
      .select("user_id").distinct().count()
    assert(got.nonEmpty && got.size < nUsers,
      s"expected the D lane to drop users: ${got.size} of $nUsers")
    assert(got.map(_.getString(2)).toSet.subsetOf(
      Set("kept", "updated", "inserted")))
  }
}

package graft.expr

import graft.SparkTestBase
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** The opt-in rewrite hook docs/DEPLOY.md ships:
  * `spark-submit --conf spark.sql.extensions=graft.expr.GraftExtensions`.
  * `spark.sql.extensions` is a STATIC conf — Spark resolves the class by
  * name at SparkContext setup, so against the suite's existing context the
  * conf route can't re-run; the testable surface is exactly what Spark does
  * with the string: resolve the class reflectively by the documented name,
  * instantiate it as `SparkSessionExtensions => Unit`, and apply it to a
  * session — its optimizer rule must then fire. */
class GraftExtensionsSpec extends SparkTestBase {

  test("graft.expr.GraftExtensions resolves by its documented name and injects the rewrite rule") {
    assert(!spark.sparkContext.isStopped)
    // the exact string from docs/DEPLOY.md / README, resolved the way
    // Spark's applyExtensions does — a rename breaks deployment docs here
    val hook = Class.forName("graft.expr.GraftExtensions")
      .getDeclaredConstructor().newInstance()
      .asInstanceOf[SparkSessionExtensions => Unit]
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder().withExtensions(hook).getOrCreate()
    try {
      assert(s2 ne spark, "builder returned the old session — extensions never applied")
      // the injected OPTIMIZER RULE path (extendedOperatorOptimizationRules
      // — a different batch position than extraOptimizations): both rewrite
      // patterns must fire inside the fixed-point batch too
      val mb = s2.sql("""SELECT k, min_by(v, struct(t, v)) AS f
        FROM VALUES (1, 1L, 2.0D), (1, 0L, 3.0D) AS r(k, t, v) GROUP BY k""")
      val mbPlan = mb.queryExecution.executedPlan.toString
      assert(mbPlan.contains("first_by_ordered") && !mbPlan.contains("min_by"),
        s"injected rule missed min_by in the operator batch:\n$mbPlan")
      assert(mb.collect().head.getDouble(1) == 3.0)
      val rc = s2.sql("""SELECT k, element_at(transform(array_sort(
          collect_list(named_struct('t', t, 'p', v))), x -> x.p), 1) AS f
        FROM VALUES (1, 1L, 2.0D), (1, 0L, 3.0D) AS r(k, t, v) GROUP BY k""")
      val rcPlan = rc.queryExecution.executedPlan.toString
      assert(rcPlan.contains("first_by_ordered") && !rcPlan.contains("collect_list"),
        s"injected rule missed the reference pattern in the operator batch:\n$rcPlan")
      assert(rc.collect().head.getDouble(1) == 3.0)
    } finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  test("min_by/max_by rewrite: fires only under proven null-safety, " +
    "answers match the builtin, plan hash-aggregates") {
    import org.apache.spark.sql.functions._
    val s2 = spark.newSession()
    s2.experimental.extraOptimizations =
      s2.experimental.extraOptimizations :+ graft.plans.OrderedFirstLastRewrite
    import s2.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (1 to 400).map { i =>
      (i % 7, rnd.nextInt(50).toLong, math.rint(rnd.nextDouble() * 100) / 10)
    }
    val df = rows.toDF("k", "t", "v")

    // POSITIVE: IsNotNull-filtered input -> constraints prove safety, the
    // rule swaps in the ordered aggregates; no SortAggregate anywhere
    val safe = df.filter(col("t").isNotNull && col("v").isNotNull)
      .groupBy(col("k"))
      .agg(expr("min_by(v, struct(t, v))").as("f"),
        expr("max_by(v, struct(t, v))").as("l"))
    val safePlan = safe.queryExecution.executedPlan.toString
    assert(safePlan.contains("first_by_ordered") &&
      safePlan.contains("last_by_ordered"), s"rewrite did not fire:\n$safePlan")
    assert(!safePlan.contains("SortAggregate"),
      s"rewritten plan still sorts:\n$safePlan")

    // answers identical to the untouched builtin (parent session, no rule)
    val dfParent = {
      import spark.implicits._
      rows.toDF("k", "t", "v")
    }
    val builtin = dfParent.filter(col("t").isNotNull && col("v").isNotNull)
      .groupBy(col("k"))
      .agg(expr("min_by(v, struct(t, v))").as("f"),
        expr("max_by(v, struct(t, v))").as("l"))
    assert(builtin.queryExecution.executedPlan.toString.contains("SortAggregate"),
      "precondition: the builtin path is expected to SortAggregate")
    def m(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(m(safe.collect()) == m(builtin.collect()))

    // NEGATIVE: nullable inputs with NO IsNotNull guarantee -> the rule
    // must leave the builtin (SortAggregate) in place
    val nullable = df.select(col("k"),
        when(col("t") % 13 === 0, lit(null)).otherwise(col("t")).as("t"),
        col("v"))
      .groupBy(col("k")).agg(expr("min_by(v, struct(t, v))").as("f"))
    val nPlan = nullable.queryExecution.executedPlan.toString
    assert(!nPlan.contains("first_by_ordered"),
      s"rewrite fired without a null-safety proof:\n$nPlan")

    // shape guard: ordering struct NOT keyed by the value itself -> no fire
    // (the builtin's tie rule would be observable)
    val otherKey = df.filter(col("t").isNotNull && col("v").isNotNull)
      .groupBy(col("k")).agg(expr("min_by(v, struct(t, k))").as("f"))
    assert(!otherKey.queryExecution.executedPlan.toString
      .contains("first_by_ordered"), "rewrite fired on a foreign tie key")

    // the reference's verbatim collect_list formulation: same rewrite,
    // same answers, collect_list deleted from the plan
    val refDf = df.filter(col("t").isNotNull && col("v").isNotNull)
      .select(col("k"), col("t").as("timestamp"), col("v").as("price"))
    val ref = refDf.groupBy(col("k")).agg(
      expr("element_at(transform(array_sort(collect_list(" +
        "named_struct('t', timestamp, 'p', price))), x -> x.p), 1)").as("f"),
      expr("element_at(transform(array_sort(collect_list(" +
        "named_struct('t', timestamp, 'p', price))), x -> x.p), " +
        "size(collect_list(named_struct('t', timestamp, 'p', price))))").as("l"))
    val refPlan = ref.queryExecution.executedPlan.toString
    assert(refPlan.contains("first_by_ordered") &&
      refPlan.contains("last_by_ordered") && !refPlan.contains("collect_list"),
      s"reference-formulation rewrite did not fire:\n$refPlan")
    assert(m(ref.collect()) == m(builtin.collect()),
      "reference formulation answers diverged from min_by/max_by")

    // extraction of the ORDERING field (x.t) must not rewrite — the
    // aggregate would return the wrong struct member
    val wrongField = refDf.groupBy(col("k")).agg(
      expr("element_at(transform(array_sort(collect_list(" +
        "named_struct('t', timestamp, 'p', price))), x -> x.t), 1)").as("f"))
    assert(!wrongField.queryExecution.executedPlan.toString
      .contains("first_by_ordered"), "rewrite fired on the ordering field")
  }
}

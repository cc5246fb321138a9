package graft.tools

import org.apache.spark.sql.SparkSession

/** Plan auditor: prints the formatted physical plan of selected catalog
  * queries so scan pruning (ReadSchema/PushedFilters), join strategies,
  * partial aggregation, and codegen spans can be reviewed per round. */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    // dir/cores overridable so per-round plan dumps can be taken at the
    // BENCH configuration (sf0.1 / local[32]) — the guarded fanOut width
    // is size- and core-dependent, so a plan audited at sf0.01/local[4]
    // would not show the exchange the bench actually runs
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    // default = the ENTIRE catalog (r19 verdict #2: the audit series had
    // stopped at a 177-query subset): lazy plans audit directly; queries
    // whose catalog build executes eagerly (streaming bridges, artifact
    // DML) audit what remains lazy after the build — their harness
    // trailer + result scan — which is exactly what the grep gates check
    val names = if (args.nonEmpty) args.toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try n match {
        // iterative trainer: audit a 2-round lazy unroll (the catalog
        // build checkpoints each round eagerly)
        case "q_bpe_train" =>
          graft.llm.BpeTrain.trainFrom(
            graft.core.Tables.documents(spark, d), 2, checkpoint = false)
            .explain("formatted")
        // incremental CC: the catalog build runs two eager star-contraction
        // loops; audit the lazy increment-pair chain (the broadcast-shape
        // claim) instead of executing the whole query
        case "q_dedup_cc_incr" | "q_dedup_cc_persisted" =>
          // both serve-side claims are the all-broadcast increment chain;
          // the persisted variant's remaining work is a node-sized label
          // scan + the contraction rounds every CC query runs
          graft.llm.Dedup.ccIncrementalAuditPlan(spark, d).explain("formatted")
        // cluster-keyed split / attribution matrix: both run an eager
        // contraction loop (resp. an eager pair pin) in the catalog build,
        // so audit the lazy LSH pair chain — the part of the plan that
        // carries each query's scale claim (banded candidates, df caps,
        // broadcast verifies); the contraction rounds run as their own
        // jobs inside the build, so no lazy plan of a round exists
        case "q_split_leakfree" | "q_dedup_matrix" =>
          graft.llm.Dedup.nearPairsAuditPlan(spark, d).explain("formatted")
        // the scoped-maintenance READ runs eagerly inside optimizeRange
        // at artifact build — audit its plan shape explicitly (the
        // OptimizeScope scan marker) alongside the query's read-back
        case "q_tradelog_optimize_scoped" =>
          val p = graft.source.TradeLogQueries.ensureMorScoped(spark, d)
          val scope = graft.source.TradeLogFormat.readManifest(p)
            .map(_.minTsUs).filter(_ != Long.MinValue)
          if (scope.nonEmpty)
            spark.read.format("graft-tradelog")
              .option("optimizeScope", s"${scope.min}:${scope.max}")
              .load(p).explain("formatted")
          graft.SparkEntry.queries(n)(spark, d).explain("formatted")
        case _ =>
          graft.SparkEntry.queries(n)(spark, d).explain("formatted")
      }
      catch { case e: Throwable =>
        println(s"[audit] $n failed: ${e.getClass.getSimpleName}: " +
          e.getMessage)
      }
    }
    spark.stop()
  }
}

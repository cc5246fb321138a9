package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver testdata (TESTDATA.md / FIXTURES.md).
  *
  * All catalog queries read through here so scan options (and, at cluster
  * scale, bucketing / partition layout hints) live in one place. Parquet +
  * column pruning + predicate pushdown come from the declarative plan — no
  * custom scan code needed (SURVEY.md §4).
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.ts` normalization — the generator has shipped it two ways:
    * parquet TIMESTAMP(NANOS) (Spark 4 refuses to read it as a timestamp;
    * under `spark.sql.legacy.parquet.nanosAsLong=true` — set by every
    * session builder in this repo — it surfaces as LONG nanos) and, since
    * round 10, plain TIMESTAMP(MICROS) without isAdjustedToUTC (surfaces
    * as TIMESTAMP_NTZ). Both land on session-timezone TIMESTAMP at µs
    * precision: nanos get integer-DIV truncation (a double division would
    * lose precision above 2^53 ns), NTZ gets a cast that is
    * value-preserving under the repo-wide UTC session timezone. DuckDB
    * reads the same file natively, so oracle SQL must not depend on
    * sub-µs ordering.
    */
  private def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(load(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** STREAMING twin of [[events]] — the same table through the file
    * source (explicit schema: file sources don't infer, so the batch
    * loader's RAW schema — one footer read — is declared verbatim, which
    * keeps the stream robust to the generator's ts encoding; see
    * [[normalizeTs]]). Path is a glob because the file source requires a
    * directory basePath while the testdata table is one file. Feeds the
    * batch≡streaming oracle bridges (q_ohlc_streamed,
    * q_session_streamed). */
  def eventsStream(s: SparkSession, d: String): DataFrame = {
    val schema = load(s, d, "events").schema
    normalizeTs(s.readStream.schema(schema).parquet(s"$d/events.*"))
  }

  /** STREAMING twin of [[documents]] (file source, explicit schema, glob
    * path — see [[eventsStream]]). */
  def documentsStream(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    s.readStream.schema(schema).parquet(s"$d/documents.*")
  }

  /** STREAMING twin of [[lineitem]] (file source, schema from the batch
    * table, glob path — see [[eventsStream]]). */
  def lineitemStream(s: SparkSession, d: String): DataFrame = {
    val schema = load(s, d, "lineitem").schema
    s.readStream.schema(schema).parquet(s"$d/lineitem.*")
  }

  /** Staging root for streaming bridges that lay data out as multiple
    * files before reading them back through the file source
    * (q_ohlc_multibatch, q_ohlc_update_streamed). Defaults to the
    * driver-local build dir — correct on local[n], where driver and
    * executors share a filesystem — and is overridden via
    * `spark.graft.stream.stageDir` for CLUSTER runs, where the staging
    * path must be shared storage the executors' streaming source can
    * read (the reliable-checkpoint rule, docs/DEPLOY.md). */
  def stageDir(s: SparkSession, sub: String): String = {
    val root = s.conf.get("spark.graft.stream.stageDir",
      s"${sys.props("user.dir")}/target/graft_stream")
    s"$root/$sub"
  }

  /** BUILD-ONCE staged input layout for a streaming bridge, under
    * [[stageDir]]: `<tag>_<fingerprint of srcTable>`, built by `write` and
    * published by [[Artifacts.publishOnce]] — the one build-once rule
    * (name by source fingerprint, publish by atomic rename; see
    * [[Artifacts]]). A staged layout is a pure function of its source
    * table, so it is re-used across invocations instead of re-writing an
    * identical corpus-derived layout inside every timed run (measured in
    * OPTIMIZATION_r20.md); a layout-shape change must bump `tag`. The
    * staged bytes are deterministic (keyless repartition sorts before
    * assigning rows — SPARK-23207 — and the source scan is deterministic),
    * so re-use is bit-identical to re-writing, and the file source never
    * sees a layout change under a running query. */
  def stageOnce(s: SparkSession, tag: String, d: String, srcTable: String)(
      write: String => Unit): String =
    Artifacts.publishOnce(s,
      stageDir(s, s"${tag}_${Artifacts.fingerprint(s, d, srcTable)}"))(write)

  /** Root for BUILD-ONCE artifacts (CC labels, the IVFPQ serving index,
    * the 1m candle tier): same cluster rule as [[stageDir]] — the
    * driver-local build dir is only correct on local[n]; cluster runs
    * route it to shared storage via `spark.graft.artifacts.dir` so the
    * serve-side scans read a path every executor can reach. */
  def artifactRoot(s: SparkSession): String =
    s.conf.get("spark.graft.artifacts.dir",
      s"${sys.props("user.dir")}/target")

  /** Run a finite streaming frame to termination (Trigger.AvailableNow,
    * complete mode, memory sink under a fresh name) and return the
    * materialized result — the executor of the batch≡streaming oracle
    * bridges. Complete mode keeps all state on finite input: exactly
    * batch semantics, so the streamed result hash-compares against the
    * batch query's own oracle SQL. */
  def runStreamComplete(parent: SparkSession, prefix: String)(
      build: SparkSession => DataFrame): DataFrame =
    runStream(parent, prefix, "complete", Map.empty)(build)

  /** Append-mode twin of [[runStreamComplete]] for the operators complete
    * mode cannot express (stream-stream joins, watermark dedup): on finite
    * AvailableNow input every match/survivor emits in the batch it arrives
    * in, so the materialized sink is again exactly the batch answer.
    * `extraConf` carries bridge-only settings (e.g. the RocksDB state
    * store provider for transformWithState). */
  def runStreamAppend(parent: SparkSession, prefix: String,
      extraConf: Map[String, String] = Map.empty)(
      build: SparkSession => DataFrame): DataFrame =
    runStream(parent, prefix, "append", extraConf)(build)

  /** foreachBatch twin of [[runStreamComplete]] for whole-plan bridges:
    * `source` builds the streaming input, `process` runs an arbitrary
    * BATCH plan over each micro-batch (the foreachBatch contract — this is
    * how production jobs run a multi-join verdict chain per ingest batch),
    * and the materialized per-batch results union into the returned frame.
    * A parquet file source with no maxFilesPerTrigger delivers ALL files
    * in ONE AvailableNow micro-batch, so a whole-increment chain (e.g.
    * within-batch candidate self-joins) sees the same increment as its
    * batch twin and hash-compares against the identical oracle SQL.
    * Bridges whose per-batch plan is NOT a per-row map (corpus-global
    * aggregates, within-batch self-joins) are only correct under that
    * one-batch delivery; they pass `requireSingleBatch = true` so a
    * layout or trigger change that splits the source fails LOUDLY here
    * instead of silently unioning duplicate stage rows. */
  def runStreamForeachBatch(parent: SparkSession, prefix: String,
      requireSingleBatch: Boolean = false)(
      source: SparkSession => DataFrame)(
      process: (SparkSession, DataFrame) => DataFrame): DataFrame = {
    val s = parent.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "8")
    val acc = new java.util.concurrent.atomic.AtomicReference[DataFrame](null)
    val nBatches = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = source(s).writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        nBatches.incrementAndGet()
        // pin each batch's verdicts: the accumulated frame must outlive
        // the micro-batch execution that produced it. `process` gets the
        // BATCH's session — the stream cloned the child session at start,
        // so registrations/conf on the outer session no longer reach it.
        val out = process(batch.sparkSession, batch).localCheckpoint(true)
        acc.updateAndGet(prev =>
          if (prev == null) out else prev.unionByName(out))
        ()
      }
      .queryName(prefix + java.util.UUID.randomUUID().toString.replace("-", ""))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.streams.resetTerminated()
    require(acc.get() != null, "foreachBatch bridge saw no micro-batch")
    require(!requireSingleBatch || nBatches.get() == 1,
      s"bridge '$prefix' requires exactly one micro-batch (its per-batch " +
        s"plan is corpus-global) but the source delivered ${nBatches.get()}")
    acc.get()
  }

  /** STATEFUL-FOLD twin of [[runStreamForeachBatch]] for bridges whose
    * per-batch work folds DRIVER-HELD state across micro-batches (the
    * streaming CC label maintenance, q_dedup_cc_streamed): `body` runs
    * per micro-batch with the batch's session and updates the caller's
    * own state refs — any frame that must outlive its micro-batch is the
    * caller's to pin with an eager localCheckpoint, exactly as
    * [[runStreamForeachBatch]] pins its per-batch results. Returns the
    * number of micro-batches the source delivered, so specs can pin that
    * the fold genuinely spanned batches (a single-batch delivery would
    * make the fold trivially equal to its batch twin). */
  def runStreamFold(parent: SparkSession, prefix: String)(
      source: SparkSession => DataFrame)(
      body: (SparkSession, DataFrame, Long) => Unit): Int = {
    val s = parent.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "8")
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = source(s).writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        n.incrementAndGet()
        body(batch.sparkSession, batch, bid)
        ()
      }
      .queryName(prefix + java.util.UUID.randomUUID().toString.replace("-", ""))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.streams.resetTerminated()
    require(n.get() > 0, "foreachBatch fold saw no micro-batch")
    n.get()
  }

  /** UPDATE-MODE emission capture (q_ohlc_update_streamed): runs `build`'s
    * streaming aggregation with outputMode=update through foreachBatch,
    * tagging every emitted row with its micro-batch id — the observable
    * update mode adds over complete/append is the REVISION SEQUENCE (a
    * key re-emits each batch its aggregate changes), and the per-batch
    * capture is the only way to oracle it: the caller folds
    * latest-per-key over `__bid` and hash-compares against the batch SQL,
    * while a spec pins that some key actually revised. Same child-session
    * isolation and per-batch localCheckpoint pinning as
    * [[runStreamForeachBatch]]. */
  def runStreamUpdateEmissions(parent: SparkSession, prefix: String)(
      build: SparkSession => DataFrame): DataFrame = {
    val s = parent.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "8")
    val acc = new java.util.concurrent.atomic.AtomicReference[DataFrame](null)
    val q = build(s).writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        val out = batch.withColumn("__bid", lit(bid)).localCheckpoint(true)
        acc.updateAndGet(prev =>
          if (prev == null) out else prev.unionByName(out))
        ()
      }
      .queryName(prefix + java.util.UUID.randomUUID().toString.replace("-", ""))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.streams.resetTerminated()
    require(acc.get() != null, "update-mode bridge saw no micro-batch")
    acc.get()
  }

  private def runStream(parent: SparkSession, prefix: String, mode: String,
      extraConf: Map[String, String])(
      build: SparkSession => DataFrame): DataFrame = {
    // Conf isolation (ADVICE r9): bridge-only settings used to set/restore
    // on the caller's shared session, so any query planned concurrently
    // during a bridge run silently picked them up. The bridge now plans
    // and runs inside a CHILD session (the q_join_bloom newSession
    // pattern): same SparkContext — warmed block manager, codegen cache —
    // but its own SQLConf, catalog, and StreamingQueryManager, so nothing
    // leaks to or from the caller. Builder-time confs (timezone, ANSI,
    // parquet nanos) are inherited from the SparkContext conf.
    val s = parent.newSession()
    // Stateful-shuffle sizing, scoped to this bridge session: a streaming
    // query instantiates one state store per shuffle partition per
    // stateful operator PER BATCH — at the gate's finite input, 32
    // partitions is pure per-store setup overhead (measured 7.3 s median
    // for the stream-stream join; 3.0 s at 8). Production sizing is
    // rate-based and belongs to the deployment, not the operator.
    s.conf.set("spark.sql.shuffle.partitions", "8")
    extraConf.foreach { case (k, v) => s.conf.set(k, v) }
    val name = prefix + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = build(s).writeStream.outputMode(mode).format("memory")
      .queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // Re-pin the result as a localCheckpoint (executor block storage the
    // ContextCleaner reclaims once the caller drops the DataFrame), then
    // release the memory sink's strong refs — the catalog temp view and
    // the terminated-query registry would otherwise keep every bridge
    // result pinned in driver memory for the rest of a 112-query Bench
    // run (each streamed query runs twice: warm-up + timed).
    val out = s.table(name).localCheckpoint(true)
    s.catalog.dropTempView(name)
    s.streams.resetTerminated()
    out
  }
}

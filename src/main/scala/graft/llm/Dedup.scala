package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Artifacts, OracleSql, QueryDef, Tables}
import graft.core.QueryDef.OrderedOut

/** Deduplication operators for an LLM training-data pipeline.
  *
  * Three tiers, all shuffle-partitionable (no all-pairs comparison anywhere):
  *
  *  1. exact — hash-groupBy on raw content: one shuffle on the content hash.
  *  2. fingerprint — groupBy an order-insensitive bag-of-words hash:
  *     catches shuffled/re-ordered copies at identical cost.
  *  3. near — MinHash-LSH over word 3-gram shingles. The hash family is md5
  *     (not a seeded murmur) so a DuckDB oracle can replay it bit-for-bit.
  *     Cost shape: md5 is computed ONCE per (doc, shingle) — the 12 minhash
  *     functions are 8-hex-char chunks of ceil(12/4)=3 md5s — via
  *     explode → hash → groupBy(doc).min, which partial-aggregates map-side
  *     (never materializing per-doc hash arrays). Chunk-mins are banded into
  *     b signatures; candidate pairs = docs sharing a band bucket (shuffle
  *     on band signature); candidates verified with exact shingle Jaccard.
  *     With r=3, b=4 the detect probability is 1-(1-J³)⁴: ≥ 99.5% at
  *     J=0.9, ~0.1% at the J≈0.07 background of this corpus — candidate
  *     volume stays O(near-dups), not O(n²).
  */
object Dedup {

  /** Exact dedup: survivor (min doc_id) + multiplicity per distinct text.
    * Groups by a (md5, length) content key, NOT the text itself — at corpus
    * scale a full-text grouping key ships the whole corpus through the
    * exchange; the 16-byte hash + length shuffles ~0.1% of that with a
    * collision probability (even md5 alone, 500B docs) below 1e-17. */
  def exact(s: SparkSession, d: String): DataFrame =
    // not fanned out: one md5 per doc is cheaper than the added exchange
    // (measured 0.15→0.52 median with a fan; shingle chains differ)
    Tables.documents(s, d)
      .select(md5(col("text").cast("binary")).as("ck"),
        length(col("text")).as("cl"), col("doc_id"))
      .groupBy(col("ck"), col("cl"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("cnt"))
      .select(col("keep_id"), col("cnt"))
      .orderedBy("keep_id")

  /** INCREMENTAL ingest dedup — the production-standard daily pattern: a
    * small new batch (here doc_id ≡ 4 mod 5, a deterministic 20% split)
    * arrives against a huge already-deduped corpus (the other 80%), and
    * the question is which new docs survive. The naive anti-join shuffles
    * the corpus on the content key — at 100 TB that is the whole corpus
    * through an exchange, every day. This formulation never shuffles the
    * corpus: (1) the batch's distinct content keys broadcast, and the
    * corpus is scanned ONCE map-side through a broadcast LEFT SEMI join
    * (output = the tiny collision set); (2) the collision set broadcasts
    * back and the batch anti-joins it. Both joins are BroadcastHashJoin —
    * the plan guard pins that no sort/shuffle join strategy appears. The
    * only exchanges carry batch keys and collisions (increment-sized,
    * ~0.1% of a day's text as 16-byte hashes). Precondition: the daily
    * increment's key set fits the broadcast budget — at the point it does
    * not, fall back to the bucketed-corpus layout ([[graft.core.Layout
    * .writeBucketed]]) where the anti-join co-locates with zero shuffle
    * instead. Key is (md5, length) as in [[exact]]. */
  def incremental(s: SparkSession, d: String): DataFrame = {
    val keyed = Tables.documents(s, d) // md5-only pass: fan-out not worth it (see exact)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("ck"),
        length(col("text")).cast("bigint").as("cl"))
    val batch  = keyed.filter(pmod(col("doc_id"), lit(5)) === 4)
    val corpus = keyed.filter(pmod(col("doc_id"), lit(5)) =!= 4)
    // within-batch dedup first: the day's own duplicates collapse to the
    // earliest doc_id before the corpus check
    val firstInBatch = batch.groupBy(col("ck"), col("cl"))
      .agg(min(col("doc_id")).as("doc_id"))
    val collisions = corpus
      .join(broadcast(batch.select(col("ck"), col("cl")).distinct()),
        Seq("ck", "cl"), "left_semi")
      .select(col("ck"), col("cl")).distinct()
    firstInBatch
      .join(broadcast(collisions), Seq("ck", "cl"), "left_anti")
      .select(col("doc_id"), col("ck"), col("cl"))
      .orderedBy("doc_id")
  }

  /** INCREMENTAL NEAR-dup ingest — [[incremental]]'s daily pattern lifted
    * from exact content keys to MinHash-LSH: which docs of a small new
    * batch (doc_id ≡ 4 mod 5) are near-duplicates of the already-ingested
    * corpus (the other 80%), or of an earlier doc in their own batch?
    *
    * Scale shape mirrors [[incremental]] with the band-signature table as
    * the index: corpus bodies never shuffle — signatures partial-aggregate
    * map-side into fixed-width (doc, band, sig) rows (at corpus scale this
    * index is built once at ingest and persisted, exactly like the PQ code
    * table); the BATCH's bands broadcast against the corpus band table, so
    * candidate discovery is a map-side broadcast join; the tiny candidate
    * set then broadcasts back to fetch corpus TOKENS map-side, and only
    * candidates are re-shingled for the exact-Jaccard verify (the [[near]]
    * discipline — shingling the corpus twice cost ~2/3 of the r5 query).
    * Within-batch near-dups come from the batch bands' own self-join
    * (increment-sized, trivially small). Every join around the corpus is
    * a BroadcastHashJoin by construction.
    *
    * Output: one row per batch doc — corpus near-dup count, count of
    * LOWER-id batch near-dups, and the survival verdict (no hits on
    * either side), the decision a daily ingest job writes back. */
  def nearIncremental(s: SparkSession, d: String, threshold: Double = 0.8,
                      bands: Int = 4, rows: Int = 3): DataFrame = {
    val docs = Tables.documents(s, d)
    val isBatch = pmod(col("doc_id"), lit(5)) === 4
    nearIncrementalFrom(docs.filter(isBatch), docs.filter(!isBatch),
      threshold, bands, rows)
  }

  /** The ingest-verdict chain over EXPLICIT increment/corpus frames — split
    * from [[nearIncremental]] so the streaming bridge can hand the
    * micro-batch in as the increment (both need (doc_id, text)). */
  private[llm] def nearIncrementalFrom(batchDocs: DataFrame,
      corpusDocs: DataFrame, threshold: Double = 0.8,
      bands: Int = 4, rows: Int = 3): DataFrame = {
    val pairs = incrementPairs(batchDocs, corpusDocs, threshold, bands, rows)
    // per-batch-doc verdict counts from the shared pair engine; the hit
    // table is O(near-dups in the increment) — broadcast the left join so
    // the batch scan never sorts or exchanges
    val hits = pairs.groupBy(col("doc_b").as("doc_id")).agg(
      sum(when(col("from_corpus"), 1L).otherwise(0L)).as("corpus_hits"),
      sum(when(!col("from_corpus"), 1L).otherwise(0L)).as("batch_hits"))
    batchDocs.select(col("doc_id"))
      .join(broadcast(hits), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("corpus_hits"), lit(0L)).as("corpus_hits"),
        coalesce(col("batch_hits"), lit(0L)).as("batch_hits"),
        (coalesce(col("corpus_hits"), lit(0L)) === 0 &&
          coalesce(col("batch_hits"), lit(0L)) === 0).cast("long").as("survives"))
      .orderedBy("doc_id")
  }

  /** Verified near-dup PAIRS involving the increment — the single pair
    * engine behind the ingest verdicts ([[nearIncrementalFrom]]) and the
    * incremental cluster merge ([[ccIncremental]]): (doc_a, doc_b,
    * from_corpus), where doc_b is always the batch side and doc_a is the
    * corpus partner (from_corpus) or the smaller within-batch id. Scale
    * shape unchanged from the ingest chain: batch bands/shingles
    * broadcast everywhere, the corpus is touched by exactly one banded
    * scan plus a candidates-only shingle pass, and the within-batch
    * self-join carries an explicit broadcast so a large increment can't
    * silently fall to SortMergeJoin. */
  private[llm] def incrementPairs(batchDocs: DataFrame,
      corpusDocs: DataFrame, threshold: Double = 0.8,
      bands: Int = 4, rows: Int = 3): DataFrame = {
    // fanOut: the nearPairsUnordered rationale (1-task corpus band pass)
    val shC = graft.core.QueryDef.fanOut(corpusDocs)
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
      .select(col("doc_id"), TextStats.shinglesExpr("toks").as("sh"))
      .filter(size(col("sh")) > 0)
    incrementPairsFromBands(batchDocs, corpusDocs,
      bandSignatures(shC, bands, rows), threshold, bands, rows)
  }

  /** [[incrementPairs]] with the corpus BAND TABLE handed in — the serve
    * path of [[ccPersisted]], where the band signatures are a persisted
    * build artifact (the "built once at ingest and persisted" index the
    * [[nearIncremental]] scaladoc names): the serve plan then shingles
    * ONLY the increment; the corpus contributes the band-table read plus
    * one candidates-only token scan for the exact-Jaccard verify. */
  private[llm] def incrementPairsFromBands(
      batchDocs: DataFrame, corpusDocs: DataFrame, bandC: DataFrame,
      threshold: Double = 0.8, bands: Int = 4, rows: Int = 3): DataFrame = {
    // increment side deliberately NOT fanned (r21, verdict r20 #2): the
    // increment is small by the operator's contract (a daily batch vs the
    // corpus), so its shingle pass is sub-second on one task — the r20 fan
    // made q_dedup_incr_streamed 32 queueing micro-tasks (driver: 0.60x,
    // low-core ratio 0.57); the CORPUS side keeps its guarded fan
    val shB = batchDocs
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
      .select(col("doc_id"), TextStats.shinglesExpr("toks").as("sh"))
      .filter(size(col("sh")) > 0)
    incrementPairsPrebanded(shB, bandSignatures(shB, bands, rows),
      corpusDocs, bandC, threshold)
  }

  /** [[incrementPairsFromBands]] with the INCREMENT's shingles and band
    * table also handed in — the streaming CC fold computes the batch's
    * bands once and both feeds them here and accumulates them into its
    * seen-band state, so the batch is shingled exactly once per
    * micro-batch. `bandBDf` carries (doc_id, band, sig). */
  private[llm] def incrementPairsPrebanded(shB: DataFrame,
      bandBDf: DataFrame, corpusDocs: DataFrame, bandC: DataFrame,
      threshold: Double = 0.8): DataFrame = {
    val corpusTok = corpusDocs
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
    val bandB = bandBDf
      .select(col("band"), col("sig"), col("doc_id").as("bid"))
    // corpus×batch candidates: batch bands broadcast, corpus scanned in place
    val candBC = bandC.join(broadcast(bandB), Seq("band", "sig"))
      .select(col("doc_id").as("cid"), col("bid")).distinct()
    // within-batch candidates: increment-sized self-join — explicit
    // broadcast like every other join in the chain
    val candBB = bandB.as("x").join(broadcast(bandB.as("y")),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.bid") < col("y.bid"))
      .select(col("x.bid").as("aid"), col("y.bid").as("bid")).distinct()
    val shBatch = shB.select(col("doc_id").as("bid"), col("sh").as("sh_b"))
    def verified(withSets: DataFrame) =
      withSets
        .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
        .withColumn("j", round(lit(1.0) * col("inter") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")), 4))
        .filter(col("j") >= threshold)
    // corpus verify: candidate ids broadcast into the token scan; ONLY
    // candidate corpus docs shingle
    val bcPairs = verified(
      corpusTok.select(col("doc_id").as("cid"), col("toks"))
        .join(broadcast(candBC), "cid")
        .withColumn("sh_a", TextStats.shinglesExpr("toks")).drop("toks")
        .join(broadcast(shBatch), "bid"))
      .select(col("cid").as("doc_a"), col("bid").as("doc_b"),
        lit(true).as("from_corpus"))
    val bbPairs = verified(
      candBB
        .join(broadcast(shBatch.select(col("bid").as("aid"), col("sh_b").as("sh_a"))), "aid")
        .join(broadcast(shBatch), "bid"))
      .select(col("aid").as("doc_a"), col("bid").as("doc_b"),
        lit(false).as("from_corpus"))
    bcPairs.unionByName(bbPairs)
  }

  /** INCREMENTAL connected components — the daily-ingest half of the
    * clustering story: yesterday's corpus labels are already computed
    * (served from the fingerprinted label artifact, built once by
    * whichever of this / [[ccPersisted]] / the leak-free split runs
    * first — r14 finding #3: the previous in-run re-derivation made the
    * catalog's "incremental" row pay a from-scratch corpus contraction
    * every run), the increment's pairs come from the [[incrementPairs]]
    * engine, and the merge runs star contraction over (CONTRACTED label
    * edges ∪ new pairs) — never re-clustering the corpus graph. The
    * from-scratch label derivation this row used to run survives in
    * DedupPropertiesSpec, which pins this serving path ≡ to it. What
    * still distinguishes this row from
    * [[ccPersisted]]: only the LABELS are persisted here — candidate
    * discovery re-shingles the corpus (the kept-labels-but-no-LSH-index
    * production shape), where ccPersisted also serves the band index.
    * Correct by the
    * contraction identity CC(contract(G₁) ∪ G₂) = CC(G₁ ∪ G₂): the label
    * table preserves exactly the connectivity of the corpus pairs (every
    * non-root points at its component min), so the oracle is the FULL
    * whole-graph semantic spec — the same recursive-CTE SQL as
    * q_dedup_clusters/q_dedup_cc — and the driver hash-compare proves the
    * incremental merge equals the from-scratch clustering. Scale shape:
    * the corpus contributes its node-sized label table; the expensive LSH
    * work is increment-sized; the merge graph is labels + new pairs, far
    * smaller than the full pair graph. */
  def ccIncremental(s: SparkSession, d: String, threshold: Double = 0.8,
                    checkpointDir: Option[String] = None): DataFrame = {
    val docs = Tables.documents(s, d)
    val isBatch = pmod(col("doc_id"), lit(5)) === 4
    val corpus = docs.filter(!isBatch)
    val corpusLabels = persistedStarLabels(s, d, threshold, "labels",
      nearPairsUnordered(corpus, threshold).select(col("doc_a"), col("doc_b")),
      checkpointDir)
    val labelEdges = corpusLabels.filter(col("id") =!= col("lbl"))
      .select(col("id").as("doc_a"), col("lbl").as("doc_b"))
    val newPairs = incrementPairs(docs.filter(isBatch), corpus, threshold)
      .select(col("doc_a"), col("doc_b"))
    starLabels(labelEdges.unionByName(newPairs), checkpointDir)
      .select(col("id").as("doc_id"), col("lbl").as("cluster"))
      .orderedBy("doc_id")
  }

  /** PERSISTED-LABEL incremental connected components — [[ccIncremental]]
    * with the production artifact lifecycle it documents: the corpus
    * cluster labels are a BUILD product written ONCE (star contraction
    * over the corpus pair graph → parquet, the q_sim_ivfpq_persisted
    * "index once, serve many" shape), and the daily SERVE step reads the
    * node-sized label table back and contracts only (label edges ∪ the
    * increment's pairs) — it never re-derives yesterday's clustering, the
    * double-contraction cost [[ccIncremental]] pays for self-containment
    * (VERDICT r12 item 1: 5.65 s, the top bench line). Correctness is the
    * same contraction identity, so the oracle stays the FULL whole-graph
    * recursive-CTE spec. The build persists TWO artifacts: the corpus
    * BAND TABLE (the LSH index — 4 fixed-width rows/doc) alongside the
    * labels, so the serve plan never re-shingles the corpus — candidate
    * discovery broadcasts the increment's bands against the persisted
    * index, and the only corpus scan left is the candidates-only token
    * fetch for the exact-Jaccard verify. Bands and labels are separate
    * build-once artifacts (rule in [[Artifacts]]). Serve cost at 100 TB:
    * band-index read + label read (both node-sized), LSH work
    * increment-sized, merge graph = labels + new pairs. */
  def ccPersisted(s: SparkSession, d: String, threshold: Double = 0.8,
                  checkpointDir: Option[String] = None): DataFrame = {
    val docs = Tables.documents(s, d)
    val isBatch = pmod(col("doc_id"), lit(5)) === 4
    val corpus = docs.filter(!isBatch)
    val root = labelArtifactPath(s, d, threshold)
    val bandPath = s"$root/bands"
    // ---- BUILD (once per corpus fingerprint): the corpus BAND TABLE
    // (the LSH index, 4 fixed-width rows/doc) and the contraction labels
    Artifacts.publishOnce(s, bandPath) { staging =>
      // fanOut: the nearPairsUnordered rationale (build-once, but the
      // first build's corpus band pass was 1-task)
      val shC = graft.core.QueryDef.fanOut(corpus)
        .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
        .select(col("doc_id"), TextStats.shinglesExpr("toks").as("sh"))
        .filter(size(col("sh")) > 0)
      bandSignatures(shC, 4, 3).write.mode("overwrite").parquet(staging)
    }
    // ---- SERVE: read the node-sized artifacts; only the INCREMENT
    // shingles (candidate discovery joins the persisted band index), then
    // contract labels ∪ new pairs
    val corpusLabels = persistedStarLabels(s, d, threshold, "labels",
      nearPairsUnordered(corpus, threshold).select(col("doc_a"), col("doc_b")),
      checkpointDir)
    val labelEdges = corpusLabels.filter(col("id") =!= col("lbl"))
      .select(col("id").as("doc_a"), col("lbl").as("doc_b"))
    val newPairs = incrementPairsFromBands(docs.filter(isBatch), corpus,
        s.read.parquet(bandPath), threshold)
      .select(col("doc_a"), col("doc_b"))
    starLabels(labelEdges.unionByName(newPairs), checkpointDir)
      .select(col("id").as("doc_id"), col("lbl").as("cluster"))
      .orderedBy("doc_id")
  }

  /** STREAMING connected components — the cluster-label state MAINTAINED
    * under the streaming engine (24th batch≡streaming bridge, and the
    * only one whose driver-held state is a GRAPH artifact): the corpus
    * arrives as 3 rate-limited micro-batches (maxFilesPerTrigger=1 over
    * the staged 3-file layout — 4 until r20; one fewer batch keeps every
    * semantic the bridge exists for, the r18 join_outer rule — the
    * q_ohlc_multibatch delivery) and each
    * batch folds the label state by the same contraction identity the
    * incremental merge relies on —
    * labels_t = contract(labelEdges(labels_{t-1}) ∪ pairs_t), where
    * pairs_t are the batch's verified near-dup pairs against everything
    * seen so far plus within the batch itself. Candidate discovery joins
    * the batch's bands (broadcast) against the ACCUMULATED seen-band
    * index — the [[ccPersisted]] band artifact held as fold state — so
    * seen documents are never re-shingled; the exact-Jaccard verify
    * fetches candidate tokens from the static table (candidates-only
    * scan). Repeated application of CC(contract(G₁) ∪ G₂) = CC(G₁ ∪ G₂)
    * makes the final labels equal the from-scratch whole-graph
    * clustering, so the oracle is the IDENTICAL recursive-CTE spec as
    * q_dedup_clusters/q_dedup_cc/q_dedup_cc_incr — the driver hash
    * proves continuous graph maintenance equals batch reclustering.
    * 100 TB shape: per-batch work is increment-sized LSH + a node-sized
    * contraction (labels ∪ new pairs — never the full pair graph); the
    * seen-band state is the fixed-width 4-rows/doc index, the exact
    * artifact a production fold keeps in a state table. */
  def ccStreamed(s: SparkSession, d: String, threshold: Double = 0.8): DataFrame =
    ccStreamedStats(s, d, threshold)._1

  /** [[ccStreamed]] plus the delivered micro-batch count, so the spec can
    * pin that the label fold genuinely spanned >1 batch. */
  private[llm] def ccStreamedStats(s: SparkSession, d: String,
      threshold: Double = 0.8, nFiles: Int = 3): (DataFrame, Int) = {
    val docs = Tables.documents(s, d)
    // build-once staged layout (r20 opt, Tables.stageOnce rationale)
    val tmp = Tables.stageOnce(s, s"cc_str_f$nFiles", d, "documents") { p =>
      docs.repartition(nFiles).write.mode("overwrite").parquet(p)
    }
    val labels =
      new java.util.concurrent.atomic.AtomicReference[DataFrame](null)
    val seenBands =
      new java.util.concurrent.atomic.AtomicReference[DataFrame](null)
    val batches = Tables.runStreamFold(s, "cc_streamed_") { cs =>
      cs.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(tmp)
    } { (bs, batch, _) =>
      // fanOut: each micro-batch is ONE staged file → 1-task shingle+band
      // pass per batch without it (the nearPairsUnordered rationale)
      val shB = graft.core.QueryDef.fanOut(batch)
        .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
        .select(col("doc_id"), TextStats.shinglesExpr("toks").as("sh"))
        .filter(size(col("sh")) > 0)
      val bandB = bandSignatures(shB, 4, 3).localCheckpoint(true)
      val prevBands = seenBands.get()
      // lineage-free empty frame (not bandB.limit(0)): the seen-band side
      // must not share bandB's plan subtree or the band-bucket join would
      // be a same-lineage self-join on its using-columns
      val noBands = bs.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), bandB.schema)
      val newPairs = incrementPairsPrebanded(shB, bandB,
          Tables.documents(bs, d),
          if (prevBands == null) noBands else prevBands, threshold)
        .select(col("doc_a"), col("doc_b"))
      val prev = labels.get()
      val labelEdges =
        if (prev == null) newPairs.limit(0)
        else prev.filter(col("id") =!= col("lbl"))
          .select(col("id").as("doc_a"), col("lbl").as("doc_b"))
      // starLabels returns an internally-pinned frame (its own rounds
      // freed) — no re-pin here. The swapped-out state frames are freed
      // the moment their last reader has materialized: prev's blocks fed
      // the contraction's round-0 pin, prevBands/bandB fed the new
      // seen-band checkpoint. Without these frees every micro-batch
      // leaked its predecessor's blocks for the JVM's life (r19 verdict
      // #1 — the q_dedup_cc_streamed band regression).
      labels.set(starLabels(labelEdges.unionByName(newPairs)))
      if (prev != null) graft.core.QueryDef.freePin(prev)
      if (prevBands == null) seenBands.set(bandB)
      else {
        seenBands.set(prevBands.unionByName(bandB).localCheckpoint(true))
        graft.core.QueryDef.freePin(prevBands)
        graft.core.QueryDef.freePin(bandB)
      }
    }
    (labels.get()
      .select(col("id").as("doc_id"), col("lbl").as("cluster"))
      .orderedBy("doc_id"), batches)
  }

  /** Build-once ([[Artifacts.publishOnce]]) star-contraction labels for
    * an arbitrary pair chain under the fingerprinted artifact root, read
    * back as the node-sized (id, lbl) table. `scope` separates label sets over different
    * graphs of the same corpus file — "labels" (corpus-only, the
    * [[ccPersisted]] daily artifact) vs "full" (whole-graph, the
    * [[graft.llm.Pipeline.splitLeakfree]] split key). */
  private[llm] def persistedStarLabels(s: SparkSession, d: String,
      threshold: Double, scope: String,
      pairs: => DataFrame,
      checkpointDir: Option[String] = None): DataFrame = {
    val path = s"${labelArtifactPath(s, d, threshold)}/$scope"
    Artifacts.publishOnce(s, path) { staging =>
      val lbl = starLabels(pairs, checkpointDir)
      lbl.write.mode("overwrite").parquet(staging)
      // the parquet write was the pinned labeling's last reader
      graft.core.QueryDef.freePin(lbl)
    }
    s.read.parquet(path)
  }

  /** Label-artifact location for [[ccPersisted]]: keyed by threshold and
    * the documents fingerprint ([[Artifacts.fingerprint]]), so
    * scale factors never share labels and a regenerated corpus is a fresh
    * path by construction. */
  private def labelArtifactPath(s: SparkSession, d: String,
                                threshold: Double): String = {
    val tsafe = threshold.toString.replace('.', '_')
    // v2 (v1 had no band index): bump when the pair chain / contraction
    // CODE changes semantics — the data fingerprint only invalidates on
    // regen
    s"${Tables.artifactRoot(s)}/graft_labels/v2_t${tsafe}_" +
      Artifacts.fingerprint(s, d, "documents")
  }

  /** Lazy audit plan for [[ccIncremental]] (tools.ExplainAudit): the
    * increment pair chain whose all-broadcast shape is the query's scale
    * claim. The catalog build itself runs TWO [[starLabels]] loops
    * eagerly (per-round pinRound actions), so it has no single lazy plan
    * to print — each contraction round runs as its own jobs, so no audit
    * prints a round's plan; auditing this query eagerly would pay the
    * full double-contraction runtime and show only the trailing label
    * join. */
  def ccIncrementalAuditPlan(s: SparkSession, d: String,
                             threshold: Double = 0.8): DataFrame = {
    val docs = Tables.documents(s, d)
    val isBatch = pmod(col("doc_id"), lit(5)) === 4
    incrementPairs(docs.filter(isBatch), docs.filter(!isBatch), threshold)
  }

  /** [[nearIncremental]] under the STREAMING engine (the 14th
    * batch≡streaming bridge, VERDICT r11 item 5): the daily increment
    * arrives as an AvailableNow micro-batch and foreachBatch runs the
    * IDENTICAL all-BroadcastHashJoin ingest-verdict chain against the
    * static corpus — the production shape of continuous ingest dedup
    * (stream the increment, verdict per micro-batch, corpus stays a
    * static table that never shuffles). The parquet source delivers the
    * whole increment in one micro-batch (no maxFilesPerTrigger), so the
    * within-batch candidate self-join sees the same increment as the
    * batch twin and the SAME oracle SQL adjudicates both. */
  def nearIncrStreamed(s: SparkSession, d: String, threshold: Double = 0.8,
                       bands: Int = 4, rows: Int = 3): DataFrame = {
    val isBatch = pmod(col("doc_id"), lit(5)) === 4
    Tables.runStreamForeachBatch(s, "dedup_incr_streamed_",
      requireSingleBatch = true) { cs =>
      Tables.documentsStream(cs, d).filter(isBatch)
    } { (cs, batch) =>
      nearIncrementalFrom(batch,
        Tables.documents(cs, d).filter(!isBatch), threshold, bands, rows)
    }.orderedBy("doc_id")
  }

  /** Mirrors [[nearIncremental]] over the shared [[sigCtes]] chain: the
    * oracle computes signatures over ALL docs (per-doc values — identical
    * to split computation) and applies the batch/corpus split in the
    * candidate joins. */
  private def nearIncrementalOracle(threshold: Double, bands: Int,
                                    rows: Int): String =
    s"""WITH ${sigCtes(bands, rows)},
       |candbc AS (
       |  SELECT DISTINCT c.doc_id AS cid, b.doc_id AS bid
       |  FROM bands c JOIN bands b ON c.band = b.band AND c.bsig = b.bsig
       |  WHERE c.doc_id % 5 <> 4 AND b.doc_id % 5 = 4),
       |candbb AS (
       |  SELECT DISTINCT x.doc_id AS aid, y.doc_id AS bid
       |  FROM bands x JOIN bands y ON x.band = y.band AND x.bsig = y.bsig
       |    AND x.doc_id < y.doc_id
       |  WHERE x.doc_id % 5 = 4 AND y.doc_id % 5 = 4),
       |vbc AS (
       |  SELECT bid, count(*) AS corpus_hits FROM (
       |    SELECT cid, bid,
       |           round(1.0 * len(list_intersect(a.s, b.s)) /
       |                 (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) AS j
       |    FROM candbc JOIN sh a ON a.doc_id = cid JOIN sh b ON b.doc_id = bid)
       |  WHERE j >= $threshold GROUP BY bid),
       |vbb AS (
       |  SELECT bid, count(*) AS batch_hits FROM (
       |    SELECT aid, bid,
       |           round(1.0 * len(list_intersect(a.s, b.s)) /
       |                 (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) AS j
       |    FROM candbb JOIN sh a ON a.doc_id = aid JOIN sh b ON b.doc_id = bid)
       |  WHERE j >= $threshold GROUP BY bid)
       |SELECT d.doc_id,
       |       CAST(COALESCE(vbc.corpus_hits, 0) AS BIGINT) AS corpus_hits,
       |       CAST(COALESCE(vbb.batch_hits, 0) AS BIGINT) AS batch_hits,
       |       CAST(CASE WHEN COALESCE(vbc.corpus_hits, 0) = 0
       |                  AND COALESCE(vbb.batch_hits, 0) = 0
       |            THEN 1 ELSE 0 END AS BIGINT) AS survives
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 4) d
       |LEFT JOIN vbc ON vbc.bid = d.doc_id
       |LEFT JOIN vbb ON vbb.bid = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Keep-BEST dedup compaction: group on the canonical-form hash
    * (lowercased, punctuation-stripped — [[TextStats.normalize]]'s key, so
    * case/punctuation variants of one document collapse), keep the
    * LONGEST raw variant (ties → lowest doc_id) — the "canonical survivor
    * by quality" selection a cleaning stage runs, vs [[exact]]'s min-id
    * rule.
    *
    * Scale shape: the arg-max is ORDER-ENCODED into one long —
    * `n_chars * 2⁴⁰ + (2⁴⁰-1 - doc_id)` — so a plain `max()` does the
    * whole selection in a single codegen HashAggregate with map-side
    * partials (`max_by(id, struct(n_chars, -id))` falls to SortAggregate:
    * struct buffers aren't hash-mutable; a `row_number` window would sort
    * every group). Bounds: doc_id < 2⁴⁰ (a trillion docs), n_chars < 2²³
    * — both checked nowhere because violating them needs a single doc of
    * 8 MB+ or a corpus beyond the encoding, either of which a real
    * pipeline caps upstream. Bodies never shuffle (16-byte hash key). */
  def keepBest(s: SparkSession, d: String): DataFrame = {
    val B = 1L << 40
    val canon = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
    Tables.documents(s, d) // md5-only pass: fan-out not worth it (see exact)
      .select(md5(canon.cast("binary")).as("fp"), col("doc_id"), col("n_chars"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("dups"),
        max(col("n_chars") * B + (lit(B - 1) - col("doc_id"))).as("enc"))
      .select(col("fp"),
        (lit(B - 1) - col("enc") % B).as("keep_id"),
        expr(s"CAST(enc DIV ${B}L AS BIGINT)").as("keep_chars"),
        col("dups"))
      .orderedBy("fp")
  }

  /** Replays [[keepBest]]'s selection with the window formulation (the
    * semantics proof: encoded max ≡ row_number over (n_chars DESC, id)). */
  private val keepBestOracle: String =
    """WITH c AS (
      |  SELECT doc_id, n_chars,
      |         md5(trim(regexp_replace(regexp_replace(lower(text),
      |             '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp
      |  FROM documents),
      |r AS (SELECT fp, doc_id, n_chars,
      |             row_number() OVER (PARTITION BY fp
      |               ORDER BY n_chars DESC, doc_id) AS rn,
      |             count(*) OVER (PARTITION BY fp) AS cnt
      |      FROM c)
      |SELECT fp, doc_id AS keep_id, n_chars AS keep_chars,
      |       CAST(cnt AS BIGINT) AS dups
      |FROM r WHERE rn = 1 ORDER BY fp""".stripMargin

  /** Bag-of-words fingerprint dedup (order-insensitive exact dedup). */
  def fingerprint(s: SparkSession, d: String): DataFrame =
    graft.core.QueryDef.fanOut(Tables.documents(s, d)) // 1-task md5 pass otherwise
      .withColumn("fp",
        md5(array_join(sort_array(array_distinct(TextStats.tokens(col("text")))), " ")
          .cast("binary")))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("cnt"))
      .orderedBy("fp")

  private def nHashes(bands: Int, rows: Int) = bands * rows
  private def nGroups(bands: Int, rows: Int) = (nHashes(bands, rows) + 3) / 4

  /** (doc_id, band, sig): explode shingles, md5 each ONCE per hash group,
    * take per-doc mins of the 8-hex-char chunks (map-side partial agg — no
    * per-doc hash arrays materialize), concat r chunk-mins per band.
    * Input `sh` must carry (doc_id, sh: array<string>). */
  def bandSignatures(sh: DataFrame, bands: Int, rows: Int): DataFrame = {
    val groups = nGroups(bands, rows)
    val exploded = sh.select(col("doc_id"), explode(col("sh")).as("x"))
      .select(col("doc_id") +:
        (0 until groups).map(g =>
          md5(concat(lit(s"$g#"), col("x"))).as(s"h$g")): _*)
    // numeric min, not string min: a string agg buffer is not hash-mutable
    // and forces SortAggregate; conv() the fixed-width hex chunk to a long
    // first (same ordering — lowercase fixed-width hex sorts numerically)
    // and the stage hash-aggregates with partial map-side mins
    val minCols = (0 until nHashes(bands, rows)).map { i =>
      min(conv(substring(col(s"h${i / 4}"), (i % 4) * 8 + 1, 8), 16, 10)
        .cast("long")).as(s"mh$i")
    }
    val sig = exploded.groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("|", (0 until rows).map(r => col(s"mh${b * rows + r}")): _*).as("sig"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** MinHash-LSH near-dup: candidate pairs from shared band buckets,
    * verified with exact shingle-set Jaccard >= `threshold`.
    *
    * `maxBucket` (None = unlimited) caps the band-bucket size BEFORE the
    * self-join: the bucket join is quadratic within a bucket, and at corpus
    * scale a boilerplate cluster (license headers, templated pages) can put
    * millions of docs in one bucket — n² candidate pairs from a single key.
    * Dropping over-full buckets bounds the join at b·cap²/2 pairs per
    * bucket; a true near-dup pair lost to one hot band usually re-surfaces
    * via its other b-1 bands. */
  def near(s: SparkSession, d: String, threshold: Double = 0.8,
           bands: Int = 4, rows: Int = 3, maxBucket: Option[Int] = None): DataFrame =
    nearFor(Tables.documents(s, d), threshold, bands, rows, maxBucket)

  /** [[near]] over an arbitrary (doc_id, text, ...) corpus DataFrame — the
    * composition entry point: a pipeline that has already filtered or
    * exact-deduped its corpus near-dedups the SURVIVORS, not the raw table
    * (cheaper — fewer docs shingle — and it keeps exact-duplicate clusters
    * from flooding band buckets; exact dedup owns those linearly). */
  def nearFor(docs: DataFrame, threshold: Double = 0.8,
              bands: Int = 4, rows: Int = 3, maxBucket: Option[Int] = None): DataFrame =
    nearPairsUnordered(docs, threshold, bands, rows, maxBucket)
      .orderedBy("doc_a", "doc_b")

  /** Lazy audit plan for the cluster-keyed consumers of the LSH pair
    * chain (tools.ExplainAudit: q_split_leakfree, q_dedup_matrix): those
    * catalog builds pin pairs / run contraction loops eagerly, so their
    * own plan prints only a trailing join — this exposes the unexecuted
    * pair chain whose banded-candidate + broadcast-verify shape is the
    * scale claim both queries inherit. */
  def nearPairsAuditPlan(s: SparkSession, d: String,
                         threshold: Double = 0.8): DataFrame =
    nearPairsUnordered(Tables.documents(s, d), threshold)

  /** [[nearFor]] without the harness ordering trailer — the composition
    * entry point for downstream graph work ([[ccStars]]), where a
    * repartition(1) in the lineage would serialize every later stage. */
  private[llm] def nearPairsUnordered(docs: DataFrame, threshold: Double = 0.8,
      bands: Int = 4, rows: Int = 3, maxBucket: Option[Int] = None): DataFrame = {
    // fanOut (r20 opt): one-row-group corpus → the tokenize+shingle+
    // minhash band pass ran as ONE task (JobProfile: 1.96 s single-task
    // job inside q_dedup_cc); round-robin split is a no-op at corpus
    // scale and the chain's broadcast-join strategies are unchanged
    val docsTok = graft.core.QueryDef.fanOut(docs)
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
    val sh = docsTok
      .select(col("doc_id"), TextStats.shinglesExpr("toks").as("sh"))
      .filter(size(col("sh")) > 0)
    val banded0 = bandSignatures(sh, bands, rows)
    val cand = bandedCandidates(banded0, "doc_id", maxBucket, "doc_a", "doc_b")
    // verify joins carry TOKENS and shingle AFTER the join: shingling the
    // full corpus twice more (the sh relation is referenced per side) cost
    // ~2/3 of the query — candidates are O(near-dups), so shingle them only
    val withSets = cand
      .join(docsTok.select(col("doc_id").as("doc_a"), col("toks").as("toks_a")), "doc_a")
      .join(docsTok.select(col("doc_id").as("doc_b"), col("toks").as("toks_b")), "doc_b")
      .withColumn("sh_a", TextStats.shinglesExpr("toks_a"))
      .withColumn("sh_b", TextStats.shinglesExpr("toks_b"))
    withSets
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        round(lit(1.0) * col("inter") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** N-gram Jaccard near-dup WITHOUT MinHash: candidate pairs come from an
    * inverted index on RARE shingles — docs sharing any 3-gram whose
    * document frequency is in [2, maxDf] — then exact-Jaccard verification,
    * identical to [[near]]'s verify stage.
    *
    * The complementary recall/cost trade to MinHash-LSH: recall is EXACT
    * for any pair sharing at least one rare shingle (near-dups above ~0.5
    * Jaccard on natural text essentially always do), and the df ceiling is
    * a BUILT-IN hot-bucket bound — a shingle with df > maxDf (stopword
    * runs, boilerplate) never joins, so the self-join is capped at
    * maxDf²/2 pairs per shingle by construction, where MinHash needs the
    * bolt-on count-window cap. Cost: the df groupBy shuffles every
    * (shingle, doc) pair once — same volume the MinHash explode already
    * shuffles — then only rare-shingle postings (a small fraction at
    * corpus scale: boilerplate is exactly what the ceiling drops) enter
    * the join. The posting/join key is a 48-bit md5 prefix of the shingle
    * (8 bytes through the exchange, not a ~30-byte string). A collision
    * mostly ADDS candidate pairs (discarded by the exact-Jaccard verify),
    * but it can also LOSE one: merging two shingles' df counts can push a
    * genuinely rare shingle over `maxDf`, dropping its postings — so
    * "exact recall" holds only modulo collisions (probability ~df·2⁻⁴⁸
    * per shingle; ~1e-5 of shingles at a billion distinct grams).
    *
    * Plan shape: the df ceiling makes per-gram posting lists TINY (≤
    * maxDf) by construction, so candidate pairs are generated IN-GROUP —
    * `groupBy(gh).agg(collect_up_to(doc_id, maxDf + 1))` (the saturating
    * aggregate [[graft.expr.CollectUpTo]]: per-group state is bounded at
    * maxDf+1 longs even for a boilerplate gram carried by millions of
    * docs — the df ceiling lives IN the buffer, not in a post-hoc filter
    * over a fully materialized list), filter the list size to
    * [2, maxDf], expand the ≤ maxDf·(maxDf-1)/2 in-memory pairs per gram
    * with array lambdas. ONE hash-partial-aggregating exchange of 8-byte
    * keys and NO sort anywhere: the r6 count-window formulation kept one
    * plan but sorted the ENTIRE postings relation once per self-join arm
    * (two Window sorts of every (doc, gram) row — measured 7.8 s median
    * vs [[near]]'s sort-free 2.1 s on the same explode volume); the r5
    * groupBy-df + semi-join planned the postings subtree on three arms.
    * The lambda expansion is interpreted, but it only touches rare-gram
    * groups — O(candidates), not O(corpus).
    *
    * `minShared` (default 2) requires a candidate pair to share that many
    * rare grams before verification — the candidate-volume guard this
    * operator needs at scale, playing the role of [[near]]'s bucket cap.
    * Templated corpora make single-gram co-occurrence common between
    * unrelated docs while true near-dups share MANY rare grams: measured
    * at sf0.1, minShared 1→2 cut candidates 435,954 → 17,207 (25×) and
    * lost 1 of 256 true pairs (a pair sharing exactly one rare gram).
    * The "exact recall" contract is therefore: pairs sharing ≥ minShared
    * rare grams, modulo 48-bit collisions. Verification joins the
    * PER-DOC shingle relation (computed once per doc), not per pair —
    * with candidates ≫ docs, per-pair-side shingling was 2·|cand| HOF
    * evaluations vs 2·|docs| (measured 6.2 → 1.9 s median with the
    * candidate cut combined). */
  def ngramPairs(s: SparkSession, d: String, threshold: Double = 0.8,
                 maxDf: Int = 10, minShared: Int = 2): DataFrame =
    ngramPairsFor(Tables.documents(s, d), threshold, maxDf, minShared)
      .orderedBy("doc_a", "doc_b")

  /** [[ngramPairs]] over an arbitrary (doc_id, text) frame without the
    * harness ordering trailer — the composition entry point (the recall
    * gauge consumes it as the reference pair set). */
  private[llm] def ngramPairsFor(docs: DataFrame, threshold: Double,
      maxDf: Int, minShared: Int): DataFrame = {
    // fanOut: the nearPairsUnordered rationale (1-task gram/md5 pass)
    val docsTok = graft.core.QueryDef.fanOut(docs)
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
    val sh = docsTok
      .select(col("doc_id"), TextStats.shinglesExpr("toks").as("sh"))
      .filter(size(col("sh")) > 0)
    val postings = sh.select(col("doc_id"), explode(col("sh")).as("g"))
      .select(col("doc_id"),
        conv(substring(md5(col("g").cast("binary")), 1, 12), 16, 10)
          .cast("long").as("gh"))
    // distinct grams in one doc can collide into one gh (48-bit prefix):
    // the sorted list then holds a doc twice and i<j pairing yields a
    // self-pair — dropped by the doc_a <> doc_b filter, exactly as the
    // self-join's x.doc_id < y.doc_id excluded it
    val cand = postings.groupBy(col("gh"))
      // df cap enforced INSIDE the buffer: collect_up_to saturates at
      // maxDf+1 longs per group (a boilerplate gram shared by millions of
      // docs costs O(maxDf) state, not O(df)); a saturated group reports
      // size maxDf+1 and is dropped by the same [2, maxDf] filter that
      // previously measured the full materialized list — kept groups were
      // never truncated, so their (sorted) lists are byte-identical
      .agg(expr(s"collect_up_to(doc_id, ${maxDf + 1})").as("ds"))
      .filter(size(col("ds")) >= 2 && size(col("ds")) <= maxDf)
      .select(explode(expr(
        """flatten(transform(ds, (a, i) ->
          |  transform(slice(ds, i + 2, size(ds) - i - 1),
          |            b -> struct(a AS doc_a, b AS doc_b))))""".stripMargin)).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .select(col("doc_a"), col("doc_b"))
    val withSets = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
    withSets
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        round(lit(1.0) * col("inter") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** The hot-bucket-cap + banded-self-join skeleton EVERY LSH family in
    * this module shares (MinHash, SimHash, embedding sign-LSH, and the
    * multimodal perceptual hash): cap each (band, sig) bucket before the
    * quadratic join — the bucket-size count WINDOWS over the SAME
    * (band, sig) key the self-join shuffles on, so Catalyst reuses the
    * exchange and the cap costs no extra shuffle — then self-join within
    * buckets and emit DISTINCT ordered id pairs. `carry` columns ride out
    * as `<c>_a` / `<c>_b` (e.g. the SimHash value for an in-flight
    * hamming distance). */
  private[llm] def bandedCandidates(banded0: DataFrame, idCol: String,
      maxBucket: Option[Int], outA: String, outB: String,
      carry: Seq[String] = Nil): DataFrame = {
    val banded = maxBucket match {
      case Some(cap) =>
        val wB = org.apache.spark.sql.expressions.Window.partitionBy("band", "sig")
        banded0.withColumn("bn", count(lit(1)).over(wB))
          .filter(col("bn") <= cap).drop("bn")
      case None => banded0
    }
    val outs = (col(s"x.$idCol").as(outA) +: col(s"y.$idCol").as(outB) +:
      carry.flatMap(c => Seq(col(s"x.$c").as(s"${c}_a"), col(s"y.$c").as(s"${c}_b"))))
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(outs: _*)
      .distinct()
  }

  /** Mirrors [[ngramPairs]]: rare-shingle postings join + Jaccard verify.
    * Shingles here are DISTINCT per doc (list_distinct in `sh`), so df
    * counts documents, matching the Spark side's set semantics; the
    * 48-bit hash key is rebuilt from 12 md5 hex chars (DuckDB has no
    * conv()). */
  /** The rare-shingle CANDIDATE chain as CTE text (through `cand`),
    * NAME-PREFIXED so it can be embedded next to the MinHash CTEs without
    * collisions — the single source for [[ngramOracle]], [[containOracle]]
    * (different verify tails), and the recall gauge's reference arm
    * ("t" prefix); a change to the chain reaches all three. */
  private def ngramCandCtes(maxDf: Int, minShared: Int,
                            p: String = ""): String = {
    val hv = OracleSql.hexPrefixToLong("h", 12)
    s"""${p}w AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |${p}sh AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
       |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
       |  FROM ${p}w WHERE len(toks) >= 3),
       |${p}post AS (SELECT doc_id, $hv AS gh FROM (
       |  SELECT doc_id, substr(md5(g), 1, 12) AS h FROM (
       |    SELECT doc_id, unnest(s) AS g FROM ${p}sh))),
       |${p}rare AS (SELECT gh FROM ${p}post GROUP BY gh
       |         HAVING count(*) >= 2 AND count(*) <= $maxDf),
       |${p}rp AS (SELECT doc_id, gh FROM ${p}post JOIN ${p}rare USING (gh)),
       |${p}cand AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
       |         FROM ${p}rp x JOIN ${p}rp y ON x.gh = y.gh AND x.doc_id < y.doc_id
       |         GROUP BY doc_a, doc_b HAVING count(*) >= $minShared)""".stripMargin
  }

  /** [[ngramCandCtes]] + the symmetric-Jaccard verify tail. */
  private def ngramOracleCtes(maxDf: Int, minShared: Int,
                              p: String = ""): String =
    s"""${ngramCandCtes(maxDf, minShared, p)},
       |${p}pairs AS (
       |  SELECT doc_a, doc_b,
       |         round(1.0 * len(list_intersect(a.s, b.s)) /
       |               (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) AS jaccard
       |  FROM ${p}cand JOIN ${p}sh a ON a.doc_id = doc_a JOIN ${p}sh b ON b.doc_id = doc_b)""".stripMargin

  private def ngramOracle(threshold: Double, maxDf: Int,
                          minShared: Int = 2): String =
    s"""WITH ${ngramOracleCtes(maxDf, minShared)}
       |SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= $threshold
       |ORDER BY doc_a, doc_b""".stripMargin

  /** CONTAINMENT detection — the asymmetric complement of [[ngramPairs]]:
    * Jaccard containment C(A,B) = |A∩B| / |A| flags A as (near-)contained
    * in B, catching the doc-in-doc class symmetric Jaccard misses — a
    * short document quoted whole inside a much longer one scores
    * J ≈ |A|/|B| ≈ 0 but C(A,B) ≈ 1. Candidate generation is the same
    * rare-shingle inverted index (df-capped postings — recall argument and
    * hot-bucket bound inherited verbatim); the verify step computes BOTH
    * directions on the candidate pair's true shingle sets and keeps pairs
    * where either is >= `threshold`, emitting the two rounded scores so
    * the consumer can orient the containment (which side to drop or
    * excerpt). Same scale shape as ngramPairs: only doc-id pairs and
    * shingle SETS of candidates move, never the corpus text. */
  def containPairs(s: SparkSession, d: String, threshold: Double = 0.5,
                   maxDf: Int = 10, minShared: Int = 2): DataFrame =
    containPairsFrom(Tables.documents(s, d), threshold, maxDf, minShared)

  /** [[containPairs]] over an arbitrary (doc_id, text) frame — the
    * fixture entry point. */
  private[llm] def containPairsFrom(docs: DataFrame, threshold: Double,
                                    maxDf: Int, minShared: Int): DataFrame = {
    // fanOut: the nearPairsUnordered rationale (1-task gram/md5 pass)
    val docsTok = graft.core.QueryDef.fanOut(docs)
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
    val sh = docsTok
      .select(col("doc_id"), TextStats.shinglesExpr("toks").as("sh"))
      .filter(size(col("sh")) > 0)
    val postings = sh.select(col("doc_id"), explode(col("sh")).as("g"))
      .select(col("doc_id"),
        conv(substring(md5(col("g").cast("binary")), 1, 12), 16, 10)
          .cast("long").as("gh"))
    val cand = postings.groupBy(col("gh"))
      // df cap enforced INSIDE the buffer: collect_up_to saturates at
      // maxDf+1 longs per group (a boilerplate gram shared by millions of
      // docs costs O(maxDf) state, not O(df)); a saturated group reports
      // size maxDf+1 and is dropped by the same [2, maxDf] filter that
      // previously measured the full materialized list — kept groups were
      // never truncated, so their (sorted) lists are byte-identical
      .agg(expr(s"collect_up_to(doc_id, ${maxDf + 1})").as("ds"))
      .filter(size(col("ds")) >= 2 && size(col("ds")) <= maxDf)
      .select(explode(expr(
        """flatten(transform(ds, (a, i) ->
          |  transform(slice(ds, i + 2, size(ds) - i - 1),
          |            b -> struct(a AS doc_a, b AS doc_b))))""".stripMargin)).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .select(col("doc_a"), col("doc_b"))
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("c_ab", round(lit(1.0) * col("inter") / size(col("sh_a")), 4))
      .withColumn("c_ba", round(lit(1.0) * col("inter") / size(col("sh_b")), 4))
      .filter(col("c_ab") >= threshold || col("c_ba") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("c_ab"), col("c_ba"))
      .orderedBy("doc_a", "doc_b")
  }

  private def containOracle(threshold: Double, maxDf: Int,
                            minShared: Int = 2): String =
    s"""WITH ${ngramCandCtes(maxDf, minShared)},
       |pairs AS (
       |  SELECT doc_a, doc_b,
       |         round(1.0 * len(list_intersect(a.s, b.s)) / len(a.s), 4) AS c_ab,
       |         round(1.0 * len(list_intersect(a.s, b.s)) / len(b.s), 4) AS c_ba
       |  FROM cand JOIN sh a ON a.doc_id = doc_a JOIN sh b ON b.doc_id = doc_b)
       |SELECT doc_a, doc_b, c_ab, c_ba FROM pairs
       |WHERE c_ab >= $threshold OR c_ba >= $threshold
       |ORDER BY doc_a, doc_b""".stripMargin

  /** EXACT-SUBSTRING dedup at the long-span tier (Lee et al. 2022's
    * production companion to MinHash: two documents sharing any exact
    * ≥n-token span are duplicates regardless of their overall Jaccard —
    * the license-header / quoted-paragraph / copy-paste class MinHash's
    * global similarity misses). No suffix array needed: a span IS an
    * n-gram, so the [[ngramPairs]] machinery applies verbatim with n
    * raised from 3 to the span tier — df-capped 48-bit span-hash postings
    * (the cap drops boilerplate spans shared by > maxDf docs), bucket
    * pairing, then VERIFY ON COLLISION by intersecting the two docs'
    * actual span sets (string equality — a 48-bit hash collision cannot
    * produce a false pair). Output: (doc_a, doc_b, shared_spans).
    *
    * Gate knob n=20 (driver docs average ~55 tokens; production runs 50 —
    * the plan is n-independent). Scale shape: postings explode ≈ doc
    * tokens × 1 rows (spans overlap but are hashed, not materialized,
    * map-side); buckets are df-capped before the quadratic pairing;
    * verification materializes span STRINGS only for candidate docs. */
  def substrPairs(s: SparkSession, d: String, n: Int = 20,
                  maxDf: Int = 10): DataFrame =
    substrPairsFrom(Tables.documents(s, d), n, maxDf)

  /** The chain over an explicit (doc_id, text) frame — split out so the
    * embedded-span fixture spec can drive it. */
  private[llm] def substrPairsFrom(docs: DataFrame, n: Int,
                                   maxDf: Int): DataFrame = {
    // fanOut: the nearPairsUnordered rationale (1-task gram/md5 pass)
    val docsTok = graft.core.QueryDef.fanOut(docs)
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
    val sp = docsTok.filter(size(col("toks")) >= n)
      .select(col("doc_id"), expr(s"word_shingles(toks, $n, true)").as("sp"))
    val postings = sp.select(col("doc_id"), explode(col("sp")).as("g"))
      .select(col("doc_id"),
        conv(substring(md5(col("g").cast("binary")), 1, 12), 16, 10)
          .cast("long").as("gh"))
    val cand = postings.groupBy(col("gh"))
      // df cap enforced INSIDE the buffer: collect_up_to saturates at
      // maxDf+1 longs per group (a boilerplate gram shared by millions of
      // docs costs O(maxDf) state, not O(df)); a saturated group reports
      // size maxDf+1 and is dropped by the same [2, maxDf] filter that
      // previously measured the full materialized list — kept groups were
      // never truncated, so their (sorted) lists are byte-identical
      .agg(expr(s"collect_up_to(doc_id, ${maxDf + 1})").as("ds"))
      .filter(size(col("ds")) >= 2 && size(col("ds")) <= maxDf)
      .select(explode(expr(
        """flatten(transform(ds, (a, i) ->
          |  transform(slice(ds, i + 2, size(ds) - i - 1),
          |            b -> struct(a AS doc_a, b AS doc_b))))""".stripMargin)).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
      .distinct()
    cand
      .join(sp.select(col("doc_id").as("doc_a"), col("sp").as("sp_a")), "doc_a")
      .join(sp.select(col("doc_id").as("doc_b"), col("sp").as("sp_b")), "doc_b")
      .withColumn("shared_spans",
        size(array_intersect(col("sp_a"), col("sp_b"))).cast("long"))
      .filter(col("shared_spans") >= 1)
      .select(col("doc_a"), col("doc_b"), col("shared_spans"))
      .orderedBy("doc_a", "doc_b")
  }

  /** Mirrors [[substrPairs]]: span postings with the df cap, bucket
    * pairing, exact span-set intersect verify. */
  private def substrOracle(n: Int, maxDf: Int): String = {
    val hv = OracleSql.hexPrefixToLong("h", 12)
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |sp AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - $n + 2),
       |           i -> array_to_string(toks[i:i + ${n - 1}], ' '))) AS s
       |  FROM w WHERE len(toks) >= $n),
       |post AS (SELECT doc_id, $hv AS gh FROM (
       |  SELECT doc_id, substr(md5(g), 1, 12) AS h FROM (
       |    SELECT doc_id, unnest(s) AS g FROM sp))),
       |bkt AS (SELECT gh FROM post GROUP BY gh
       |        HAVING count(*) >= 2 AND count(*) <= $maxDf),
       |bp AS (SELECT doc_id, gh FROM post JOIN bkt USING (gh)),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |         FROM bp x JOIN bp y ON x.gh = y.gh AND x.doc_id < y.doc_id),
       |v AS (
       |  SELECT doc_a, doc_b,
       |         CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS shared_spans
       |  FROM cand JOIN sp a ON a.doc_id = doc_a JOIN sp b ON b.doc_id = doc_b)
       |SELECT doc_a, doc_b, shared_spans FROM v WHERE shared_spans >= 1
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** PAGERANK over the near-dup graph — the centrality companion to
    * [[ccStars]]: within a duplication cluster, the highest-rank doc
    * is the canonical representative (the hub many variants point at),
    * a better keep-rule than min-id when clusters are star-shaped.
    * Classic damped PageRank (d = 0.85) in FIXED-POINT INTEGER units
    * (1 rank = 10⁻¹² of the total mass): every divide is a floor
    * division and every sum is exact, so three unrolled rounds produce
    * bit-identical longs on any engine and any partitioning — no float
    * summation order, no libm. Per round: one join of the rank table to
    * the edge list (both keyed on the node id) + one dst-keyed sum —
    * the standard distributed PR shape; the rank table is node-sized,
    * never corpus-sized, and 3 rounds is a fixed lazy plan (no
    * checkpointing needed at this depth). */
  def pagerank(s: SparkSession, d: String, threshold: Double = 0.8,
               iters: Int = 3,
               checkpointDir: Option[String] = None): DataFrame = {
    val SCALE = 1000000000000L
    val pairs = nearPairsUnordered(Tables.documents(s, d), threshold)
      .select(col("doc_a"), col("doc_b"))
    // pin the edge list: the lazy unroll references it in every round's
    // join AND the degree table, so without the pin the whole LSH
    // candidate+verify subtree replicates ~2·iters+1 times in one plan
    // (measured: 192 parquet scans, zero static ReusedExchange). The
    // materialized table is edge-sized, not corpus-sized — the
    // starLabels round-0 edge pin precedent; checkpointDir swaps in the
    // reliable-checkpoint cluster rule (docs/DEPLOY.md).
    val edges = graft.core.QueryDef.pinRound(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst"))),
      checkpointDir)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val n = deg.agg(count(lit(1)).as("n"))
    var r = deg.crossJoin(broadcast(n))
      .select(col("src").as("id"), expr(s"$SCALE DIV n").as("r"))
    for (_ <- 1 to iters) {
      val inflow = edges.join(r, edges("src") === r("id"))
        .join(deg, "src")
        .select(col("dst"), expr("r DIV deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("inflow"))
      r = inflow.crossJoin(broadcast(n))
        .select(col("dst").as("id"),
          expr(s"((($SCALE * 15) DIV 100) DIV n) + ((inflow * 85) DIV 100)")
            .as("r"))
    }
    r.join(deg, r("id") === deg("src"))
      .select(col("id").as("doc_id"), col("deg"), col("r").as("pr"))
      .orderedBy("doc_id")
  }

  private def pagerankOracle(threshold: Double, iters: Int): String = {
    val SCALE = 1000000000000L
    val rounds = (1 to iters).map { k =>
      s"""i$k AS (SELECT e.dst AS id,
         |        CAST(sum(r${k - 1}.r // deg.deg) AS BIGINT) AS inflow
         |        FROM e JOIN r${k - 1} ON e.src = r${k - 1}.id
         |             JOIN deg ON e.src = deg.src
         |        GROUP BY e.dst),
         |r$k AS (SELECT id,
         |        ((($SCALE * 15) // 100) // n) + ((inflow * 85) // 100) AS r
         |        FROM i$k, n)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${nearOracleCtes(4, 3)},
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |      WHERE jaccard >= $threshold
       |      UNION ALL
       |      SELECT doc_b AS src, doc_a AS dst FROM pairs
       |      WHERE jaccard >= $threshold),
       |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
       |n AS (SELECT count(*) AS n FROM deg),
       |r0 AS (SELECT src AS id, $SCALE // n AS r FROM deg, n),
       |$rounds
       |SELECT r$iters.id AS doc_id, deg.deg, r$iters.r AS pr
       |FROM r$iters JOIN deg ON deg.src = r$iters.id
       |ORDER BY doc_id""".stripMargin
  }

  /** Mirrors [[ccStars]]: because the Spark side converges, the
    * oracle is the SEMANTIC spec — min reachable id per node over the
    * symmetric pair graph, via a recursive CTE (UNION dedup terminates
    * the recursion on cyclic graphs). Fine at oracle scale; the Spark
    * side is the one that has to scale. */
  private def nearClustersOracle(threshold: Double): String =
    s"""WITH RECURSIVE ${nearOracleCtes(4, 3)},
       |p2 AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= $threshold),
       |${ccOracleTail("p2", "doc_a", "doc_b", "doc_id")}""".stripMargin

  /** The recursive-CTE connected-components tail shared by every cluster
    * oracle ([[nearClustersOracle]], [[embedClustersOracle]]): symmetric
    * edges over a verified pair CTE, reachability with UNION dedup (the
    * rule that terminates recursion on cyclic graphs), min-reachable-id
    * labeling — one definition so a future fix to the reachability SQL
    * cannot silently apply to one cluster oracle and not the other. */
  private def ccOracleTail(pairCte: String, a: String, b: String,
                           idCol: String): String =
    s"""edges AS (SELECT $a AS src, $b AS dst FROM $pairCte
       |          UNION ALL SELECT $b, $a FROM $pairCte),
       |reach(id, r) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src)
       |SELECT id AS $idCol, least(id, min(r)) AS cluster FROM reach GROUP BY id
       |ORDER BY $idCol""".stripMargin

  /** Cross-source DUPLICATION ATTRIBUTION MATRIX: near-dup pair counts per
    * unordered source pair — the corpus-curation gauge that tells you
    * which sources copy from which (a high off-diagonal cell means two
    * crawls overlap; a high diagonal cell means a source self-duplicates),
    * which is what drives per-source mixing weights and crawl dedup
    * priorities. The pair list is pinned once (edge-sized) and BROADCAST
    * to the two doc_id-keyed source lookups, so the corpus contributes two
    * semi-join-shaped scans and never shuffles; the matrix itself is at
    * most |sources|² rows. */
  def dedupMatrix(s: SparkSession, d: String, threshold: Double = 0.8): DataFrame = {
    val docs = Tables.documents(s, d)
    val pairs = nearPairsUnordered(docs, threshold)
      .select(col("doc_a"), col("doc_b")).localCheckpoint(true)
    val src = docs.select(col("doc_id"), col("source"))
    // both joins hint the pair-sized side: the second join's left input is
    // the first join's result (still pair-sized — one source column wider),
    // and without its own hint a corpus-scale planner would shuffle the
    // doc_id/source projection on doc_b (review r12 finding)
    broadcast(broadcast(pairs)
        .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("pair_cnt"))
      .orderedBy("source_a", "source_b")
  }

  private def dedupMatrixOracle(threshold: Double): String =
    s"""WITH ${nearOracleCtes(4, 3)},
       |p2 AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= $threshold),
       |m AS (SELECT least(da.source, db.source) AS source_a,
       |             greatest(da.source, db.source) AS source_b
       |      FROM p2 JOIN documents da ON da.doc_id = p2.doc_a
       |              JOIN documents db ON db.doc_id = p2.doc_b)
       |SELECT source_a, source_b, count(*) AS pair_cnt
       |FROM m GROUP BY source_a, source_b
       |ORDER BY source_a, source_b""".stripMargin

  /** Near-dup CLUSTERS: EXACT connected components over the LSH pair
    * graph — every component collapses onto its smallest doc_id (the
    * canonical survivor), whatever the component's diameter. The result
    * is the min-id component labeling, which any correct CC algorithm
    * produces, so the DuckDB oracle states the semantics directly (min
    * reachable id via recursive CTE) instead of replaying Spark's rounds.
    *
    * The engine is ALTERNATING STAR CONTRACTION (large-star / small-star,
    * Kiveris et al. 2014, "Connected Components in MapReduce and Beyond"),
    * the one CC loop every clustering query runs ([[starLabels]]).
    * Min-label propagation moves labels a bounded number of hops per
    * round, so its round count grows with the diameter (it did not
    * converge in 64 rounds on a 200-node path). Star contraction REWRITES
    * the edge list itself — large-star connects every larger neighbor of
    * a node to its neighborhood minimum, small-star collapses each node's
    * smaller neighbors onto their minimum — which the paper proves
    * converges in O(log² n) rounds with the edge count
    * NON-INCREASING per round (each emitted edge replaces one input edge,
    * then dedups). Per-node state is a single min — neighborhoods are
    * never collected (no collect_list / no degree-sized buffers), so a
    * corpus-scale hub node costs one partial-aggregated min, not an
    * O(degree) array. Every shuffle keys on a node id; rounds pin via
    * [[graft.core.QueryDef.pinRound]] (localCheckpoint locally, reliable
    * checkpoint under `checkpointDir` — docs/DEPLOY.md).
    *
    * Convergence is EXACT: a round ends with canonical (u > v, distinct)
    * edges, and the loop stops when the round's pinned edge set equals the
    * previous round's — one full-outer-join emptiness check per round over
    * two already-checkpointed, edge-sized tables (reads cached blocks; no
    * shuffle of the corpus, no re-execution of the round's plan). At the
    * fixpoint the edge set is a star forest centered on component minima,
    * so labels read off directly: non-roots carry their unique smaller
    * neighbor, roots label themselves. */
  def ccStars(s: SparkSession, d: String, threshold: Double = 0.8,
              checkpointDir: Option[String] = None): DataFrame = {
    val pairs = nearPairsUnordered(Tables.documents(s, d), threshold)
      .select(col("doc_a"), col("doc_b"))
    starLabels(pairs, checkpointDir)
      .select(col("id").as("doc_id"), col("lbl").as("cluster"))
      .orderedBy("doc_id")
  }

  /** The alternating large-star/small-star loop over an arbitrary pair
    * list; returns (id, lbl) for every id appearing in `pairs`. */
  private[llm] def starLabels(pairs: DataFrame,
                              checkpointDir: Option[String] = None): DataFrame = {
    // canonical edge set: directed larger -> smaller, self-loops dropped,
    // deduped — the invariant every round re-establishes
    val e0 = pairs.select(
        greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val first = graft.core.QueryDef.pinRound(e0, checkpointDir)
    // node universe fixed up front (contraction can drop an interior node
    // from the edge list, and the final labeling must cover every node) —
    // derived LAZILY from the pinned round-0 edges, so the pair chain
    // executes exactly once; the `nodes` reference keeps round 0's blocks
    // alive until the final labeling join reads them
    val nodes = first.select(col("u").as("id"))
      .unionByName(first.select(col("v").as("id"))).distinct()
    var e = first
    var rounds = 0
    var converged = false
    // bounded retention: each round's pin supersedes the previous round's
    // — free the old blocks as soon as the convergence check (the last
    // reader) has run, keeping live pins at ~2 frames however many rounds
    // the contraction takes (r19 verdict #1: the streamed CC fold calls
    // this per micro-batch, and unreclaimed round pins grew the block
    // manager monotonically). `first` stays pinned until the final
    // labeling join below reads it through `nodes`.
    // One full contraction round: LARGE-STAR then SMALL-STAR over the
    // canonical directed edge set.
    // LARGE-STAR: for each node a (symmetric view), m = min(N(a) ∪ {a});
    // every strictly-larger neighbor b > a re-attaches to m. Emitted
    // (b, m) has b > a ≥ m, so the canonical direction is preserved.
    // SMALL-STAR on the directed set: for each node u, m = min of its
    // smaller neighbors; u and every other smaller neighbor attach to m.
    def round(in: DataFrame): DataFrame = {
      val sym = in.select(col("u").as("a"), col("v").as("b"))
        .unionByName(in.select(col("v").as("a"), col("u").as("b")))
      val lmins = sym.groupBy(col("a")).agg(min(col("b")).as("mb"))
        .select(col("a"), least(col("mb"), col("a")).as("m"))
      val ls = sym.filter(col("b") > col("a")).join(lmins, "a")
        .select(col("b").as("u"), col("m").as("v")).distinct()
      val smins = ls.groupBy(col("u")).agg(min(col("v")).as("m"))
      ls.join(smins, "u")
        .select(col("v").as("node"), col("m"))
        .filter(col("node") =!= col("m"))
        .unionByName(smins.select(col("u").as("node"), col("m")))
        .select(col("node").as("u"), col("m").as("v")).distinct()
    }
    while (!converged) {
      rounds += 1
      require(rounds <= 64, "star contraction failed to converge in 64 rounds")
      // Rounds deliberately NOT paired (r20 opt, measured): running two
      // rounds per pin halves pins only for a loop that needs many
      // rounds, but star contraction converges in 1–2 rounds on these
      // graphs, so a pair always executes ≥2 full rounds where the
      // single-round loop stops after the first no-op — pairing measured
      // q_dedup_cc 2.2→3.7 / q_dedup_cc_streamed ~7→12 and was reverted.
      val next = graft.core.QueryDef.pinRound(round(e), checkpointDir)
      // exact fixpoint test: canonical sets are equal ⟺ the full outer
      // join of the two pinned tables has no one-sided row
      converged = next.withColumn("l", lit(1))
        .join(e.withColumn("r", lit(1)), Seq("u", "v"), "full_outer")
        .filter(col("l").isNull || col("r").isNull).isEmpty
      if (e ne first) graft.core.QueryDef.freePin(e)
      e = next
    }
    // pin the final labeling so every internal pin can be freed here —
    // returning the lazy join would keep round-0 + the fixpoint round
    // alive until some caller materializes (and a per-batch caller never
    // frees them); the pin costs the one job the caller's materialization
    // would have run anyway, and callers get a lineage-free frame
    val out = graft.core.QueryDef.pinRound(
      nodes.join(e.select(col("u").as("id"), col("v").as("lbl")), Seq("id"),
          "left")
        .select(col("id"), coalesce(col("lbl"), col("id")).as("lbl")),
      checkpointDir)
    graft.core.QueryDef.freePin(first)
    if (e ne first) graft.core.QueryDef.freePin(e)
    out
  }

  /** The CTE chain shared by the near-dup oracle and composed pipelines
    * (ends with the `pairs` CTE; callers prepend `WITH ` or splice it after
    * their own CTEs). `source` is the (doc_id, text) relation to near-dedup
    * — mirrors [[nearFor]]'s corpus argument; `maxBucket` mirrors the Spark
    * side's hot-bucket cap. */
  /** The shingle → minhash → band-signature CTE chain (w/sh/ex/sig/bands)
    * alone — shared by [[nearOracleCtes]]'s pair tail and the incremental
    * oracle's cross-set candidate joins. Signatures are PER-DOC (mins over
    * the doc's own shingles), so computing them over the union and
    * filtering by set membership afterwards is identical to per-set
    * computation — which is what lets one chain serve both sides. */
  private[llm] def sigCtes(bands: Int, rows: Int,
                           maxBucket: Option[Int] = None,
                           source: String = "documents"): String = {
    val groups = nGroups(bands, rows)
    val hashCols = (0 until groups)
      .map(g => s"md5('$g#' || x) AS h$g").mkString(", ")
    val minCols = (0 until nHashes(bands, rows))
      .map(i => s"min(substr(h${i / 4}, ${(i % 4) * 8 + 1}, 8)) AS mh$i")
      .mkString(",\n         ")
    val bandSelects = (0 until bands).map { b =>
      val sigExpr = (0 until rows).map(r => s"mh${b * rows + r}")
        .mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, $sigExpr AS bsig FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""w AS (SELECT doc_id, string_split(text, ' ') AS toks FROM $source),
       |sh AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
       |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
       |  FROM w WHERE len(toks) >= 3),
       |ex AS (SELECT doc_id, $hashCols
       |       FROM (SELECT doc_id, unnest(s) AS x FROM sh)),
       |sig AS (
       |  SELECT doc_id,
       |         $minCols
       |  FROM ex GROUP BY doc_id),
       |bands0 AS (
       |  $bandSelects),
       |bands AS (${maxBucket match {
        case Some(cap) =>
          s"""
       |  SELECT doc_id, band, bsig FROM (
       |    SELECT *, count(*) OVER (PARTITION BY band, bsig) AS bn FROM bands0)
       |  WHERE bn <= $cap"""
        case None => "\n       |  SELECT doc_id, band, bsig FROM bands0"
      }})""".stripMargin
  }

  private[llm] def nearOracleCtes(bands: Int, rows: Int,
                                  maxBucket: Option[Int] = None,
                                  source: String = "documents"): String =
    s"""${sigCtes(bands, rows, maxBucket, source)},
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |         FROM bands x JOIN bands y
       |           ON x.band = y.band AND x.bsig = y.bsig AND x.doc_id < y.doc_id),
       |pairs AS (
       |  SELECT doc_a, doc_b,
       |         round(1.0 * len(list_intersect(a.s, b.s)) /
       |               (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) AS jaccard
       |  FROM cand JOIN sh a ON a.doc_id = doc_a JOIN sh b ON b.doc_id = doc_b)""".stripMargin

  private def nearOracle(threshold: Double, bands: Int, rows: Int,
                         maxBucket: Option[Int] = None): String =
    s"""WITH ${nearOracleCtes(bands, rows, maxBucket)}
       |SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= $threshold
       |ORDER BY doc_a, doc_b""".stripMargin

  /** MinHash-LSH recall GAUGE — the measurement a pipeline publishes next
    * to its dedup config (the `q_sim_recall` pattern, applied to dedup):
    * how many of the reference near-dup pairs does the banded LSH path
    * recover? Reference pair set = [[ngramPairsFor]]'s rare-shingle truth
    * (exact for pairs sharing ≥ `minShared` grams of df ≤ `maxDf` — the
    * strongest deterministic ground truth that doesn't require an
    * all-pairs scan; both sides verify with the same exact Jaccard, so
    * the comparison is apples-to-apples). Output is ONE row:
    * reference count, LSH count, intersection, recall. `lsh_pairs` can
    * exceed `hit_pairs` — banding can surface a verified-true pair that
    * shares no rare gram; both columns are emitted so the asymmetry is
    * visible rather than folded into one ratio.
    *
    * Scale shape: two banded/df-capped chains (each individually
    * 100 TB-safe, see [[near]] / [[ngramPairs]]) joined on pair ids —
    * O(near-dup pairs) — then two one-row aggregates; the ratio is a
    * single IEEE divide of exact longs. A gauge like this runs on a
    * SAMPLE at corpus scale; nothing in the plan changes, only the input
    * predicate. */
  def nearRecallGauge(s: SparkSession, d: String, threshold: Double = 0.8,
      bands: Int = 4, rows: Int = 3, maxDf: Int = 10,
      minShared: Int = 2): DataFrame = {
    val docs = Tables.documents(s, d)
    val truth = ngramPairsFor(docs, threshold, maxDf, minShared)
      .select(col("doc_a"), col("doc_b"))
    val lsh = nearPairsUnordered(docs, threshold, bands, rows)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("hit"))
    val m = truth.join(lsh, Seq("doc_a", "doc_b"), "left")
      .agg(count(lit(1)).as("truth_pairs"), count(col("hit")).as("hit_pairs"))
    val n = lsh.agg(count(lit(1)).as("lsh_pairs"))
    m.crossJoin(broadcast(n))
      .select(col("truth_pairs"), col("lsh_pairs"), col("hit_pairs"),
        // an empty reference set has no defined recall — NULL, not NaN
        // (the vwap zero-denominator discipline), mirrored by the oracle
        when(col("truth_pairs") > 0,
          round(lit(1.0) * col("hit_pairs") / col("truth_pairs"), 4))
          .as("recall"))
  }

  /** Replays BOTH chains — [[nearOracleCtes]] verbatim for the LSH arm,
    * the [[ngramOracle]] CTE bodies (t-prefixed names) for the reference
    * arm — then the pair-id left join and the one-row ratio. */
  private def nearRecallOracle(threshold: Double, bands: Int, rows: Int,
                               maxDf: Int, minShared: Int): String =
    s"""WITH ${nearOracleCtes(bands, rows)},
       |lsh AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= $threshold),
       |${ngramOracleCtes(maxDf, minShared, "t")},
       |truth AS (SELECT doc_a, doc_b FROM tpairs WHERE jaccard >= $threshold),
       |m AS (SELECT count(*) AS truth_pairs,
       |             CAST(COALESCE(sum(CASE WHEN l.doc_a IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS hit_pairs
       |      FROM truth t LEFT JOIN lsh l
       |        ON t.doc_a = l.doc_a AND t.doc_b = l.doc_b),
       |n AS (SELECT count(*) AS lsh_pairs FROM lsh)
       |SELECT truth_pairs, lsh_pairs, hit_pairs,
       |       CASE WHEN truth_pairs > 0
       |            THEN round(1.0 * hit_pairs / truth_pairs, 4) END AS recall
       |FROM m CROSS JOIN n""".stripMargin

  // ---------------------------------------------------------------- SimHash

  /** 32-bit SimHash over the distinct-token set: token hash = first 8 hex
    * chars of md5 (so the DuckDB oracle replays it), per-bit ±1 majority
    * vote via explode → 32 conditional sums (map-side partial agg), sign →
    * bit. Near-identical token sets → tiny Hamming distance. */
  def simhashDocs(s: SparkSession, d: String): DataFrame = {
    // fanOut: the nearPairsUnordered rationale (1-task token/md5 pass)
    val ex = graft.core.QueryDef.fanOut(Tables.documents(s, d))
      .select(col("doc_id"),
        explode(array_distinct(TextStats.tokens(col("text")))).as("tok"))
      // conv(hex, 16, 10) of 8 hex chars fits a long exactly
      .withColumn("hv", conv(substring(md5(col("tok").cast("binary")), 1, 8), 16, 10)
        .cast("long"))
    val bitSums = (0 until 32).map { j =>
      sum(when(shiftright(col("hv"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$j")
    }
    val sig = (0 until 32)
      .map(j => when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)): org.apache.spark.sql.Column)
      .reduce(_ + _)
    ex.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), sig.as("simhash"))
  }

  /** The 6 = C(4,2) byte-pair bands of a 32-bit SimHash signature. */
  private val simhashBytePairs: Seq[(Int, Int)] =
    for (i <- 0 until 4; j <- (i + 1) until 4) yield (i, j)

  /** SimHash near-dup: candidates share one of 6 SIXTEEN-bit bands — every
    * C(4,2) byte pair of the signature, 65,536 buckets per band — verified
    * by Hamming distance <= maxHamming via bit_count(xor).
    *
    * Why byte pairs, not single bytes: 8-bit bands give only 256 buckets,
    * so candidate volume grows as n²/256 per band with no bound — the exact
    * hot-bucket blowup [[near]]'s cap guards against, just hidden in the
    * band width. 16-bit bands shrink the expected bucket to n/65,536 while
    * KEEPING a recall guarantee: <= maxHamming bit flips touch at most
    * maxHamming of the 4 bytes, so for maxHamming <= 2 at least one byte
    * PAIR is untouched and the true pair still shares a band (pigeonhole);
    * maxHamming=0 pairs share all 6.
    *
    * `maxBucket` (None = unlimited) additionally caps the per-(band,sig)
    * bucket size before the quadratic self-join — the boilerplate-cluster
    * guard at corpus scale, same count-window-over-the-join-key shape as
    * [[near]] (the exchange is reused, no extra shuffle). A cluster of
    * byte-identical docs overflows all 6 of its bands at once, so capping
    * drops it entirely — by design: such clusters belong to exact dedup,
    * which handles them linearly. */
  def simhashPairs(s: SparkSession, d: String, maxHamming: Int = 0,
                   maxBucket: Option[Int] = None): DataFrame = {
    val sh = simhashDocs(s, d)
    def byteAt(i: Int) = shiftright(col("simhash"), i * 8).bitwiseAND(255)
    val banded0 = sh.select(col("doc_id"), col("simhash"),
        explode(array(simhashBytePairs.zipWithIndex.map { case ((i, j), b) =>
          struct(lit(b).as("band"), (byteAt(i) * 256 + byteAt(j)).as("sig"))
        }: _*)).as("bs"))
      .select(col("doc_id"), col("simhash"),
        col("bs.band").as("band"), col("bs.sig").as("sig"))
    bandedCandidates(banded0, "doc_id", maxBucket, "doc_a", "doc_b",
        carry = Seq("simhash"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("simhash_a").bitwiseXOR(col("simhash_b")))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .orderedBy("doc_a", "doc_b")
  }

  /** DuckDB has no conv(): reconstruct the 32-bit value from the 8 hex chars
    * (strpos on the hex alphabet), then mirror the per-bit majority vote. */
  private def simhashOracleCore: String = {
    val hv = OracleSql.hexPrefixToLong("h")
    val bitSums = (0 until 32)
      .map(j => s"sum(CASE WHEN (hv // ${1L << j}) % 2 = 1 THEN 1 ELSE -1 END) AS b$j")
      .mkString(",\n         ")
    val sig = (0 until 32)
      .map(j => s"CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
       |  FROM documents),
       |hx AS (SELECT doc_id, substr(md5(t), 1, 8) AS h FROM tok),
       |hv AS (SELECT doc_id, $hv AS hv FROM hx),
       |bits AS (
       |  SELECT doc_id,
       |         $bitSums
       |  FROM hv GROUP BY doc_id),
       |sig AS (SELECT doc_id, $sig AS simhash FROM bits)""".stripMargin
  }

  private def simhashOracle: String =
    s"""$simhashOracleCore
       |SELECT doc_id, simhash FROM sig ORDER BY doc_id""".stripMargin

  /** Mirrors [[simhashPairs]]'s 6 byte-pair bands and optional bucket cap. */
  private def simhashPairsOracle(maxHamming: Int,
                                 maxBucket: Option[Int] = None): String = {
    val bandSelects = simhashBytePairs.zipWithIndex.map { case ((i, j), b) =>
      s"""SELECT doc_id, simhash, $b AS band,
         |         ((simhash // ${1L << (8 * i)}) % 256) * 256 +
         |         ((simhash // ${1L << (8 * j)}) % 256) AS bsig FROM sig"""
        .stripMargin
    }.mkString("\n  UNION ALL ")
    s"""$simhashOracleCore,
       |banded0 AS (
       |  $bandSelects),
       |banded AS (${maxBucket match {
        case Some(cap) =>
          s"""
       |  SELECT doc_id, simhash, band, bsig FROM (
       |    SELECT *, count(*) OVER (PARTITION BY band, bsig) AS bn FROM banded0)
       |  WHERE bn <= $cap"""
        case None => "\n       |  SELECT doc_id, simhash, band, bsig FROM banded0"
      }}),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |         CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
       |  FROM banded x JOIN banded y
       |    ON x.band = y.band AND x.bsig = y.bsig AND x.doc_id < y.doc_id)
       |SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= $maxHamming
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ------------------------------------------- embedding-cosine near-dup

  /** Embedding near-dup via sign-LSH: 8 deterministic "hyperplanes" (the
    * seed vectors vec_id < 8), signature bit = sign(dot(e, plane)); banded
    * 4×2 so candidates share a 2-bit band (detect ~93% at cos 0.45);
    * candidates verified with exact cosine >= threshold. Output is pair ids
    * only — cosine values stay inside (cross-engine last-ulp safety). */
  def embedPairs(s: SparkSession, d: String, threshold: Double = 0.45,
                 maxBucket: Option[Int] = None): DataFrame =
    embedPairsUnordered(s, d, threshold, maxBucket).orderedBy("vec_a", "vec_b")

  /** [[embedPairs]] without the harness ordering trailer — the composition
    * entry point for the embedding cluster graph ([[embedClusters]]). */
  private[llm] def embedPairsUnordered(s: SparkSession, d: String,
      threshold: Double = 0.45, maxBucket: Option[Int] = None): DataFrame = {
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      call_function("vec_dot", a, b) // native codegen loop (expr.VectorExprs)
    // pre-normalize ONCE (n rows) so pair verification is a single dot
    // (not fanned out: measured q_embed_clusters 2.69→3.34 median with a
    // blanket fan — the per-row work here is a handful of native dots,
    // cheaper than the added exchange; the contraction loop dominates)
    val all = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e0"))
      .select(col("vec_id"),
        expr("transform(e0, x -> x / sqrt(vec_dot(e0, e0)))").as("e"))
    val planes = all.filter(col("vec_id") < 8)
      .select(col("vec_id").as("pid"), col("e").as("pe"))
    // 8 sign bits per vector (broadcast planes, map-side), 4 bands of 2 bits
    val bits = all.join(broadcast(planes))
      .select(col("vec_id"), col("e"), col("pid"),
        when(dot(col("e"), col("pe")) > 0, 1).otherwise(0).as("bit"))
      .groupBy(col("vec_id"))
      .agg(first(col("e")).as("e"),
        sum(when(col("pid") < 2, col("bit") * pow(lit(2), col("pid"))).otherwise(0)).as("band0"),
        sum(when(col("pid") >= 2 && col("pid") < 4,
          col("bit") * pow(lit(2), col("pid") - 2)).otherwise(0)).as("band1"),
        sum(when(col("pid") >= 4 && col("pid") < 6,
          col("bit") * pow(lit(2), col("pid") - 4)).otherwise(0)).as("band2"),
        sum(when(col("pid") >= 6, col("bit") * pow(lit(2), col("pid") - 6)).otherwise(0)).as("band3"))
    // candidates carry ONLY id pairs through the shuffle+distinct — dragging
    // the 64-dim arrays through here cost ~70s at sf0.1; the vectors join
    // back afterwards (id-keyed, broadcastable)
    val banded0 = bits.select(col("vec_id"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"), col(s"band$b").as("sig"))): _*)).as("bs"))
      .select(col("vec_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
    // 2-bit bands mean only FOUR buckets per band: without a cap the
    // candidate join tends to n²/4 per band at corpus scale — the sharpest
    // hot-bucket exposure in the dedup family (MinHash/SimHash have
    // 65k-bucket bands; this one needs the cap most). Same
    // count-window-over-the-join-key shape: the exchange is reused.
    val cand = bandedCandidates(banded0, "vec_id", maxBucket, "vec_a", "vec_b")
    cand
      .join(all.select(col("vec_id").as("vec_a"), col("e").as("ea")), "vec_a")
      .join(all.select(col("vec_id").as("vec_b"), col("e").as("eb")), "vec_b")
      .filter(dot(col("ea"), col("eb")) >= threshold) // cosine of unit vectors
      .select(col("vec_a"), col("vec_b"))
  }

  /** Connected components over the EMBEDDING sign-LSH pair graph — the
    * semantic-clustering composition: [[embedPairs]]' verified
    * cosine-similar pairs through the star-contraction engine
    * ([[starLabels]]), so semantically-equivalent groups (paraphrase
    * families, translated twins) collapse onto a canonical
    * representative the way [[ccStars]] collapses lexical near-dups.
    * Graph-based — unlike [[SemDedup]]'s trained-centroid scoping, the
    * clusters here follow actual pairwise similarity edges, so a chain of
    * pairwise-similar vectors merges even when its ends straddle k-means
    * cells. Same scale shape as both parents: banded candidates, single
    * dot verification, edge-sized contraction loop. */
  def embedClusters(s: SparkSession, d: String, threshold: Double = 0.45,
                    checkpointDir: Option[String] = None): DataFrame = {
    val pairs = embedPairsUnordered(s, d, threshold, None)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    starLabels(pairs, checkpointDir)
      .select(col("id").as("vec_id"), col("lbl").as("cluster"))
      .orderedBy("vec_id")
  }

  private def embedClustersOracle(threshold: Double): String =
    s"""WITH RECURSIVE ${embedPairsBody(threshold, None)},
       |${ccOracleTail("epairs", "vec_a", "vec_b", "vec_id")}""".stripMargin

  private def embedPairsOracle(threshold: Double,
                               maxBucket: Option[Int] = None): String =
    s"""WITH ${embedPairsBody(threshold, maxBucket)}
       |SELECT vec_a, vec_b FROM epairs
       |ORDER BY vec_a, vec_b""".stripMargin

  /** The sign-LSH chain through the verified `epairs` CTE — shared by the
    * pair oracle and the embedding-cluster oracle. */
  private def embedPairsBody(threshold: Double,
                             maxBucket: Option[Int] = None): String =
    s"""v0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e0 FROM embeddings),
       |v AS (SELECT vec_id,
       |             list_transform(e0, x -> x / sqrt(list_dot_product(e0, e0))) AS e
       |      FROM v0),
       |planes AS (SELECT vec_id AS pid, e AS pe FROM v WHERE vec_id < 8),
       |bits AS (
       |  SELECT v.vec_id, p.pid,
       |         CASE WHEN list_dot_product(v.e, p.pe) > 0 THEN 1 ELSE 0 END AS bit
       |  FROM v, planes p),
       |sigs AS (
       |  SELECT vec_id,
       |         sum(CASE WHEN pid < 2 THEN bit * (2 ** pid) ELSE 0 END) AS band0,
       |         sum(CASE WHEN pid >= 2 AND pid < 4 THEN bit * (2 ** (pid - 2)) ELSE 0 END) AS band1,
       |         sum(CASE WHEN pid >= 4 AND pid < 6 THEN bit * (2 ** (pid - 4)) ELSE 0 END) AS band2,
       |         sum(CASE WHEN pid >= 6 THEN bit * (2 ** (pid - 6)) ELSE 0 END) AS band3
       |  FROM bits GROUP BY vec_id),
       |banded0 AS (
       |  SELECT vec_id, b.b AS band,
       |         CASE b.b WHEN 0 THEN band0 WHEN 1 THEN band1
       |                  WHEN 2 THEN band2 ELSE band3 END AS sig
       |  FROM sigs, range(0, 4) b(b)),
       |banded AS (${maxBucket match {
        case Some(cap) =>
          s"""
       |  SELECT vec_id, band, sig FROM (
       |    SELECT *, count(*) OVER (PARTITION BY band, sig) AS bn FROM banded0)
       |  WHERE bn <= $cap"""
        case None => "\n       |  SELECT vec_id, band, sig FROM banded0"
      }}),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
       |  FROM banded x JOIN banded y
       |    ON x.band = y.band AND x.sig = y.sig AND x.vec_id < y.vec_id),
       |epairs AS (
       |  SELECT vec_a, vec_b
       |  FROM cand JOIN v a ON a.vec_id = vec_a JOIN v b ON b.vec_id = vec_b
       |  WHERE list_dot_product(a.e, b.e) >= $threshold)""".stripMargin

  /** MOSS-style shared-substring pair detection over winnow fingerprints
    * (Schleimer et al., SIGMOD'03 "Winnowing: Local Algorithms for
    * Document Fingerprinting" — the local-fingerprint dedup family member:
    * [[near]] estimates GLOBAL set similarity, this finds docs sharing
    * verbatim RUNS). Reuses TextStats.winnowSets' guarantee — two docs
    * sharing a run of >= w+2 tokens share a fingerprint — so the inverted
    * fingerprint index is an exact-recall candidate generator for
    * copy-paste overlap.
    *
    * 100 TB shape mirrors [[ngramPairs]]: fingerprints are 32-bit ints
    * (the only thing the posting exchange carries), `maxDf` caps
    * boilerplate fingerprints before the quadratic pair expansion,
    * `minShared` prunes coincidental single-window collisions before
    * verification, and the verify join hits the per-doc fingerprint SET
    * relation (computed once per doc), never per pair. Score is
    * containment of the smaller set — MOSS reports "fraction of this file
    * matched", not Jaccard, so one doc embedded inside a larger one still
    * scores 1.0. */
  def winnowPairs(s: SparkSession, d: String, w: Int = 4, maxDf: Int = 10,
                  minShared: Int = 2, threshold: Double = 0.5): DataFrame = {
    val fp = TextStats.winnowSets(s, d, w)
    val post = fp.select(col("doc_id"), explode(col("fps")).as("f"))
    // fps are distinct within a doc (array_distinct), so a bucket holds a
    // doc at most once — no self-pair path, unlike ngramPairs' 48-bit case
    val cand = post.groupBy(col("f"))
      // df cap enforced INSIDE the buffer: collect_up_to saturates at
      // maxDf+1 longs per group (a boilerplate gram shared by millions of
      // docs costs O(maxDf) state, not O(df)); a saturated group reports
      // size maxDf+1 and is dropped by the same [2, maxDf] filter that
      // previously measured the full materialized list — kept groups were
      // never truncated, so their (sorted) lists are byte-identical
      .agg(expr(s"collect_up_to(doc_id, ${maxDf + 1})").as("ds"))
      .filter(size(col("ds")) >= 2 && size(col("ds")) <= maxDf)
      .select(explode(expr(
        """flatten(transform(ds, (a, i) ->
          |  transform(slice(ds, i + 2, size(ds) - i - 1),
          |            b -> struct(a AS doc_a, b AS doc_b))))""".stripMargin)).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    cand
      .join(fp.select(col("doc_id").as("doc_a"), col("fps").as("f_a")), "doc_a")
      .join(fp.select(col("doc_id").as("doc_b"), col("fps").as("f_b")), "doc_b")
      .withColumn("inter", size(array_intersect(col("f_a"), col("f_b"))))
      .withColumn("overlap",
        round(lit(1.0) * col("inter") /
          least(size(col("f_a")), size(col("f_b"))), 4))
      .filter(col("overlap") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("shared"), col("overlap"))
      .orderedBy("doc_a", "doc_b")
  }

  /** Mirrors [[winnowPairs]]: inverted fingerprint index + containment
    * verify, on TextStats.winnowSetsCte's fingerprint sets. */
  private def winnowPairsOracle(w: Int, maxDf: Int, minShared: Int,
                                threshold: Double): String =
    s"""WITH ${TextStats.winnowSetsCte(w)},
       |post AS (SELECT doc_id, unnest(fps) AS f FROM fp),
       |b AS (SELECT f FROM post GROUP BY f
       |      HAVING count(*) >= 2 AND count(*) <= $maxDf),
       |rp AS (SELECT doc_id, f FROM post JOIN b USING (f)),
       |cand AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |                count(*) AS shared
       |         FROM rp x JOIN rp y ON x.f = y.f AND x.doc_id < y.doc_id
       |         GROUP BY doc_a, doc_b HAVING count(*) >= $minShared),
       |pairs AS (
       |  SELECT doc_a, doc_b, shared,
       |         round(1.0 * len(list_intersect(a.fps, b.fps)) /
       |               least(len(a.fps), len(b.fps)), 4) AS overlap
       |  FROM cand JOIN fp a ON a.doc_id = doc_a JOIN fp b ON b.doc_id = doc_b)
       |SELECT doc_a, doc_b, shared, overlap FROM pairs
       |WHERE overlap >= $threshold
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Chunk-granular duplicate accounting — the boilerplate detector that
    * works BELOW document granularity (headers, licence blocks, templated
    * sections shared across otherwise-distinct docs): split every doc into
    * non-overlapping `size`-token chunks (Pipeline.chunks with stride =
    * size), flag chunks whose md5 appears in >= 2 DISTINCT docs, and
    * report each doc's duplicated-chunk fraction — the signal a cleaning
    * pass thresholds on to drop or trim template-heavy docs.
    *
    * 100 TB shape: only (doc_id, chunk_md5) pairs ever shuffle (chunk text
    * dies inside the per-row projection); the dup relation is an md5-keyed
    * hash agg; the flag join is md5-keyed; the final rollup is one
    * doc-keyed hash agg. Within-doc repetition is deliberately NOT flagged
    * (count distinct docs, not instances) — that's q_quality_rep's job. */
  def chunkDups(s: SparkSession, d: String, size: Int = 32): DataFrame = {
    val ch = Pipeline.chunks(s, d, size, size)
      .select(col("doc_id"), col("chunk_md5"))
    val dup = ch.groupBy(col("chunk_md5"))
      .agg(countDistinct(col("doc_id")).as("ndocs"))
      .filter(col("ndocs") >= 2)
      .select(col("chunk_md5"), lit(1).as("isdup"))
    ch.join(dup, Seq("chunk_md5"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(coalesce(col("isdup"), lit(0))).as("dup_chunks"))
      .withColumn("dup_frac",
        round(lit(1.0) * col("dup_chunks") / col("n_chunks"), 4))
      .orderedBy("doc_id")
  }

  private def chunkDupsOracle(size: Int): String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |st AS (SELECT doc_id, toks,
       |              unnest(range(1, len(toks) + 1, $size)) AS start FROM t),
       |c AS (SELECT doc_id,
       |             md5(array_to_string(toks[start:start + ${size - 1}], ' ')) AS chunk_md5
       |      FROM st),
       |dup AS (SELECT chunk_md5 FROM c GROUP BY chunk_md5
       |        HAVING count(DISTINCT doc_id) >= 2),
       |f AS (SELECT c.doc_id,
       |             CASE WHEN d.chunk_md5 IS NULL THEN 0 ELSE 1 END AS isdup
       |      FROM c LEFT JOIN dup d USING (chunk_md5))
       |SELECT doc_id, count(*) AS n_chunks,
       |       CAST(sum(isdup) AS BIGINT) AS dup_chunks,
       |       round(1.0 * sum(isdup) / count(*), 4) AS dup_frac
       |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** [[exact]] executed by the STREAMING engine — content-hash dedup as a
    * complete-mode streaming aggregation (min/count are streamable aggs
    * with fixed-width state), registered against the IDENTICAL oracle SQL
    * as the batch query. With q_ohlc_streamed / q_session_streamed this
    * makes the third batch≡streaming bridge: the dedup family's core
    * grouping runs under the micro-batch planner + StateStore and still
    * hash-matches DuckDB. The 100 TB framing is the streaming-ingest
    * dedup shape: state is one (hash, min-id, count) row per distinct
    * document content, never the corpus. */
  def exactStreamed(s: SparkSession, d: String): DataFrame =
    Tables.runStreamComplete(s, "dedup_streamed_") { cs =>
      Tables.documentsStream(cs, d)
        .groupBy(md5(col("text").cast("binary")), length(col("text")))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("cnt"))
        .select(col("keep_id"), col("cnt"))
    }.orderedBy("keep_id")

  /** [[graft.stream.Enrich.dedupWithinWatermark]] under the exact-dedup
    * oracle (the 6th streaming bridge): documents stream in with a
    * deterministic event time (doc_id as epoch µs), get watermarked, and
    * dropDuplicatesWithinWatermark keeps one row per (content md5,
    * length). WHICH physical row survives a duplicate group is
    * arrival-order-dependent, so the query emits only the KEY columns —
    * deterministic whatever the order — and the oracle is a plain
    * DISTINCT. Append mode + AvailableNow: every first-seen key emits in
    * its arrival batch. 100 TB shape: this is the at-least-once ingest
    * dedup — state holds one entry per key seen within the watermark
    * delay and the eviction clock is what keeps it bounded (the unbounded
    * dropDuplicates twin would pin every key forever). */
  def dedupWmStreamed(s: SparkSession, d: String): DataFrame = {
    // Fixture-time scale guard (ADVICE r9): event time is doc_id micros,
    // so the corpus spans max(doc_id) microseconds — a FIXED delay would
    // silently start evicting keys mid-run once the span exceeds it
    // (~60M docs for "1 minute"), re-admitting later duplicates. Derive
    // the delay from the corpus's actual span (+60s margin) via a one-row
    // scalar pre-read; state retention stays bounded by that same span,
    // which is the honest cost of replaying a finite corpus through an
    // event-time dedup in one run.
    val spanMicros = Tables.documents(s, d)
      .agg(max(col("doc_id"))).head.getLong(0) + 1000000L
    val delaySec = spanMicros / 1000000L + 61L
    Tables.runStreamAppend(s, "dedup_wm_streamed_") { cs =>
      val keyed = Tables.documentsStream(cs, d)
        .select(md5(col("text").cast("binary")).as("h"),
          length(col("text")).cast("long").as("len"),
          // +1s: the initial watermark is epoch 0 and the state store
          // treats a row AT the watermark as expired — doc_id 0 must not
          // land on it
          timestamp_micros(col("doc_id") + lit(1000000L)).as("ts"))
        .withWatermark("ts", s"$delaySec seconds")
      graft.stream.Enrich.dedupWithinWatermark(keyed, "h", "len")
        .select(col("h"), col("len"))
    }.orderedBy("h")
  }

  val defs: Map[String, QueryDef] = Map(
    "q_dedup_chunk" -> QueryDef(chunkDups(_, _), Some(chunkDupsOracle(32))),
    "q_dedup_wm_streamed" -> QueryDef(dedupWmStreamed, Some(
      """SELECT md5(text) AS h, CAST(length(text) AS BIGINT) AS len
        |FROM documents GROUP BY 1, 2 ORDER BY h""".stripMargin)),
    "q_dedup_streamed" -> QueryDef(exactStreamed, Some(
      """SELECT min(doc_id) AS keep_id, count(*) AS cnt
        |FROM documents GROUP BY md5(text), length(text)
        |ORDER BY keep_id""".stripMargin)),
    "q_dedup_winnow" -> QueryDef(winnowPairs(_, _),
      Some(winnowPairsOracle(4, 10, 2, 0.5))),
    "q_dedup_exact" -> QueryDef(exact(_, _), Some(
      """SELECT min(doc_id) AS keep_id, count(*) AS cnt
        |FROM documents GROUP BY md5(text), length(text)
        |ORDER BY keep_id""".stripMargin)),
    "q_dedup_incremental" -> QueryDef(incremental(_, _), Some(
      """WITH batch AS (
        |  SELECT md5(text) AS ck, length(text) AS cl, doc_id
        |  FROM documents WHERE doc_id % 5 = 4),
        |first_in_batch AS (
        |  SELECT ck, cl, min(doc_id) AS doc_id FROM batch GROUP BY ck, cl)
        |SELECT doc_id, ck, cl FROM first_in_batch f
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM documents c
        |  WHERE c.doc_id % 5 <> 4
        |    AND md5(c.text) = f.ck AND length(c.text) = f.cl)
        |ORDER BY doc_id""".stripMargin)),
    "q_dedup_near_incr" -> QueryDef(nearIncremental(_, _),
      Some(nearIncrementalOracle(0.8, 4, 3))),
    // 14th bridge: the same chain under the micro-batch planner, same oracle
    "q_dedup_incr_streamed" -> QueryDef(nearIncrStreamed(_, _),
      Some(nearIncrementalOracle(0.8, 4, 3))),
    "q_dedup_keep_best" -> QueryDef(keepBest(_, _), Some(keepBestOracle)),
    "q_dedup_fingerprint" -> QueryDef(fingerprint(_, _), Some(
      """SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp,
        |       min(doc_id) AS keep_id, count(*) AS cnt
        |FROM documents
        |GROUP BY fp ORDER BY fp""".stripMargin)),
    "q_dedup_near" -> QueryDef(near(_, _), Some(nearOracle(0.8, 4, 3))),
    "q_dedup_recall" -> QueryDef(nearRecallGauge(_, _),
      Some(nearRecallOracle(0.8, 4, 3, 10, 2))),
    // exact-recall complement to MinHash: rare-shingle inverted index with
    // the df ceiling as the built-in hot-bucket bound
    "q_dedup_ngram" -> QueryDef(ngramPairs(_, _), Some(ngramOracle(0.8, 10))),
    // asymmetric containment (doc-in-doc): same rare-shingle candidates,
    // directional |A∩B|/|A| verify — the quoted-whole-document class
    "q_dedup_contain" -> QueryDef(containPairs(_, _), Some(containOracle(0.5, 10))),
    // exact ≥20-token-span dedup (Lee et al. 2022's exact-substring mode):
    // df-capped span-hash postings, verify on collision via true span sets
    "q_dedup_substr" -> QueryDef(substrPairs(_, _), Some(substrOracle(20, 10))),
    // near-dup clusters by star contraction; q_dedup_cc is the same
    // query under the name the CC family below shares
    "q_dedup_clusters" -> QueryDef(ccStars(_, _),
      Some(nearClustersOracle(0.8))),
    "q_dedup_cc" -> QueryDef(ccStars(_, _), Some(nearClustersOracle(0.8))),
    // which sources duplicate which: near-dup pair counts per unordered
    // source pair — the attribution gauge behind mixing weights
    "q_dedup_matrix" -> QueryDef(dedupMatrix(_, _), Some(dedupMatrixOracle(0.8))),
    // incremental cluster merge (contracted labels ∪ increment pairs)
    // against the FULL-graph semantic oracle: the daily merge must equal
    // the from-scratch clustering
    "q_dedup_cc_incr" -> QueryDef(ccIncremental(_, _), Some(nearClustersOracle(0.8))),
    // the same merge SERVED from the persisted corpus-label artifact
    // (build-once parquet, fingerprinted path) — still against the
    // full-graph semantic oracle
    "q_dedup_cc_persisted" -> QueryDef(ccPersisted(_, _),
      Some(nearClustersOracle(0.8))),
    // 24th bridge: the label state FOLDED across 4 rate-limited
    // micro-batches (contraction identity per batch) — continuous graph
    // maintenance under the streaming engine, same full-graph oracle
    "q_dedup_cc_streamed" -> QueryDef(ccStreamed(_, _),
      Some(nearClustersOracle(0.8))),
    // damped PageRank on the same graph, fixed-point integer units —
    // canonical-representative ranking, bit-exact on any engine
    "q_graph_pagerank" -> QueryDef(pagerank(_, _), Some(pagerankOracle(0.8, 3))),
    // the 100 TB guard-rail variant: band buckets capped at 4 docs before
    // the quadratic self-join (hot-bucket boilerplate clusters bounded)
    "q_dedup_near_capped" -> QueryDef(
      near(_, _, maxBucket = Some(4)), Some(nearOracle(0.8, 4, 3, Some(4)))),
    "q_dedup_simhash" -> QueryDef((s, d) => simhashDocs(s, d).orderedBy("doc_id"),
      Some(simhashOracle)),
    "q_dedup_simhash_pairs" -> QueryDef((s, d) => simhashPairs(s, d),
      Some(simhashPairsOracle(0))),
    // wider tolerance (hamming <= 2 — recall still guaranteed by the 6
    // byte-pair bands) with the hot-bucket cap engaged: the 100 TB shape
    "q_dedup_simhash_capped" -> QueryDef(
      (s, d) => simhashPairs(s, d, maxHamming = 2, maxBucket = Some(4)),
      Some(simhashPairsOracle(2, Some(4)))),
    "q_dedup_embed" -> QueryDef((s, d) => embedPairs(s, d),
      Some(embedPairsOracle(0.45))),
    // star contraction over the sign-LSH pair graph: graph-based semantic
    // clustering (chains merge across k-means cells, unlike SemDedup)
    "q_embed_clusters" -> QueryDef(embedClusters(_, _),
      Some(embedClustersOracle(0.45))),
    // the 100 TB shape: 2-bit sign-LSH bands have only 4 buckets each, so
    // the cap is what bounds the candidate join at corpus scale
    "q_dedup_embed_capped" -> QueryDef(
      (s, d) => embedPairs(s, d, maxBucket = Some(512)),
      Some(embedPairsOracle(0.45, Some(512))))
  )
}

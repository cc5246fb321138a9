package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{OracleSql, QueryDef, Tables}
import graft.core.QueryDef.OrderedOut

/** The composed training-data cleaning pipeline — the shape a corpus
  * actually runs before tokenization:
  *
  *   1. quality gate: token-count bounds (degenerate docs out);
  *   2. exact/bag-of-words dedup: keep the lowest doc_id per fingerprint;
  *   3. near-dedup OF THE SURVIVORS: drop the higher id of every
  *      MinHash-LSH pair among the docs stages 1-2 kept.
  *
  * Stage 3 is deliberately scoped to the surviving corpus, not the raw
  * table: shingling docs the quality gate already rejected is wasted work,
  * a doc must not be dropped as the near-dup of a REJECTED doc, and
  * exact-duplicate clusters (stage 2's job, linear) never reach the
  * quadratic band buckets. Each stage is the already-oracled operator from
  * [[Dedup]]; composing them proves the operators chain (the whole pipeline
  * is one Catalyst plan — no intermediate materialization) and the oracle
  * composes the same CTEs over the same survivor scope.
  */
object Pipeline {

  /** Stages 1-3 over an arbitrary (doc_id, text, ...) corpus, returning the
    * surviving rows with their columns plus `n_tokens` — the composition
    * point [[cleanCorpus]] and [[fullPipeline]] share. */
  private[llm] def cleanSurvivors(raw: DataFrame,
                                  minTokens: Int, maxTokens: Int,
                                  nearThreshold: Double): DataFrame = {
    val docs = raw
      .withColumn("n_tokens", size(TextStats.tokens(col("text"))).cast("long"))
      .filter(col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens)
    val fpKeep = docs
      .withColumn("fp",
        md5(array_join(sort_array(array_distinct(TextStats.tokens(col("text")))), " ")
          .cast("binary")))
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    // survivors of stages 1-2 (still carrying text for stage 3's shingles)
    val kept = docs.join(fpKeep, "doc_id") // semi-equivalent: fpKeep ids unique
    val nearDrop = Dedup.nearPairsUnordered(kept, nearThreshold)
      .select(col("doc_b").as("doc_id")).distinct()
    kept.join(nearDrop, Seq("doc_id"), "left_anti")
  }

  def cleanCorpus(s: SparkSession, d: String,
                  minTokens: Int = 20, maxTokens: Int = 500,
                  nearThreshold: Double = 0.8): DataFrame =
    cleanSurvivors(Tables.documents(s, d), minTokens, maxTokens, nearThreshold)
      .select(col("doc_id"), col("n_tokens"))
      .orderedBy("doc_id")

  /** Stage-1/2 CTE chain (q/qf/keepers/kept) shared by the clean oracle
    * and the token-yield oracle; `extra` carries additional document
    * columns (e.g. ", source") through every stage. */
  private def cleanCtes(minTokens: Int, maxTokens: Int, extra: String = ""): String =
    s"""q AS (
       |  SELECT doc_id, text$extra, len(string_split(text, ' ')) AS n_tokens,
       |         md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
       |  FROM documents),
       |qf AS (SELECT * FROM q WHERE n_tokens >= $minTokens AND n_tokens <= $maxTokens),
       |keepers AS (SELECT min(doc_id) AS doc_id FROM qf GROUP BY fp),
       |kept AS (SELECT qf.* FROM qf JOIN keepers USING (doc_id))""".stripMargin

  private def oracle(minTokens: Int, maxTokens: Int, nearThreshold: Double): String =
    s"""WITH ${cleanCtes(minTokens, maxTokens)},
       |${Dedup.nearOracleCtes(4, 3, source = "kept")},
       |dropped AS (SELECT DISTINCT doc_b AS doc_id FROM pairs
       |            WHERE jaccard >= $nearThreshold)
       |SELECT doc_id, n_tokens FROM kept
       |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
       |ORDER BY doc_id""".stripMargin

  /** Per-source TOKEN YIELD through the cleaning pipeline — the number a
    * pretraining data lead actually budgets with: of each source's raw
    * token mass, how much SURVIVES quality gating + exact dedup +
    * near-dedup ([[cleanSurvivors]], the q_pipeline_clean stages). A
    * low-yield source is mostly duplicates or junk and gets down-weighted
    * (or re-crawled) regardless of its raw size; corpus token budgets are
    * planned on the kept column, not the raw one. One raw aggregate + the
    * existing cleaning chain's aggregate, left-joined on source (a source
    * whose every doc is filtered still reports with kept=0); the yield is
    * one IEEE divide of exact BIGINT sums, rounded. */
  def tokenYield(s: SparkSession, d: String,
                 minTokens: Int = 20, maxTokens: Int = 500,
                 nearThreshold: Double = 0.8): DataFrame = {
    val docs = Tables.documents(s, d)
    val raw = docs
      .withColumn("n_tokens", size(TextStats.tokens(col("text"))).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("raw_docs"), sum(col("n_tokens")).as("raw_tokens"))
    val kept = cleanSurvivors(docs, minTokens, maxTokens, nearThreshold)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("kept_docs"), sum(col("n_tokens")).as("kept_tokens"))
    raw.join(kept, Seq("source"), "left")
      .select(col("source"), col("raw_docs"), col("raw_tokens"),
        coalesce(col("kept_docs"), lit(0L)).as("kept_docs"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
      .withColumn("token_yield",
        round(lit(1.0) * col("kept_tokens") / col("raw_tokens"), 4))
      .orderedBy("source")
  }

  private def tokenYieldOracle(minTokens: Int, maxTokens: Int,
                               nearThreshold: Double): String =
    s"""WITH ${cleanCtes(minTokens, maxTokens, extra = ", source")},
       |${Dedup.nearOracleCtes(4, 3, source = "kept")},
       |dropped AS (SELECT DISTINCT doc_b AS doc_id FROM pairs
       |            WHERE jaccard >= $nearThreshold),
       |surv AS (SELECT source, n_tokens FROM kept
       |         WHERE doc_id NOT IN (SELECT doc_id FROM dropped)),
       |r AS (SELECT source, count(*) AS raw_docs,
       |             CAST(sum(n_tokens) AS BIGINT) AS raw_tokens
       |      FROM q GROUP BY source),
       |k AS (SELECT source, count(*) AS kept_docs,
       |             CAST(sum(n_tokens) AS BIGINT) AS kept_tokens
       |      FROM surv GROUP BY source)
       |SELECT r.source, raw_docs, raw_tokens,
       |       COALESCE(kept_docs, 0) AS kept_docs,
       |       COALESCE(kept_tokens, 0) AS kept_tokens,
       |       round(1.0 * COALESCE(kept_tokens, 0) / raw_tokens, 4) AS token_yield
       |FROM r LEFT JOIN k USING (source) ORDER BY source""".stripMargin

  /** Deterministic train/val/test split assignment: bucket = 32-bit md5
    * prefix of the salted doc_id, mod 100 — a pure function of (salt,
    * doc_id), so the split is stable across runs, machines, and engines
    * (rand()-based splits are none of those), and any future doc lands in
    * a split without re-shuffling the corpus. Per-row scalar work. */
  /** The salted md5 split rule — ONE body shared by [[splitAssign]]
    * (keyed on doc_id) and [[splitLeakfree]] (keyed on the near-dup
    * cluster), so the two split families cannot de-synchronize. */
  private def saltedBucket(salt: String, key: Column): Column =
    conv(substring(md5(concat_ws("#", lit(salt), key).cast("binary")), 1, 8),
      16, 10).cast("long") % 100

  private def splitOf(bucket: Column, testPct: Int, valPct: Int): Column =
    when(bucket < testPct, "test")
      .when(bucket < testPct + valPct, "val")
      .otherwise("train")

  def splitAssign(s: SparkSession, d: String,
                  testPct: Int = 5, valPct: Int = 5, salt: String = "split"): DataFrame =
    Tables.documents(s, d)
      .withColumn("bucket", saltedBucket(salt, col("doc_id")))
      .withColumn("split", splitOf(col("bucket"), testPct, valPct))
      .select(col("doc_id"), col("bucket"), col("split"))
      .orderedBy("doc_id")

  /** LEAKAGE-FREE split assignment — [[splitAssign]] with the constraint a
    * per-document hash split silently violates: NEAR-DUPLICATES MUST LAND
    * IN THE SAME SPLIT. Hashing doc_ids scatters the members of a near-dup
    * cluster across train and test, so the model is evaluated on
    * paraphrases of its own training data (the train/test contamination
    * that inflates benchmarks; Lee et al. 2022 measure it directly). Here
    * the split key is the near-dup CLUSTER label — connected components
    * over the MinHash-LSH pair graph ([[Dedup.starLabels]], the star-
    * contraction engine) — so a whole cluster moves as one unit; docs in
    * no pair are their own singleton cluster. Assignment stays the salted
    * md5 bucket rule of [[splitAssign]], applied to the cluster id.
    *
    * 100 TB shape: the CC loop is edge-sized (star contraction, no
    * neighborhood collection), the label table is node-sized, and the
    * corpus joins it ONCE by doc_id; everything else is the per-row split
    * projection. The labels are a BUILD-ONCE artifact
    * ([[Dedup.persistedStarLabels]], whole-graph scope, fingerprinted
    * path — r13): the split is a label CONSUMER, and re-contracting a
    * stable clustered corpus on every assignment run was the
    * q_dedup_cc_incr double-cost pattern (3.55 s bench line, now the
    * node-sized label read + the per-row projection). */
  def splitLeakfree(s: SparkSession, d: String, threshold: Double = 0.8,
                    testPct: Int = 5, valPct: Int = 5,
                    salt: String = "split",
                    checkpointDir: Option[String] = None): DataFrame = {
    val docs = Tables.documents(s, d)
    val labels = Dedup.persistedStarLabels(s, d, threshold, "full",
      Dedup.nearPairsUnordered(docs, threshold).select(col("doc_a"), col("doc_b")),
      checkpointDir)
    docs.select(col("doc_id"))
      .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("cluster"))
      .withColumn("bucket", saltedBucket(salt, col("cluster")))
      .withColumn("split", splitOf(col("bucket"), testPct, valPct))
      .select(col("doc_id"), col("cluster"), col("bucket"), col("split"))
      .orderedBy("doc_id")
  }

  private def splitLeakfreeOracle(threshold: Double, testPct: Int,
                                  valPct: Int, salt: String): String = {
    val hv = OracleSql.hexPrefixToLong("h")
    s"""WITH RECURSIVE ${Dedup.nearOracleCtes(4, 3)},
       |p2 AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= $threshold),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p2
       |          UNION ALL SELECT doc_b, doc_a FROM p2),
       |reach(id, r) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src),
       |lbl AS (SELECT id, least(id, min(r)) AS cluster FROM reach GROUP BY id),
       |cl AS (SELECT d.doc_id, COALESCE(l.cluster, d.doc_id) AS cluster
       |       FROM documents d LEFT JOIN lbl l ON l.id = d.doc_id),
       |hh AS (SELECT doc_id, cluster,
       |              substr(md5('$salt' || '#' || CAST(cluster AS VARCHAR)), 1, 8) AS h
       |       FROM cl),
       |b AS (SELECT doc_id, cluster, ($hv) % 100 AS bucket FROM hh)
       |SELECT doc_id, cluster, bucket,
       |       CASE WHEN bucket < $testPct THEN 'test'
       |            WHEN bucket < ${testPct + valPct} THEN 'val'
       |            ELSE 'train' END AS split
       |FROM b ORDER BY doc_id""".stripMargin
  }

  /** Per-source CORPUS DATASHEET ("datasheets for datasets", Gebru et al.
    * 2021): the one-pass governance rollup a curation team publishes with
    * every corpus release — per source: document volume, token volume,
    * language spread, and the exact-duplicate rate against the WHOLE
    * corpus (a doc counts as duplicated if its content key appears more
    * than once anywhere, so a source copying another source shows dup mass
    * even if it never self-duplicates).
    *
    * 100 TB shape: one corpus scan produces the slim keyed view (content
    * hash + token count — never the body); duplicate groups come from one
    * hash-keyed aggregate of that view, FILTERED to gn>1 before joining
    * back (the dup-group table is orders of magnitude smaller than the
    * corpus — broadcast at gate scale, hash join on the content key at
    * corpus scale); the datasheet itself is |sources| rows. The dup rate
    * is one IEEE divide of exact counts, rounded. */
  def datasheet(s: SparkSession, d: String): DataFrame = {
    val keyed = Tables.documents(s, d).select(
      col("source"), col("lang"),
      size(TextStats.tokens(col("text"))).as("n_tok"),
      md5(col("text").cast("binary")).as("ck"),
      length(col("text")).as("cl"))
    val dups = keyed.groupBy(col("ck"), col("cl"))
      .agg(count(lit(1)).as("gn")).filter(col("gn") > 1)
    keyed.join(dups, Seq("ck", "cl"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("sum_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        sum(when(col("gn") > 1, 1L).otherwise(0L)).as("n_dup_docs"))
      .withColumn("dup_rate",
        round(lit(1.0) * col("n_dup_docs") / col("n_docs"), 4))
      .orderedBy("source")
  }

  private def datasheetOracle: String =
    """WITH k AS (
      |  SELECT source, lang, len(string_split(text, ' ')) AS n_tok,
      |         md5(text) AS ck, length(text) AS cl
      |  FROM documents),
      |g AS (SELECT ck, cl, count(*) AS gn FROM k GROUP BY ck, cl),
      |dups AS (SELECT ck, cl, gn FROM g WHERE gn > 1),
      |j AS (SELECT k.*, d.gn AS gn FROM k LEFT JOIN dups d USING (ck, cl))
      |SELECT source, count(*) AS n_docs,
      |       CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
      |       count(DISTINCT lang) AS n_langs,
      |       CAST(sum(CASE WHEN gn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
      |       round(1.0 * sum(CASE WHEN gn > 1 THEN 1 ELSE 0 END) / count(*), 4)
      |         AS dup_rate
      |FROM j GROUP BY source ORDER BY source""".stripMargin

  /** Deterministic EPOCH SHUFFLE + SHARDING — the last step before a
    * training run reads the corpus: every doc gets a seeded pseudo-random
    * priority (md5 of seed#doc_id — change the seed, get the next epoch's
    * permutation, bit-reproducibly on any cluster), lands in one of
    * `nShards` shards for data-parallel readers, and takes its position
    * from the per-shard priority order. No global sort anywhere: the one
    * exchange hash-partitions on shard and each shard sorts locally
    * (window per shard) — a global `orderBy(pri)` would range-sample and
    * sort 100 TB to produce the same within-shard orders. Output is the
    * (shard, pos → doc) reading manifest.
    *
    * `nShards` is the parallelism knob: each shard's sort is one task's
    * work, so at corpus scale size it to corpus / target-shard-bytes
    * (thousands, matching the data-parallel reader count) — the default 8
    * is a test-scale setting, and the priority key is uniform so shards
    * stay balanced at any count. */
  def shuffleShard(s: SparkSession, d: String,
                   nShards: Int = 8, seed: String = "epoch0"): DataFrame = {
    val pri = conv(substring(
      md5(concat_ws("#", lit(seed), col("doc_id")).cast("binary")), 1, 8),
      16, 10).cast("long")
    val w = Window.partitionBy(col("shard")).orderBy(col("pri"), col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), pri.as("pri"))
      .withColumn("shard", pmod(col("pri"), lit(nShards)))
      .withColumn("pos", row_number().over(w).cast("bigint"))
      .select(col("shard"), col("pos"), col("doc_id"))
      .orderedBy("shard", "pos")
  }

  private def shuffleShardOracle(nShards: Int, seed: String): String = {
    val hv = OracleSql.hexPrefixToLong("h")
    s"""WITH h AS (
       |  SELECT doc_id, substr(md5('$seed' || '#' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
       |  FROM documents),
       |p AS (SELECT doc_id, ($hv) AS pri FROM h),
       |a AS (SELECT doc_id, pri, pri % $nShards AS shard FROM p)
       |SELECT shard,
       |       CAST(row_number() OVER (PARTITION BY shard
       |         ORDER BY pri, doc_id) AS BIGINT) AS pos,
       |       doc_id
       |FROM a ORDER BY shard, pos""".stripMargin
  }

  private def splitOracle(testPct: Int, valPct: Int, salt: String): String = {
    val hv = OracleSql.hexPrefixToLong("h")
    s"""WITH h AS (
       |  SELECT doc_id, substr(md5('$salt' || '#' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
       |  FROM documents),
       |b AS (SELECT doc_id, ($hv) % 100 AS bucket FROM h)
       |SELECT doc_id, bucket,
       |       CASE WHEN bucket < $testPct THEN 'test'
       |            WHEN bucket < ${testPct + valPct} THEN 'val'
       |            ELSE 'train' END AS split
       |FROM b ORDER BY doc_id""".stripMargin
  }

  /** Deterministic stratified sample: k docs per language by salted-md5
    * priority — the per-stratum quota draw a corpus-inspection or
    * eval-set-construction stage runs. Like [[splitAssign]], the draw is a
    * pure function of (seed, doc_id): stable across runs/engines, and new
    * docs perturb only their own stratum. Scale shape: `row_number <= k`
    * is WindowGroupLimit-pruned map-side (each partition keeps its own
    * top-k before the stratum shuffle), so the exchange carries
    * O(k × partitions), not the corpus. */
  def sampleStratified(s: SparkSession, d: String,
                       k: Int = 25, seed: Int = 42): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("pri"), col("doc_id"))
    Tables.documents(s, d)
      .withColumn("pri",
        conv(substring(md5(concat_ws("#", lit(seed), col("doc_id")).cast("binary")), 1, 8),
          16, 10).cast("long"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("lang"), col("rn"))
      .orderedBy("doc_id")
  }

  private def sampleStratifiedOracle(k: Int, seed: Int): String = {
    val hv = OracleSql.hexPrefixToLong("h")
    s"""WITH p AS (
       |  SELECT doc_id, lang,
       |         substr(md5('$seed' || '#' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
       |  FROM documents),
       |pv AS (SELECT doc_id, lang, ($hv) AS pri FROM p),
       |r AS (SELECT doc_id, lang,
       |             row_number() OVER (PARTITION BY lang ORDER BY pri, doc_id) AS rn
       |      FROM pv)
       |SELECT doc_id, lang, rn FROM r WHERE rn <= $k
       |ORDER BY doc_id""".stripMargin
  }

  /** Benchmark decontamination: flag corpus docs sharing any word 3-gram
    * with a held-out benchmark set (here: doc_id < `benchMax` stands in for
    * the eval set). The benchmark's distinct shingle HASHES broadcast
    * (benchmark sets are tiny next to a training corpus), the corpus side
    * explodes once and joins map-side, and only (doc_id, hash) pairs ever
    * move — never shingle text. Docs with zero overlap keep hits = 0 via
    * the corpus-side left join. */
  def decontaminate(s: SparkSession, d: String, benchMax: Long = 10L): DataFrame = {
    val sh = Tables.documents(s, d)
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
      .select(col("doc_id"), TextStats.shinglesExpr("toks").as("sh"))
      .filter(size(col("sh")) > 0) // ≡ the oracle's len(toks) >= 3
    val bench = sh.filter(col("doc_id") < benchMax)
      .select(explode(col("sh")).as("g"))
      .select(md5(col("g").cast("binary")).as("gh")).distinct()
    val corpus = sh.filter(col("doc_id") >= benchMax)
    val hits = corpus
      .select(col("doc_id"), explode(col("sh")).as("g"))
      .select(col("doc_id"), md5(col("g").cast("binary")).as("gh"))
      .join(broadcast(bench), "gh")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("hits"))
    corpus.select(col("doc_id"), size(col("sh")).cast("long").as("n_shingles"))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("hits", coalesce(col("hits"), lit(0L)))
      .withColumn("contaminated", col("hits") > 0)
      .orderedBy("doc_id")
  }

  private def decontOracle(benchMax: Long): String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |sh AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
       |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
       |  FROM w WHERE len(toks) >= 3),
       |bench AS (SELECT DISTINCT md5(g) AS gh
       |          FROM (SELECT unnest(s) AS g FROM sh WHERE doc_id < $benchMax)),
       |corpus AS (SELECT doc_id, s FROM sh WHERE doc_id >= $benchMax),
       |ex AS (SELECT doc_id, md5(g) AS gh
       |       FROM (SELECT doc_id, unnest(s) AS g FROM corpus)),
       |hits AS (SELECT doc_id, count(*) AS hits
       |         FROM ex JOIN bench USING (gh) GROUP BY doc_id)
       |SELECT c.doc_id, CAST(len(c.s) AS BIGINT) AS n_shingles,
       |       COALESCE(h.hits, 0) AS hits,
       |       COALESCE(h.hits, 0) > 0 AS contaminated
       |FROM corpus c LEFT JOIN hits h ON c.doc_id = h.doc_id
       |ORDER BY c.doc_id""".stripMargin

  /** Greedy sequence packing: assign docs to fixed-token-budget training
    * packs by running prefix sum — pack_id = floor(tokens-before-this-doc /
    * budget), the contiguous-fill approximation of bin packing every
    * pretraining data loader uses. Packing is scoped PER LANGUAGE (window
    * partitioned by lang, ordered by doc_id): each language packs in
    * parallel — a single global ordering would serialize the window into
    * one partition at corpus scale. All arithmetic is exact ints (window
    * sum, one integer division). */
  def packGreedy(s: SparkSession, d: String, budget: Int = 2048): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("doc_id"))
    Tables.documents(s, d)
      .withColumn("n_tokens", size(TextStats.tokens(col("text"))).cast("long"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("pack_id", expr(s"CAST((cum - n_tokens) DIV $budget AS BIGINT)"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("pack_id"))
      .orderedBy("doc_id")
  }

  /** [[packGreedy]] with a TOKENIZER-AWARE budget: pack assignment by the
    * native `bpe_count` estimate (graft.expr.BpeCount, ~4 chars/BPE token
    * over pre-tokenizer runs) instead of whitespace words — whitespace
    * counts undershoot real tokenizer counts on punctuation/digit-heavy
    * docs, so whitespace-budgeted packs overflow the sequence length at
    * training time (round-5 verdict #6). Same exact-integer window
    * arithmetic, same per-language parallel packing. */
  def packTokens(s: SparkSession, d: String, budget: Int = 1024): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("doc_id"))
    Tables.documents(s, d)
      .withColumn("bpe_tokens", expr("bpe_count(text)"))
      .withColumn("cum", sum(col("bpe_tokens")).over(w))
      .withColumn("pack_id", expr(s"CAST((cum - bpe_tokens) DIV $budget AS BIGINT)"))
      .select(col("doc_id"), col("lang"), col("bpe_tokens"), col("pack_id"))
      .orderedBy("doc_id")
  }

  private def packTokensOracle(budget: Int): String =
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |         CAST(COALESCE(list_sum(list_transform(
       |           regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r\\f]+'),
       |           p -> (len(p) + 3) // 4)), 0) AS BIGINT) AS bpe_tokens
       |  FROM documents)
       |SELECT doc_id, lang, bpe_tokens,
       |       CAST((sum(bpe_tokens) OVER (PARTITION BY lang ORDER BY doc_id)
       |             - bpe_tokens) // $budget AS BIGINT) AS pack_id
       |FROM t ORDER BY doc_id""".stripMargin

  /** Fixed-window token chunking with overlap — the context-window
    * splitter that runs BEFORE packing: every doc becomes chunks of `size`
    * tokens starting every `stride` tokens (stride < size ⇒ overlapping
    * windows, the standard long-doc training-sample construction). Chunk
    * identity ships as an md5 over the chunk's tokens so downstream
    * chunk-level dedup can join on it without re-materializing text.
    *
    * 100 TB shape: ONE Generate (explode of the start offsets) per row, no
    * shuffle anywhere — chunk_id derives arithmetically from the start
    * offset rather than a positional explode ordinal, so the operator
    * stays a pure per-row projection; output volume is the only cost
    * (~n/stride rows per doc), and only (ids, counts, md5) leave the row. */
  def chunkSplit(s: SparkSession, d: String,
                 size: Int = 64, stride: Int = 48): DataFrame =
    chunks(s, d, size, stride).orderedBy("doc_id", "chunk_id")

  /** The unordered chunk relation behind [[chunkSplit]] — also the input
    * of Dedup.chunkDups (chunk-granular dedup joins on chunk_md5). */
  private[llm] def chunks(s: SparkSession, d: String,
                          size: Int, stride: Int): DataFrame = {
    Tables.documents(s, d)
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(expr(s"sequence(1, size(toks), $stride)")).as("start"))
      .withColumn("c", expr(s"slice(toks, start, $size)"))
      .select(col("doc_id"),
        expr(s"CAST((start - 1) DIV $stride AS BIGINT)").as("chunk_id"),
        col("start").cast("long").as("start"),
        functions.size(col("c")).cast("long").as("n_tok"),
        md5(expr("CAST(array_join(c, ' ') AS BINARY)")).as("chunk_md5"))
  }

  private def chunkOracle(size: Int, stride: Int): String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |st AS (SELECT doc_id, toks,
       |              unnest(range(1, len(toks) + 1, $stride)) AS start FROM t),
       |c AS (SELECT doc_id, start,
       |             toks[start:start + ${size - 1}] AS chunk FROM st)
       |SELECT doc_id, CAST((start - 1) // $stride AS BIGINT) AS chunk_id,
       |       CAST(start AS BIGINT) AS start,
       |       CAST(len(chunk) AS BIGINT) AS n_tok,
       |       md5(array_to_string(chunk, ' ')) AS chunk_md5
       |FROM c ORDER BY doc_id, chunk_id""".stripMargin

  /** Temperature-scaled source mixing weights — the multi-source /
    * multilingual upsampling rule (w_s ∝ mass_s^α with α < 1 flattens the
    * source distribution so low-resource sources are over-sampled relative
    * to their raw token share; α = 1 is proportional, α = 0 uniform).
    * Fixed at α = 0.5 because sqrt is the one power IEEE 754 requires
    * correctly rounded — pow(x, 0.5) may differ across engines/libms,
    * sqrt(x) cannot. All inputs are exact integer token masses; the one
    * order-sensitive FP step (the denominator sum over sources) is rounded
    * out at 6dp. 100 TB shape: one source-keyed hash agg over the corpus
    * (map-side partials), then the per-source relation (tiny — sources
    * number in the thousands at worst) crossJoins its own broadcast scalar
    * sum. */
  def mixWeights(s: SparkSession, d: String): DataFrame = {
    val stats = Tables.documents(s, d)
      .withColumn("n_tokens",
        functions.size(TextStats.tokens(col("text"))).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
    // denominator: per-source roots rounded at 9dp then summed as DECIMAL —
    // an exact, order-independent sum (a raw double sum's partial-agg order
    // is engine-chosen, and round(6) at the output only masks last-ulp drift
    // when the quotient isn't sitting on a rounding boundary)
    val denom = stats.agg(
      sum(round(sqrt(col("n_tokens")), 9).cast("decimal(28,9)"))
        .cast("double").as("denom"))
    stats.crossJoin(broadcast(denom))
      .withColumn("weight", round(sqrt(col("n_tokens")) / col("denom"), 6))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("weight"))
      .orderedBy("source")
  }

  private def mixWeightsOracle: String =
    """WITH t AS (SELECT source, len(string_split(text, ' ')) AS n_tokens
      |           FROM documents),
      |st AS (SELECT source, count(*) AS n_docs,
      |              CAST(sum(n_tokens) AS BIGINT) AS n_tokens
      |       FROM t GROUP BY source),
      |dn AS (SELECT CAST(sum(CAST(round(sqrt(n_tokens), 9) AS DECIMAL(28,9)))
      |                   AS DOUBLE) AS denom FROM st)
      |SELECT source, n_docs, n_tokens,
      |       round(sqrt(n_tokens) / denom, 6) AS weight
      |FROM st CROSS JOIN dn ORDER BY source""".stripMargin

  private def packOracle(budget: Int): String =
    s"""WITH t AS (
       |  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
       |  FROM documents)
       |SELECT doc_id, lang, n_tokens,
       |       CAST((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id)
       |             - n_tokens) // $budget AS BIGINT) AS pack_id
       |FROM t ORDER BY doc_id""".stripMargin

  /** The WHOLE corpus-management pipeline in one Catalyst plan — what a
    * pretraining data job actually runs end-to-end:
    *
    *   1-3. [[cleanSurvivors]]: quality gate, exact/bag-of-words dedup,
    *        near-dedup of the survivors (bench docs held out up front);
    *   4.   decontamination: drop survivors sharing any 3-gram with the
    *        benchmark set (doc_id < benchMax), benchmark hashes broadcast;
    *   5.   deterministic split assignment (salted md5 bucket);
    *   6.   greedy sequence packing per (split, lang).
    *
    * Output: one row per surviving doc with its split and pack id. No
    * intermediate materialization — Catalyst fuses all six stages; every
    * stage is the already-oracled operator, and the DuckDB oracle composes
    * the same CTE chain end-to-end, which is the real proof the operators
    * CHAIN (each stage's scope is exactly the prior stage's survivors). */
  def fullPipeline(s: SparkSession, d: String,
                   minTokens: Int = 20, maxTokens: Int = 500,
                   nearThreshold: Double = 0.8, benchMax: Long = 10L,
                   testPct: Int = 5, valPct: Int = 5, salt: String = "split",
                   budget: Int = 2048): DataFrame = {
    val raw = Tables.documents(s, d)
    val clean = cleanSurvivors(raw.filter(col("doc_id") >= benchMax),
      minTokens, maxTokens, nearThreshold)
    // stage 4: benchmark shingle hashes broadcast; contaminated ids out.
    // The benchmark is the RAW held-out set (an eval set is what it is —
    // quality-gating it would un-hold-out whatever the gate rejects).
    val bench = raw.filter(col("doc_id") < benchMax)
      .select(TextStats.tokens(col("text")).as("toks"))
      .select(explode(TextStats.shinglesExpr("toks")).as("g"))
      .select(md5(col("g").cast("binary")).as("gh")).distinct()
    val cont = clean
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(TextStats.shinglesExpr("toks")).as("g"))
      .select(col("doc_id"), md5(col("g").cast("binary")).as("gh"))
      .join(broadcast(bench), "gh")
      .select(col("doc_id")).distinct()
    val decont = clean.join(cont, Seq("doc_id"), "left_anti")
    // stages 5-6: split, then pack per (split, lang)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("split"), col("lang")).orderBy(col("doc_id"))
    decont
      .withColumn("bucket",
        conv(substring(md5(concat_ws("#", lit(salt), col("doc_id")).cast("binary")), 1, 8),
          16, 10).cast("long") % 100)
      .withColumn("split",
        when(col("bucket") < testPct, "test")
          .when(col("bucket") < testPct + valPct, "val")
          .otherwise("train"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("pack_id", expr(s"CAST((cum - n_tokens) DIV $budget AS BIGINT)"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("split"), col("pack_id"))
      .orderedBy("doc_id")
  }

  private def fullOracle(minTokens: Int, maxTokens: Int, nearThreshold: Double,
                         benchMax: Long, testPct: Int, valPct: Int,
                         salt: String, budget: Int): String = {
    val hv = OracleSql.hexPrefixToLong("h")
    s"""WITH corpus0 AS (SELECT doc_id, text, lang FROM documents WHERE doc_id >= $benchMax),
       |q AS (
       |  SELECT doc_id, text, lang, len(string_split(text, ' ')) AS n_tokens,
       |         md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
       |  FROM corpus0),
       |qf AS (SELECT * FROM q WHERE n_tokens >= $minTokens AND n_tokens <= $maxTokens),
       |keepers AS (SELECT min(doc_id) AS doc_id FROM qf GROUP BY fp),
       |kept AS (SELECT qf.* FROM qf JOIN keepers USING (doc_id)),
       |${Dedup.nearOracleCtes(4, 3, source = "kept")},
       |dropped AS (SELECT DISTINCT doc_b AS doc_id FROM pairs
       |            WHERE jaccard >= $nearThreshold),
       |clean AS (SELECT * FROM kept
       |          WHERE doc_id NOT IN (SELECT doc_id FROM dropped)),
       |bw AS (SELECT string_split(text, ' ') AS toks FROM documents
       |       WHERE doc_id < $benchMax),
       |bsh AS (SELECT DISTINCT md5(g) AS gh FROM (
       |  SELECT unnest(list_distinct(list_transform(range(1, len(toks) - 1),
       |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS g
       |  FROM bw WHERE len(toks) >= 3)),
       |cont AS (SELECT DISTINCT e.doc_id
       |         FROM (SELECT doc_id, md5(g) AS gh
       |               FROM (SELECT doc_id, unnest(s) AS g FROM sh)) e
       |         JOIN bsh USING (gh)),
       |dec AS (SELECT doc_id, lang, n_tokens FROM clean
       |        WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
       |hb AS (SELECT doc_id, lang, n_tokens,
       |              substr(md5('$salt' || '#' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
       |       FROM dec),
       |sp AS (SELECT doc_id, lang, n_tokens, ($hv) % 100 AS bucket FROM hb),
       |spl AS (SELECT doc_id, lang, n_tokens,
       |               CASE WHEN bucket < $testPct THEN 'test'
       |                    WHEN bucket < ${testPct + valPct} THEN 'val'
       |                    ELSE 'train' END AS split
       |        FROM sp)
       |SELECT doc_id, lang, n_tokens, split,
       |       CAST((sum(n_tokens) OVER (PARTITION BY split, lang ORDER BY doc_id)
       |             - n_tokens) // $budget AS BIGINT) AS pack_id
       |FROM spl ORDER BY doc_id""".stripMargin
  }

  /** Cross-document boilerplate STRIP — the rewrite half of chunk dedup
    * (CCNet/RefinedWeb-style: headers, navigation, license blurbs repeat
    * across many pages; [[Dedup.chunkDups]] measures them, this removes
    * them and re-emits the cleaned document). A token chunk (size-aligned,
    * non-overlapping — the q_dedup_chunk unit) is boilerplate when it
    * appears verbatim in >= `dfMin` DISTINCT documents.
    *
    * Scale design — the corpus text itself NEVER shuffles:
    *   1. chunk-hash postings (doc_id, start, 16-byte md5) shuffle once to
    *      count document frequency — narrow rows, the q_dedup_chunk shape;
    *   2. the boilerplate set (df >= dfMin) is by construction SMALL (high
    *      df ⇒ few distinct such chunks) and broadcasts;
    *   3. flagged occurrences (doc_id → chunk starts) aggregate — rows
    *      proportional to boilerplate hits, not the corpus — and broadcast
    *      back onto a second corpus scan, where one codegen'd projection
    *      drops the flagged spans and reassembles the text map-side.
    * Broadcast-budget caveat: step 3's hit table is bounded by the corpus'
    * boilerplate occurrence count; a pathological corpus (everything
    * boilerplate) exceeds the budget — the fallback is the plain doc_id
    * shuffle join of the hit table, which still never moves `text`.
    */
  def boilerplateStrip(s: SparkSession, d: String, size: Int = 16,
                       dfMin: Int = 2): DataFrame = {
    val ch = chunks(s, d, size, size).select(col("doc_id"), col("start"), col("chunk_md5"))
    val bp = ch.groupBy(col("chunk_md5"))
      .agg(countDistinct(col("doc_id")).as("ndocs"))
      .filter(col("ndocs") >= dfMin)
      .select(col("chunk_md5"))
    val flagged = ch.join(broadcast(bp), "chunk_md5")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("start"))).as("drop"))
    Tables.documents(s, d)
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
      .join(broadcast(flagged), Seq("doc_id"), "left")
      .withColumn("drop", coalesce(col("drop"), expr("CAST(array() AS ARRAY<BIGINT>)")))
      .withColumn("kept", expr(
        s"""flatten(transform(
           |  filter(sequence(1, size(toks), $size),
           |         s -> NOT array_contains(drop, CAST(s AS BIGINT))),
           |  s -> slice(toks, s, $size)))""".stripMargin))
      .select(
        col("doc_id"),
        expr(s"CAST(size(sequence(1, size(toks), $size)) AS BIGINT)").as("n_chunks"),
        functions.size(col("drop")).cast("long").as("bp_chunks"),
        functions.size(col("kept")).cast("long").as("clean_tok"),
        md5(expr("CAST(array_join(kept, ' ') AS BINARY)")).as("clean_md5"))
      .orderedBy("doc_id")
  }

  private def boilerplateOracle(size: Int, dfMin: Int): String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |st AS (SELECT doc_id, toks,
       |              unnest(range(1, len(toks) + 1, $size)) AS start FROM t),
       |c AS (SELECT doc_id, start, toks[start:start + ${size - 1}] AS chunk,
       |             md5(array_to_string(toks[start:start + ${size - 1}], ' ')) AS chunk_md5
       |      FROM st),
       |bp AS (SELECT chunk_md5 FROM c GROUP BY chunk_md5
       |       HAVING count(DISTINCT doc_id) >= $dfMin),
       |f AS (SELECT c.*, CASE WHEN bp.chunk_md5 IS NULL THEN 0 ELSE 1 END AS isbp
       |      FROM c LEFT JOIN bp USING (chunk_md5))
       |SELECT doc_id, count(*) AS n_chunks,
       |       CAST(sum(isbp) AS BIGINT) AS bp_chunks,
       |       CAST(coalesce(sum(len(chunk)) FILTER (WHERE isbp = 0), 0) AS BIGINT) AS clean_tok,
       |       md5(coalesce(array_to_string(
       |             flatten(list(chunk ORDER BY start) FILTER (WHERE isbp = 0)),
       |             ' '), '')) AS clean_md5
       |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Curriculum ordering — phase-bucketed, shard-shuffled corpus order (the
    * "easy → hard" schedule a curriculum-trained run consumes). Complexity
    * proxy: lexical diversity (distinct-token ratio, the q_quality
    * feature). Phase boundaries are the score's exact quartiles computed in
    * ONE one-row aggregate and broadcast back — phase assignment is then a
    * map-side comparison chain, NOT a global ntile() window (a corpus-wide
    * single-partition sort at 100 TB). Within a phase, consumption order
    * is a deterministic shuffle: md5-keyed order inside `nShards` hash
    * shards, so the per-shard row_number window is bounded by
    * corpus/(4·nShards) — production sets nShards ∝ corpus size; nothing
    * in the plan is corpus-global except the one-row quartile agg. */
  def curriculum(s: SparkSession, d: String, nShards: Int = 8): DataFrame = {
    val scored = Tables.documents(s, d)
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        round(lit(1.0) * size(array_distinct(col("toks"))) / size(col("toks")), 4)
          .as("score"))
    val cuts = scored.agg(
      expr("percentile(score, CAST(0.25 AS DOUBLE))").as("t1"),
      expr("percentile(score, CAST(0.5 AS DOUBLE))").as("t2"),
      expr("percentile(score, CAST(0.75 AS DOUBLE))").as("t3"))
    val keyed = scored.crossJoin(broadcast(cuts))
      .withColumn("phase", (lit(1) + (col("score") > col("t1")).cast("int")
        + (col("score") > col("t2")).cast("int")
        + (col("score") > col("t3")).cast("int")).cast("long"))
      .withColumn("h", md5(col("doc_id").cast("string").cast("binary")))
      .withColumn("shard",
        (conv(substring(col("h"), 1, 8), 16, 10).cast("long") % nShards).cast("long"))
    keyed
      .withColumn("pos", row_number().over(Window
        .partitionBy(col("phase"), col("shard"))
        .orderBy(col("h"), col("doc_id"))).cast("long"))
      .select(col("phase"), col("shard"), col("pos"), col("doc_id"), col("score"))
      .orderedBy("phase", "shard", "pos")
  }

  private def curriculumOracle(nShards: Int): String = {
    val hv = OracleSql.hexPrefixToLong("h", 8)
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |sc AS (SELECT doc_id,
       |              round(1.0 * len(list_distinct(toks)) / len(toks), 4) AS score
       |       FROM t),
       |cuts AS (SELECT quantile_cont(score, 0.25) AS t1,
       |                quantile_cont(score, 0.5) AS t2,
       |                quantile_cont(score, 0.75) AS t3 FROM sc),
       |ph AS (SELECT doc_id, score,
       |              CAST(1 + CASE WHEN score > t1 THEN 1 ELSE 0 END
       |                     + CASE WHEN score > t2 THEN 1 ELSE 0 END
       |                     + CASE WHEN score > t3 THEN 1 ELSE 0 END AS BIGINT) AS phase,
       |              md5(CAST(doc_id AS VARCHAR)) AS h
       |       FROM sc, cuts),
       |sh AS (SELECT doc_id, score, phase, h, ($hv) % $nShards AS shard FROM ph)
       |SELECT phase, CAST(shard AS BIGINT) AS shard,
       |       CAST(row_number() OVER (PARTITION BY phase, shard
       |              ORDER BY h, doc_id) AS BIGINT) AS pos,
       |       doc_id, score
       |FROM sh ORDER BY phase, shard, pos""".stripMargin
  }

  /** WEIGHTED sampling without replacement — Efraimidis–Spirakis
    * exponential clocks (the public A-ES scheme): each row draws a
    * deterministic uniform u ∈ (0,1] from a salted 32-bit md5 prefix and
    * competes with key = −ln(u)/w; the k smallest keys are the sample,
    * each row's inclusion probability proportional to its weight (here
    * n_chars — sample long documents preferentially, the token-budget
    * weighting a corpus subset draw uses). One map-side projection then
    * TakeOrderedAndProject — per-partition heaps, no shuffle of the
    * corpus, no RangePartitioner sampling pass; identical salted-hash
    * replay in the oracle (the q_sample_k / q_split_assign discipline).
    * Keys round to 12 decimals into an exact decimal so the cross-engine
    * ranking never hinges on an ln() ulp. */
  def sampleWeighted(s: SparkSession, d: String, k: Int = 25,
                     salt: String = "wsamp"): DataFrame = {
    val h = conv(substring(
      md5(concat(lit(s"$salt#"), col("doc_id").cast("string")).cast("binary")),
      1, 8), 16, 10).cast("long")
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars").as("w"), h.as("h"))
      .withColumn("key_dec", expr(
        "CAST(round(-ln((h + CAST(1 AS DOUBLE)) / CAST(4294967296 AS DOUBLE)) / w, 12) AS DECIMAL(20,12))"))
      .orderBy(col("key_dec"), col("doc_id")).limit(k)
      .select(
        row_number().over(Window.orderBy(col("key_dec"), col("doc_id")))
          .cast("long").as("rnk"),
        col("doc_id"), col("w"), col("key_dec").cast("double").as("key"))
      .orderedBy("rnk")
  }

  private def sampleWeightedOracle(k: Int, salt: String): String = {
    val hv = OracleSql.hexPrefixToLong("hx")
    s"""WITH b AS (
       |  SELECT doc_id, n_chars AS w, ($hv) AS h FROM (
       |    SELECT doc_id, n_chars,
       |           substr(md5('$salt#' || CAST(doc_id AS VARCHAR)), 1, 8) AS hx
       |    FROM documents)),
       |kd AS (SELECT doc_id, w,
       |              CAST(round(-ln((h + CAST(1 AS DOUBLE)) / CAST(4294967296 AS DOUBLE)) / w, 12)
       |                   AS DECIMAL(20,12)) AS key_dec
       |       FROM b),
       |top AS (SELECT * FROM kd ORDER BY key_dec, doc_id LIMIT $k)
       |SELECT CAST(row_number() OVER (ORDER BY key_dec, doc_id) AS BIGINT) AS rnk,
       |       doc_id, w, CAST(key_dec AS DOUBLE) AS key
       |FROM top ORDER BY rnk""".stripMargin
  }

  val defs: Map[String, QueryDef] = Map(
    "q_boilerplate" -> QueryDef(boilerplateStrip(_, _), Some(boilerplateOracle(16, 2))),
    "q_sample_weighted" -> QueryDef(sampleWeighted(_, _),
      Some(sampleWeightedOracle(25, "wsamp"))),
    "q_curriculum" -> QueryDef(curriculum(_, _), Some(curriculumOracle(8))),
    "q_pipeline_clean" -> QueryDef(cleanCorpus(_, _), Some(oracle(20, 500, 0.8))),
    "q_pipeline_full" -> QueryDef(fullPipeline(_, _),
      Some(fullOracle(20, 500, 0.8, 10L, 5, 5, "split", 2048))),
    "q_pack_greedy" -> QueryDef(packGreedy(_, _), Some(packOracle(2048))),
    "q_chunk_split" -> QueryDef(chunkSplit(_, _), Some(chunkOracle(64, 48))),
    "q_mix_weights" -> QueryDef(mixWeights, Some(mixWeightsOracle)),
    "q_pack_tokens" -> QueryDef(packTokens(_, _), Some(packTokensOracle(1024))),
    "q_split_assign" -> QueryDef(splitAssign(_, _), Some(splitOracle(5, 5, "split"))),
    // near-dup clusters move between splits as ONE unit — the train/test
    // contamination guard a per-doc hash split silently lacks
    "q_split_leakfree" -> QueryDef(splitLeakfree(_, _),
      Some(splitLeakfreeOracle(0.8, 5, 5, "split"))),
    // per-source release datasheet: volume, tokens, language spread,
    // whole-corpus exact-dup rate
    "q_datasheet" -> QueryDef(datasheet, Some(datasheetOracle)),
    // per-source token mass surviving the full cleaning pipeline — the
    // corpus-budgeting number (plan on kept tokens, not raw)
    "q_token_yield" -> QueryDef(tokenYield(_, _),
      Some(tokenYieldOracle(20, 500, 0.8))),
    "q_shuffle_shard" -> QueryDef(shuffleShard(_, _),
      Some(shuffleShardOracle(8, "epoch0"))),
    "q_sample_stratified" -> QueryDef(sampleStratified(_, _),
      Some(sampleStratifiedOracle(25, 42))),
    "q_decontaminate" -> QueryDef(decontaminate(_, _), Some(decontOracle(10L)))
  )
}

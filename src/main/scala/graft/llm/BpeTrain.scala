package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Artifacts, QueryDef, Tables}
import graft.core.QueryDef.OrderedOut

/** BPE merge-table training (Sennrich et al. 2016) — the tokenizer-
  * construction operator of an LLM data pipeline: iteratively merge the
  * most frequent adjacent symbol pair over a word-frequency table, emitting
  * the ranked merge list (the artifact a tokenizer ships). Complements
  * [[graft.expr.BpeCount]]'s token*counting* (q_token_bpe), which applies a
  * fixed segmenter; this TRAINS the segmenter.
  *
  * Scale shape: the corpus is touched exactly ONCE — the word-frequency
  * aggregation (explode map-side, partial agg before its single exchange,
  * TakeOrderedAndProject top-V cap). Every merge round then iterates on the
  * ≤V-row vocabulary frame: pair counts are a few-hundred-row aggregation,
  * the winning pair is a one-row broadcast (never collected to the driver),
  * and the merge application is a per-row string replace. Per-round
  * `localCheckpoint` pins each round's ≤V-row result so round r's lineage
  * does not replay rounds 1..r-1 (the [[Dedup.ccStars]] iterative
  * discipline); at 100 TB only the word-count pass grows — the training
  * loop's input is capped by V regardless of corpus size.
  *
  * Determinism: symbols join with TWO spaces so the merge pattern
  * `' a  b '` keeps one delimiter space on each side — adjacent repeats
  * ("a b a b") then merge in one pass exactly like reference BPE, and
  * leftmost-first overlap resolution ("a a a" → "aa a") is the shared
  * left-to-right non-overlapping `replace` semantics of both engines
  * (verified: Java UTF8String.replace ≡ DuckDB replace on both cases).
  * Merge ties break on the pair string; the top-V vocabulary cap ties on
  * the word. The oracle unrolls the same rounds as CTE chains.
  */
object BpeTrain {

  /** Gate knobs: top-V word-frequency table, N merge rounds. Production
    * would raise V (the loop cost is V-bounded, not corpus-bounded) and
    * run to a target vocab size. */
  val topWords = 200
  val nMerges = 20

  /** Characters joined by the two-space delimiter + end-of-word marker:
    * "low" → "l  o  w  </w>". */
  private def spacedChars(word: Column): Column =
    concat(array_join(
      transform(sequence(lit(1), length(word)), i => word.substr(i, lit(1))),
      "  "), lit("  </w>"))

  /** (seq, f): the word-frequency table in symbol-sequence form — the only
    * corpus-wide computation. */
  private def vocab0(docs: DataFrame): DataFrame =
    docs
      .select(explode(TextStats.tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("word")).limit(topWords)
      .select(spacedChars(col("word")).as("seq"), col("f"))

  /** Weighted adjacent-pair counts over the current vocabulary. */
  private def pairCounts(v: DataFrame): DataFrame =
    v.select(col("f"), split(col("seq"), "  ").as("sy"))
      .filter(size(col("sy")) >= 2)
      .select(col("f"), explode(expr(
        "transform(sequence(1, size(sy) - 1), " +
          "i -> concat(element_at(sy, i), ' ', element_at(sy, i + 1)))")).as("pair"))
      .groupBy(col("pair")).agg(sum(col("f")).as("cnt"))

  /** The ranked merge table: (rnk, pair, cnt) — pair as "a b", cnt the
    * weighted frequency at merge time. */
  def bpeTrain(s: SparkSession, d: String): DataFrame =
    trainFrom(Tables.documents(s, d), nMerges).orderedBy("rnk")

  /** The training loop over any (text) frame — split out so the spec can
    * replay the hand-checkable Sennrich fixture through the real chain.
    * `checkpoint = false` keeps the whole loop one lazy Catalyst plan
    * (plan-shape audits only — round r's lineage then replays rounds
    * 1..r-1, the exact cost the default checkpointing exists to avoid). */
  private[graft] def trainFrom(docs: DataFrame, merges: Int,
                               checkpoint: Boolean = true,
                               checkpointDir: Option[String] = None): DataFrame = {
    def pin(df: DataFrame): DataFrame =
      if (checkpoint) graft.core.QueryDef.pinRound(df, checkpointDir) else df
    var v = pin(vocab0(docs))
    val rounds = (1 to merges).map { r =>
      val best = pairCounts(v)
        .orderBy(col("cnt").desc, col("pair")).limit(1)
      // ' a  b ' → ' ab ': one delimiter space survives on each side, so
      // the double-space convention is restored around the merged symbol.
      // ONE pin per round (r20 opt): the merged vocabulary CARRIES the
      // winning (pair, cnt) as constant columns, so the round costs one
      // broadcast build (which executes the pair-count argmax) plus one
      // checkpoint — the separate best-pin job and its ~20 ms driver gap
      // leave the loop.
      v = pin(v.crossJoin(broadcast(best))
        .select(trim(expr(
          "replace(concat(' ', seq, ' '), " +
            "concat(' ', replace(pair, ' ', '  '), ' '), " +
            "concat(' ', replace(pair, ' ', ''), ' '))")).as("seq"), col("f"),
          col("pair"), col("cnt")))
      // every vocab row carries the SAME constant (pair, cnt) for this
      // round, so the merge-table row is the distinct of the three
      // columns. Emitted WITHOUT a per-round limit(1): that planned a
      // LocalLimit+Exchange(SinglePartition)+GlobalLimit sub-plan over
      // the pinned vocab PER ROUND — 40 limits / 48 Exchanges in
      // q_bpe_apply, driver-measured 2x slower (r20 verdict #1). The
      // single distinct() below collapses all rounds in ONE exchange.
      val out = v.select(lit(r.toLong).as("rnk"), col("pair"), col("cnt"))
      v = v.drop("pair", "cnt")
      out
    }
    rounds.reduce(_ unionAll _).distinct()
  }

  /** The oracle unrolls the identical rounds: v0 (top-V spelled-out
    * vocabulary), then per round (pair counts, 1-row argmax, replace).
    * Every per-round CTE is MATERIALIZED: DuckDB inlines plain CTEs, and
    * each round references the previous one from two places, so the
    * 20-round chain would otherwise expand ~3^20 subplans (observed as a
    * too-many-open-files abort re-scanning documents.parquet). */
  /** The training-round CTE chain (wf, v0, p_r/b_r/v_r per round) —
    * shared by the train oracle and the apply oracle. */
  private def trainCtes: String = {
    val rounds = (1 to nMerges).map { r =>
      s"""p$r AS MATERIALIZED (
         |  SELECT pair, CAST(sum(f) AS BIGINT) AS cnt FROM (
         |    SELECT f, unnest(list_transform(range(1, len(sy)),
         |        i -> sy[CAST(i AS INT)] || ' ' || sy[CAST(i + 1 AS INT)])) AS pair
         |    FROM (SELECT f, string_split(seq, '  ') AS sy FROM v${r - 1}))
         |  GROUP BY pair),
         |b$r AS MATERIALIZED (SELECT pair, cnt FROM p$r ORDER BY cnt DESC, pair LIMIT 1),
         |v$r AS MATERIALIZED (
         |  SELECT trim(replace(' ' || seq || ' ',
         |           ' ' || replace(pair, ' ', '  ') || ' ',
         |           ' ' || replace(pair, ' ', '') || ' ')) AS seq, f
         |  FROM v${r - 1}, b$r)""".stripMargin
    }.mkString(",\n")
    s"""wf AS MATERIALIZED (
       |  SELECT word, count(*) AS f FROM (
       |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE length(word) > 0
       |  GROUP BY word ORDER BY f DESC, word LIMIT $topWords),
       |v0 AS MATERIALIZED (
       |  SELECT array_to_string(list_transform(range(1, length(word) + 1),
       |           i -> substr(word, CAST(i AS INT), 1)), '  ') || '  </w>' AS seq, f
       |  FROM wf),
       |$rounds""".stripMargin
  }

  private def bpeOracle: String = {
    val out = (1 to nMerges)
      .map(r => s"SELECT $r AS rnk, pair, cnt FROM b$r")
      .mkString("\nUNION ALL\n")
    s"""WITH $trainCtes
       |SELECT CAST(rnk AS BIGINT) AS rnk, pair, cnt FROM (
       |$out
       |) ORDER BY rnk""".stripMargin
  }

  /** APPLY the trained merges — the encode half of the tokenizer loop
    * (train on the corpus, then tokenize the corpus with the result):
    * every document's words encode through the `nMerges` ranked merges in
    * rank order, and the query reports per-doc word count, subword count,
    * and the fertility ratio (subwords per word — THE tokenizer-quality
    * number a data pipeline tracks per language/source).
    *
    * Scale shape: merges collapse to ONE broadcast row (rank-sorted
    * array); encoding runs over the DISTINCT-word vocabulary, not the
    * token stream — the vocabulary trick: apply 20 folds to |vocab| words
    * once, then join the (word → n_sub) table back onto the per-doc word
    * counts (broadcast at gate scale; a corpus-scale run bucket-joins on
    * word). The fold is `aggregate` over the ≤nMerges-element merge array
    * — bounded interpreted work per DISTINCT word, nothing per token.
    * Boundary-space equivalence with the training rounds: the fold keeps
    * the ' ' sentinels across all rounds and trims once — identical to
    * trim-per-round + re-wrap, since every replace preserves the
    * boundary spaces it consumes. */
  def bpeApply(s: SparkSession, d: String): DataFrame =
    bpeApplyFrom(Tables.documents(s, d), nMerges)

  /** [[bpeApply]] served from a PERSISTED merge table — the build-once
    * artifact lifecycle ([[Artifacts]]) applied
    * to the tokenizer: production trains ONCE and encodes forever, so
    * the inline re-train q_bpe_apply pays per run (~2.2 s of iterative
    * training jobs) is purely a self-containment artifact. The merge
    * table (nMerges rows) persists under the corpus fingerprint; the
    * serve side folds it into the same one-row broadcast and runs ONLY
    * the encode chain. Identical oracle — persisted ≡ inline is itself
    * the claim. */
  def bpeServed(s: SparkSession, d: String): DataFrame = {
    val path = Artifacts.publishOnce(s, s"${Tables.artifactRoot(s)}/graft_bpe_merges/" +
        s"v1_${nMerges}_${Artifacts.fingerprint(s, d, "documents")}") { staging =>
      trainFrom(Tables.documents(s, d), nMerges)
        .write.mode("overwrite").parquet(staging)
    }
    val mrow = s.read.parquet(path)
      .agg(array_sort(collect_list(struct(col("rnk"), col("pair")))).as("ms"))
    encodeWith(Tables.documents(s, d), mrow)
  }

  private[graft] def bpeApplyFrom(docs: DataFrame, merges: Int): DataFrame = {
    val mrow = trainFrom(docs, merges)
      .agg(array_sort(collect_list(struct(col("rnk"), col("pair")))).as("ms"))
    encodeWith(docs, mrow)
  }

  /** The encode chain shared by the inline and served apply paths: one
    * fold over the distinct-word vocabulary against the broadcast merge
    * row, then the doc-level fertility roll-up. */
  private def encodeWith(docs: DataFrame, mrow: DataFrame): DataFrame = {
    val wc = docs
      .select(col("doc_id"), explode(TextStats.tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("f"))
    val encoded = wc.select(col("word")).distinct()
      .crossJoin(broadcast(mrow))
      .withColumn("seq0", spacedChars(col("word")))
      .withColumn("enc", expr(
        """trim(aggregate(ms, concat(' ', seq0, ' '), (acc, m) ->
          | replace(acc,
          |   concat(' ', replace(m.pair, ' ', '  '), ' '),
          |   concat(' ', replace(m.pair, ' ', ''), ' '))))""".stripMargin))
      .select(col("word"), size(split(col("enc"), "  ")).cast("long").as("n_sub"))
    wc.join(broadcast(encoded), "word")
      .groupBy(col("doc_id"))
      .agg(sum(col("f")).as("n_words"),
        sum(col("f") * col("n_sub")).as("n_subtokens"))
      .withColumn("fertility",
        round(lit(1.0) * col("n_subtokens") / col("n_words"), 4))
      .orderedBy("doc_id")
  }

  /** Unrolls the same rank-ordered fold: s_r applies merge r to the
    * spelled-out DISTINCT-word vocabulary, n_sub counts the surviving
    * double-space-delimited symbols. */
  private def bpeApplyOracle: String = {
    val applies = (1 to nMerges).map { r =>
      s"""s$r AS (
         |  SELECT word, replace(acc,
         |           ' ' || replace(pair, ' ', '  ') || ' ',
         |           ' ' || replace(pair, ' ', '') || ' ') AS acc
         |  FROM s${r - 1}, b$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH $trainCtes,
       |w AS (
       |  SELECT doc_id, word FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE length(word) > 0),
       |wc AS (SELECT doc_id, word, count(*) AS f FROM w GROUP BY doc_id, word),
       |s0 AS (
       |  SELECT word, ' ' || array_to_string(list_transform(range(1, length(word) + 1),
       |           i -> substr(word, CAST(i AS INT), 1)), '  ') || '  </w>' || ' ' AS acc
       |  FROM (SELECT DISTINCT word FROM wc)),
       |$applies,
       |enc AS (SELECT word,
       |               CAST(len(string_split(trim(acc), '  ')) AS BIGINT) AS n_sub
       |        FROM s$nMerges)
       |SELECT doc_id, CAST(sum(f) AS BIGINT) AS n_words,
       |       CAST(sum(f * n_sub) AS BIGINT) AS n_subtokens,
       |       round(1.0 * sum(f * n_sub) / sum(f), 4) AS fertility
       |FROM wc JOIN enc USING (word)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  val defs: Map[String, QueryDef] = Map(
    "q_bpe_train" -> QueryDef(bpeTrain, Some(bpeOracle)),
    // the encode half: trained merges applied corpus-wide in rank order
    "q_bpe_apply" -> QueryDef(bpeApply, Some(bpeApplyOracle)),
    // the same encode served from the persisted merge-table artifact
    "q_bpe_served" -> QueryDef(bpeServed, Some(bpeApplyOracle))
  )
}

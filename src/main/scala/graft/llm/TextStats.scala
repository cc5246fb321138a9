package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{OracleSql, QueryDef, Tables}
import graft.core.QueryDef.OrderedOut

/** Text-analysis operators for an LLM training-data pipeline: tokenization,
  * corpus statistics, n-gram language-ID scoring, quality signals, document
  * fingerprinting. All per-row scalar work or single hash aggregations —
  * embarrassingly parallel at 100 TB, no driver-side materialization.
  */
object TextStats {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct word-level n-gram shingles over an array<string> column (pass
    * the column name), the unit of near-dup detection and fingerprinting.
    * Delegates to the native `word_shingles` expression
    * (graft.expr.WordShingles — one evaluation per row; the HOF
    * formulation's interpreted per-element lambdas were the near-dup
    * pipeline's cost floor). */
  def shinglesExpr(tokensCol: String, n: Int = 3): Column =
    expr(s"word_shingles(`$tokensCol`, $n)")

  /** Spark-SQL string-literal escape for a marker word spliced into an
    * `expr(...)` lambda (backslash first, then quote — Spark string
    * literals are backslash-escaped, and '' would parse as two adjacent
    * literals). The built-in langMarkers are plain words; this keeps
    * caller-supplied markers with quotes/backslashes from breaking the
    * parse or injecting expression text. */
  private def sqlLit(m: String): String =
    m.replace("\\", "\\\\").replace("'", "\\'")

  /** Marker-word hit count with multiplicity over a MATERIALIZED
    * array<string> column — the scoring primitive of marker-based language
    * ID. Callers must project the token array once first (split inside
    * each filter lambda would re-tokenize per language — r2's #2 bench
    * cost); CollapseProject keeps the multi-referenced split alias. */
  def markerHitsToks(toksCol: String, markers: Seq[String]): Column = {
    val pred = markers.map(m => s"x = '${sqlLit(m)}'").mkString(" or ")
    // int64 to exactly match DuckDB's len() output type
    size(expr(s"filter(`$toksCol`, x -> $pred)")).cast("long")
  }

  /** Convenience single-use variant splitting inline — only for callers
    * that score ONE marker set (multiple sets: materialize + markerHitsToks). */
  def markerHitsExpr(textExpr: String, markers: Seq[String]): Column = {
    val pred = markers.map(m => s"x = '${sqlLit(m)}'").mkString(" or ")
    size(expr(s"filter(split($textExpr, ' '), x -> $pred)")).cast("long")
  }

  val langMarkers: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "das", "und"),
    "en" -> Seq("the", "a", "of", "and"),
    "es" -> Seq("el", "la", "los", "de"),
    "fr" -> Seq("les", "du", "et", "une"),
    "zh" -> Seq("的", "是", "了", "在")
  )
  private val langsOrdered = langMarkers.keys.toSeq.sorted

  /** Per-language corpus statistics: doc counts, token/char totals, an exact
    * int-ratio quality signal (one IEEE division of exact integers —
    * identical double in any engine). */
  def textStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("doc_cnt"),
        // both sums emitted as int64 on both sides (DuckDB sums to HUGEINT)
        sum(size(tokens(col("text")))).cast("long").as("sum_tokens"),
        sum(col("n_chars")).cast("long").as("sum_chars"),
        countDistinct(col("source")).as("n_sources")
      )
      .withColumn("chars_per_token",
        round(lit(1.0) * col("sum_chars") / col("sum_tokens"), 4))
      .orderedBy("lang")

  /** Token counting three ways: whitespace, a BPE-ish regex ([a-z0-9]+ runs),
    * and character length. */
  def tokenCount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      size(tokens(col("text"))).cast("long").as("ws_tokens"),
      size(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0))).cast("long").as("re_tokens"),
      length(col("text")).cast("long").as("chars")
    ).orderedBy("doc_id")

  /** Tokenizer-aware token counting: whitespace tokens next to the native
    * `bpe_count` codegen expression (graft.expr.BpeCount — GPT-2-ish
    * pre-tokenizer runs at ~4 chars/token), the budget unit a packing
    * stage should use instead of whitespace words. Per-row scalar work,
    * whole-stage codegen end to end. */
  def tokenBpe(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      size(tokens(col("text"))).cast("long").as("ws_tokens"),
      expr("bpe_count(text)").as("bpe_tokens"),
      length(col("text")).cast("long").as("chars")
    ).orderedBy("doc_id")

  /** DuckDB replay of [[graft.expr.BpeCount]]: the regex formulation the
    * expression's scaladoc documents, piece lengths in codepoints. */
  private val tokenBpeOracle: String =
    """SELECT doc_id,
      |       len(string_split(text, ' ')) AS ws_tokens,
      |       CAST(COALESCE(list_sum(list_transform(
      |         regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r\f]+'),
      |         p -> (len(p) + 3) // 4)), 0) AS BIGINT) AS bpe_tokens,
      |       length(text) AS chars
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Repetition-based quality signals (the Gopher-style filters a corpus
    * cleaning stage runs): per doc, total/distinct token counts, the top
    * unigram count and the top bigram count (with multiplicity —
    * `word_shingles(toks, 2, false)`), and a `repetitive` flag from exact
    * integer comparisons (top unigram > 20% of tokens, or top bigram >
    * 10%) — no float ratio ever emitted or compared.
    *
    * Scale shape: one explode per gram relation (linear in corpus tokens),
    * partial-aggregating hash counts keyed on (doc_id, gram) — bodies
    * never shuffle, and the per-doc rollup is a second map-side-combining
    * hash agg. The bigram arm joins back by doc_id (docs under 2 tokens
    * have no bigrams — coalesced 0). */
  /** Character-class ENTROPY — the Gopher/RefinedWeb-style gibberish
    * detector (low entropy = repeated filler, high entropy ≈ uniform noise
    * or encoded blobs; both tails get filtered): Shannon entropy over the
    * 36 alphanumeric character classes. Implemented as a PURE PROJECTION —
    * each class count is `length(text) − length(replace(text, c, ''))`,
    * 36 fixed terms folded into one expression tree, so the operator
    * needs no explode, no aggregate, and no shuffle at all: the cheapest
    * possible 100 TB shape (scan → project). Determinism: counts are
    * exact ints, each class term is a FIXED tree of IEEE ops
    * (−(n/N)·log2(n/N)) on exactly-equal inputs, and the 36-term sum is a
    * fixed-order COLUMN expression (not an aggregate), so there is no
    * summation-order hazard; one final round(3). Classes with n=0
    * contribute 0 via the same CASE on both engines. The residual,
    * accepted cross-engine hazard is log2() itself — libm-dependent, not
    * IEEE-pinned, same as the q_tfidf/q_quality_lm precedent: a 1–2 ulp
    * divergence flips the rounded output only if a doc's 36-term sum
    * lands within ~1e-13 of a 0.0005 boundary (none do at either SF;
    * unlike q_graph_pagerank, whose per-round feedback AMPLIFIES ulp
    * drift and therefore went fixed-point, this is a single non-iterated
    * projection). */
  def qualityEntropy(s: SparkSession, d: String): DataFrame =
    // fanOut because the driver parquet is one row group (q_unpivot class)
    qualityEntropyFrom(graft.core.QueryDef.fanOut(Tables.documents(s, d)))
      .orderedBy("doc_id")

  /** The scorer over an arbitrary (doc_id, text) frame — shared with the
    * stateless streaming bridge (pure projections run unchanged under the
    * micro-batch planner; no state store is ever instantiated).
    *
    * ONE pass over the bytes via the native histogram
    * ([[graft.expr.CharClassCounts]]) — the 36-replace() formulation this
    * replaces walked the string once per class with an allocation each
    * time (measured 2.4 s at sf0.1; the histogram runs sub-second). The
    * histogram lands in its OWN projection so the 36 element_at reads in
    * the entropy terms consume one materialized array, not 36 re-runs;
    * and n gets ITS OWN projection too: inlined, the 36-element sum would
    * be re-expanded into all ~72 term positions (≈2,600 element_at nodes
    * — a codegen blow-up measured as 10× run-to-run swings); as an
    * attribute each term is 2 array reads + 4 IEEE ops. */
  private[llm] def qualityEntropyFrom(docs: DataFrame): DataFrame = {
    val counted = docs
      .select(col("doc_id"), call_function("char_class_counts", col("text")).as("cs"))
    val cnt = (1 to 36).map(i => element_at(col("cs"), i))
    val withN = counted.select(col("doc_id"), col("cs"),
      cnt.reduce(_ + _).as("n_alnum"))
    val n = col("n_alnum")
    val term = (c: Column) =>
      when(c > 0, -(c.cast("double") / n.cast("double")) *
        log2(c.cast("double") / n.cast("double"))).otherwise(lit(0.0))
    val h = cnt.map(term).reduce(_ + _)
    withN.select(col("doc_id"), col("n_alnum"), round(h, 3).as("entropy"))
  }

  /** The entropy scorer under the STREAMING engine (21st bridge — and the
    * only STATELESS one): a pure projection needs no aggregation state,
    * so it runs APPEND mode with no state store instantiated at all,
    * completing the bridge taxonomy (complete-mode aggs, watermarked
    * append, custom-state processors, foreachBatch, rate-limited
    * multi-batch, and now stateless row-at-a-time scoring — the shape a
    * production scorer fleet runs on an arriving corpus). Identical
    * oracle SQL as the batch twin. */
  def entropyStreamed(s: SparkSession, d: String): DataFrame =
    Tables.runStreamAppend(s, "entropy_streamed_") { cs =>
      qualityEntropyFrom(Tables.documentsStream(cs, d))
    }.orderedBy("doc_id")

  private def qualityEntropyOracle: String = {
    val classes = ('a' to 'z') ++ ('0' to '9')
    val cnt = (c: Char) => s"CAST(length(text) - length(replace(text, '$c', '')) AS BIGINT)"
    val n = classes.map(cnt).mkString(" + ")
    val terms = classes.map { c =>
      s"""CASE WHEN ${cnt(c)} > 0
         |  THEN -(CAST(${cnt(c)} AS DOUBLE) / CAST(n AS DOUBLE))
         |       * log2(CAST(${cnt(c)} AS DOUBLE) / CAST(n AS DOUBLE))
         |  ELSE 0.0 END""".stripMargin
    }.mkString(" + ")
    s"""WITH b AS (SELECT doc_id, text, $n AS n FROM documents)
       |SELECT doc_id, n AS n_alnum, round($terms, 3) AS entropy
       |FROM b ORDER BY doc_id""".stripMargin
  }

  def qualityRep(s: SparkSession, d: String): DataFrame = {
    val t = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val uni = t.select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(
        sum(col("c")).cast("long").as("total_tokens"),
        count(lit(1)).as("distinct_tokens"),
        max(col("c")).as("top_tok"))
    val bi = t.select(col("doc_id"),
        explode(expr("word_shingles(toks, 2, false)")).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top_bigram"))
    uni.join(bi, Seq("doc_id"), "left")
      .withColumn("top_bigram", coalesce(col("top_bigram"), lit(0L)))
      .withColumn("repetitive",
        col("top_tok") * 5 > col("total_tokens") ||
          col("top_bigram") * 10 > col("total_tokens"))
      .orderedBy("doc_id")
  }

  private val qualityRepOracle: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |uc AS (SELECT doc_id, tok, count(*) AS c
      |       FROM (SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY doc_id, tok),
      |ua AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS total_tokens,
      |              count(*) AS distinct_tokens, CAST(max(c) AS BIGINT) AS top_tok
      |       FROM uc GROUP BY doc_id),
      |bc AS (SELECT doc_id, bg, count(*) AS c
      |       FROM (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
      |                      i -> toks[i] || ' ' || toks[i + 1])) AS bg FROM t)
      |       GROUP BY doc_id, bg),
      |ba AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bigram FROM bc GROUP BY doc_id)
      |SELECT ua.doc_id, ua.total_tokens, ua.distinct_tokens, ua.top_tok,
      |       COALESCE(ba.top_bigram, 0) AS top_bigram,
      |       (ua.top_tok * 5 > ua.total_tokens
      |        OR COALESCE(ba.top_bigram, 0) * 10 > ua.total_tokens) AS repetitive
      |FROM ua LEFT JOIN ba ON ua.doc_id = ba.doc_id
      |ORDER BY ua.doc_id""".stripMargin

  /** Character-TRIGRAM language ID — the n-gram-profile method real
    * language identifiers use (vs [[langId]]'s fixed marker words):
    * per-language profiles are the top-`topM` char trigrams of that
    * language's corpus slice (self-supervised — no external word lists),
    * a doc scores each language by how many of its DISTINCT trigrams hit
    * the profile (exact integers, no floats anywhere), argmax with ties
    * to the lexicographically first language. Docs under 3 chars score 0
    * everywhere and fall to the tie rule — deterministically, both
    * engines.
    *
    * Scale shape: profile building is one (lang, trigram) hash count +
    * per-lang WindowGroupLimit top-m; scoring joins the exploded doc
    * trigrams against the BROADCAST profile (|langs|·topM rows — tiny
    * forever); the argmax window partitions by doc (|langs| rows per
    * group). Nothing global, bodies never shuffle. */
  def langNgram(s: SparkSession, d: String, topM: Int = 8): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), lower(col("text")).as("c"))
    // char_shingles (graft.expr.CharShingles) decodes each string ONCE —
    // the transform(sequence(...), i -> substring(c, i, 3)) formulation
    // ran an interpreted lambda per position, each substring re-decoding
    // from the start (5.2 s -> the dominant cost at sf0.1). Short strings
    // yield an empty array (no descending-sequence guard needed).
    val triAll = docs
      .select(col("lang"), explode(expr("char_shingles(c, 3, false)")).as("tg"))
    val wP = Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("tg"))
    val profile = triAll.groupBy(col("lang"), col("tg"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(wP)).filter(col("rn") <= topM)
      .select(col("lang").as("plang"), col("tg"))
    val docTri = docs
      .select(col("doc_id"), explode(expr("char_shingles(c, 3)")).as("tg"))
    val hits = docTri.join(broadcast(profile), "tg")
      .groupBy(col("doc_id"), col("plang")).agg(count(lit(1)).as("h"))
    val grid = docs.select(col("doc_id"), col("lang"))
      .crossJoin(broadcast(profile.select(col("plang")).distinct()))
    val wD = Window.partitionBy(col("doc_id")).orderBy(col("h").desc, col("plang"))
    grid.join(hits, Seq("doc_id", "plang"), "left")
      .withColumn("h", coalesce(col("h"), lit(0L)))
      .withColumn("rn", row_number().over(wD)).filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("plang").as("pred"),
        col("h").as("hits"))
      .withColumn("correct", col("pred") === col("lang"))
      .orderedBy("doc_id")
  }

  private def langNgramOracle(topM: Int): String =
    s"""WITH d AS (SELECT doc_id, lang, lower(text) AS c FROM documents),
       |ta AS (SELECT lang, unnest(list_transform(range(1, length(c) - 1),
       |                    i -> substr(c, i, 3))) AS tg
       |       FROM d WHERE length(c) >= 3),
       |pc AS (SELECT lang, tg, count(*) AS cnt FROM ta GROUP BY lang, tg),
       |prof AS (SELECT lang AS plang, tg FROM (
       |    SELECT lang, tg,
       |           row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tg) AS rn
       |    FROM pc) WHERE rn <= $topM),
       |dt AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |                range(1, length(c) - 1), i -> substr(c, i, 3)))) AS tg
       |       FROM d WHERE length(c) >= 3),
       |hits AS (SELECT doc_id, plang, count(*) AS h
       |         FROM dt JOIN prof USING (tg) GROUP BY doc_id, plang),
       |grid AS (SELECT d.doc_id, d.lang, p.plang
       |         FROM d CROSS JOIN (SELECT DISTINCT plang FROM prof) p),
       |sc AS (SELECT g.doc_id, g.lang, g.plang, COALESCE(h.h, 0) AS h
       |       FROM grid g LEFT JOIN hits h
       |         ON h.doc_id = g.doc_id AND h.plang = g.plang),
       |r AS (SELECT doc_id, lang, plang, h,
       |             row_number() OVER (PARTITION BY doc_id
       |               ORDER BY h DESC, plang) AS rn
       |      FROM sc)
       |SELECT doc_id, lang, plang AS pred, CAST(h AS BIGINT) AS hits,
       |       plang = lang AS correct
       |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** PMI-ranked co-occurrence: the top-k bigrams by pointwise mutual
    * information — the collocation-mining primitive (phrase detection,
    * tokenizer-merge candidates). PMI = ln(N·c_xy / (c_x·c_y)) is MONOTONE
    * in its argument, so the ranking sorts by the exact-integer ratio
    * itself (two IEEE multiplies + one divide over exactly-representable
    * counts — bit-identical cross-engine) and ln never has to leave the
    * query or reach an output; rank-only emission, tie-broken on the
    * bigram. `minCount` floors the bigram count (PMI is noise-maximal on
    * hapax pairs). Scale shape: two gram-keyed hash counts (map-side
    * partials), the scalar N broadcast, vocabulary joins on the word key;
    * nothing global except the final top-k TakeOrdered/window over the
    * already-filtered collocation set. */
  def cooccurPmi(s: SparkSession, d: String,
                 minCount: Int = 5, k: Int = 25): DataFrame = {
    val t = Tables.documents(s, d).select(tokens(col("text")).as("toks"))
    val uni = t.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cw"))
    val bi = t.select(explode(expr("word_shingles(toks, 2, false)")).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("cxy"))
      .filter(col("cxy") >= minCount)
    val nb = t.select(
      sum(when(size(col("toks")) >= 2, size(col("toks")) - 1).otherwise(0))
        .cast("double").as("nb"))
    val scored = bi.crossJoin(broadcast(nb))
      .withColumn("w1", element_at(split(col("bg"), " "), 1))
      .withColumn("w2", element_at(split(col("bg"), " "), 2))
      .join(uni.select(col("w").as("w1"), col("cw").as("cw1")), "w1")
      .join(uni.select(col("w").as("w2"), col("cw").as("cw2")), "w2")
      .withColumn("ratio",
        col("nb") * col("cxy") / (col("cw1").cast("double") * col("cw2")))
    val wR = Window.orderBy(col("ratio").desc, col("bg"))
    scored.withColumn("rnk", row_number().over(wR)).filter(col("rnk") <= k)
      .select(col("bg"), col("rnk").cast("long").as("rnk"))
      .orderedBy("bg")
  }

  private def cooccurPmiOracle(minCount: Int, k: Int): String =
    s"""WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
       |uni AS (SELECT w, count(*) AS cw
       |        FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
       |bi AS (SELECT bg, count(*) AS cxy
       |       FROM (SELECT unnest(list_transform(range(1, len(toks)),
       |                      i -> toks[i] || ' ' || toks[i + 1])) AS bg FROM t)
       |       GROUP BY bg HAVING count(*) >= $minCount),
       |n AS (SELECT CAST(sum(CASE WHEN len(toks) >= 2 THEN len(toks) - 1
       |                           ELSE 0 END) AS DOUBLE) AS nb FROM t),
       |j AS (SELECT bg,
       |             nb * cxy / (CAST(u1.cw AS DOUBLE) * u2.cw) AS ratio
       |      FROM bi CROSS JOIN n
       |      JOIN uni u1 ON u1.w = string_split(bg, ' ')[1]
       |      JOIN uni u2 ON u2.w = string_split(bg, ' ')[2]),
       |r AS (SELECT bg, row_number() OVER (ORDER BY ratio DESC, bg) AS rnk
       |      FROM j)
       |SELECT bg, rnk FROM r WHERE rnk <= $k ORDER BY bg""".stripMargin

  /** Per-document cross-entropy under the corpus's OWN add-one-smoothed
    * bigram LM — the perplexity-style fluency filter of a pretraining
    * pipeline (CCNet/Gopher-style: score every doc under a reference LM,
    * drop the high-perplexity tail), self-contained so no external model
    * ships with the query. xent(doc) = -(1/n)·Σ log2 p(w_i|w_{i-1}) with
    * p(b|a) = (c(a,b)+1)/(c(a·)+V); each instance's term is decomposed as
    * log2(c(a·)+V) - log2(c(a,b)+1) over exact integer counts, and the one
    * FP-order-sensitive step (the avg) is rounded to 3dp — double noise is
    * ~1e-12, eight orders below the rounding grain.
    *
    * 100 TB shape: the corpus is scanned on exactly TWO arms (the
    * bigram-instance relation and the bigram-count agg) — head counts and
    * vocab size both derive from the already-aggregated bigram-TYPE
    * relation, orders of magnitude smaller than the corpus: c(a·) =
    * Σ_b c(a,b) is an agg-of-the-agg, and V counts distinct words across
    * bigram types (so the model's vocab is "tokens seen in a bigram
    * context"; sub-2-token docs contribute neither mass nor vocab). The
    * instance⋈count join shuffles on the gram key, the scalar V
    * broadcasts, and the final per-doc avg is one doc-keyed hash agg. No
    * arm carries document text — only grams and counts. */
  def qualityLm(s: SparkSession, d: String): DataFrame =
    qualityLmCore(s, d).orderedBy("doc_id")

  /** Untrailed (doc_id, n_bigrams, xent) — the composition entry point for
    * the CCNet-style bucket pruner ([[qualityPrune]]), which must not
    * inherit the harness repartition(1) trailer in its lineage. */
  private[llm] def qualityLmCore(s: SparkSession, d: String): DataFrame = {
    val t = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val bi = t.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr("word_shingles(toks, 2, false)")).as("bg"))
    val cb = bi.groupBy(col("bg")).agg(count(lit(1)).as("cbg"))
    val hd = cb.select(substring_index(col("bg"), " ", 1).as("h"), col("cbg"))
      .groupBy(col("h")).agg(sum(col("cbg")).as("ch"))
    val v = cb.select(explode(split(col("bg"), " ")).as("w"))
      .agg(countDistinct(col("w")).as("vsz"))
    bi.join(cb, "bg")
      .withColumn("h", substring_index(col("bg"), " ", 1))
      .join(hd, "h")
      .crossJoin(broadcast(v))
      .withColumn("nll", log2(col("ch") + col("vsz")) - log2(col("cbg") + 1))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), round(avg(col("nll")), 3).as("xent"))
  }

  /** The bigram-LM scoring chain through the per-doc `lmscore` CTE —
    * shared by the q_quality_lm oracle and the CCNet-prune oracle. */
  private def qualityLmCtes: String =
    """t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |bi AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
      |                i -> toks[i] || ' ' || toks[i + 1])) AS bg
      |       FROM t WHERE len(toks) >= 2),
      |cb AS (SELECT bg, count(*) AS cbg FROM bi GROUP BY bg),
      |hd AS (SELECT split_part(bg, ' ', 1) AS h, CAST(sum(cbg) AS BIGINT) AS ch
      |       FROM cb GROUP BY h),
      |v AS (SELECT count(DISTINCT w) AS vsz
      |      FROM (SELECT unnest(string_split(bg, ' ')) AS w FROM cb)),
      |sc AS (SELECT doc_id, log2(ch + vsz) - log2(cbg + 1) AS nll
      |       FROM bi JOIN cb USING (bg)
      |       JOIN hd ON split_part(bg, ' ', 1) = h
      |       CROSS JOIN v),
      |lmscore AS (SELECT doc_id, count(*) AS n_bigrams,
      |                   round(avg(nll), 3) AS xent
      |            FROM sc GROUP BY doc_id)""".stripMargin

  private def qualityLmOracle: String =
    s"""WITH $qualityLmCtes
       |SELECT doc_id, n_bigrams, xent
       |FROM lmscore ORDER BY doc_id""".stripMargin

  /** CCNet-style PERPLEXITY-BUCKET PRUNING (Wenzek et al. 2020): score
    * every document under the corpus's own bigram LM ([[qualityLmCore]]'s
    * cross-entropy), split each LANGUAGE into 3 equal-count buckets by
    * ascending xent (head / middle / tail — CCNet's terminology), and keep
    * head+middle: the noisiest third of each language is dropped without a
    * hand-tuned absolute threshold, which is the point of the design
    * (per-language score distributions differ; a global cutoff would gut
    * low-resource languages). Deterministic: the bucket assignment is
    * ntile over a TOTAL order (xent is rounded to 3dp, ties break on
    * doc_id), and ntile's fill rule (earlier buckets take the remainder)
    * is the same SQL-standard definition in both engines. Documents under
    * 2 tokens have no bigrams, hence no score — out of the pruner's scope
    * on both sides (inner join).
    *
    * 100 TB shape: scoring is [[qualityLmCore]]'s two-arm corpus scan; the
    * bucket split is ONE per-language range sort of the doc-id-keyed SCORE
    * table (doc_id, lang, xent — never the bodies), exactly the global
    * sort production CCNet runs; keep/drop then joins back to the corpus
    * by doc_id at consumption time. */
  def qualityPrune(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
    val w = Window.partitionBy(col("lang")).orderBy(col("xent"), col("doc_id"))
    qualityLmCore(s, d).join(docs, "doc_id")
      .withColumn("bucket", ntile(3).over(w).cast("long"))
      .withColumn("keep", col("bucket") <= 2)
      .select(col("doc_id"), col("lang"), col("xent"), col("bucket"), col("keep"))
      .orderedBy("doc_id")
  }

  private def qualityPruneOracle: String =
    s"""WITH $qualityLmCtes,
       |j AS (SELECT s.doc_id, d.lang, s.xent
       |      FROM lmscore s JOIN documents d USING (doc_id))
       |SELECT doc_id, lang, xent,
       |       CAST(ntile(3) OVER (PARTITION BY lang
       |              ORDER BY xent, doc_id) AS BIGINT) AS bucket,
       |       ntile(3) OVER (PARTITION BY lang ORDER BY xent, doc_id) <= 2 AS keep
       |FROM j ORDER BY doc_id""".stripMargin

  /** Buckets for the linear quality classifier's hashed feature space —
    * test-scale width; production uses 2^18+ (the [[Vectorize.dim]]
    * argument: the operator shape is width-independent). */
  val clfBuckets = 64

  /** Linear QUALITY CLASSIFIER over hashed unigram features — the
    * fasttext-shaped model-based filter every production pipeline runs
    * (GPT-3/LLaMA-style "quality classifier"): each token hashes into one
    * of [[clfBuckets]] feature buckets (the [[Vectorize]] md5-prefix
    * hashing trick), each bucket carries a FIXED weight, and the document's
    * logit is the sum of its tokens' bucket weights. Weights here derive
    * deterministically from the bucket id (md5-prefix int mod 2001 −
    * 1000 ∈ [−1000, 1000] — a stand-in for trained parameters; the
    * plumbing, not the weights, is the operator), in integer FIXED POINT
    * so the logit is an exact BIGINT sum — order-independent, no libm.
    * keep ⟺ logit > 0 ⟺ sigmoid(logit) > ½ (sigmoid is monotone, so the
    * decision needs no exp() — the probability head stays off the hash
    * gate). 100 TB shape: tokenize+hash+weight fan out map-side; in
    * production the ≤2^18-row weight table broadcasts; here the weight is
    * a closed-form expression, so the whole scorer is one projection into
    * one doc-keyed partial-aggregated hash agg — document bodies never
    * leave the scan. */
  def qualityClf(s: SparkSession, d: String): DataFrame =
    qualityClfFrom(Tables.documents(s, d)).orderedBy("doc_id")

  /** The scorer over an arbitrary (doc_id, text) frame — stateless
    * projections plus one grouped aggregation, so it runs unchanged on a
    * streaming frame (the [[Vectorize.hashingFrom]] bridge shape). */
  private[llm] def qualityClfFrom(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
    val hv = conv(substring(md5(col("t")), 1, 8), 16, 10).cast("long")
    val b = hv % clfBuckets
    val wv = conv(substring(md5(concat(lit("w#"), b.cast("string"))), 1, 8), 16, 10)
      .cast("long") % 2001 - 1000
    toks.select(col("doc_id"), wv.as("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("w")).as("logit_fp"))
      .withColumn("keep", col("logit_fp") > 0)
  }

  /** The classifier executed by the STREAMING engine (19th bridge): file
    * source over the same documents parquet, AvailableNow, complete-mode
    * aggregation into a memory sink, hash-compared against the IDENTICAL
    * oracle SQL as q_quality_clf — the model-based filter under the
    * micro-batch planner, the way a production scorer actually runs over
    * an arriving corpus. */
  def clfStreamed(s: SparkSession, d: String): DataFrame =
    Tables.runStreamComplete(s, "clf_streamed_") { cs =>
      qualityClfFrom(Tables.documentsStream(cs, d))
    }.orderedBy("doc_id")

  private def qualityClfOracle: String = {
    val hv = OracleSql.hexPrefixToLong("h")
    val wv = OracleSql.hexPrefixToLong("hw")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
       |hb AS (
       |  SELECT doc_id, ($hv) % $clfBuckets AS b
       |  FROM (SELECT doc_id, substr(md5(t), 1, 8) AS h FROM toks)),
       |w AS (
       |  SELECT doc_id, ($wv) % 2001 - 1000 AS w
       |  FROM (SELECT doc_id, substr(md5('w#' || CAST(b AS VARCHAR)), 1, 8) AS hw
       |        FROM hb))
       |SELECT doc_id, count(*) AS n_tok,
       |       CAST(sum(w) AS BIGINT) AS logit_fp,
       |       CAST(sum(w) AS BIGINT) > 0 AS keep
       |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Per-doc out-of-vocabulary rate against the corpus's own top-`k`
    * vocabulary — the vocabulary-coverage quality signal (docs full of
    * tokens a tokenizer's vocab won't cover are noise, OCR junk, or the
    * wrong language; filters threshold on this before training). Vocab
    * ties at the k boundary break on the token string, so the cut is
    * deterministic; the rate is one IEEE divide of exact ints rounded at
    * the boundary. 100 TB shape: the vocab is a TakeOrdered top-k
    * (map-side partial), broadcast back onto the token stream; one
    * doc-keyed hash agg closes it. */
  def oovRate(s: SparkSession, d: String, k: Int = 20): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
    val vocab = toks.groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("w")).limit(k)
      .select(col("w"), lit(1).as("iv"))
    toks.join(broadcast(vocab), Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        sum(coalesce(col("iv"), lit(0))).as("in_vocab"))
      .withColumn("oov_rate",
        round(lit(1.0) * (col("n_tok") - col("in_vocab")) / col("n_tok"), 4))
      .select(col("doc_id"), col("n_tok"),
        col("in_vocab").cast("long").as("in_vocab"), col("oov_rate"))
      .orderedBy("doc_id")
  }

  private def oovOracle(k: Int): String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |vf AS (SELECT w, count(*) AS freq FROM toks GROUP BY w),
       |vr AS (SELECT w, row_number() OVER (ORDER BY freq DESC, w) AS rn FROM vf),
       |vocab AS (SELECT w, 1 AS iv FROM vr WHERE rn <= $k),
       |j AS (SELECT t.doc_id, COALESCE(v.iv, 0) AS iv
       |      FROM toks t LEFT JOIN vocab v USING (w))
       |SELECT doc_id, count(*) AS n_tok,
       |       CAST(sum(iv) AS BIGINT) AS in_vocab,
       |       round(1.0 * (count(*) - sum(iv)) / count(*), 4) AS oov_rate
       |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Language ID by marker-word scoring, argmax with a fixed tie order
    * (de,en,es,fr,zh). On this synthetic corpus every language shares one
    * vocabulary, so accuracy is meaningless — the operator (score + argmax,
    * deterministic) is what's under test. */
  def langId(s: SparkSession, d: String): DataFrame = {
    // tokenize ONCE, score all 5 languages over the materialized array
    val toked = Tables.documents(s, d).select(
      col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
    val scored = toked.select(
      (Seq(col("doc_id"), col("lang")) ++
        langsOrdered.map(l => markerHitsToks("toks", langMarkers(l)).as(s"s_$l"))): _*)
    val pred = langsOrdered.init.zipWithIndex.foldRight(lit(langsOrdered.last): Column) {
      case ((l, i), rest) =>
        val geAll = langsOrdered.drop(i + 1)
          .map(o => col(s"s_$l") >= col(s"s_$o")).reduce(_ && _)
        when(geAll, lit(l)).otherwise(rest)
    }
    scored.withColumn("pred", pred)
      .withColumn("correct", col("pred") === col("lang"))
      .orderedBy("doc_id")
  }

  /** Canonical text normalization — the cleaning primitive ahead of
    * canonical-form dedup: lowercase, non-alphanumerics to spaces, collapsed
    * whitespace, trimmed; emitted as the canonical hash + length (the
    * downstream dedup keys), never the body. Single projection materializes
    * the canonical form once. */
  def normalize(s: SparkSession, d: String): DataFrame = {
    val canon = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
    Tables.documents(s, d)
      .select(col("doc_id"), canon.as("canon"))
      .select(
        col("doc_id"),
        md5(col("canon").cast("binary")).as("canon_md5"),
        length(col("canon")).cast("long").as("canon_len"))
      .orderedBy("doc_id")
  }

  /** Corpus vocabulary: global token frequencies, top-k — the
    * vocabulary/stopword-construction primitive. Scale shape: explode is
    * map-side, the frequency count partial-aggregates before its exchange,
    * and the top-k is TakeOrderedAndProject (per-partition heap of k, merge
    * of k·parts rows) — never a global sort of the vocabulary. Ties broken
    * on the token so the k-set is deterministic. */
  def vocabTopk(s: SparkSession, d: String, k: Int = 25): DataFrame =
    Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("tok"))
      .limit(k)
      .orderedBy("tok")

  /** HEAVY HITTERS under a mergeable COUNT-MIN sketch (Cormode &
    * Muthukrishnan 2005) — the bounded-state answer to "which terms are
    * frequent" at a scale where the exact (term, count) aggregate is the
    * bottleneck: the sketch is a d×w cell grid (d=4 md5 hash rows, w=256
    * buckets — 1024 longs TOTAL), built map-side from the token stream
    * with partial aggregation, so the corpus-scale shuffle carries AT
    * MOST d·w fixed-width rows regardless of vocabulary size; cells are
    * a commutative monoid (cellwise SUM), so per-partition / per-day
    * sketch tables merge without rescanning history — the
    * q_sketch_merge artifact story for frequencies. A point estimate is
    * min over the term's d cells and can only OVERESTIMATE (collisions
    * add; nothing subtracts) — est ≥ true count is pinned by spec.
    *
    * The query is the production validation gauge: exact top-k terms
    * (the gauge side — at corpus scale a candidate stream replaces it;
    * the sketch itself never needs the exact aggregate) joined against
    * their CMS estimates, with the overestimate per term. All integer
    * arithmetic — bit-exact on any engine and any partitioning. */
  def heavyHitters(s: SparkSession, d: String, k: Int = 20,
                   rowsD: Int = 4, w: Int = 256): DataFrame = {
    val tok = graft.core.QueryDef.fanOut(Tables.documents(s, d))
      .select(explode(tokens(col("text"))).as("term"))
    hhServe(tok, hhCells(tok, rowsD, w), k, rowsD, w)
  }

  private def hhBucketOf(r: Int, c: Column, w: Int): Column =
    conv(substring(md5(concat(lit(s"$r#"), c).cast("binary")), 1, 8), 16, 10)
      .cast("long") % w

  /** The count-min CELL GRID over a (term) frame: d×w cells,
    * partial-aggregated map-side — the only corpus-scale state; the ×d
    * expand is a projection, never a shuffle. Cells are a sum-monoid, so
    * per-batch grids fold by elementwise sum ([[heavyHittersStreamed]]). */
  private def hhCells(tok: DataFrame, rowsD: Int, w: Int): DataFrame =
    tok.select(explode(array((0 until rowsD).map(r =>
        struct(lit(r).as("r"), hhBucketOf(r, col("term"), w).as("bucket"))): _*)).as("rb"))
      .select(col("rb.r").as("r"), col("rb.bucket").as("bucket"))
      .groupBy(col("r"), col("bucket")).agg(count(lit(1)).as("c"))

  /** The SERVE side shared by the batch query and the streaming fold:
    * exact top-k gauge (TakeOrderedAndProject — no global sort), then k·d
    * point lookups against the broadcast ≤d·w-cell grid. */
  private def hhServe(tok: DataFrame, cells: DataFrame, k: Int,
                      rowsD: Int, w: Int): DataFrame = {
    val topk = tok.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term")).limit(k)
    val lookups = (0 until rowsD).map(r =>
      topk.select(col("term"), col("cnt"), lit(r).as("r"),
        hhBucketOf(r, col("term"), w).as("bucket")))
      .reduce(_ unionByName _)
    lookups.join(broadcast(cells), Seq("r", "bucket"))
      .groupBy(col("term"), col("cnt"))
      .agg(min(col("c")).as("est"))
      .select(col("term"), col("cnt"), col("est"),
        (col("est") - col("cnt")).as("over"))
      .orderedBy("term")
  }

  /** [[heavyHitters]] with the sketch MAINTAINED BY THE STREAM (25th
    * batch≡streaming bridge): the corpus arrives as 4 rate-limited
    * micro-batches and each batch's d×w cell grid folds into the running
    * grid by elementwise SUM — the count-min monoid merge, exercised here
    * across micro-batches exactly as a production monitor merges per-day
    * sketches. The fold state is ≤ d·w fixed-width rows regardless of
    * vocabulary (the sketch's whole point); the exact top-k gauge and the
    * k·d point lookups then serve BATCH-SIDE against the stream-built
    * grid — the "stream maintains the sketch, queries serve from it"
    * split. Because cell counts are associative sums, the folded grid is
    * row-identical to the single-pass grid, so the IDENTICAL batch oracle
    * adjudicates the bridge. */
  def heavyHittersStreamed(s: SparkSession, d: String, k: Int = 20,
                           rowsD: Int = 4, w: Int = 256): DataFrame =
    heavyHittersStreamedStats(s, d, k, rowsD, w)._1

  /** [[heavyHittersStreamed]] plus the delivered micro-batch count, so
    * the spec can pin that the grid fold genuinely spanned >1 batch. */
  private[llm] def heavyHittersStreamedStats(s: SparkSession, d: String,
      k: Int = 20, rowsD: Int = 4, w: Int = 256): (DataFrame, Int) = {
    val docs = Tables.documents(s, d)
    // build-once staged layout (r20 opt, Tables.stageOnce rationale)
    val tmp = Tables.stageOnce(s, "hh_str3", d, "documents") { p =>
      docs.repartition(3).write.mode("overwrite").parquet(p)
    }
    val grid = new java.util.concurrent.atomic.AtomicReference[DataFrame](null)
    val batches = Tables.runStreamFold(s, "hh_streamed_") { cs =>
      cs.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(tmp)
    } { (bs, batch, _) =>
      val batchCells =
        hhCells(batch.select(explode(tokens(col("text"))).as("term")), rowsD, w)
      val prev = grid.get()
      grid.set((
        if (prev == null) batchCells
        else prev.unionByName(batchCells)
          .groupBy(col("r"), col("bucket")).agg(sum(col("c")).as("c"))
        ).localCheckpoint(true))
    }
    val tok = graft.core.QueryDef.fanOut(docs)
      .select(explode(tokens(col("text"))).as("term"))
    (hhServe(tok, grid.get(), k, rowsD, w), batches)
  }

  private def heavyHittersOracle(k: Int, rowsD: Int, w: Int): String = {
    val hv = graft.core.OracleSql.hexPrefixToLong("hx")
    val cellArms = (0 until rowsD).map { r =>
      s"""h$r AS (SELECT substr(md5('$r#' || term), 1, 8) AS hx FROM tok),
         |b$r AS (SELECT ($hv) % $w AS bucket FROM h$r),
         |cells$r AS (SELECT $r AS r, bucket, count(*) AS c FROM b$r GROUP BY bucket)"""
        .stripMargin
    }.mkString(",\n")
    val cellsUnion = (0 until rowsD).map(r => s"SELECT * FROM cells$r")
      .mkString(" UNION ALL ")
    val lookupArms = (0 until rowsD).map { r =>
      s"""th$r AS (SELECT term, cnt, substr(md5('$r#' || term), 1, 8) AS hx FROM topk),
         |tb$r AS (SELECT term, cnt, ($hv) % $w AS bucket FROM th$r),
         |lk$r AS (SELECT term, cnt, c FROM tb$r
         |         JOIN cells ON cells.r = $r AND cells.bucket = tb$r.bucket)"""
        .stripMargin
    }.mkString(",\n")
    val lkUnion = (0 until rowsD).map(r => s"SELECT * FROM lk$r")
      .mkString(" UNION ALL ")
    s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
       |$cellArms,
       |cells AS ($cellsUnion),
       |tc AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
       |topk AS (SELECT term, cnt FROM tc ORDER BY cnt DESC, term LIMIT $k),
       |$lookupArms,
       |lk AS ($lkUnion)
       |SELECT term, cnt, min(c) AS est, min(c) - cnt AS over
       |FROM lk GROUP BY term, cnt
       |ORDER BY term""".stripMargin
  }

  /** [[vocabTopk]] executed by the STREAMING engine — the fourth
    * batch≡streaming bridge, covering the one shape the other three
    * don't: global sort + limit over a streaming aggregation (legal only
    * in complete mode, which is exactly what the finite-input bridge
    * runs). Same oracle SQL as the batch query. */
  def vocabStreamed(s: SparkSession, d: String, k: Int = 25): DataFrame =
    Tables.runStreamComplete(s, "vocab_streamed_") { cs =>
      Tables.documentsStream(cs, d)
        .select(explode(tokens(col("text"))).as("tok"))
        .groupBy(col("tok"))
        .agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("tok"))
        .limit(k)
    }.orderedBy("tok")

  private val vocabOracle: String =
    """SELECT tok, freq FROM (
      |  SELECT tok, count(*) AS freq FROM (
      |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |  GROUP BY tok ORDER BY freq DESC, tok LIMIT 25)
      |ORDER BY tok""".stripMargin

  /** Count-min sketch frequency estimation: d=4 hash rows × w=1024 buckets
    * of exact integer counts — fixed O(d·w) state per partition regardless
    * of vocabulary size, merged by cell-wise addition (one hash agg with
    * map-side partials). Estimate(token) = min over rows of its bucket
    * cell; the sketch only OVERESTIMATES (collisions add), never loses —
    * asserted in the output (`over` = est − exact ≥ 0). The query sketches
    * the corpus vocabulary, then reads back estimates for the exact top-k
    * tokens. md5-bucketed, so the DuckDB oracle replays every cell; the
    * sketch twin of `q_distinct_sketch`'s HLL (count-distinct) for
    * point-frequency queries — at 100 TB the exact per-token count is a
    * vocabulary-sized shuffle, the sketch is 4 KiB per task. */
  def cmsTopk(s: SparkSession, d: String, depth: Int = 4, width: Int = 1024,
              k: Int = 25): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("tok"))
    val counts = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    def bucket(j: Int, c: org.apache.spark.sql.Column) =
      conv(substring(md5(concat(lit(s"$j#"), c).cast("binary")), 1, 8), 16, 10)
        .cast("long") % width
    // the sketch: cell(j, b) = total count of tokens hashing to bucket b in
    // row j — built from the per-token counts (equivalent to per-occurrence
    // increments, since addition is associative)
    val cells = counts.select(col("c") +:
        (0 until depth).map(j => bucket(j, col("tok")).as(s"b$j")): _*)
      .select(col("c"), explode(array((0 until depth).map(j =>
        struct(lit(j).as("j"), col(s"b$j").as("b"))): _*)).as("jb"))
      .groupBy(col("jb.j").as("j"), col("jb.b").as("b"))
      .agg(sum(col("c")).as("cell"))
    val top = counts.orderBy(col("c").desc, col("tok")).limit(k)
    top
      .select(col("tok") +: col("c") +:
        (0 until depth).map(j => bucket(j, col("tok")).as(s"b$j")): _*)
      .select(col("tok"), col("c"), explode(array((0 until depth).map(j =>
        struct(lit(j).as("j"), col(s"b$j").as("b"))): _*)).as("jb"))
      .join(broadcast(cells),
        col("jb.j") === col("j") && col("jb.b") === col("b"))
      .groupBy(col("tok"))
      .agg(max(col("c")).as("exact"), min(col("cell")).as("est"))
      .select(col("tok"), col("exact"), col("est"),
        (col("est") - col("exact")).as("over"))
      .orderedBy("tok")
  }

  private def cmsOracle(depth: Int, width: Int, k: Int): String = {
    val hv = OracleSql.hexPrefixToLong("h")
    def bucketSel(src: String) = (0 until depth).map { j =>
      s"""SELECT tok, c, $j AS j,
         |       ($hv) % $width AS b
         |FROM (SELECT tok, c, substr(md5('$j#' || tok), 1, 8) AS h FROM $src)"""
        .stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
       |counts AS (SELECT tok, count(*) AS c FROM t GROUP BY tok),
       |jb AS (
       |  ${bucketSel("counts")}),
       |cells AS (SELECT j, b, sum(c) AS cell FROM jb GROUP BY j, b),
       |top AS (SELECT tok, c FROM counts ORDER BY c DESC, tok LIMIT $k),
       |tjb AS (
       |  ${bucketSel("top")}),
       |est AS (
       |  SELECT tok, max(c) AS exact, min(cell) AS est
       |  FROM tjb JOIN cells USING (j, b) GROUP BY tok)
       |SELECT tok, CAST(exact AS BIGINT) AS exact, CAST(est AS BIGINT) AS est,
       |       CAST(est - exact AS BIGINT) AS over
       |FROM est ORDER BY tok""".stripMargin
  }

  /** Bigram language-model counts: corpus-wide bigram frequencies WITH
    * MULTIPLICITY (unlike the distinct `word_shingles` dedup unit) plus the
    * conditional probability p(w2|w1) = c(w1 w2) / c(w1 ·), top-k by count.
    * The denominator is a window sum over the bigram relation itself
    * (continuation counts), not a second corpus pass. Scale shape: one
    * per-row gram expansion → one hash agg on the bigram → a w1-partitioned
    * window → global top-k via TakeOrderedAndProject (per-partition k,
    * merge of k — never a full sort). All counts exact ints; p is one IEEE
    * divide. */
  def bigramLm(s: SparkSession, d: String, k: Int = 100): DataFrame =
    Tables.documents(s, d)
      .select(tokens(col("text")).as("toks"))
      // size >= 2 keeps Spark's sequence() off its descending edge
      // (sequence(1, 0) DESCENDS; DuckDB range(1, 1) is just empty)
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(toks) - 1),
          |  i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"""
          .stripMargin)).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("c2"))
      .withColumn("w1", element_at(split(col("bg"), " "), 1))
      .withColumn("c1", sum(col("c2")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("w1")))
      .select(col("bg"), col("w1"), col("c2"), col("c1"),
        round(col("c2").cast("double") / col("c1"), 6).as("p"))
      .orderBy(col("c2").desc, col("bg"))
      .limit(k)
      .orderedBy("bg")

  private def bigramLmOracle(k: Int): String =
    s"""WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
       |g AS (SELECT unnest(list_transform(range(1, len(toks)),
       |               i -> toks[i] || ' ' || toks[i+1])) AS bg
       |      FROM t WHERE len(toks) >= 2),
       |b2 AS (SELECT bg, count(*) AS c2 FROM g GROUP BY bg),
       |cw AS (SELECT bg, string_split(bg, ' ')[1] AS w1, c2,
       |              sum(c2) OVER (PARTITION BY string_split(bg, ' ')[1]) AS c1
       |       FROM b2)
       |SELECT bg, w1, c2, CAST(c1 AS BIGINT) AS c1,
       |       round(CAST(c2 AS DOUBLE) / c1, 6) AS p
       |FROM (SELECT * FROM cw ORDER BY c2 DESC, bg LIMIT $k)
       |ORDER BY bg""".stripMargin

  /** PII-style redaction battery: count and scrub email-shaped tokens and
    * long digit runs, emitting counts + the redacted text's hash and length
    * (never the body — the downstream contract is "was anything redacted
    * and what does the result hash to"). Patterns stay in the portable
    * RE2/Java common subset (explicit classes, no lookaround) so both
    * engines match identically. Per-row scalar work. */
  def redact(s: SparkSession, d: String): DataFrame = {
    val emailRe = "[a-z0-9._]+@[a-z0-9.]+"
    val numRe = "[0-9]{4,}"
    val redacted = regexp_replace(
      regexp_replace(col("text"), emailRe, "<EMAIL>"), numRe, "<NUM>")
    Tables.documents(s, d).select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit(emailRe), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(col("text"), lit(numRe), lit(0))).cast("long").as("n_nums"),
      md5(redacted.cast("binary")).as("redacted_md5"),
      length(redacted).cast("long").as("redacted_len")
    ).orderedBy("doc_id")
  }

  private def redactOracle: String =
    """SELECT doc_id,
      |       len(regexp_extract_all(text, '[a-z0-9._]+@[a-z0-9.]+')) AS n_emails,
      |       len(regexp_extract_all(text, '[0-9]{4,}')) AS n_nums,
      |       md5(regexp_replace(regexp_replace(text, '[a-z0-9._]+@[a-z0-9.]+',
      |           '<EMAIL>', 'g'), '[0-9]{4,}', '<NUM>', 'g')) AS redacted_md5,
      |       CAST(length(regexp_replace(regexp_replace(text, '[a-z0-9._]+@[a-z0-9.]+',
      |           '<EMAIL>', 'g'), '[0-9]{4,}', '<NUM>', 'g')) AS BIGINT) AS redacted_len
      |FROM documents ORDER BY doc_id""".stripMargin

  /** TF-IDF top-k terms per document — the keyword/feature-extraction
    * primitive. tf and df are exact ints; idf = ln((N+1)/(df+1)) + 1
    * (smoothed) and score = tf·idf stay INSIDE the query: the output is
    * RANK-ONLY (doc_id, rnk, tok, tf, df), the q_sim_topk pattern, so a
    * last-ulp ln() difference between engines can only matter if two
    * distinct (tf, df) combinations land within ~1e-15 of each other —
    * equal combinations tie-break on the token. Scale shape: one token
    * explode feeding both the tf and df aggregations (partial map-side),
    * tf⋈df shuffles on the token (vocab-sized right side), N is one
    * broadcast scalar, and the per-doc top-k is a WindowGroupLimit-pruned
    * row_number — never a global sort. */
  def tfidfTopk(s: SparkSession, d: String, k: Int = 3): DataFrame = {
    val docs = Tables.documents(s, d)
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val tf = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfc = toks.groupBy(col("tok")).agg(countDistinct(col("doc_id")).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val scored = tf.join(dfc, "tok").crossJoin(broadcast(n))
      .withColumn("score",
        col("tf") * (log((col("n") + lit(1.0)) / (col("df") + lit(1.0))) + lit(1.0)))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("tok"))
    scored
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("doc_id"), col("rnk").cast("long").as("rnk"),
        col("tok"), col("tf"), col("df"))
      .orderedBy("doc_id", "rnk")
  }

  private def tfidfOracle(k: Int): String =
    s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY doc_id, tok),
       |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM t GROUP BY tok),
       |n AS (SELECT count(*) AS n FROM documents),
       |sc AS (SELECT tf.doc_id, tf.tok, tf.tf, df.df,
       |              tf.tf * (ln((n.n + 1.0) / (df.df + 1.0)) + 1.0) AS score
       |       FROM tf JOIN df USING (tok), n),
       |r AS (SELECT doc_id, tok, tf, df,
       |             row_number() OVER (PARTITION BY doc_id
       |               ORDER BY score DESC, tok) AS rnk
       |      FROM sc)
       |SELECT doc_id, rnk, tok, tf, df FROM r WHERE rnk <= $k
       |ORDER BY doc_id, rnk""".stripMargin

  /** Document fingerprints: full-content hash, an order-insensitive
    * bag-of-words sketch (first 8 sorted distinct tokens), and a prefix. */
  def docFingerprint(s: SparkSession, d: String): DataFrame = {
    val sortedToks = sort_array(array_distinct(tokens(col("text"))))
    Tables.documents(s, d).select(
      col("doc_id"),
      md5(col("text").cast("binary")).as("md5_text"),
      md5(array_join(slice(sortedToks, 1, 8), " ").cast("binary")).as("sketch8"),
      substring(col("text"), 1, 64).as("prefix64")
    ).orderedBy("doc_id")
  }

  /** Winnowing document fingerprints (the rolling-hash fingerprint family,
    * per the public Schleimer/Wilkerson/Aiken algorithm): positional word
    * 3-gram hashes (32-bit md5 prefix, DuckDB-replayable), sliding MINIMUM
    * over every window of `w` consecutive gram hashes, fingerprint set =
    * sorted distinct window minima. Guarantee: two docs sharing a run of
    * >= w+2 tokens share at least one fingerprint — the basis of
    * shared-substring detection joins (explode the set, join on the
    * fingerprint — banded, never all-pairs). Everything is ONE per-row HOF
    * projection: no explode, no shuffle, embarrassingly parallel; only the
    * compact fingerprint sets leave the row. Docs shorter than w+2 tokens
    * have no full window and are excluded (identically in the oracle —
    * also keeps Spark's sequence() off its descending-sequence edge). */
  def winnow(s: SparkSession, d: String, w: Int = 4): DataFrame =
    winnowSets(s, d, w)
      // stringified for the harness: the driver compare sorts result
      // columns with pandas, which cannot sort array cells — the
      // fingerprint-set JOIN consumer would explode `fps` instead
      .select(col("doc_id"), size(col("fps")).cast("long").as("n_fps"),
        expr("array_join(transform(fps, x -> CAST(x AS STRING)), ',')").as("fps"))
      .orderedBy("doc_id")

  /** The winnow fingerprint-set relation (doc_id, fps: array<bigint>) —
    * shared by [[winnow]]'s per-doc dump and Dedup.winnowPairs' MOSS-style
    * shared-substring join. Delegates the whole per-row chain to the
    * native `winnow_fps` expression (graft.expr.WinnowFps): the chained
    * transform-HOF formulation was interpreted AND projection-collapse
    * inlined split(text) into the innermost lambda — O(tokens²) per doc,
    * catastrophic once the pairs query referenced this relation on three
    * join arms (see WinnowFps scaladoc). */
  private[llm] def winnowSets(s: SparkSession, d: String, w: Int): DataFrame = {
    val minToks = 2 + w
    Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= minToks)
      .select(col("doc_id"), expr(s"winnow_fps(toks, $w)").as("fps"))
  }

  /** DuckDB CTE chain producing the winnow fingerprint sets as `fp(doc_id,
    * fps)` — the oracle twin of [[winnowSets]], shared with
    * Dedup.winnowPairs' oracle. Splice after WITH. */
  private[llm] def winnowSetsCte(w: Int): String = {
    val minToks = 2 + w
    val hv = OracleSql.hexPrefixToLong("x")
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |g AS (SELECT doc_id,
       |        list_transform(range(1, len(toks) - 1),
       |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS grams
       |      FROM t WHERE len(toks) >= $minToks),
       |hx AS (SELECT doc_id,
       |         list_transform(grams, gg -> substr(md5(gg), 1, 8)) AS hs FROM g),
       |hv AS (SELECT doc_id, list_transform(hs, x -> $hv) AS gh FROM hx),
       |m AS (SELECT doc_id,
       |        list_transform(range(1, len(gh) - ${w - 2}),
       |          i -> list_min(gh[i:i+${w - 1}])) AS mins FROM hv),
       |fp AS (SELECT doc_id, list_sort(list_distinct(mins)) AS fps FROM m)""".stripMargin
  }

  private def winnowOracle(w: Int): String =
    s"""WITH ${winnowSetsCte(w)}
       |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fps,
       |       array_to_string(fps, ',') AS fps FROM fp
       |ORDER BY doc_id""".stripMargin

  private def langIdOracle: String = {
    val scores = langsOrdered.map { l =>
      val pred = langMarkers(l).map(m => s"x = '$m'").mkString(" or ")
      s"len(list_filter(string_split(text, ' '), x -> $pred)) AS s_$l"
    }.mkString(",\n         ")
    s"""WITH sc AS (
       |  SELECT doc_id, lang,
       |         $scores
       |  FROM documents),
       |p AS (
       |  SELECT *,
       |         CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
       |              WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
       |              WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
       |              WHEN s_fr >= s_zh THEN 'fr'
       |              ELSE 'zh' END AS pred
       |  FROM sc)
       |SELECT doc_id, lang, s_de, s_en, s_es, s_fr, s_zh, pred,
       |       pred = lang AS correct
       |FROM p ORDER BY doc_id""".stripMargin
  }

  /** Per-document quality signals, the pre-training filter battery: token
    * count, repetition (distinct/total), mean token length, stopword ratio,
    * digit ratio — every ratio is a single IEEE divide of exact ints
    * (deterministic cross-engine), thresholds compose downstream. */
  def quality(s: SparkSession, d: String): DataFrame = {
    val stop = langMarkers.values.flatten.toSeq.distinct.sorted
      .filterNot(_.exists(_ > 127)) // ascii markers as the stopword list
    // tokenize once; every ratio reads the materialized array
    val toked = Tables.documents(s, d).select(
      col("doc_id"), col("text"), tokens(col("text")).as("toks"))
    val w = col("toks")
    toked.select(
      col("doc_id"),
      size(w).cast("long").as("n_tokens"),
      round(lit(1.0) * size(array_distinct(w)) / size(w), 4).as("distinct_ratio"),
      round(lit(1.0) * (length(col("text")) - size(w) + 1) / size(w), 4)
        .as("mean_token_len"),
      round(lit(1.0) * markerHitsToks("toks", stop) / size(w), 4).as("stopword_ratio"),
      round(lit(1.0) * length(regexp_replace(col("text"), "[^0-9]", "")) /
        length(col("text")), 4).as("digit_ratio")
    ).orderedBy("doc_id")
  }

  private def qualityOracle: String = {
    val stop = langMarkers.values.flatten.toSeq.distinct.sorted
      .filterNot(_.exists(_ > 127))
    val pred = stop.map(m => s"x = '$m'").mkString(" or ")
    s"""SELECT doc_id,
       |       len(string_split(text, ' ')) AS n_tokens,
       |       round(1.0 * len(list_distinct(string_split(text, ' '))) /
       |             len(string_split(text, ' ')), 4) AS distinct_ratio,
       |       round(1.0 * (length(text) - len(string_split(text, ' ')) + 1) /
       |             len(string_split(text, ' ')), 4) AS mean_token_len,
       |       round(1.0 * len(list_filter(string_split(text, ' '), x -> $pred)) /
       |             len(string_split(text, ' ')), 4) AS stopword_ratio,
       |       round(1.0 * length(regexp_replace(text, '[^0-9]', '', 'g')) /
       |             length(text), 4) AS digit_ratio
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Per-source vocabulary DIVERSITY gauge (type-token ratio — the
    * Heaps-law dashboard metric a mixing pipeline publishes per source):
    * a templated or machine-generated source shows far fewer distinct
    * token types per token than natural text, which is a standard signal
    * for down-weighting it in `q_mix_weights`-style source mixing.
    *
    * Plan shape: one explode pass; the (source, token) pairs collapse
    * map-side in the partial-distinct aggregate before the single
    * exchange — the same shuffle any exact per-group distinct inherently
    * pays (the profile/distinct-sketch trade applies at corpus scale:
    * swap countDistinct for HLL and the exchange carries registers).
    * TTR is one IEEE divide of exact longs, rounded. */
  def vocabGrowth(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_tokens"),
        countDistinct(col("tok")).as("n_types"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        round(lit(1.0) * col("n_types") / col("n_tokens"), 4).as("ttr"))
      .orderedBy("source")

  private def vocabGrowthOracle: String =
    """WITH t AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |f AS (SELECT source, tok FROM t WHERE length(tok) > 0)
      |SELECT source, count(*) AS n_tokens, count(DISTINCT tok) AS n_types,
      |       round(1.0 * count(DISTINCT tok) / count(*), 4) AS ttr
      |FROM f GROUP BY source ORDER BY source""".stripMargin

  /** Per-source distribution DRIFT gauge: χ² divergence of each source's
    * token distribution from the corpus distribution, restricted to the
    * global top-`vocab` tokens — the drift detector a mixing pipeline
    * runs on every corpus drop (a source whose common-token profile moves
    * away from the pool signals template churn, scraper breakage, or
    * contamination; χ² over a capped vocabulary is the classic bounded
    * form). χ²(s) = Σ_{t∈V} (o_st − e_st)²/e_st with e_st = n_s·c_t/N,
    * INCLUDING the zero-observation terms (Σ over tokens of V the source
    * never uses collapses in closed form to n_s·(N − Σ_{t∈s}c_t)/N — no
    * V×sources dense join needed).
    *
    * Determinism is the fixed-point PageRank discipline: every count is
    * exact (decimal products for o·N − n_s·c_t), each per-term value is a
    * FIXED tree of IEEE double ops on exactly-equal inputs, and the sum
    * that would be order-dependent in doubles is taken over
    * floor-scaled LONGS (term·10⁶) — bit-exact on any engine or
    * partitioning; the oracle replays the identical tree.
    *
    * Plan shape: the corpus explode+count runs TWICE — once to derive
    * the global top-V cut, once for the V-filtered (source, token) table
    * (the two inherent consumers of the count relation; AQE exchange
    * reuse collapses the remaining static duplicates — measured 1.7 s at
    * sf0.1 vs 0.4 s for one explode pass). Everything downstream of the
    * V-filter is vocabulary-sized, and V plus the per-source totals ride
    * broadcasts; pinning the full (source, token) table instead would
    * materialize sources×vocabulary rows, which at corpus scale is worse
    * than the second scan. */
  def sourceDivergence(s: SparkSession, d: String, vocab: Int = 100): DataFrame = {
    val st = Tables.documents(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("o"))
    val ct = st.groupBy(col("tok")).agg(sum(col("o")).cast("long").as("ct"))
    val topV = ct.orderBy(col("ct").desc, col("tok")).limit(vocab)
    val sv = st.join(broadcast(topV), "tok")
    val ns = sv.groupBy(col("source")).agg(
      sum(col("o")).cast("long").as("ns"), sum(col("ct")).cast("long").as("cts"))
    val nTot = topV.agg(sum(col("ct")).cast("long").as("nn"))
    val dec = (c: String) => col(c).cast("decimal(19,0)")
    val terms = sv
      .join(broadcast(ns.select(col("source"), col("ns"))), "source")
      .crossJoin(broadcast(nTot))
      .withColumn("num",
        (dec("o") * dec("nn") - dec("ns") * dec("ct")).cast("double"))
      .withColumn("den",
        col("ns").cast("double") * col("ct").cast("double") * col("nn").cast("double"))
      .withColumn("term_fp",
        floor(col("num") * col("num") / col("den") * lit(1e6)).cast("long"))
      .groupBy(col("source")).agg(sum(col("term_fp")).as("s_fp"))
    terms
      .join(broadcast(ns), "source").crossJoin(broadcast(nTot))
      .withColumn("zero_fp",
        floor(col("ns").cast("double")
          * (col("nn").cast("double") - col("cts").cast("double"))
          / col("nn").cast("double") * lit(1e6)).cast("long"))
      .select(col("source"), col("ns").as("n_tokens_v"),
        (col("s_fp") + col("zero_fp")).as("chi2_fp"),
        ((col("s_fp") + col("zero_fp")) / lit(1e6)).as("chi2"))
      .orderedBy("source")
  }

  private def sourceDivergenceOracle(vocab: Int): String =
    s"""WITH t AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |f AS (SELECT source, tok FROM t WHERE length(tok) > 0),
       |st AS (SELECT source, tok, count(*) AS o FROM f GROUP BY source, tok),
       |ctt AS (SELECT tok, CAST(sum(o) AS BIGINT) AS ct FROM st GROUP BY tok),
       |v AS (SELECT tok, ct FROM ctt ORDER BY ct DESC, tok LIMIT $vocab),
       |ntot AS (SELECT CAST(sum(ct) AS BIGINT) AS nn FROM v),
       |sv AS (SELECT st.source, st.tok, st.o, v.ct FROM st JOIN v USING (tok)),
       |nsrc AS (SELECT source, CAST(sum(o) AS BIGINT) AS ns,
       |                CAST(sum(ct) AS BIGINT) AS cts
       |         FROM sv GROUP BY source),
       |num AS (
       |  SELECT sv.source,
       |         CAST(CAST(sv.o AS DECIMAL(19,0)) * CAST(nn AS DECIMAL(19,0))
       |            - CAST(ns AS DECIMAL(19,0)) * CAST(sv.ct AS DECIMAL(19,0))
       |              AS DOUBLE) AS num,
       |         CAST(ns AS DOUBLE) * CAST(sv.ct AS DOUBLE)
       |           * CAST(nn AS DOUBLE) AS den
       |  FROM sv JOIN nsrc USING (source) CROSS JOIN ntot),
       |terms AS (
       |  SELECT source,
       |         CAST(sum(CAST(floor(num * num / den * 1e6) AS BIGINT))
       |              AS BIGINT) AS s_fp
       |  FROM num GROUP BY source),
       |z AS (
       |  SELECT source, ns,
       |         CAST(floor(CAST(ns AS DOUBLE)
       |              * (CAST(nn AS DOUBLE) - CAST(cts AS DOUBLE))
       |              / CAST(nn AS DOUBLE) * 1e6) AS BIGINT) AS zero_fp
       |  FROM nsrc CROSS JOIN ntot)
       |SELECT terms.source, z.ns AS n_tokens_v,
       |       CAST(terms.s_fp + z.zero_fp AS BIGINT) AS chi2_fp,
       |       (terms.s_fp + z.zero_fp) / 1e6 AS chi2
       |FROM terms JOIN z USING (source)
       |ORDER BY source""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    "q_source_divergence" -> QueryDef(sourceDivergence(_, _),
      Some(sourceDivergenceOracle(100))),
    "q_vocab_growth" -> QueryDef(vocabGrowth, Some(vocabGrowthOracle)),
    "q_quality" -> QueryDef(quality, Some(qualityOracle)),
    "q_text_stats" -> QueryDef(textStats, Some(
      """SELECT lang, count(*) AS doc_cnt,
        |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       count(DISTINCT source) AS n_sources,
        |       round(1.0 * sum(n_chars) / sum(len(string_split(text, ' '))), 4)
        |         AS chars_per_token
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),
    "q_token_count" -> QueryDef(tokenCount, Some(
      """SELECT doc_id, len(string_split(text, ' ')) AS ws_tokens,
        |       len(regexp_extract_all(text, '[a-z0-9]+')) AS re_tokens,
        |       length(text) AS chars
        |FROM documents ORDER BY doc_id""".stripMargin)),
    "q_token_bpe" -> QueryDef(tokenBpe, Some(tokenBpeOracle)),
    "q_cooccur_pmi" -> QueryDef(cooccurPmi(_, _), Some(cooccurPmiOracle(5, 25))),
    "q_quality_lm" -> QueryDef(qualityLm, Some(qualityLmOracle)),
    // CCNet-style per-language perplexity thirds: keep head+middle, drop
    // the noisiest tail — no hand-tuned absolute threshold
    "q_quality_prune" -> QueryDef(qualityPrune, Some(qualityPruneOracle)),
    // fasttext-shaped hashed-feature linear scorer in exact fixed point
    "q_quality_clf" -> QueryDef(qualityClf, Some(qualityClfOracle)),
    // 19th bridge: the same scorer under the micro-batch planner
    "q_clf_streamed" -> QueryDef(clfStreamed, Some(qualityClfOracle)),
    "q_quality_oov" -> QueryDef(oovRate(_, _), Some(oovOracle(20))),
    // character-class entropy as a pure projection — scan → project,
    // zero shuffle; both distribution tails are filter targets
    "q_quality_entropy" -> QueryDef(qualityEntropy, Some(qualityEntropyOracle)),
    // 21st bridge — stateless: pure projection under the micro-batch
    // planner, append mode, no state store instantiated
    "q_entropy_streamed" -> QueryDef(entropyStreamed, Some(qualityEntropyOracle)),
    "q_quality_rep" -> QueryDef(qualityRep, Some(qualityRepOracle)),
    "q_lang_id" -> QueryDef(langId, Some(langIdOracle)),
    "q_lang_ngram" -> QueryDef(langNgram(_, _), Some(langNgramOracle(8))),
    "q_cms_topk" -> QueryDef(cmsTopk(_, _), Some(cmsOracle(4, 1024, 25))),
    "q_tfidf" -> QueryDef(tfidfTopk(_, _), Some(tfidfOracle(3))),
    "q_bigram_lm" -> QueryDef(bigramLm(_, _), Some(bigramLmOracle(100))),
    "q_doc_winnow" -> QueryDef(winnow(_, _), Some(winnowOracle(4))),
    "q_redact" -> QueryDef(redact, Some(redactOracle)),
    "q_text_normalize" -> QueryDef(normalize, Some(
      // DuckDB regexp_replace needs the 'g' flag (first-match-only default;
      // Spark's is global)
      """WITH c AS (
        |  SELECT doc_id,
        |         trim(regexp_replace(regexp_replace(lower(text),
        |              '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS canon
        |  FROM documents)
        |SELECT doc_id, md5(canon) AS canon_md5,
        |       CAST(length(canon) AS BIGINT) AS canon_len
        |FROM c ORDER BY doc_id""".stripMargin)),
    "q_vocab_topk" -> QueryDef(vocabTopk(_, _), Some(vocabOracle)),
    // mergeable count-min sketch vs the exact top-k gauge: d×w bounded
    // shuffle state, overestimate-only property pinned by spec
    "q_heavy_hitters" -> QueryDef(heavyHitters(_, _),
      Some(heavyHittersOracle(20, 4, 256))),
    // 25th bridge: the cell grid folded across 4 micro-batches by the
    // count-min sum-monoid merge, then served batch-side — same oracle
    "q_hh_streamed" -> QueryDef(heavyHittersStreamed(_, _),
      Some(heavyHittersOracle(20, 4, 256))),
    "q_vocab_streamed" -> QueryDef(vocabStreamed(_, _), Some(vocabOracle)),
    "q_doc_fingerprint" -> QueryDef(docFingerprint, Some(
      """SELECT doc_id, md5(text) AS md5_text,
        |       md5(array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:8], ' ')) AS sketch8,
        |       substring(text, 1, 64) AS prefix64
        |FROM documents ORDER BY doc_id""".stripMargin))
  )
}

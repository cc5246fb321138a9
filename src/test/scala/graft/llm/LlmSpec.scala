package graft.llm

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Unit behavior of the LLM operators on crafted fixtures — the sf catalog
  * queries prove oracle parity; these prove the *semantics* on inputs where
  * the right answer is obvious. */
class LlmSpec extends SparkTestBase {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog and runs far away home tonight"

  test("shinglesExpr: 3-gram count, distinctness, and short-text guard") {
    val df = Seq(
      (1L, "a b c d"),     // 2 shingles
      (2L, "a b"),         // shorter than n → empty, NOT a descending sequence
      (3L, "x y z x y z x y z") // repeated shingles collapse via distinct
    ).toDF("doc_id", "text")
    val out = df
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
      .select(col("doc_id"), TextStats.shinglesExpr("toks").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(out(1L) == Seq("a b c", "b c d"))
    assert(out(2L).isEmpty)
    assert(out(3L).toSet == Set("x y z", "y z x", "z x y"))
  }

  test("near-dup: catches a near-copy, ignores an unrelated doc") {
    val docs = Seq(
      (0L, base),
      (1L, base + " extra"),                       // near-copy of 0
      (2L, "completely different words in this unrelated sentence about spark engines")
    ).toDF("doc_id", "text")
    val sh = docs
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
      .select(col("doc_id"), TextStats.shinglesExpr("toks").as("sh"))
    val banded = Dedup.bandSignatures(sh, bands = 4, rows = 3)
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id"), col("y.doc_id")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((0L, 1L)), "near-copy pair must share a band bucket")
    assert(!cand.exists(p => p._1 == 2L || p._2 == 2L), "unrelated doc must not be a candidate")
  }

  test("near-dup hot-bucket cap: an over-full band bucket is excluded, smaller buckets survive") {
    // 6 exact copies share EVERY band bucket (identical signatures) → with
    // maxBucket=4 all their buckets are over-full and the hot cluster
    // produces no candidates; an independent near-copy pair (bucket size 2)
    // is untouched. Uncapped, the hot cluster yields all 15 pairs.
    val other = "completely different words in this unrelated sentence about spark engines"
    val docs = ((0L until 6L).map(i => (i, base)) ++
      Seq((10L, other), (11L, other + " tail"))).toDF("doc_id", "text")
    val dir = tempDir("graft-capdocs").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def pairs(cap: Option[Int]) =
      Dedup.near(spark, dir, threshold = 0.8, maxBucket = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = pairs(None)
    val capped = pairs(Some(4))
    assert(uncapped.size == 15 + 1, s"expected 15 hot-cluster pairs + 1 other, got $uncapped")
    assert(capped == Set((10L, 11L)), s"cap should keep only the small bucket's pair, got $capped")
  }

  test("simhash hot-bucket cap: byte-identical cluster overflows all 6 bands, small bucket survives") {
    // 6 identical docs → identical signatures → every one of their 6
    // byte-pair band buckets holds 6 docs. With maxBucket=4 all are
    // over-full → the hot cluster contributes NO candidate pairs (bounded
    // quadratic join — exact dedup owns identical docs); an independent
    // identical pair (bucket size 2) is untouched.
    val other = "completely different words in this unrelated sentence about spark engines"
    val docs = ((0L until 6L).map(i => (i, base)) ++
      Seq((10L, other), (11L, other))).toDF("doc_id", "text")
    val dir = tempDir("graft-simcap").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def pairs(cap: Option[Int]) =
      Dedup.simhashPairs(spark, dir, maxHamming = 0, maxBucket = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = pairs(None)
    val capped = pairs(Some(4))
    assert(uncapped.size == 15 + 1, s"expected C(6,2) hot pairs + 1 small, got $uncapped")
    assert(capped == Set((10L, 11L)), s"cap must drop only the hot cluster, got $capped")
  }

  test("IVF with trained centroids: recall against the exact brute-force top-k") {
    val d = "/root/testdata/sf0.01"
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet // (qid, nbr)
    val brute = asSet(Similarity.topkBrute(spark, d, nQueries = 20, k = 3))
    val trained = asSet(Similarity.topkBucketed(spark, d, k = 3))
    val seedOnly = asSet(Similarity.topkBucketed(spark, d, k = 3, trainIters = 0))
    val rTrained = trained.intersect(brute).size.toDouble / brute.size
    val rSeed = seedOnly.intersect(brute).size.toDouble / brute.size
    info(f"IVF recall@3: trained=$rTrained%.3f seed-only=$rSeed%.3f")
    assert(brute.size == 60)
    // nprobe=2 of 8 buckets scans ~1/4 of the corpus; recall must beat that
    // scan fraction by a wide margin for the index to be worth anything
    assert(rTrained >= 0.5, f"trained IVF recall $rTrained%.3f below floor")
  }

  test("MMR: rank 1 is the relevance argmax; diversification reorders at least one query") {
    val d = "/root/testdata/sf0.01"
    val mmr = Similarity.simMmr(spark, d).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq }
    val rel = Similarity.topkBrute(spark, d, nQueries = 10, k = 5).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq }
    assert(mmr.keySet == rel.keySet && mmr.size == 10)
    // the seed is pure relevance — identical argmax in both rankings
    mmr.foreach { case (q, sel) => assert(sel.head == rel(q).head,
      s"MMR rank 1 must be the relevance argmax for qid=$q") }
    // λ=0.7 must actually trade relevance for diversity somewhere,
    // else the diversity term is dead code
    assert(mmr.exists { case (q, sel) => sel != rel(q) },
      "MMR never diverged from pure relevance ranking")
  }

  test("tfidf: rare terms outrank ubiquitous ones; ranks deterministic") {
    // 'common' appears in every doc (idf floor: ln((N+1)/(N+1))+1 = 1);
    // each doc's repeated rare word (tf 2, df 1 → score 2·(ln(2)+1) ≈ 3.39)
    // must outrank it
    val docs = Seq(
      (1L, "common alpha alpha"),
      (2L, "common beta beta"),
      (3L, "common gamma gamma")).toDF("doc_id", "text")
    val dir = tempDir("graft-tfidf").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val top1 = TextStats.tfidfTopk(spark, dir, k = 1).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(top1 == Map(1L -> "alpha", 2L -> "beta", 3L -> "gamma"), s"got $top1")
  }

  test("winnowing: shared token runs share fingerprints, disjoint docs share none") {
    val docs = Seq(
      (1L, base),
      (2L, base + " with a fresh continuation of entirely new trailing words"),
      (3L, "unrelated vocabulary entirely disjoint tokens forever spinning quietly onward")
    ).toDF("doc_id", "text")
    val dir = tempDir("graft-winnow").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val fps = TextStats.winnow(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(2).split(',').map(_.toLong).toSet).toMap
    // docs 1 and 2 share the full 14-token run of `base` (>= w+2 = 6):
    // winnowing guarantees at least one common fingerprint
    assert((fps(1L) intersect fps(2L)).nonEmpty, "shared run must share a fingerprint")
    assert((fps(1L) intersect fps(3L)).isEmpty, "disjoint docs must not collide")
    assert(fps.values.forall(s => s.nonEmpty))
  }

  test("near-dup clusters: min-label propagates across a 2-hop chain") {
    // sliding 40-token windows over 48 tokens: (1,2) and (2,3) are
    // near-pairs (J≈0.81) but (1,3) is not (J≈0.65) — doc 3 joins cluster
    // 1 only through the transitive edge via doc 2. Docs 10/11 are an
    // independent identical pair; doc 20 is unrelated (absent from output).
    val w = (1 to 48).map(i => f"t$i%02d")
    def window(from: Int) = w.slice(from - 1, from - 1 + 40).mkString(" ")
    val docs = Seq(
      (1L, window(1)), (2L, window(5)), (3L, window(9)),
      (10L, base), (11L, base),
      (20L, "totally unrelated content that shares nothing with the chain docs at all")
    ).toDF("doc_id", "text")
    val dir = tempDir("graft-clusters").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.ccStars(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L),
      s"got $got")
  }

  test("streaming CC: label fold spans >1 micro-batch and equals batch clustering") {
    val d = "/root/testdata/sf0.001"
    val (labels, batches) = Dedup.ccStreamedStats(spark, d)
    // the bridge's claim needs the fold to genuinely span batches — a
    // single-batch delivery would make it trivially equal to its twin
    assert(batches >= 2, s"expected >1 micro-batch, got $batches")
    val streamed = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = Dedup.ccStars(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch,
      s"streamed labels diverge from batch CC: ${streamed.size} vs ${batch.size}")
  }

  test("streaming CC: block-manager storage stays bounded across the fold's batches") {
    // r19 verdict #1: the fold swapped a fresh localCheckpoint into its
    // labels/seenBands state every micro-batch (and starLabels pinned
    // every contraction round) without freeing the superseded frames, so
    // block-manager storage grew monotonically batch over batch for the
    // JVM's life. After the freePin fix the only pins surviving the fold
    // are the final label frame and the final seen-band index — a 4-batch
    // leak would leave ≳4 pins per batch (rounds + bands + labels), so a
    // small end-state delta proves per-batch reclamation, not luck.
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val (labels, batches) = Dedup.ccStreamedStats(spark, "/root/testdata/sf0.001")
    assert(batches >= 2)
    val after = sc.getPersistentRDDs.keySet
    val leaked = (after -- before).size
    assert(leaked <= 3,
      s"fold over $batches batches left $leaked pinned RDDs — superseded " +
        "state frames are not being freed")
    // the surviving label pin is the live result — still readable
    assert(labels.count() > 0)
  }

  test("streaming count-min: grid fold spans >1 micro-batch and equals the single-pass sketch") {
    val d = "/root/testdata/sf0.001"
    val (streamed, batches) = TextStats.heavyHittersStreamedStats(spark, d)
    assert(batches >= 2, s"expected >1 micro-batch, got $batches")
    val got = streamed.collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val want = TextStats.heavyHitters(spark, d).collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // sum-monoid merge: the folded grid is row-identical to single-pass,
    // so estimates (not just the exact gauge) must match exactly
    assert(got == want, s"folded sketch diverges: $got vs $want")
  }

  test("near-dup clusters: a diameter-6 chain converges to ONE cluster") {
    // the exact failure mode of the old fixed-3-round propagation: a path
    // graph 1-2-3-4-5-6-7 has diameter 6, so node 7's min label needs >3
    // propagation rounds to arrive — contraction run to its fixpoint must
    // merge the whole chain onto 1, plus an unrelated 2-cycle
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 7L), (100L, 101L)).toDF("doc_a", "doc_b")
    val got = Dedup.starLabels(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (1L to 7L).map(_ -> 1L).toMap ++ Map(100L -> 100L, 101L -> 100L)
    assert(got == want, s"got $got")
  }

  test("decontamination: benchmark-overlapping doc flagged, disjoint doc clean") {
    val docs = Seq(
      (1L, base), // benchmark doc (id < 10)
      (12L, "intro words then " + base + " copied straight into training"),
      (13L, "no overlap with anything held out just ordinary fresh sentences")
    ).toDF("doc_id", "text")
    val dir = tempDir("graft-decont").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Pipeline.decontaminate(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(out(12L)._2 && out(12L)._1 > 0, s"copied doc must be flagged: $out")
    assert(!out(13L)._2 && out(13L)._1 == 0, s"fresh doc must be clean: $out")
    assert(!out.contains(1L), "benchmark docs are not part of the scored corpus")
  }

  test("split assignment: deterministic, complete, and near the requested fractions") {
    val d = "/root/testdata/sf0.01"
    val a = Pipeline.splitAssign(spark, d).collect().map(r => (r.getLong(0), r.getString(2)))
    val b = Pipeline.splitAssign(spark, d).collect().map(r => (r.getLong(0), r.getString(2)))
    assert(a.toSeq == b.toSeq, "split must be a pure function of (salt, doc_id)")
    val frac = a.groupBy(_._2).view.mapValues(_.length.toDouble / a.length).toMap
    assert(a.length == 500)
    assert(frac("train") > 0.8 && frac("test") < 0.12 && frac("val") < 0.12,
      s"split fractions off: $frac")
  }

  test("greedy packing: per-lang prefix-sum bin assignment, hand-checked") {
    // n_tokens 3,4,5,2 with budget 6: tokens-before = 0,3,7,12 → packs 0,0,1,2;
    // the other lang packs independently from zero
    val docs = Seq(
      (1L, "en", "a b c"), (2L, "en", "a b c d"),
      (3L, "en", "a b c d e"), (4L, "en", "a b"),
      (5L, "de", "x y z w")).toDF("doc_id", "lang", "text")
    val dir = tempDir("graft-pack").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Pipeline.packGreedy(spark, dir, budget = 6).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 2L, 5L -> 0L), s"got $out")
  }

  test("redaction: emails and digit runs scrubbed, counted, and hashed") {
    val docs = Seq(
      (1L, "contact me@example.com or call 12345 soon"),
      (2L, "clean text with a short 123 number")).toDF("doc_id", "text")
    val dir = tempDir("graft-redact").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextStats.redact(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(1L)._1 == 1 && out(1L)._2 == 1)
    assert(out(1L)._3 == md5hex("contact <EMAIL> or call <NUM> soon"))
    assert(out(2L) == ((0L, 0L, md5hex("clean text with a short 123 number"))))
  }

  test("count-min sketch: never undercounts; width-1 forces full collision") {
    // exact counts: a=4, b=3, c=1, d=1 (total occurrences = 9)
    val docs = Seq((1L, "a a a b b c"), (2L, "a b d")).toDF("doc_id", "text")
    val dir = tempDir("graft-cms").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val wide = TextStats.cmsTopk(spark, dir, depth = 4, width = 1024, k = 10)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(wide.keySet == Set("a", "b", "c", "d"))
    assert(wide("a")._1 == 4 && wide("b")._1 == 3 && wide("c")._1 == 1)
    // the CMS invariant: estimate >= exact, always
    wide.foreach { case (tok, (_, est, over)) =>
      assert(over >= 0 && est >= wide(tok)._1, s"sketch undercounted '$tok'")
    }
    // width=1: every token collides into the one bucket of every row, so
    // est = total corpus occurrences for every token — maximal (bounded)
    // overestimate, still never an undercount
    val narrow = TextStats.cmsTopk(spark, dir, depth = 4, width = 1, k = 10)
      .collect()
    narrow.foreach { r =>
      assert(r.getLong(2) == 9, s"width-1 est must be the 9-token total, got $r")
      assert(r.getLong(3) == 9 - r.getLong(1))
    }
  }

  test("embedding quantization: int8 range, exact extremes, dequant error bound") {
    val d = "/root/testdata/sf0.001"
    val rows = Similarity.quantize(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val scale = r.getDouble(1)
      val q = r.getString(2).split(',').map(_.toInt).toSeq
      assert(q.forall(v => v >= -127 && v <= 127), s"out of int8 range: $q")
      // the max-|x| dim must quantize to exactly +-127
      assert(q.exists(v => math.abs(v) == 127) || scale == 0.0)
    }
    // round-trip error of round-to-nearest: |q*scale/127 - x| <= scale/254
    val checked = Similarity.quantize(spark, d).limit(5).collect().map(_.getLong(0)).toSet
    val orig = graft.core.Tables.embeddings(spark, d)
      .filter(col("vec_id").isin(checked.toSeq: _*)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    rows.filter(r => checked(r.getLong(0))).foreach { r =>
      val (scale, q) = (r.getDouble(1), r.getString(2).split(',').map(_.toInt).toSeq)
      val e = orig(r.getLong(0))
      q.zip(e).foreach { case (qi, xi) =>
        assert(math.abs(qi * scale / 127 - xi) <= scale / 254 + 1e-9,
          s"dequant error too large for vec ${r.getLong(0)}")
      }
    }
  }

  test("cosine: hand-computable vectors") {
    val df = Seq(
      (Array(1.0, 0.0), Array(0.0, 1.0)),  // orthogonal → 0
      (Array(1.0, 2.0), Array(2.0, 4.0)),  // parallel → 1
      (Array(1.0, 0.0), Array(-1.0, 0.0))  // opposite → -1
    ).toDF("a", "b")
    val got = df.select(Similarity.cosine(col("a"), col("b")).as("c"))
      .collect().map(_.getDouble(0))
    assert(math.abs(got(0) - 0.0) < 1e-12)
    assert(math.abs(got(1) - 1.0) < 1e-12)
    assert(math.abs(got(2) + 1.0) < 1e-12)
  }

  test("langId argmax: marker-heavy texts classify; ties break in fixed lang order") {
    val hits = TextStats.markerHitsExpr("text", Seq("der", "und"))
    val df = Seq((1L, "der hund und der mann"), (2L, "nothing matches here"))
      .toDF("doc_id", "text")
    val out = df.select(col("doc_id"), hits.as("h")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == 3L) // der ×2 + und ×1, multiplicity counted
    assert(out(2L) == 0L)
  }

  test("multimodal: P6 decode parses dims from the packed header and channel-folds the pixels") {
    // 2 frames of 96 bytes: frame 0 all 'A' (65), frame 1 all 'z' (122)
    val text = "A" * 96 + "z" * 96 + "tail-ignored"
    val dir = tempDir("graft-ppm").toString
    Seq((1L, text, "en", "a", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = Multimodal.multimodalFeatures(spark, dir).collect().head
    assert(r.getAs[Long]("w") == 8L && r.getAs[Long]("h") == 8L)
    assert(r.getAs[Long]("nf") == 2L)
    // per-channel sums over BOTH frames: 32 samples/channel/frame
    assert(r.getAs[Long]("r_sum") == 32L * 65 + 32L * 122)
    assert(r.getAs[Long]("r_max") == 122L && r.getAs[Long]("b_min") == 65L)
    // sampled frame indices at nf=2: j*2 DIV 4 = 0,0,1,1 — and the two
    // distinct frames hash differently (REAL slicing at parsed offsets)
    val md5s = r.getAs[String]("frames_md5").split(",")
    assert(md5s(0) == md5s(1) && md5s(2) == md5s(3) && md5s(0) != md5s(2))
    val rsums = r.getAs[String]("frames_rsum").split(",").map(_.toLong)
    assert(rsums.toSeq == Seq(32L * 65, 32L * 65, 32L * 122, 32L * 122))
  }

  test("multimodal: corrupted P6 header decodes to NULL dims, never throws") {
    val good = Multimodal.packAsPpm(
      Seq((1L, "x" * 96, "en", "a", 96L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    // flip the magic: P6 -> Q6 (header regex must miss, dims go null)
    val bad = good.select(col("doc_id"),
      concat(lit("Q").cast("binary"),
        expr("substring(img, 2, length(img) - 1)")).as("img"), col("meta"))
    val r = Multimodal.parsedPpm(bad)
      .select(col("w"), col("h"), col("nf")).collect().head
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }

  test("quantized search: recall@3 vs full-precision ranks stays high") {
    // int8 dequantized scoring must track the exact ranks — measured 58/60
    // at sf0.001 AND sf0.01 (deterministic data); bound leaves headroom
    val d = "/root/testdata/sf0.001"
    val exact = Similarity.topkBrute(spark, d, 20, 3).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val quant = Similarity.topkQuantized(spark, d, 20, 3).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & quant).size.toDouble / exact.size
    assert(recall >= 0.9, s"quantized recall@3 dropped to $recall")
  }

  test("bpe_count: hand-computed runs, whitespace, unicode codepoints") {
    val cases = Seq(
      ("hello world", 4L),   // 2 letter runs of 5 → 2+2
      ("abc123!!", 3L),      // letters(3)+digits(3)+punct(2) → 1+1+1
      ("a", 1L),
      ("", 0L),
      ("   ", 0L),           // whitespace-only → 0
      ("1234567890", 3L),    // one 10-digit run → ceil(10/4)
      ("的是了", 1L),         // 3-codepoint "other" run → ceil(3/4)
      ("café", 2L),          // "caf" letters(3)→1 + "é" other(1)→1
      ("a\tb\nc", 3L)        // tab/newline are separators
    )
    val got = cases.map(_._1).toDF("text")
      .select(expr("bpe_count(text)")).collect().map(_.getLong(0)).toSeq
    assert(got == cases.map(_._2), s"got $got expected ${cases.map(_._2)}")
  }

  test("bpe_count: equals the regex HOF formulation on the real corpus") {
    // the oracle replays the regex form in DuckDB; this proves the native
    // byte-loop and Spark's own regex engine agree doc-for-doc
    val twin = expr(
      """aggregate(regexp_extract_all(text,
        |  '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r\\f]+', 0),
        |  0L, (acc, p) -> acc + CAST(ceil(char_length(p) / 4.0) AS LONG))""".stripMargin)
    val diff = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(expr("bpe_count(text)").as("native"), twin.as("regex"))
      .filter(col("native") =!= col("regex")).count()
    assert(diff == 0L, s"$diff documents disagree between native and regex path")
  }

  test("bpe_count: randomized strings match an independent Scala regex reference") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // mixed alphabet: ASCII letters/digits/punct, whitespace incl. the
    // excluded-vs-Java-\s vertical tab, and multi-byte unicode
    val alphabet = ('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9') ++
      " \t\n\r\f!@#,.;:-€的是éß".toSeq
    val genStr = Gen.chooseNum(0, 80).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(alphabet)).map(_.mkString))
    var seed = Seed(42L)
    val cases = (0 until 200).map { _ =>
      val s = genStr.apply(Gen.Parameters.default, seed).get
      seed = seed.next
      s
    }
    val ref = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r\f]+".r
    def expected(s: String): Long =
      ref.findAllIn(s).map(p => (p.codePointCount(0, p.length) + 3L) / 4L).sum
    val got = cases.toDF("text").select(expr("bpe_count(text)"))
      .collect().map(_.getLong(0)).toSeq
    val want = cases.map(expected)
    assert(got == want,
      s"first mismatch: ${cases.zip(got.zip(want)).find { case (_, (g, w)) => g != w }}")
  }

  test("word_shingles multiplicity flag: duplicates kept in position order") {
    val r = Seq(Tuple1("x y x y x")).toDF("text")
      .select(TextStats.tokens(col("text")).as("toks"))
      .select(expr("word_shingles(toks, 2, false)").as("all"),
        expr("word_shingles(toks, 2)").as("dist"))
      .collect().head
    assert(r.getSeq[String](0) == Seq("x y", "y x", "x y", "y x"))
    assert(r.getSeq[String](1) == Seq("x y", "y x"))
  }

  test("keep-best dedup: longest canonical variant wins, ties to lowest id") {
    // docs 1/2/3 share the canonical form "hello world"; 1 and 3 tie on
    // length (13) → doc 1 survives; doc 9 is its own group
    val docs = Seq(
      (1L, "Hello, World!", 13L),
      (2L, "hello world", 11L),
      (3L, "HELLO WORLD?!", 13L),
      (9L, "unique text", 11L)
    ).toDF("doc_id", "text", "n_chars")
    val dir = tempDir("graft-keepbest").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.keepBest(spark, dir).collect()
      .map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got == Map(1L -> (13L, 3L), 9L -> (11L, 1L)), s"got $got")
  }

  test("char_shingles: equals the sequence/substring HOF formulation on the real corpus") {
    val diff = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(lower(col("text")).as("c"))
      .filter(length(col("c")) >= 3)
      .select(
        expr("char_shingles(c, 3, false)").as("native"),
        expr("transform(sequence(1, length(c) - 2), i -> substring(c, i, 3))").as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(diff == 0L, s"$diff documents disagree between native and HOF char shingles")
    // short + empty strings yield empty arrays, multiplicity flag works
    val r = Seq("ab", "", "aaaa").toDF("c")
      .select(expr("char_shingles(c, 3, false)").as("all"),
        expr("char_shingles(c, 3)").as("dist")).collect()
    assert(r(0).getSeq[String](0).isEmpty && r(1).getSeq[String](0).isEmpty)
    assert(r(2).getSeq[String](0) == Seq("aaa", "aaa") && r(2).getSeq[String](1) == Seq("aaa"))
  }

  test("char-trigram language ID: disjoint alphabets classify; short doc falls to tie rule") {
    val docs = Seq(
      (1L, "aaabbbcccaaabbbccc", "xx"),  // xx corpus: abc-alphabet
      (2L, "cccbbbaaacccbbbaaa", "xx"),
      (3L, "xxxyyyzzzxxxyyyzzz", "yy"),  // yy corpus: xyz-alphabet
      (4L, "zzzyyyxxxzzzyyyxxx", "yy"),
      (5L, "aaabbbreally", "xx"),        // abc-leaning doc
      (6L, "ab", "xx")                   // < 3 chars: zero hits -> first lang
    ).map { case (id, t, l) => (id, t, l, "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempDir("graft-langngram").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextStats.langNgram(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getString(2), r.getLong(3))).toMap
    assert(got(1L)._1 == "xx" && got(3L)._1 == "yy" && got(4L)._1 == "yy")
    assert(got(5L)._1 == "xx", s"abc-leaning doc misclassified: ${got(5L)}")
    assert(got(6L) == ("xx", 0L), "short doc must fall to the first-language tie rule")
  }

  test("repetition quality: degenerate doc flagged, varied doc clean") {
    val docs = Seq(
      (1L, "spam spam spam spam spam"),              // top token 5/5
      (2L, "buy now buy now buy now buy now"),       // top bigram 4/8
      (3L, "twelve entirely distinct words appear in this sentence so nothing ever repeats"),
      (4L, "solo")                                   // 1 token: top ratio IS 1.0
    ).toDF("doc_id", "text")
    val dir = tempDir("graft-qualrep").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextStats.qualityRep(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)), r.getBoolean(5)))
      .toMap
    assert(got(1L) == ((5L, 1L, 5L, 4L), true))   // "spam spam" bigram ×4 too
    assert(got(2L) == ((8L, 2L, 4L, 4L), true))   // "buy now" ×4 > 8/10
    assert(got(3L) == ((12L, 12L, 1L, 1L), false))
    // a 1-token doc's top-unigram ratio is 100% — the ratio signal flags
    // it; length gating is the quality filter's separate job
    assert(got(4L) == ((1L, 1L, 1L, 0L), true))
  }

  test("winnow pairs: copy-paste run detected, embedded doc scores containment 1.0, unrelated doc absent") {
    val run = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    val docs = Seq(
      (0L, run + " omicron pi rho sigma tau"),
      (1L, "prefix words here " + run + " different ending entirely"), // shares the run
      (2L, run),                                                       // embedded: fps(2) ⊆ fps-ish of 0
      (3L, "totally disjoint vocabulary sentence about streams joins shuffles partitions caches")
    ).toDF("doc_id", "text")
    val dir = tempDir("graft-winpairs").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.winnowPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(got.contains((0L, 1L)), s"shared-run pair missing: ${got.keySet}")
    assert(got.get((0L, 2L)).contains(1.0),
      s"embedded doc must score containment 1.0, got ${got.get((0L, 2L))}")
    assert(!got.keySet.exists(p => p._1 == 3L || p._2 == 3L),
      "disjoint doc must produce no pair")
  }

  test("quality LM: cross-entropy matches the hand-computed add-one bigram model") {
    val docs = Seq(
      (1L, "a b a b a"), // bigrams: ab, ba, ab, ba — all common
      (2L, "a c")        // bigram ac occurs once — the surprising doc
    ).toDF("doc_id", "text")
    val dir = tempDir("graft-qlm").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // corpus: c(a b)=2, c(b a)=2, c(a c)=1; heads c(a·)=3, c(b·)=2; V=3
    def lg2(x: Double) = math.log(x) / math.log(2)
    val nll = (cbg: Int, ch: Int) => lg2(ch + 3.0) - lg2(cbg + 1.0)
    val exp1 = BigDecimal((nll(2, 3) + nll(2, 2) + nll(2, 3) + nll(2, 2)) / 4)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
    val exp2 = BigDecimal(nll(1, 3))
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = TextStats.qualityLm(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(1L) == ((4L, exp1)), s"got ${got(1L)}, expected (4, $exp1)")
    assert(got(2L) == ((1L, exp2)), s"got ${got(2L)}, expected (1, $exp2)")
    assert(got(2L)._2 > got(1L)._2, "rare-bigram doc must score higher xent")
  }

  test("chunk split: stride windows, tail chunk, identical chunks hash identically") {
    val docs = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"),
      (2L, "t1 t2 t3 t4")                      // = doc 1's first window
    ).toDF("doc_id", "text")
    val dir = tempDir("graft-chunk").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Pipeline.chunkSplit(spark, dir, size = 4, stride = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    // doc 1: starts 1,4,7,10 → lengths 4,4,4,1
    assert(rows((1L, 0L))._1 == 1L && rows((1L, 0L))._2 == 4L)
    assert(rows((1L, 1L)) ._1 == 4L && rows((1L, 1L))._2 == 4L)
    assert(rows((1L, 3L)) == ((10L, 1L, rows((1L, 3L))._3)))
    assert(rows.count(_._1._1 == 1L) == 4)
    // chunk identity: doc 2 IS doc 1's first window → same md5
    assert(rows((2L, 0L))._3 == rows((1L, 0L))._3,
      "identical token windows must share chunk_md5")
  }

  test("chunk dedup: cross-doc shared chunk flagged, within-doc repetition is not") {
    val docs = Seq(
      (1L, "a b c d e f g h"),          // chunks(4): [a b c d], [e f g h]
      (2L, "a b c d x y z w"),          // shares [a b c d] with doc 1
      (3L, "p q r s p q r s"),          // within-doc repeat only → clean
      (4L, "m n o t u v w2 x2")         // all unique
    ).toDF("doc_id", "text")
    val dir = tempDir("graft-chunkdup").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.chunkDups(spark, dir, size = 4).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got(1L) == ((2L, 1L, 0.5)), s"doc1: ${got(1L)}")
    assert(got(2L) == ((2L, 1L, 0.5)), s"doc2: ${got(2L)}")
    assert(got(3L) == ((2L, 0L, 0.0)),
      s"within-doc repeat must not flag (distinct-doc count): ${got(3L)}")
    assert(got(4L) == ((2L, 0L, 0.0)), s"doc4: ${got(4L)}")
  }

  test("mix weights: sqrt temperature flattens a 9:16 token split to 3:4") {
    val docs = Seq(
      (1L, "w w w w w w w w w", "srcA"),                       // 9 tokens
      (2L, "w w w w w w w w w w w w w w w w", "srcB")          // 16 tokens
    ).toDF("doc_id", "text", "source")
    val dir = tempDir("graft-mixw").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Pipeline.mixWeights(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got("srcA") == ((1L, 9L, 0.428571)), s"srcA: ${got("srcA")}") // 3/7
    assert(got("srcB") == ((1L, 16L, 0.571429)), s"srcB: ${got("srcB")}") // 4/7
  }

  test("sourceDivergence equals a driver-side fixed-point reference recompute") {
    // Pins the bit-exactness claim: the floor-scaled per-term longs must
    // reproduce EXACTLY from the raw counts with the same IEEE op tree,
    // independent of Spark's partitioning or aggregation order.
    val d = "/root/testdata/sf0.001"
    val rows = graft.core.Tables.documents(spark, d)
      .select(col("source"), col("text")).collect()
    val counts = scala.collection.mutable.Map[(String, String), Long]()
      .withDefaultValue(0L)
    rows.foreach { r =>
      r.getString(1).split(" ", -1).filter(_.nonEmpty)
        .foreach(t => counts((r.getString(0), t)) += 1)
    }
    val ct = counts.groupBy(_._1._2).map { case (t, m) => t -> m.values.sum }
    val topV = ct.toSeq.sortBy { case (t, c) => (-c, t) }.take(100).toMap
    val nn = topV.values.sum
    val bySrc = counts.filter { case ((_, t), _) => topV.contains(t) }
      .groupBy(_._1._1)
    val expected = bySrc.map { case (src, m) =>
      val ns = m.values.sum
      // keys is a Set — map through a Seq or equal c_t values deduplicate
      val cts = m.keys.toSeq.map { case (_, t) => topV(t) }.sum
      val termSum = m.map { case ((_, t), o) =>
        val num = (o * nn - ns * topV(t)).toDouble
        val den = ns.toDouble * topV(t).toDouble * nn.toDouble
        math.floor(num * num / den * 1e6).toLong
      }.sum
      val zero = math.floor(
        ns.toDouble * (nn.toDouble - cts.toDouble) / nn.toDouble * 1e6).toLong
      src -> (termSum + zero)
    }
    val got = TextStats.sourceDivergence(spark, d).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got == expected,
      s"fixed-point chi2 mismatch:\n got=$got\n exp=$expected")
  }

  test("count-min heavy hitters: estimates only overestimate, and by the collision mass") {
    val d = "/root/testdata/sf0.001"
    val rows = TextStats.heavyHitters(spark, d).collect()
    assert(rows.length == 20)
    // the CMS invariant: collisions ADD, nothing subtracts — so the point
    // estimate can never undercount (a broken bucket derivation on either
    // lookup arm would undercount immediately)
    rows.foreach { r =>
      val (term, cnt, est, over) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(est >= cnt, s"$term: CMS undercounted ($est < $cnt)")
      assert(over == est - cnt)
    }
    // independent re-derivation (the sourceDivergence discipline): build
    // the same d×w sketch in plain Scala from exact token counts and
    // compare every top-term estimate — catches a wrong hash input, a
    // wrong bucket mod, or a min over the wrong cell set
    val counts = graft.core.Tables.documents(spark, d)
      .select(explode(split(col("text"), " ")).as("t"))
      .groupBy(col("t")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def bucket(r: Int, term: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$r#$term".getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.take(8)
      (java.lang.Long.parseLong(hex, 16) % 256).toInt
    }
    val cells = scala.collection.mutable.Map.empty[(Int, Int), Long]
    for ((t, c) <- counts; r <- 0 until 4)
      cells((r, bucket(r, t))) = cells.getOrElse((r, bucket(r, t)), 0L) + c
    rows.foreach { r =>
      val want = (0 until 4).map(i => cells((i, bucket(i, r.getString(0))))).min
      assert(r.getLong(2) == want,
        s"${r.getString(0)}: est ${r.getLong(2)} != re-derived $want")
    }
  }
}

package graft.llm

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property test of the MinHash-LSH pipeline on generated corpora: every
  * planted high-Jaccard near-copy is found, and no reported pair lies about
  * its Jaccard (recomputed exactly in Scala). Seeded — with r=3/b=4 the
  * per-pair detection probability at J>=0.95 is >0.9999, and the fixed seed
  * makes the run deterministic either way. */
class DedupPropertiesSpec extends SparkTestBase {
  import spark.implicits._

  private val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi",
    "omicron", "pi", "rho", "sigma", "tau", "upsilon")

  private def jaccard(a: String, b: String): Double = {
    def sh(t: String) = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val (x, y) = (sh(a), sh(b))
    x.intersect(y).size.toDouble / x.union(y).size
  }

  test("simhashPairs(maxHamming=2) returns EXACTLY the hamming<=2 pairs — the byte-pair banding guarantee") {
    // Soundness is the hamming filter; COMPLETENESS is the pigeonhole claim
    // (<=2 bit flips leave one of the 6 byte pairs untouched), checked here
    // against ground truth recomputed from the signatures themselves.
    val genDoc = Gen.listOfN(40, Gen.oneOf(vocab)).map(_.mkString(" "))
    var seed = Seed(13L)
    val docs = (0 until 15).map { i =>
      val d = genDoc.apply(Gen.Parameters.default, seed).get
      seed = seed.next
      (i.toLong, d)
    }
    // exact copies (hamming 0) and one-token tweaks (small, often <=2)
    val copies = docs.take(3).map { case (id, t) => (id + 100L, t) }
    val tweaks = docs.slice(3, 8).map { case (id, t) =>
      (id + 200L, t.replaceFirst("alpha", "omega")) }
    val corpus = docs ++ copies ++ tweaks
    val dir = tempDir("graft-simprop").toString
    corpus.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val sigs = Dedup.simhashDocs(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ids = sigs.keys.toSeq.sorted
    val truth = (for {
      a <- ids; b <- ids if a < b
      if java.lang.Long.bitCount(sigs(a) ^ sigs(b)) <= 2
    } yield (a, b)).toSet
    assert(truth.nonEmpty, "fixture must contain hamming<=2 pairs")
    val got = Dedup.simhashPairs(spark, dir, maxHamming = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == truth,
      s"missing=${truth -- got} spurious=${got -- truth}")
  }

  test("near() finds every planted near-copy and reports exact Jaccard") {
    val genDoc = Gen.listOfN(60, Gen.oneOf(vocab)).map(_.mkString(" "))
    var seed = Seed(7L)
    for (round <- 1 to 3) {
      val docs = (0 until 20).map { i =>
        val d = genDoc.apply(Gen.Parameters.default, seed).get
        seed = seed.next
        (i.toLong, d)
      }
      // plant near-copies: append one word (J ~ 57/61 ≈ 0.95 on shingle sets)
      val planted = docs.take(3).map { case (id, t) => (id + 100L, t + " omega") }
      val corpus = (docs ++ planted).toDF("doc_id", "text")
      corpus.createOrReplaceTempView("documents_prop")

      // run the same pipeline against the in-memory corpus
      val docsTok = corpus.select(col("doc_id"),
        TextStats.tokens(col("text")).as("toks"))
      val sh = docsTok.select(col("doc_id"), TextStats.shinglesExpr("toks").as("sh"))
        .filter(size(col("sh")) > 0)
      val banded = Dedup.bandSignatures(sh, 4, 3)
      val cand = banded.as("x").join(banded.as("y"),
          col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

      val textOf = (docs ++ planted).toMap
      planted.foreach { case (copyId, _) =>
        val origId = copyId - 100L
        assert(cand.contains((origId, copyId)),
          s"round $round: planted pair ($origId, $copyId) not a candidate; " +
            s"J=${jaccard(textOf(origId), textOf(copyId))}")
      }
      // no candidate pair involves docs with zero shingle overlap
      cand.foreach { case (a, b) =>
        if (math.abs(a - b) != 100L) // unplanned pairs possible but must share shingles
          assert(jaccard(textOf(a), textOf(b)) > 0.0,
            s"round $round: bucket collision between shingle-disjoint docs $a,$b")
      }
    }
  }

  test("incremental() equals the naive batch-anti-join-corpus formulation") {
    // The zero-corpus-shuffle formulation (semi-probe + double broadcast)
    // must answer the same question as the shape it replaces: dedup the
    // batch within itself, then drop anything whose (md5, length) key
    // exists in the corpus.
    val d = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions._
    val keyed = graft.core.Tables.documents(spark, d)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("ck"),
        length(col("text")).cast("bigint").as("cl"))
    val naive = keyed.filter(pmod(col("doc_id"), lit(5)) === 4)
      .groupBy(col("ck"), col("cl")).agg(min(col("doc_id")).as("doc_id"))
      .join(keyed.filter(pmod(col("doc_id"), lit(5)) =!= 4),
        Seq("ck", "cl"), "left_anti")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val scaled = Dedup.incremental(spark, d)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(scaled == naive && naive.nonEmpty)
    // survivors are batch members and carry no corpus-colliding key
    assert(scaled.forall(_ % 5 == 4))
  }

  test("nearIncremental() equals the whole-corpus LSH pair set, split by role") {
    // The incremental formulation (separate batch/corpus signatures,
    // broadcast cross-join) must find exactly the pairs the monolithic
    // nearFor() finds — signatures are per-doc, so bucketing the union and
    // filtering by role afterwards is the same candidate set.
    val d = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions._
    val pairs = Dedup.nearFor(graft.core.Tables.documents(spark, d))
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def isB(id: Long) = id % 5 == 4
    val corpusHits = pairs.collect {
      case (a, b) if isB(a) && !isB(b) => a
      case (a, b) if isB(b) && !isB(a) => b
    }.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val batchHits = pairs.collect { // (a < b by construction) -> b's lower-id dup
      case (a, b) if isB(a) && isB(b) => b
    }.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val got = Dedup.nearIncremental(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("corpus_hits"), r.getAs[Long]("batch_hits"),
          r.getAs[Long]("survives")))).toMap
    assert(got.keySet.forall(isB))
    got.foreach { case (id, (ch, bh, sv)) =>
      assert(ch == corpusHits.getOrElse(id, 0L), s"doc $id corpus_hits")
      assert(bh == batchHits.getOrElse(id, 0L), s"doc $id batch_hits")
      assert(sv == (if (ch == 0 && bh == 0) 1L else 0L), s"doc $id survives")
    }
  }

  test("substrPairs: embedded ≥n-token span found at any offset; " +
    "(n-1)-token overlap and df-capped boilerplate never pair") {
    val n = 8 // span tier for the fixture (the chain is n-independent)
    def words(seed: Int, len: Int): Seq[String] =
      (0 until len).map(i => vocab((seed * 31 + i * 7) % vocab.size) + i)
    val span = (0 until n).map(i => s"shared$i")          // the planted span
    val shortSpan = span.take(n - 1)                      // one token short
    val boiler = (0 until n).map(i => s"boiler$i")        // hot span
    val mk: ((Long, Seq[String])) => (Long, String) =
      { case (id, toks) => (id, toks.mkString(" ")) }
    val corpus = (Seq(
      // A/B: same n-span embedded at DIFFERENT offsets → must pair
      1L -> (words(1, 5) ++ span ++ words(2, 9)),
      2L -> (words(3, 13) ++ span ++ words(4, 3)),
      // C/D: only an (n-1)-token run in common → must NOT pair
      3L -> (words(5, 6) ++ shortSpan ++ words(6, 9)),
      4L -> (words(7, 11) ++ shortSpan ++ words(8, 5)),
      // E..P: 12 docs (> maxDf=10) all sharing the boilerplate span →
      // the df cap drops its bucket, so none of them pair through it
    ) ++ (5L to 16L).map(id =>
      id -> (words(id.toInt, 4) ++ boiler ++ words(id.toInt + 20, 4)))).map(mk)
    val docs = corpus.toDF("doc_id", "text")
    val got = Dedup.substrPairsFrom(docs, n, maxDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)),
      s"expected exactly the embedded-span pair (1,2), got $got")
    // sanity: without the df cap the boilerplate family DOES pair — the
    // cap, not a recall gap, is what suppressed those 66 pairs above
    val uncapped = Dedup.substrPairsFrom(docs, n, maxDf = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.contains((5L, 6L)) && uncapped.size == 1 + 66,
      s"uncapped run should add the 12-choose-2 boilerplate pairs, got ${uncapped.size}")
  }

  test("containPairs flags the quoted-whole-document pair symmetric Jaccard misses") {
    // A (12 tokens) quoted verbatim inside B (12 + 48 others): every
    // shingle of A is a shingle of B, so containment c_ab = 1.0 while
    // plain Jaccard |A∩B|/|A∪B| ≈ 10/58 ≈ 0.17 — under any dedup
    // threshold. C is unrelated noise.
    val quoted = (0 until 12).map(i => vocab(i))
    val corpus = Seq(
      1L -> quoted.mkString(" "),
      2L -> ((0 until 24).map(i => s"p$i") ++ quoted ++
        (0 until 24).map(i => s"q$i")).mkString(" "),
      3L -> (0 until 40).map(i => s"z$i").mkString(" "))
    val docs = corpus.toDF("doc_id", "text")
    val got = Dedup.containPairsFrom(docs, threshold = 0.5, maxDf = 10,
      minShared = 2).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got.keySet == Set((1L, 2L)), s"expected exactly (1,2), got $got")
    assert(got((1L, 2L)) == 1.0, s"full quote must give c_ab = 1.0: $got")
    // while the pair's SYMMETRIC Jaccard sits far under any dedup
    // threshold — the class this operator exists for
    val j = jaccard(corpus(0)._2, corpus(1)._2)
    assert(j < 0.3, f"fixture Jaccard $j%.3f unexpectedly high")
  }

  test("shuffleShard() is a seeded permutation: total, shard-contiguous, seed-sensitive") {
    val d = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions._
    val all = graft.core.Tables.documents(spark, d)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val m = Pipeline.shuffleShard(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every doc exactly once — a manifest that drops or doubles a doc
    // corrupts the epoch
    assert(m.map(_._3).toSet == all && m.length == all.size)
    // positions are 1..n contiguous per shard (a reader can seek by pos)
    m.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1L to rows.length).toSeq)
    }
    // a different seed yields a different permutation of some shard
    val m2 = Pipeline.shuffleShard(spark, d, seed = "epoch1").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(m2 != m.toSet)
    // same seed replays bit-identically
    val m3 = Pipeline.shuffleShard(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(m3 == m.toSet)
  }

  test("winnow_fps equals the declarative transform-HOF formulation on random corpora") {
    // The native expression (graft.expr.WinnowFps) replaced the chained
    // transform HOFs for performance; this pins the two formulations equal
    // on arbitrary inputs — md5 prefix fold, window minima, distinct+sort,
    // and the shorter-than-w+2 empty guard. Random lengths 0..20 cover the
    // guard boundary (w=4 → docs under 6 tokens must yield empty sets and
    // be filtered by callers).
    val w = 4
    val genDoc = Gen.choose(0, 20).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(vocab)).map(_.mkString(" ")))
    var seed = Seed(99L)
    val docs = (0 until 60).map { i =>
      val d = genDoc.apply(Gen.Parameters.default, seed).get
      seed = seed.next
      (i.toLong, d)
    }
    val df = docs.toDF("doc_id", "text")
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
    val native = df
      .select(col("doc_id"), expr(s"winnow_fps(toks, $w)").as("fps"))
    val declarative = df
      .withColumn("grams", expr(
        """CASE WHEN size(toks) < 3 THEN array()
          |ELSE transform(sequence(1, size(toks) - 2),
          |  i -> concat(element_at(toks, i), ' ',
          |              element_at(toks, i + 1), ' ',
          |              element_at(toks, i + 2)))
          |END""".stripMargin))
      .withColumn("gh", expr(
        "transform(grams, g -> CAST(conv(substring(md5(CAST(g AS BINARY)), 1, 8), 16, 10) AS BIGINT))"))
      .withColumn("fps", expr(
        s"""CASE WHEN size(gh) < $w THEN array()
           |ELSE array_sort(array_distinct(
           |  transform(sequence(1, size(gh) - ${w - 1}),
           |            i -> array_min(slice(gh, i, $w)))))
           |END""".stripMargin))
      .select(col("doc_id"), col("fps"))
    val n = native.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val m = declarative.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(n.keySet == m.keySet)
    n.foreach { case (id, fps) =>
      assert(fps == m(id), s"doc $id: native=$fps declarative=${m(id)}")
    }
  }

  test("nearRecallGauge: counts reconcile with the two pair sets it compares") {
    // The gauge's one-row answer must be exactly the set arithmetic of its
    // two published constituents: truth = ngram pairs, lsh = MinHash pairs,
    // hits = their intersection on (doc_a, doc_b).
    val d = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions._
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_a"), col("doc_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairSet(Dedup.ngramPairs(spark, d))
    val lsh = pairSet(Dedup.nearFor(graft.core.Tables.documents(spark, d)))
    val r = Dedup.nearRecallGauge(spark, d).collect().head
    assert(r.getLong(0) == truth.size, "truth_pairs")
    assert(r.getLong(1) == lsh.size, "lsh_pairs")
    assert(r.getLong(2) == (truth & lsh).size, "hit_pairs = intersection")
    assert(r.getDouble(3) ==
      BigDecimal(1.0 * (truth & lsh).size / truth.size)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // the banded-LSH recall floor this config is shipped with
    assert(r.getDouble(3) >= 0.8, s"recall collapsed: ${r.getDouble(3)}")
  }

  test("starLabels: exact min-id components on deep paths, cycles, and stars; " +
    "agrees with union-find") {
    // adversarial graph shapes: a diameter-9 path (the under-merge class a
    // fixed-round loop fails), a cycle, a hub star, and a 2-node component —
    // ground truth from a Scala union-find
    val pairs = Seq(
      // path 1-2-3-...-10 wired high-to-low so label distance is maximal
      (2L, 1L), (3L, 2L), (4L, 3L), (5L, 4L), (6L, 5L), (7L, 6L), (8L, 7L),
      (9L, 8L), (10L, 9L),
      // cycle 20-21-22-23-20
      (20L, 21L), (21L, 22L), (22L, 23L), (23L, 20L),
      // star centered at 31 (center is NOT the min — 30 is a leaf)
      (31L, 30L), (31L, 32L), (31L, 33L),
      // 2-node component + duplicate edge both directions
      (41L, 40L), (40L, 41L)
    ).toDF("doc_a", "doc_b")
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairs.collect().foreach { r =>
      val (a, b) = (find(r.getLong(0)), find(r.getLong(1)))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    val nodes = pairs.collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    val truth = nodes.map(n => n -> find(n)).toMap
    val stars = Dedup.starLabels(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stars == truth, "star contraction != union-find ground truth")
  }

  test("splitLeakfree: both ends of every near-dup pair land in the same split") {
    // the query's entire claim — a per-doc hash split violates this
    val d = "/root/testdata/sf0.001"
    val split = Pipeline.splitLeakfree(spark, d).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    val pairs = Dedup.nearFor(graft.core.Tables.documents(spark, d))
      .select(col("doc_a"), col("doc_b")).collect()
    assert(pairs.nonEmpty, "no near-dup pairs at sf0.001 — test is vacuous")
    pairs.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(split(a) == split(b),
        s"near-dup pair ($a, $b) split across ${split(a)} / ${split(b)}")
    }
  }

  test("contraction identity: merging contracted G1 labels with G2 edges " +
    "equals CC over G1 ∪ G2 (seeded property)") {
    // the correctness argument behind ccIncremental, exercised directly on
    // random split graphs: CC(contract(G1) ∪ G2) = CC(G1 ∪ G2)
    val genEdge = for {
      a <- Gen.chooseNum(0L, 39L); b <- Gen.chooseNum(0L, 39L)
    } yield (a, b)
    var seed = Seed(7L)
    (1 to 3).foreach { _ =>
      def draw(n: Int) = (1 to n).map { _ =>
        val e = genEdge.apply(Gen.Parameters.default, seed).get
        seed = seed.next
        e
      }.filter(e => e._1 != e._2)
      val g1 = draw(25)
      val g2 = draw(12)
      val full = Dedup.starLabels((g1 ++ g2).toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val l1 = Dedup.starLabels(g1.toDF("doc_a", "doc_b"))
      val contracted = l1.filter(col("id") =!= col("lbl"))
        .select(col("id").as("doc_a"), col("lbl").as("doc_b"))
        .unionByName(g2.toDF("doc_a", "doc_b"))
      val merged = Dedup.starLabels(contracted)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // the merge covers every node of the union graph that is in an edge;
      // nodes only in G1 singleton components don't exist (edges only)
      assert(merged == full, s"contraction identity violated: g1=$g1 g2=$g2")
    }
  }

  test("starLabels: random graphs match union-find (seeded property)") {
    // sparse random graphs land in the awkward regime — many mid-sized
    // components with mixed chains and merges — that the fixed-shape test
    // can't cover; ground truth is the same Scala union-find
    val genEdge = for {
      a <- Gen.chooseNum(0L, 59L); b <- Gen.chooseNum(0L, 59L)
    } yield (a, b)
    var seed = Seed(99L)
    val randomGraphs = (1 to 3).map { _ =>
      (1 to 45).map { _ =>
        val e = genEdge.apply(Gen.Parameters.default, seed).get
        seed = seed.next
        e
      }.filter(e => e._1 != e._2)
    }
    // long near-dup chains: paths of 200 and 1,000 nodes with seeded
    // shuffled ids, so labels must cross the whole diameter in no id
    // order (min-label propagation did not converge on either in 64 rounds)
    val paths = Seq(200 -> 14L, 1000 -> 18L).map { case (n, s) =>
      val ids = new scala.util.Random(s).shuffle((0L until n).toVector)
      ids.sliding(2).map(p => (p(0), p(1))).toVector
    }
    (randomGraphs ++ paths).foreach { edges =>
      val pairs = edges.toDF("doc_a", "doc_b")
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = { val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r } }
      edges.foreach { case (a0, b0) =>
        val (a, b) = (find(a0), find(b0))
        if (a != b) parent(math.max(a, b)) = math.min(a, b)
      }
      val truth = edges.flatMap(e => Seq(e._1, e._2)).toSet
        .map((n: Long) => n -> find(n)).toMap
      val got = Dedup.starLabels(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == truth, s"star contraction diverged on random graph: $edges")
    }
  }

  test("hot gram in EVERY doc: ngram chain stays bounded and result is exact, any partitioning") {
    // One trigram planted in all 40 docs — the 100 TB boilerplate shape.
    // With collect_up_to the hot gram's group buffer saturates at
    // maxDf+1 = 11 longs (pinned physically in CollectUpToSpec); here we
    // pin the SEMANTICS: the hot gram contributes nothing, the one planted
    // rare near-dup pair is found exactly, and the answer is partitioning-
    // invariant (the saturation sentinel survives any merge tree).
    val hot = "every doc has this" // 4 tokens → 2 shared trigrams
    def noise(seed: Int) =
      (0 until 20).map(i => vocab((seed * 13 + i * 5) % vocab.size) + s"_${seed}_$i")
    def longNoise(seed: Int) =
      (0 until 48).map(i => vocab((seed * 13 + i * 5) % vocab.size) + s"_${seed}_$i")
    val base = (0 until 38).map(id => id.toLong -> (noise(id) :+ hot).mkString(" "))
    val nearA = (longNoise(100) :+ hot).mkString(" ")
    val nearB = (longNoise(100).updated(47, "omega") :+ hot).mkString(" ") // 1-token tweak
    val corpus = base ++ Seq(100L -> nearA, 101L -> nearB)
    val expected = {
      val (x, y) = (corpus.toMap.apply(100L), corpus.toMap.apply(101L))
      assert(jaccard(x, y) >= 0.8, "fixture pair must clear the threshold")
      Set((100L, 101L))
    }
    for (parts <- Seq(1, 8, 32)) {
      val docs = corpus.toDF("doc_id", "text").repartition(parts)
      val got = Dedup.ngramPairsFor(docs, threshold = 0.8, maxDf = 10,
        minShared = 2).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected, s"parts=$parts: got $got")
    }
  }

  /** The pre-r15 self-contained [[Dedup.ccIncremental]] body — corpus
    * labels re-derived from scratch every run instead of served from the
    * artifact: the equivalence witness for the serving path, not a catalog
    * row (paying a full corpus contraction per "incremental" run is
    * exactly the shape the artifact exists to delete). */
  private def ccIncrementalFromScratch(d: String) = {
    val docs = graft.core.Tables.documents(spark, d)
    val isBatch = pmod(col("doc_id"), lit(5)) === 4
    val corpus = docs.filter(!isBatch)
    val corpusLabels = Dedup.starLabels(
      Dedup.nearPairsUnordered(corpus).select(col("doc_a"), col("doc_b")))
    val labelEdges = corpusLabels.filter(col("id") =!= col("lbl"))
      .select(col("id").as("doc_a"), col("lbl").as("doc_b"))
    val newPairs = Dedup.incrementPairs(docs.filter(isBatch), corpus, 0.8)
      .select(col("doc_a"), col("doc_b"))
    Dedup.starLabels(labelEdges.unionByName(newPairs))
      .select(col("id").as("doc_id"), col("lbl").as("cluster"))
  }

  test("ccIncremental artifact serving equals the from-scratch label derivation") {
    // r14 finding #3: the catalog's incremental row re-derived the corpus
    // labels from scratch each run. It now serves them from the
    // fingerprinted artifact; this pins the serving path to the
    // self-contained derivation it replaced, label-for-label.
    val d = "/root/testdata/sf0.001"
    val served = Dedup.ccIncremental(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scratch = ccIncrementalFromScratch(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(served == scratch)
  }

  test("plan guard: every inverted-index dedup chain aggregates with collect_up_to, never collect_list") {
    // The shape regression this pins: reintroducing an unbounded
    // collect_list-then-df-filter would reopen the O(df) hot-gram buffer.
    val d = "/root/testdata/sf0.001"
    val plans = Map(
      "ngram" -> Dedup.ngramPairs(spark, d),
      "contain" -> Dedup.containPairs(spark, d),
      "substr" -> Dedup.substrPairs(spark, d),
      "winnow" -> Dedup.winnowPairs(spark, d)
    ).view.mapValues(_.queryExecution.executedPlan.toString)
    plans.foreach { case (name, p) =>
      assert(p.contains("collect_up_to"),
        s"$name chain must use the bounded aggregate:\n$p")
      assert(!p.contains("collect_list"),
        s"$name chain must not materialize unbounded posting lists:\n$p")
    }
  }
}

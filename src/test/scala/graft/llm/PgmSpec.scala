package graft.llm

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The PGM decode path on handcrafted payloads: known pixel values, byte
  * folds, and the parse-failure contract. */
class PgmSpec extends SparkTestBase {
  import spark.implicits._

  test("byte folds: sum/min/max over known bytes, null on empty") {
    val out = Seq(("abcA", ""), ("zz", "")).toDF("s", "empty")
      .select(
        expr("byte_sum(CAST(s AS BINARY))").as("sum"),
        expr("byte_min(CAST(s AS BINARY))").as("mn"),
        expr("byte_max(CAST(s AS BINARY))").as("mx"),
        expr("byte_sum(CAST(empty AS BINARY))").as("esum"))
      .collect()
    // 'a'=97 'b'=98 'c'=99 'A'=65
    assert(out(0).getLong(0) == 97 + 98 + 99 + 65)
    assert(out(0).getLong(1) == 65 && out(0).getLong(2) == 99)
    assert(out(0).isNullAt(3), "empty binary must fold to null")
    assert(out(1).getLong(0) == 122 * 2)
  }

  test("pgmDecode: parsed dims and pixel stats match a handcrafted document") {
    // 64 chars of known content -> w=32, h=2, pixels = all 64 bytes
    val text = ("a" * 63) + "Z" // 63×97 + 90
    val short = "tiny"          // < 32 chars -> filtered out (h = 0)
    val dir = tempDir("graft-pgm").toString
    Seq((1L, text, "en", "a", 64L), (2L, short, "en", "a", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val rows = Multimodal.pgmDecode(spark, dir).collect()
    assert(rows.length == 1, "sub-width doc must be filtered, not decoded")
    val r = rows.head
    assert(r.getLong(0) == 1L)
    assert(r.getLong(1) == 32L && r.getLong(2) == 2L, "parsed dims")
    assert(r.getLong(3) == 64L)
    assert(r.getLong(4) == 63L * 97 + 90)
    assert(r.getLong(5) == 90L && r.getLong(6) == 97L)
    assert(r.getDouble(7) == (63.0 * 97 + 90) / 64)
  }

  test("wavDecode: a handcrafted payload round-trips through the RIFF parse") {
    // 40 chars -> 40 samples; 'a'=97 deviation 31 from midpoint 128,
    // 'Z'=90 deviation 38 -> peak 38; energy = 39*97^2 + 90^2
    val text = ("a" * 39) + "Z"
    val dir = tempDir("graft-wav").toString
    Seq((1L, text, "en", "a", 40L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = Multimodal.wavDecode(spark, dir).head
    assert(r.getLong(1) == 8000L, "sample rate must be parsed little-endian")
    assert(r.getLong(2) == 40L)
    assert(r.getDouble(3) == 40.0 / 8000)
    assert(r.getLong(4) == 38L)
    assert(r.getLong(5) == 39L * 97 * 97 + 90L * 90)
    // the packed bytes really are a canonical 44-byte-header WAV
    val aud = Multimodal.packAsWav(
      spark.read.parquet(s"$dir/documents.parquet")).head.getAs[Array[Byte]]("aud")
    assert(aud.length == 44 + 40)
    assert(new String(aud.take(4), "UTF-8") == "RIFF")
    assert(new String(aud.slice(8, 16), "UTF-8") == "WAVEfmt ")
    assert((aud(24) & 0xff) + ((aud(25) & 0xff) << 8) == 8000, "LE rate bytes")
  }

  test("a corrupted header yields null features through the real decode chain") {
    // flip the magic byte: the REAL decoder must produce null dims and
    // null pixel stats (ANSI cast would otherwise throw on ''), never a
    // silently mis-decoded number; absurd-but-syntactic dims must degrade
    // too (ANSI Int-cast overflow), not crash the query
    val good = ("P5\n32 2\n255\n" + "a" * 64).getBytes("UTF-8")
    val bad = ("Q5\n32 2\n255\n" + "a" * 64).getBytes("UTF-8")
    val absurd = ("P5\n999999999 999999999\n255\n" + "a" * 8).getBytes("UTF-8")
    val out = Multimodal.decodeImg(
        Seq((1L, good), (2L, bad), (3L, absurd)).toDF("doc_id", "img"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) == 32L && out(1L).getLong(4) == 64L * 97)
    for (i <- 1 to 7)
      assert(out(2L).isNullAt(i), s"corrupted payload must null field $i")
    assert(out(3L).getLong(1) == 999999999L,
      "dims parse — the payload is just truncated")
    assert(out(3L).getLong(3) == 8L, "pixel slice clamps to the payload")
  }

  test("pgm_shrink: a handcrafted 4x2 bitmap averages its 2x2 blocks exactly") {
    // rows: [10 20 30 40] / [50 60 70 80] -> blocks avg (10+20+50+60)/4=35,
    // (30+40+70+80)/4=55; short payload -> null
    val bm = Array[Byte](10, 20, 30, 40, 50, 60, 70, 80)
    val out = Seq((bm, 4, 2), (bm.take(5), 4, 2)).toDF("px", "w", "h")
      .select(expr("pgm_shrink(px, w, h)").as("sh")).collect()
    assert(out(0).getAs[Array[Byte]](0).toSeq == Seq[Byte](35, 55))
    assert(out(1).isNullAt(0), "payload shorter than w*h must shrink to null")
  }

  test("corrupted WAV payloads degrade, never crash, through the real audio chain") {
    def wav(magic: String, lenBytes: Array[Byte], samples: String): Array[Byte] = {
      val head = (magic + "????WAVEfmt ").getBytes("UTF-8") ++
        Array[Byte](16, 0, 0, 0, 1, 0, 1, 0) ++
        Array[Byte](0x40, 0x1f, 0, 0) ++ Array[Byte](0x40, 0x1f, 0, 0) ++
        Array[Byte](1, 0, 8, 0) ++ "data".getBytes("UTF-8") ++ lenBytes
      head ++ samples.getBytes("UTF-8")
    }
    val okLen = Array[Byte](4, 0, 0, 0)
    val hugeLen = Array[Byte](-1, -1, -1, -1) // LE 2^32-1: must not overflow
    val out = Multimodal.decodeAud(Seq(
        (1L, wav("RIFF", okLen, "abcd")),
        (2L, wav("XIFF", okLen, "abcd")),   // bad magic -> nulls
        (3L, wav("RIFF", hugeLen, "abcd")) // absurd length -> clamped slice
      ).toDF("doc_id", "aud"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) == 8000L && out(1L).getLong(2) == 4L)
    for (i <- 1 to 5)
      assert(out(2L).isNullAt(i), s"bad magic must null field $i")
    assert(out(3L).getLong(2) == 4294967295L, "declared length parses")
    assert(out(3L).getLong(5) == 97L * 97 + 98 * 98 + 99 * 99 + 100 * 100,
      "energy computed over the bytes that exist")
  }

  test("phashPairs: near-identical bitmaps pair with small hamming; " +
    "band-colliding far pairs are rejected by the verify") {
    // 128-char docs -> 32x4 bitmaps, 64 samples at byte positions 2j+1.
    // doc1: 64x'a' + 64x'z' -> bits 0..31 = 0, 32..63 = 1.
    // doc2: doc1 with the last 4 chars 'a' -> samples 62,63 flip; the mean
    //   shifts but no other sample crosses it -> hamming(1,2) = 2.
    // doc3: alternating "az" -> every sampled (odd) position is 'a', all
    //   bits 0 -> shares band0 (=0) with doc1/doc2, candidate, but
    //   hamming(1,3) = 32 -> must be dropped by the verify stage.
    // doc4: 40 chars -> h=1, filtered before hashing.
    val t1 = "a" * 64 + "z" * 64
    val t2 = "a" * 64 + "z" * 60 + "aaaa"
    val t3 = "az" * 64
    val t4 = "a" * 40
    val dir = tempDir("graft-phash").toString
    Seq((1L, t1), (2L, t2), (3L, t3), (4L, t4))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = Multimodal.phashPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.keySet == Set((1L, 2L)),
      s"only the near-identical bitmap pair survives, got ${pairs.keySet}")
    assert(pairs((1L, 2L)) == 2L, "two sampled bits flipped")
  }

  test("phashPairs equals a full reference recompute on a random corpus; " +
    "hamming<=3 recall is guaranteed") {
    val rnd = new scala.util.Random(7)
    def randText(n: Int) = (1 to n).map(_ => (32 + rnd.nextInt(95)).toChar).mkString
    val bases = (0 until 12).map(i => (i.toLong, randText(64 + rnd.nextInt(300))))
    // near-copies of half the corpus: flip 1-3 chars — usually a tiny
    // hamming step from the base, occasionally larger when the mean moves
    val copies = bases.take(6).zipWithIndex.map { case ((id, t), k) =>
      val arr = t.toCharArray
      (0 to k % 3).foreach { _ =>
        arr(rnd.nextInt(arr.length)) = (32 + rnd.nextInt(95)).toChar
      }
      (100L + id, new String(arr))
    }
    val docs = bases ++ copies
    val dir = tempDir("graft-phash-prop").toString
    docs.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // independent reference recompute of the whole operator
    def hash(t: String): Option[(Long, Long)] = {
      val pn = 32 * (t.length / 32)
      if (pn / 32 < 2) None
      else {
        val b = t.getBytes("UTF-8")
        val ps = b.take(pn).map(x => (x & 0xff).toLong).sum
        def bit(j: Int) = if ((b((j * pn) / 64) & 0xff).toLong * pn > ps) 1L else 0L
        Some(((0 until 32).map(j => bit(j) << j).sum,
          (32 until 64).map(j => bit(j) << (j - 32)).sum))
      }
    }
    val hs = docs.flatMap { case (id, t) => hash(t).map(id -> _) }.toMap
    def bandsOf(h: (Long, Long)) =
      Seq(h._1 & 0xffff, h._1 >>> 16, h._2 & 0xffff, h._2 >>> 16)
    def ham(a: (Long, Long), b: (Long, Long)) =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    val ids = hs.keys.toSeq.sorted
    val expected = (for {
      i <- ids; j <- ids if i < j
      ba = bandsOf(hs(i)); bb = bandsOf(hs(j))
      if (0 until 4).exists(k => ba(k) == bb(k)) && ham(hs(i), hs(j)) <= 8
    } yield (i, j) -> ham(hs(i), hs(j)).toLong).toMap

    val got = Multimodal.phashPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == expected, s"operator != reference:\n got=$got\n exp=$expected")
    // the pigeonhole floor, checked against the IMPLEMENTATION's output:
    // 4 bands over 64 bits — any pair within hamming 3 has an intact band
    for { i <- ids; j <- ids if i < j && ham(hs(i), hs(j)) <= 3 }
      assert(got.contains((i, j)), s"guaranteed-recall pair ($i,$j) missed")
  }
}

package graft.core

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class FormatsSpec extends SparkTestBase {

  private val d = "/root/testdata/sf0.001"
  private def tmp(prefix: String) =
    tempDir(prefix).toString

  private def docsSorted(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id", "text", "lang", "source", "n_chars")
      .collect().map(_.toSeq).sortBy(_.head.toString)

  test("JSONL round-trip (gzip) preserves the documents table exactly") {
    val out = tmp("graft-jsonl")
    val docs = Tables.documents(spark, d)
    Formats.writeJsonl(docs, out)
    val back = Formats.readJsonl(spark, out,
      "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
    val (clean, corrupt) = Formats.partitionCorrupt(back)
    assert(corrupt.count() == 0)
    assert(docsSorted(clean).toSeq == docsSorted(docs).toSeq)
  }

  test("JSONL corrupt lines are isolated, counted, and don't poison clean rows") {
    val dir = tmp("graft-dirty")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "part0.jsonl"),
      """{"doc_id": 1, "text": "good row", "lang": "en"}
        |this is not json at all
        |{"doc_id": 2, "text": "also good", "lang": "de"}
        |{"doc_id": oops}
        |""".stripMargin)
    val (clean, corrupt) = Formats.partitionCorrupt(
      Formats.readJsonl(spark, dir, "doc_id BIGINT, text STRING, lang STRING"))
    assert(clean.count() == 2 && corrupt.count() == 2)
    assert(clean.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("XML round-trip preserves the documents table; malformed elements are isolated") {
    val out = tmp("graft-xml")
    val docs = Tables.documents(spark, d)
    Formats.writeXml(docs, out, rowTag = "doc", rootTag = "corpus")
    val back = Formats.readXml(spark, out, rowTag = "doc",
      "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
    // corrupt-only projections over raw XML are disallowed (Spark routes
    // them through a cache) — partitionCorrupt already does exactly that
    val (cleanRt, corruptRt) = Formats.partitionCorrupt(back)
    assert(corruptRt.count() == 0)
    assert(docsSorted(cleanRt) sameElements docsSorted(docs))
    // malformed markup lands in _corrupt_record, clean rows unharmed
    val dirty = tmp("graft-xml-dirty")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dirty, "part0.xml"),
      """<corpus>
        |<doc><doc_id>1</doc_id><text>fine</text><lang>en</lang></doc>
        |<doc><doc_id>borked</doc_id><text>bad type</text></doc>
        |<doc><doc_id>2</doc_id><text>also fine</text><lang>de</lang></doc>
        |</corpus>
        |""".stripMargin)
    val mixed = Formats.readXml(spark, dirty, rowTag = "doc",
      "doc_id BIGINT, text STRING, lang STRING")
    val (clean, corrupt) = Formats.partitionCorrupt(mixed)
    assert(clean.count() == 2 && corrupt.count() == 1)
    assert(clean.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L))
  }

  test("CSV round-trip preserves the documents table (text has no delimiter collisions)") {
    val out = tmp("graft-csv")
    val docs = Tables.documents(spark, d)
    Formats.writeCsv(docs, out)
    val back = Formats.readCsv(spark, out,
      "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
    assert(docsSorted(back).toSeq == docsSorted(docs).toSeq)
  }

  test("text-line ingestion: one row per line; wholetext flips to one row per file") {
    val dir = tmp("graft-text")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "a.txt"),
      "line one\nline two\nline three")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "b.txt"),
      "solo line")
    assert(Formats.readTextLines(spark, dir).count() == 4)
    val whole = Formats.readTextLines(spark, dir, wholeFile = true).collect()
      .map(_.getString(0)).sorted
    assert(whole.length == 2 && whole.head == "line one\nline two\nline three")
  }

  test("binaryFile ingestion: per-file binary rows with metadata; glob prunes at listing") {
    val dir = tmp("graft-bin")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "x.img"),
      Array[Byte](1, 2, 3, 4, 5))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "y.img"),
      Array[Byte](9, 8))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "skip.txt"), "nope")
    val rows = Formats.readBinaryFiles(spark, dir, glob = "*.img")
      .select(col("path"), col("length"), col("content")).collect()
    assert(rows.length == 2) // the .txt never matched the glob
    val byLen = rows.map(r => r.getLong(1) -> r.getAs[Array[Byte]]("content")).toMap
    assert(byLen(5L).toSeq == Seq[Byte](1, 2, 3, 4, 5) && byLen(2L).toSeq == Seq[Byte](9, 8))
    // the binary content column feeds the multimodal byte folds directly
    val feat = Formats.readBinaryFiles(spark, dir, glob = "*.img")
      .select(org.apache.spark.sql.functions.call_function(
        "byte_sum", col("content")).as("s"))
      .collect().map(_.getLong(0)).sorted
    assert(feat.toSeq == Seq(15L, 17L)) // 1+2+3+4+5, 9+8
  }

  test("mergeSchema read reconciles drifted parquet schemas, nulling absent columns") {
    val v1 = tmp("graft-pq-v1"); val v2 = tmp("graft-pq-v2")
    import spark.implicits._
    Seq((1L, "alpha")).toDF("doc_id", "text").write.mode("overwrite").parquet(v1)
    Seq((2L, "beta", "en")).toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(v2)
    val merged = Formats.readParquetMerged(spark, v1, v2)
    assert(merged.columns.sorted.toSeq == Seq("doc_id", "lang", "text"))
    val byId = merged.collect().map(r => r.getLong(0) -> Option(r.getAs[String]("lang"))).toMap
    assert(byId(1L).isEmpty && byId(2L).contains("en"))
  }

  test("ORC round-trip preserves lineitem exactly, including doubles and timestamps") {
    val out = tmp("graft-orc")
    val li = Tables.lineitem(spark, d)
    Formats.writeOrc(li, out)
    val back = Formats.readOrc(spark, out)
    assert(back.schema == li.schema)
    assert(back.count() == li.count())
    val key = Seq("l_orderkey", "l_linenumber")
    assert(back.orderBy(key.map(col): _*).collect().map(_.toSeq).toSeq ==
      li.orderBy(key.map(col): _*).collect().map(_.toSeq).toSeq)
  }
}

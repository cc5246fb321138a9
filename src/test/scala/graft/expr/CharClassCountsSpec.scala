package graft.expr

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** char_class_counts: the one-pass alphanumeric histogram. Contract —
  * identical counts to the per-class replace() formulation it replaced in
  * the entropy scorer — checked head-to-head on adversarial strings
  * (multi-byte UTF-8 whose continuation bytes must never collide with
  * ASCII targets, empties, digits-only, repeats). */
class CharClassCountsSpec extends SparkTestBase {
  import spark.implicits._

  test("char_class_counts matches the replace() formulation, UTF-8 included") {
    val classes = ('a' to 'z') ++ ('0' to '9')
    val texts = Seq(
      "hello world 123",
      "",
      "0123456789",
      "zzzzzz",
      // multi-byte UTF-8: é (0xC3 0xA9), 日本 (3-byte each), emoji (4-byte);
      // none of their bytes may count toward any class
      "café 日本 😀 abc9",
      "MIXED Case 42",
      (1 to 50).map(_ => "the quick brown fox 99").mkString(" ")
    )
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val native = df.select($"id",
      call_function("char_class_counts", $"text").as("cs")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaReplace = df.select($"id" +: classes.map(c =>
      expr(s"CAST(length(text) - length(replace(text, '$c', '')) AS BIGINT)")): _*)
      .collect().map(r => r.getLong(0) -> (1 to 36).map(r.getLong).toSeq).toMap
    texts.indices.foreach { i =>
      assert(native(i.toLong) == viaReplace(i.toLong),
        s"histogram mismatch on ${texts(i)}")
    }
    // spot ground truth: 'caf<e9> ... abc9' has two 'a', 'c' twice, one '9'
    val utf = native(4L)
    assert(utf(0) == 2 && utf('c' - 'a') == 2 && utf(26 + 9) == 1)
  }
}

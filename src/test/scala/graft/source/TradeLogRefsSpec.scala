package graft.source

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Named refs / write-audit-publish (VERDICT r18 #7) — the mechanics
  * behind q_tradelog_branch that the digest oracle cannot see:
  *
  *   1. staging to a branch leaves MAIN untouched; the ref read serves
  *      base + staged commits (branch read ≡ its snapshot's pinned read);
  *   2. publish fast-forwards main by REFERENCE (no data rewritten) and
  *      is conflict-checked: main advancing past the fork point fails
  *      the publish loudly — the WAP contract;
  *   3. tags are immutable anchors: they pin a main generation, refuse
  *      writes, and protect their generation from snapshot expiry;
  *   4. GC safety: vacuum spares a staged branch's data files while the
  *      ref lives, and reclaims them (via orphan adoption) once dropped;
  *   5. concurrent branch commits serialize under the claim protocol —
  *      both land, neither is lost.
  *
  * The claim protocol itself (takeover, claim re-verification, the
  * zero-patience storm) is specified once for both heads in
  * [[TradeLogCommitSpec]].
  */
class TradeLogRefsSpec extends SparkTestBase {

  private val Fmt = "graft-tradelog"

  private def tmpDir(tag: String): String =
    tempDir(s"graft-refs-$tag").toString

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def dayRows(day: Int, base: Long): Seq[Row] =
    (0 until 4).map(i => Row(base + i, ts(f"2024-01-$day%02d 00:0$i:00"),
      100L + i, s"t$i", i * 1.5, s"p$i"))

  private def df(rows: Seq[Row]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), TradeLogFormat.schema)

  private def ids(dir: String, opts: Map[String, String] = Map.empty)
      : Seq[Long] = {
    val r = opts.foldLeft(spark.read.format(Fmt)) {
      case (b, (k, v)) => b.option(k, v) }
    r.load(dir).select("event_id").collect().map(_.getLong(0)).sorted.toSeq
  }

  private def dataFiles(dir: String): Set[String] = {
    val (fs, root) = TradeLogFormat.fs(dir)
    fs.listStatus(root).map(_.getPath.getName).filter(_.endsWith(".gtl")).toSet
  }

  test("WAP: stage to a branch (main untouched), audit via the ref, fast-forward publish") {
    val dir = tmpDir("wap")
    df(dayRows(1, 0)).write.format(Fmt).mode("overwrite")
      .option("blockRows", 4).save(dir)
    TradeLogRefs.createBranch(dir, "audit")
    df(dayRows(2, 10)).write.format(Fmt).mode("append")
      .option("branch", "audit").option("blockRows", 4).save(dir)
    // staged: main untouched, branch serves base + staged
    assert(TradeLogFormat.readManifestHeader(dir).gen == 1L)
    assert(ids(dir) == (0L to 3L), "main must not see staged commits")
    assert(ids(dir, Map("ref" -> "audit")) == (0L to 3L) ++ (10L to 13L),
      "the ref read must serve the branch head")
    // a second staged commit advances the branch only
    df(dayRows(3, 20)).write.format(Fmt).mode("append")
      .option("branch", "audit").option("blockRows", 4).save(dir)
    assert(TradeLogRefs.readRef(dir, "audit").gen == 2L)
    assert(ids(dir) == (0L to 3L))
    // publish: main adopts the branch head as ONE re-referencing commit
    val gen = TradeLogRefs.publish(dir, "audit")
    assert(gen == 2L, s"fast-forward must be one main commit, got $gen")
    assert(ids(dir) == (0L to 3L) ++ (10L to 13L) ++ (20L to 23L))
    // post-publish appends continue the main sequence normally
    df(dayRows(4, 30)).write.format(Fmt).mode("append")
      .option("blockRows", 4).save(dir)
    assert(ids(dir).size == 16)
  }

  test("publish is conflict-checked: main advancing past the fork fails the fast-forward") {
    val dir = tmpDir("nonff")
    df(dayRows(1, 0)).write.format(Fmt).mode("overwrite")
      .option("blockRows", 4).save(dir)
    TradeLogRefs.createBranch(dir, "wip")
    df(dayRows(2, 10)).write.format(Fmt).mode("append")
      .option("branch", "wip").option("blockRows", 4).save(dir)
    // main advances independently — the fork point is no longer the head
    df(dayRows(3, 20)).write.format(Fmt).mode("append")
      .option("blockRows", 4).save(dir)
    val e = intercept[IllegalStateException] {
      TradeLogRefs.publish(dir, "wip")
    }
    assert(e.getMessage.contains("fast-forward"), e.getMessage)
    // nothing published: main serves its own lineage, the branch its own
    assert(ids(dir) == (0L to 3L) ++ (20L to 23L))
    assert(ids(dir, Map("ref" -> "wip")) == (0L to 3L) ++ (10L to 13L))
  }

  test("tags are immutable generation anchors and survive snapshot expiry") {
    val dir = tmpDir("tag")
    df(dayRows(1, 0)).write.format(Fmt).mode("overwrite")
      .option("blockRows", 4).save(dir)
    TradeLogRefs.createTag(dir, "v1")
    df(dayRows(2, 10)).write.format(Fmt).mode("append")
      .option("blockRows", 4).save(dir)
    df(dayRows(3, 20)).write.format(Fmt).mode("append")
      .option("blockRows", 4).save(dir)
    // the tag pins generation 1's content while the head moved on
    assert(ids(dir, Map("ref" -> "v1")) == (0L to 3L))
    assert(ids(dir).size == 12)
    // immutable: no writes through a tag
    val e = intercept[Exception] {
      df(dayRows(4, 30)).write.format(Fmt).mode("append")
        .option("branch", "v1").save(dir)
    }
    assert(e.getMessage.contains("tag"), e.getMessage)
    // duplicate names are refused (refs are created once)
    val dup = intercept[Exception] { TradeLogRefs.createTag(dir, "v1") }
    assert(dup.getMessage.contains("already exists"))
    // snapshot expiry spares the anchored generation: keepLast=1 would
    // normally delete gens 1 and 2 — the tag keeps gen 1 addressable
    TradeLogFormat.expireSnapshots(dir, keepLast = 1, sweepMinAgeMs = 0L)
    assert(ids(dir, Map("ref" -> "v1")) == (0L to 3L),
      "an expired-but-tagged generation must keep serving")
    intercept[Exception] {
      spark.read.format(Fmt).option("atGeneration", 2).load(dir).collect()
    } // the untagged middle generation DID expire
  }

  test("vacuum spares a staged branch's files; dropRef releases them for adoption") {
    val dir = tmpDir("gc")
    df(dayRows(1, 0)).write.format(Fmt).mode("overwrite")
      .option("blockRows", 4).save(dir)
    TradeLogRefs.createBranch(dir, "staged")
    df(dayRows(2, 10)).write.format(Fmt).mode("append")
      .option("branch", "staged").option("blockRows", 4).save(dir)
    val stagedFiles = dataFiles(dir) --
      TradeLogFormat.readManifest(dir).map(_.file).toSet
    assert(stagedFiles.nonEmpty, "the staged commit wrote real data files")
    // two aggressive vacuums (adopt, then reap) must NOT touch them while
    // the ref lives — they are referenced content, not orphans
    TradeLogFormat.vacuum(dir, 0L, orphanMinAgeMs = 0L)
    TradeLogFormat.vacuum(dir, 0L, orphanMinAgeMs = 0L)
    assert(stagedFiles.subsetOf(dataFiles(dir)),
      "vacuum must spare a live branch's staged files")
    assert(ids(dir, Map("ref" -> "staged")) == (0L to 3L) ++ (10L to 13L))
    // dropped ref → the staged files are unreachable → adopted, then GC'd
    assert(TradeLogRefs.dropRef(dir, "staged"))
    TradeLogFormat.vacuum(dir, 0L, orphanMinAgeMs = 0L) // adopts
    TradeLogFormat.vacuum(dir, 0L, orphanMinAgeMs = 0L) // reaps
    assert((dataFiles(dir) intersect stagedFiles).isEmpty,
      "a dropped branch's staged files must be reclaimed")
    assert(ids(dir) == (0L to 3L), "main is untouched throughout")
  }

  test("concurrent branch commits serialize under the claim protocol — neither is lost") {
    val dir = tmpDir("race")
    df(dayRows(1, 0)).write.format(Fmt).mode("overwrite")
      .option("blockRows", 4).save(dir)
    TradeLogRefs.createBranch(dir, "hot")
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(dayRows(2, 10), dayRows(3, 20)).map { rows =>
      new Thread(() => {
        barrier.await()
        try {
          df(rows).write.format(Fmt).mode("append")
            .option("branch", "hot").option("blockRows", 4).save(dir)
          ()
        } catch { case t: Throwable => errs.add(t); () }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000L))
    assert(errs.isEmpty, s"both branch commits must land: ${errs.peek()}")
    assert(TradeLogRefs.readRef(dir, "hot").gen == 2L)
    assert(ids(dir, Map("ref" -> "hot")) ==
      (0L to 3L) ++ (10L to 13L) ++ (20L to 23L))
  }

  test("a ref stream audits the staged branch; publish is invisible to its checkpoint") {
    // r19 verdict #5 — the WAP validation consumer: a micro-batch stream
    // pinned to a branch drains base + staged content while MAIN is
    // untouched; a fast-forward publish adopts the branch's blocks BY
    // REFERENCE (seqs unchanged), so the stream's checkpoint carries
    // over the publish with zero re-emission; later staged commits
    // resume the same checkpoint incrementally.
    val dir = tmpDir("refstream")
    df(dayRows(1, 0)).write.format(Fmt).mode("overwrite")
      .option("blockRows", 4).save(dir)
    TradeLogRefs.createBranch(dir, "wap")
    df(dayRows(2, 10)).write.format(Fmt).mode("append")
      .option("branch", "wap").option("blockRows", 4).save(dir)
    val ckpt = tmpDir("refstream-ckpt")
    def drain(opts: Map[String, String], ck: String): Seq[Long] = {
      val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val r0 = spark.readStream.format(Fmt)
      val q = opts.foldLeft(r0) { case (b, (k, v)) => b.option(k, v) }
        .load(dir)
        .writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => got.add(r.getLong(0))); ()
        }
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000L)
      import scala.jdk.CollectionConverters._
      got.asScala.toSeq.sorted
    }
    // the branch stream sees base + staged; MAIN still serves base only
    assert(drain(Map("ref" -> "wap"), ckpt) == (0L to 3L) ++ (10L to 13L))
    assert(ids(dir) == (0L to 3L))
    // publish fast-forwards main; the SAME checkpoint re-drained sees
    // nothing — the adoption-by-reference exactly-once claim
    TradeLogRefs.publish(dir, "wap")
    assert(drain(Map("ref" -> "wap"), ckpt).isEmpty,
      "a fast-forward publish must be invisible to the branch stream")
    // a post-publish staged commit resumes the checkpoint incrementally
    df(dayRows(3, 20)).write.format(Fmt).mode("append")
      .option("branch", "wap").option("blockRows", 4).save(dir)
    assert(drain(Map("ref" -> "wap"), ckpt) == (20L to 23L))
    // a fresh MAIN stream post-publish serves the published state once
    assert(drain(Map.empty, tmpDir("refstream-main-ckpt")) ==
      (0L to 3L) ++ (10L to 13L))
    // batch-only reads still refuse to stream
    intercept[Exception] {
      drain(Map("atGeneration" -> "1"), tmpDir("refstream-bad-ckpt"))
    }
  }

  test("createTag racing snapshot expiry never leaves a dangling tag (r19 advice)") {
    // both sides now double-check across the race window: createTag
    // re-validates the snapshot AFTER publishing (dropping the ref
    // loudly if expired), expireSnapshots re-reads the anchor set
    // immediately before each unlink. The storm invariant: whatever the
    // interleaving, a createTag that RETURNED resolves to a readable
    // snapshot; one that lost threw and left no ref behind.
    val dir = tmpDir("tagrace")
    df(dayRows(1, 0)).write.format(Fmt).mode("overwrite")
      .option("blockRows", 4).save(dir)
    (0 until 10).foreach { i =>
      // a fresh expirable generation per round (head advances past it)
      df(dayRows(2, 10L * (i + 1))).write.format(Fmt).mode("append")
        .option("blockRows", 4).save(dir)
      val victim = TradeLogFormat.readManifestHeader(dir).gen - 1
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      var tagged: Option[Throwable] = None
      val tagger = new Thread(() => {
        barrier.await()
        try { TradeLogRefs.createTag(dir, s"t$i", Some(victim)); () }
        catch { case t: Throwable => tagged = Some(t) }
      })
      val expirer = new Thread(() => {
        barrier.await()
        TradeLogFormat.expireSnapshots(dir, keepLast = 1, sweepMinAgeMs = 0L)
        ()
      })
      tagger.start(); expirer.start()
      tagger.join(60000L); expirer.join(60000L)
      tagged match {
        case None => // tag acknowledged: it MUST resolve
          assert(ids(dir, Map("ref" -> s"t$i")).nonEmpty,
            s"round $i: acknowledged tag t$i does not resolve")
          TradeLogRefs.dropRef(dir, s"t$i") // keep later rounds expirable
        case Some(_) => // lost loudly: no ref may remain
          assert(!TradeLogRefs.listRefs(dir).exists(_.name == s"t$i"),
            s"round $i: a failed createTag left a dangling ref")
      }
    }
  }
}

package graft.source

import java.sql.Timestamp

import org.apache.spark.sql.Row

import graft.SparkTestBase
import TradeLogFormat.{BlockMeta, CommitHead, CommitSpec}

/** Contract tests for the round-17 manifest machinery: the OPTIMISTIC
  * commit protocol (exactly one winner per generation, losers re-merge
  * and retry, dead claims taken over — run against both head targets,
  * main and a branch), the TWO-LEVEL manifest (per-day shard files
  * carried by ref, rewritten only when touched), and the legacy
  * flat-manifest migration path. */
class TradeLogCommitSpec extends SparkTestBase {

  private val Fmt = "graft-tradelog"

  private def tmpDir(tag: String): String =
    tempDir(s"graft-tlc-$tag").toString

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def df(rows: Seq[Row]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), TradeLogFormat.schema)

  private def canon(d: org.apache.spark.sql.DataFrame): Set[String] =
    d.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet

  /** A fabricated one-block append payload (manifest-level tests need no
    * real data files — readers resolve blocks only through the manifest). */
  private def fakeBlock(tag: String, dayUs: Long): BlockMeta =
    BlockMeta(s"part-$tag.gtl", 0L, 100, 10, dayUs, dayUs + 1000L)

  /** The committed generation of `head` (branch-local for a branch). */
  private def headGen(dir: String, head: CommitHead): Long = head match {
    case CommitHead.Main => TradeLogFormat.readManifestHeader(dir).gen
    case CommitHead.Branch(name) => TradeLogRefs.readRef(dir, name).gen
  }

  /** The committed state `head` points at, shards resolved. */
  private def headInfo(dir: String, head: CommitHead) = head match {
    case CommitHead.Main => TradeLogFormat.readManifestInfo(dir)
    case CommitHead.Branch(name) => TradeLogRefs.headInfo(dir, name)
  }

  /** A reuse-only commit: the head's content carried forward unchanged. */
  private def carryForward(prev: Option[TradeLogFormat.ManifestInfo]) =
    Some(CommitSpec(reuse = prev.get.shards, epoch = prev.get.epoch,
      qid = prev.get.qid, xcols = prev.get.xcols))

  /** Plant a crashed claimant's snapshot for `head`'s next generation —
    * claimed, never published, carrying a tempting epoch stamp and a
    * ghost block. */
  private def plantDeadClaim(dir: String, head: CommitHead,
      dayUs: Long): org.apache.hadoop.fs.Path = {
    val gen = headGen(dir, head) + 1
    val (fs, root) = TradeLogFormat.fs(dir)
    val orphan = new org.apache.hadoop.fs.Path(root,
      s"${TradeLogFormat.ManifestDirName}/${head.snapshotName(gen)}")
    val o = fs.create(orphan, true)
    o.write((TradeLogFormat.ManifestHeader +
      s" gen=$gen epoch=99 qid=q ecommit=1 maxSeq=9\n" +
      fakeBlock("ghost", dayUs).csv).getBytes("UTF-8"))
    o.close()
    orphan
  }

  /** Age `orphan` past the patience: the next commit to `head` must take
    * the dead claim over, win its generation, and publish its own
    * content there. */
  private def assertTakesOver(dir: String, head: CommitHead,
      orphan: org.apache.hadoop.fs.Path, dayUs: Long): Unit = {
    val (fs, _) = TradeLogFormat.fs(dir)
    val gen = headGen(dir, head) + 1
    fs.setTimes(orphan, System.currentTimeMillis() - 10000L, -1)
    val won = TradeLogFormat.commitManifest(dir, head,
      claimPatienceMs = 1000L) { prev =>
      Some(CommitSpec(reuse = prev.get.shards,
        fresh = Seq(fakeBlock("late", dayUs + 2000000L))))
    }
    assert(won.contains(gen),
      s"takeover must reclaim the dead generation $gen: $won")
    assert(headGen(dir, head) == gen)
    val claimed = TradeLogFormat.readManifestFile(dir,
      s"${TradeLogFormat.ManifestDirName}/${head.snapshotName(gen)}")
    assert(claimed.blocks.forall(_.file != "part-ghost.gtl") &&
      claimed.blocks.exists(_.file == "part-late.gtl"),
      "the dead claim's content must be gone after takeover")
  }

  test("optimistic commit: two racing appenders, exactly one winner per generation, zero lost blocks") {
    val dir = tmpDir("race")
    val day = 1704067200000000L // 2024-01-01 UTC in epoch µs
    val perThread = 8
    val threads = (0 until 2).map { t =>
      new Thread(() => {
        (0 until perThread).foreach { i =>
          val got = TradeLogFormat.commitManifest(dir) { prev =>
            Some(CommitSpec(
              reuse = prev.map(_.shards).getOrElse(Seq.empty),
              fresh = Seq(fakeBlock(s"t$t-$i", day + t * 1000000L))))
          }
          assert(got.nonEmpty, s"append t$t-$i aborted unexpectedly")
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val info = TradeLogFormat.readManifestInfo(dir)
    // every commit took its own generation: head gen == total commits
    assert(info.gen == 2L * perThread,
      s"16 appends must land 16 generations, got ${info.gen}")
    // zero lost blocks: all 16 appended blocks present at head
    assert(info.blocks.size == 2 * perThread,
      s"lost blocks under contention: ${info.blocks.map(_.file)}")
    assert(info.blocks.map(_.file).distinct.size == 2 * perThread)
    // seqs are the commit order: dense, distinct, monotone
    assert(info.blocks.map(_.seq).sorted == (0L until 2L * perThread),
      s"block seqs must be dense commit order: ${info.blocks.map(_.seq)}")
    // every generation snapshot exists and is addressable (the claim IS
    // the snapshot); each pins a strictly growing block count
    val counts = (1L to info.gen).map(g =>
      TradeLogFormat.readManifestInfoAt(dir, g).blocks.size)
    assert(counts == (1 to 2 * perThread),
      s"generation snapshots must pin each commit state exactly: $counts")
  }

  test("a dead claimant's orphan snapshot is ignored by resolution/expiry and taken over by the next commit") {
    val dir = tmpDir("orphan")
    val day = 1704067200000000L
    // two committed epoch generations (the asOfEpoch anchors)
    TradeLogFormat.writeManifest(dir, Seq(fakeBlock("e1", day)),
      epoch = Some(1L), qid = Some("q"), epochCommit = true)
    TradeLogFormat.commitManifest(dir) { prev =>
      Some(CommitSpec(reuse = prev.get.shards,
        fresh = Seq(fakeBlock("e2", day + 1000000L)),
        epoch = Some(2L), qid = Some("q"), epochCommit = true))
    }
    assert(TradeLogFormat.readManifestHeader(dir).gen == 2)
    // plant a crashed commit's claim: gen 3 snapshot exists, head never
    // advanced — an uncommitted state carrying a tempting epoch stamp
    val (fs, root) = TradeLogFormat.fs(dir)
    val orphan = plantDeadClaim(dir, CommitHead.Main, day)
    // ADVICE r16 (medium): the orphan must never resolve as a committed
    // epoch — asOfEpoch is bounded by the head generation
    assert(TradeLogFormat.resolveEpochGen(dir, 99L) == 2L,
      "an uncommitted claim's epoch stamp must not be resolvable")
    // ...and expiry must not let it displace the real head's snapshot
    assert(TradeLogFormat.expireSnapshots(dir, keepLast = 1) == 1,
      "expiry should count committed snapshots only (gen 1)")
    assert(fs.exists(new org.apache.hadoop.fs.Path(root,
      s"${TradeLogFormat.ManifestDirName}/gen-2.manifest")),
      "the committed head generation's snapshot must always survive expiry")
    // the next commit finds gen 3 claimed by a dead writer: with the
    // patience elapsed it takes the claim over and wins gen 3 itself
    assertTakesOver(dir, CommitHead.Main, orphan, day)
    assert(TradeLogFormat.readManifestInfo(dir).blocks.size == 3)
  }

  test("a dead claimant's orphan branch snapshot is taken over by the next branch commit; main is untouched") {
    val dir = tmpDir("orphanb")
    val day = 1704067200000000L
    TradeLogFormat.writeManifest(dir, Seq(fakeBlock("e1", day)))
    TradeLogRefs.createBranch(dir, "b")
    val head = CommitHead.Branch("b")
    TradeLogFormat.commitManifest(dir, head) { prev =>
      Some(CommitSpec(reuse = prev.get.shards,
        fresh = Seq(fakeBlock("e2", day + 1000000L))))
    }
    val orphan = plantDeadClaim(dir, head, day)
    assertTakesOver(dir, head, orphan, day)
    assert(TradeLogRefs.headInfo(dir, "b").blocks.map(_.file).toSet ==
      Set("part-e1.gtl", "part-e2.gtl", "part-late.gtl"))
    val main = TradeLogFormat.readManifestInfo(dir)
    assert(main.gen == 1L && main.blocks.map(_.file) == Seq("part-e1.gtl"),
      "a branch takeover must leave main untouched")
  }

  test("a claimant only publishes a claim that still holds ITS body") {
    // the takeover guard's primitive, tested directly: a claimant slow
    // between claim and publish whose claim was deleted and re-claimed
    // by a patient racer must LOSE (mismatched or missing body), never
    // point the head at the other racer's manifest or a deleted file
    val dir = tmpDir("claimck")
    val (fs, root) = TradeLogFormat.fs(dir)
    fs.mkdirs(root)
    val p = new org.apache.hadoop.fs.Path(root, "claim.manifest")
    val mine = "graft-tradelog gen=1 mine".getBytes("UTF-8")
    val theirs = "graft-tradelog gen=1 theirs".getBytes("UTF-8")
    assert(!TradeLogFormat.claimHoldsBody(fs, p, mine),
      "a deleted claim must read as lost")
    val out = fs.create(p); out.write(mine); out.close()
    assert(TradeLogFormat.claimHoldsBody(fs, p, mine))
    val out2 = fs.create(p, true); out2.write(theirs); out2.close()
    assert(!TradeLogFormat.claimHoldsBody(fs, p, mine),
      "a re-claimed path holding another racer's body must read as lost")
  }

  Seq(CommitHead.Main, CommitHead.Branch("storm")).foreach { head =>
    val label = head match {
      case CommitHead.Main => "main"
      case CommitHead.Branch(_) => "branch"
    }
    test(s"aggressive-takeover storm on the $label head: every acknowledged commit survives; the head always resolves") {
      // claimPatienceMs=0 makes every loser treat every claim as dead —
      // the maximal takeover pressure. The invariants that must hold
      // regardless of who wins which race: (1) a writer that RETURNED
      // success owns its generation and finds the content at the head
      // (no silent clobber of an acknowledged commit), (2) the head
      // resolves to a readable manifest at every point after the storm
      // (no head-to-deleted-file).
      val dir = tmpDir(s"storm-$label")
      val rows = (0L to 3L).map(i => Row(i, ts(s"2024-01-01 00:0$i:00"),
        100L + i, s"t$i", i * 1.5, s"p$i"))
      df(rows).coalesce(1).write.format(Fmt).mode("overwrite")
        .option("blockRows", 4).save(dir)
      head match {
        case CommitHead.Branch(name) => TradeLogRefs.createBranch(dir, name)
        case CommitHead.Main => ()
      }
      val before = headGen(dir, head)
      val n = 4
      val barrier = new java.util.concurrent.CyclicBarrier(n)
      val acked = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val threads = (0 until n).map { _ =>
        new Thread(() => {
          barrier.await()
          try {
            // the raw protocol call with zero patience (the writer path
            // uses the 60 s production default)
            TradeLogFormat.commitManifest(dir, head, claimPatienceMs = 0L)(
              carryForward).foreach(acked.add)
          } catch { case _: IllegalStateException => () } // lost loudly: fine
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join(120000L))
      import scala.jdk.CollectionConverters._
      val gens = acked.asScala.toSeq
      assert(gens.distinct.size == gens.size,
        s"two acknowledged commits share a generation: $gens")
      assert(headGen(dir, head) - before >= gens.size,
        s"head gen ${headGen(dir, head)} below ${gens.size} acknowledged " +
          s"commits past $before")
      // the head must resolve — its manifest exists and parses
      assert(headInfo(dir, head).shards.nonEmpty)
      val opts = head match {
        case CommitHead.Branch(name) => Map("ref" -> name)
        case CommitHead.Main => Map.empty[String, String]
      }
      val got = opts.foldLeft(spark.read.format(Fmt)) {
        case (r, (k, v)) => r.option(k, v)
      }.load(dir).select("event_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == (0L to 3L),
        "reuse-only commits must preserve the head content")
    }
  }

  test("two-level manifest: appends rewrite only touched day shards; untouched refs carry by file identity") {
    val dir = tmpDir("reuse") + "/log"
    val d1 = (1L to 6L).map(i =>
      Row(i, ts(f"2024-01-01 00:00:${i}%02d"), i, "a", i.toDouble, "{}"))
    val d2 = (7L to 9L).map(i =>
      Row(i, ts(f"2024-01-02 00:00:${i}%02d"), i, "b", i.toDouble, "{}"))
    val d2more = (10L to 12L).map(i =>
      Row(i, ts(f"2024-01-02 01:00:${i}%02d"), i, "c", i.toDouble, "{}"))
    df(d1 ++ d2).coalesce(1).sortWithinPartitions("ts")
      .write.format(Fmt).mode("overwrite").option("blockRows", 3).save(dir)
    val refs1 = TradeLogFormat.readManifestRefs(dir).shards
    assert(refs1.size >= 2, s"two days should shard apart: $refs1")
    // append lands only in day 2: day 1's shard ref must carry over
    // byte-identical (same file name), and only new shards join
    df(d2more).coalesce(1).write.format(Fmt).mode("append")
      .option("blockRows", 3).save(dir)
    val refs2 = TradeLogFormat.readManifestRefs(dir).shards
    assert(refs1.forall(r => refs2.exists(_.file == r.file)),
      "an append must never rewrite untouched day shards")
    assert(refs2.size > refs1.size)
    // the shard tier prunes: a day-1 slice reads only day-1 shards
    val scan = spark.read.format(Fmt).load(dir)
      .filter(org.apache.spark.sql.functions.col("ts") <
        org.apache.spark.sql.functions.lit("2024-01-02 00:00:00")
          .cast("timestamp"))
      .queryExecution.sparkPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan
      }.collectFirst { case s: TradeLogScan => s }.get
    assert(scan.shardsRead < scan.shardsTotal && scan.shardsRead >= 1,
      s"day slice must skip shards: ${scan.shardsRead}/${scan.shardsTotal}")
    // and the generation snapshot SHARES shard files with the head (the
    // Iceberg manifest-list property: snapshots are refs, not copies)
    val snap1 = TradeLogFormat.readManifestInfoAt(dir, 1L, refsOnly = true)
    assert(snap1.shards.map(_.file).toSet.subsetOf(
      refs2.map(_.file).toSet),
      "generation snapshots must share unrewritten shard files")
    assert(canon(spark.read.format(Fmt).load(dir)) ==
      canon(df(d1 ++ d2 ++ d2more)))
  }

  test("legacy flat manifests read unchanged and migrate to shards on first commit") {
    val dir = tmpDir("flat") + "/log"
    val rows = (1L to 9L).map(i =>
      Row(i, ts(f"2024-01-0${(i % 3) + 1}%d 00:00:${i}%02d"), i, "x",
        i.toDouble, "{}"))
    df(rows).coalesce(1).sortWithinPartitions("ts")
      .write.format(Fmt).mode("overwrite").option("blockRows", 3).save(dir)
    // rewrite the manifest FLAT, pre-r17 style: 8-field block lines inline,
    // no shard refs, no seq/maxSeq — byte-shape of an old log
    val blocks = TradeLogFormat.readManifest(dir)
    val (fs, root) = TradeLogFormat.fs(dir)
    locally {
      val o = fs.create(new org.apache.hadoop.fs.Path(root,
        TradeLogFormat.ManifestName), true)
      val legacyLines = blocks.map(b =>
        s"${b.file},${b.offset},${b.payloadLen},${b.nRows}," +
          s"${b.minTsUs},${b.maxTsUs},${b.bloomHex},${b.nCols}")
      o.write((s"${TradeLogFormat.ManifestHeader} gen=1\n" +
        legacyLines.mkString("\n")).getBytes("UTF-8"))
      o.close()
    }
    // reads: values identical, seq normalized to manifest position
    assert(canon(spark.read.format(Fmt).load(dir)) == canon(df(rows)))
    val flat = TradeLogFormat.readManifestRefs(dir)
    assert(flat.shards.isEmpty && flat.blocks.nonEmpty,
      "a flat manifest must read inline")
    assert(TradeLogFormat.readManifest(dir).map(_.seq) ==
      (0L until blocks.size))
    assert(TradeLogFormat.countBlocks(dir) == blocks.size)
    // the first commit MIGRATES: day shards appear, order and content hold
    val extra = Seq(Row(99L, ts("2024-01-04 00:00:00"), 99L, "y", 9.9, "{}"))
    df(extra).coalesce(1).write.format(Fmt).mode("append").save(dir)
    val migrated = TradeLogFormat.readManifestRefs(dir)
    assert(migrated.shards.nonEmpty, "append must shard a legacy manifest")
    val resolved = TradeLogFormat.readManifest(dir)
    assert(resolved.map(_.seq) == (0L until resolved.size),
      "migration must preserve legacy append order as seq")
    assert(canon(spark.read.format(Fmt).load(dir)) == canon(df(rows ++ extra)))
  }
}

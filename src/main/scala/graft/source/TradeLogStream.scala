package graft.source

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming._

/** Offset into the committed block SEQUENCE: `block` is a seq WATERMARK —
  * every block with `seq < block` has been fully consumed. JSON
  * round-trips through the checkpoint's offset log exactly like Kafka's
  * partition-offset maps — restart resumes from the last committed
  * watermark.
  *
  * OFFSET STABILITY CONTRACT: each block's `seq` is assigned once at
  * commit time, monotonically across commits, and never reassigned — so
  * watermarks are stable under appends, epoch commits, AND retention
  * purges of already-consumed blocks (a purged block simply no longer
  * appears below the watermark). This is the production evolution the
  * flat-index offset needed: Kafka offsets survive segment deletion the
  * same way. Content-preserving REWRITES (DV compaction, OPTIMIZE)
  * re-emit surviving rows in fresh blocks at tail seqs; those blocks
  * carry replace provenance ([[TradeLogFormat.BlockMeta.srcMinSeq]]) and
  * the stream SKIPS them when their sources sit below its starting
  * watermark — the Delta dataChange=false / Iceberg skip-REPLACE rule —
  * so a resumed consumer never re-receives compacted survivors (r18
  * advice); a fold STRADDLING the position serves its never-consumed
  * half from the retention sidecar within the retention window (r20 —
  * see straddleService) and refuses loudly past it. Only TRUNCATE
  * resets the sequence — a new content identity
  * that voids any prior stream's checkpoint lineage by design (the
  * startingGeneration consistency check catches a truncate interposed
  * under a fresh sync point). */
final case class TradeLogOffset(block: Long) extends Offset {
  override def json(): String = s"""{"block":$block}"""
}

object TradeLogOffset {
  def fromJson(json: String): TradeLogOffset = {
    val m = """\{\s*"block"\s*:\s*(\d+)\s*\}""".r
    json.trim match {
      case m(n) => TradeLogOffset(n.toLong)
      case _ => throw new IllegalArgumentException(s"bad tradelog offset: $json")
    }
  }
}

/** Micro-batch read over a committed tradelog: the manifest's block
  * sequence is the topic, a seq watermark is the offset.
  * `SupportsAdmissionControl` applies `maxBlocksPerTrigger` per batch
  * (the Kafka maxOffsetsPerTrigger idea — rate limiting lives in
  * latestOffset, not in planInputPartitions), and
  * `SupportsTriggerAvailableNow` pins the end target when the trigger
  * starts, so AvailableNow drains exactly the blocks committed at start
  * time across however many rate-limited batches that takes. Each
  * batch's partitions regroup its block range by file — the same split
  * shape as the batch scan. */
final class TradeLogMicroBatchStream(path: String, wanted: Array[Int],
    xtypes: Array[org.apache.spark.sql.types.DataType],
    maxBlocksPerTrigger: Option[Int],
    startingGeneration: Option[Long] = None,
    refName: Option[String] = None)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  require(refName.isEmpty || startingGeneration.isEmpty,
    "graft-tradelog: startingGeneration positions against MAIN's " +
      "generation ledger — it cannot combine with a ref stream (a ref " +
      "stream's checkpoint already owns its position)")

  /** The committed sequence at stream construction, seq-ascending (legacy
    * flat logs normalize seq to manifest position — their append order).
    * With `refName` (r19 verdict #5 — the WAP validation consumer): the
    * REF head's sequence instead — a staged branch streams through the
    * same offset/triage machinery, and because a fast-forward publish
    * adopts the branch's blocks BY REFERENCE (seqs unchanged), a
    * checkpoint that drained the branch carries over a publish without
    * re-emission. */
  private lazy val blocks = (refName match {
    case Some(n) => TradeLogFormat.resolveBlocks(path,
      TradeLogRefs.headInfo(path, n, refsOnly = true))
    case None => TradeLogFormat.readManifest(path)
  }).toIndexedSeq
  @volatile private var availableNowTarget: Option[Int] = None

  /** This stream's STARTING watermark — the checkpoint resume position
    * (the first offset the engine hands any planning call) or the fresh
    * stream's initialOffset. Everything below it was consumed by this
    * query's earlier incarnations; that boundary is what REPLACE-commit
    * blocks (DV compaction, OPTIMIZE — dataChange=false restatements of
    * already-sequenced rows) triage against: sources fully below →
    * restatement, skip; sources fully at-or-above → the only carrier of
    * never-consumed rows, emit; straddling → this query consumed PART of
    * the replaced range, so exactly-once is unachievable either way —
    * fail loudly (the Delta "data update detected" rule) instead of
    * silently duplicating or losing rows. */
  @volatile private var startWatermark: Long = -1L
  private def noteStart(w: Long): Long = {
    if (startWatermark < 0L) startWatermark = w
    startWatermark
  }

  private def straddleRefusal(b: TradeLogFormat.BlockMeta, w0: Long,
      extra: String): Nothing = throw new IllegalStateException(
    s"graft-tradelog $path: block ${b.file}@${b.offset} was written by a " +
      s"replace commit folding seqs [${b.srcMinSeq},${b.srcMaxSeq}], and " +
      s"this stream's position ($w0) sits inside that range — part of " +
      "the replaced rows were already emitted" + extra + "; restart it " +
      "from a fresh checkpoint (or run maintenance only on " +
      "fully-consumed data)")

  /** All fold sidecars (the CDF-retention artifact, r20 — reused here as
    * the stream's straddle-recovery source). */
  private lazy val sidecarGroups = TradeLogFormat.readFoldSidecars(path, -1L)

  /** A replace block whose fold STRADDLES the stream's position: serve
    * the never-consumed half from the fold's retention sidecar — the
    * dropped copies with seq at-or-above the position are exactly the
    * rows this query has not emitted, and their seqs/masks are the
    * pre-fold state the position was measured against. Served ONCE per
    * span, at the span group's lowest-seq block (later group members
    * plan nothing — deterministic across retries and restarts, since a
    * later run's position is past the span's sources and triages to a
    * plain skip). Refuses loudly (never silent dup/loss) when: the
    * restatement carries post-fold deletes (row identity across the fold
    * is untracked, and emitting pre-fold copies would resurrect them);
    * no sidecar group re-derives the span with matching row counts
    * (retention passed); a folded restatement itself straddles the
    * position (chained straddle); or a needed data file was vacuumed. */
  private def straddleService(k: TradeLogFormat.BlockMeta, w0: Long)
      : Seq[TradeLogFormat.BlockMeta] = {
    val span = (k.srcMinSeq, k.srcMaxSeq)
    val group = blocks.filter(x => x.isReplace &&
      x.srcMinSeq == span._1 && x.srcMaxSeq == span._2)
    if (k.seq != group.map(_.seq).min) return Seq.empty // span already served
    if (group.exists(_.nDel > 0)) straddleRefusal(k, w0,
      " and the restatement carries post-fold deletes the pre-fold " +
        "copies cannot reflect")
    val restated = group.map(_.nRows.toLong).sum
    val side = sidecarGroups.find { case (_, g) =>
      g.nonEmpty && TradeLogFormat.replaceProvenance(g) == span &&
        g.map(_.liveRows.toLong).sum == restated
    }.getOrElse(straddleRefusal(k, w0,
      " and no retention sidecar resolves the fold (swept, or the fold " +
        "predates sidecars)"))._2
    val copies = side.flatMap { d =>
      if (d.isReplace && d.srcMinSeq < w0 && d.srcMaxSeq >= w0)
        straddleRefusal(d, w0, " (a folded restatement itself straddles)")
      else if (d.isReplace && d.srcMaxSeq < w0) None // consumed restatement
      else if (!d.isReplace && d.seq < w0) None // consumed
      else if (d.liveRows > 0) Some(d)
      else None
    }
    // the data half of retention, checked at plan time for a clean error
    val (fsys, root) = TradeLogFormat.fs(path)
    copies.map(_.file).distinct.foreach { f =>
      if (!fsys.exists(new org.apache.hadoop.fs.Path(root, f)))
        straddleRefusal(k, w0,
          s" and the dropped copy $f was already vacuumed (the DML " +
            "vacuum grace bounds straddle recovery)")
    }
    copies
  }

  /** What the batch spanning [start, …) emits FOR this block: itself
    * (data-change, or a restatement of never-consumed rows), nothing
    * (restatement of consumed rows; a span already served), or the
    * sidecar copies standing in for a straddling restatement. */
  private def emitsFor(b: TradeLogFormat.BlockMeta, w0: Long)
      : Seq[TradeLogFormat.BlockMeta] =
    if (!b.isReplace) Seq(b)
    else if (b.srcMaxSeq < w0) Seq.empty // restates fully-consumed rows
    else if (b.srcMinSeq >= w0) Seq(b) // sources never consumed
    else straddleService(b, w0)

  /** Number of blocks below a seq watermark (blocks is seq-ascending). */
  private def idxOf(watermark: Long): Int = {
    var lo = 0; var hi = blocks.size
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (blocks(mid).seq < watermark) lo = mid + 1 else hi = mid
    }
    lo
  }

  private def watermarkAfter(idx: Int): Long =
    if (idx <= 0) 0L else blocks(idx - 1).seq + 1L

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(blocks.size)

  /** Fresh streams may start past a generation sync point
    * (`startingGeneration`): the watermark is generation N's max seq + 1.
    * Because seqs are commit-stable, a retention purge between the sync
    * point and now is harmless (its victims simply sit below the
    * watermark); what the consistency check must catch is a TRUNCATE,
    * which restarts the sequence under new content — every head block
    * below the sync watermark must be one of the snapshot's own blocks,
    * or positioning fails loudly. Resumed streams never call this (the
    * checkpoint's offset log owns the position). */
  override def initialOffset(): Offset = TradeLogOffset(
    startingGeneration.fold(0L) { g =>
      val snap = TradeLogFormat.resolveBlocks(path,
        TradeLogFormat.readManifestInfoAt(path, g, refsOnly = true))
      val sync = if (snap.isEmpty) 0L else snap.map(_.seq).max + 1L
      val snapIds = snap.map(b => (b.file, b.offset)).toSet
      val foreign = blocks.take(idxOf(sync))
        .filterNot(b => snapIds((b.file, b.offset)))
      require(foreign.isEmpty,
        s"graft-tradelog: generation $g is not a sequence prefix of the " +
          "head (a truncate replaced the log's content identity) — " +
          "startingGeneration cannot position this stream")
      sync
    })
  override def deserializeOffset(json: String): Offset =
    TradeLogOffset.fromJson(json)

  override def getDefaultReadLimit: ReadLimit =
    maxBlocksPerTrigger.map(n => ReadLimit.maxRows(n.toLong))
      .getOrElse(ReadLimit.allAvailable())

  /** Rate-limited advance: at most `maxBlocksPerTrigger` blocks per
    * batch, never past the AvailableNow snapshot target. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    noteStart(start.asInstanceOf[TradeLogOffset].block)
    val from = idxOf(start.asInstanceOf[TradeLogOffset].block)
    val end = availableNowTarget.getOrElse(blocks.size)
    val step = maxBlocksPerTrigger.getOrElse(Int.MaxValue).toLong
    val to = math.min(end.toLong, from.toLong + step).toInt
    if (to <= from) start
    else TradeLogOffset(watermarkAfter(to))
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  override def reportLatestOffset(): Offset =
    TradeLogOffset(watermarkAfter(blocks.size))

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val w0 = noteStart(start.asInstanceOf[TradeLogOffset].block)
    val a = idxOf(start.asInstanceOf[TradeLogOffset].block)
    val b = idxOf(end.asInstanceOf[TradeLogOffset].block)
    // replace-commit blocks (DV compaction / OPTIMIZE restatements) still
    // OCCUPY their seqs — the watermark advances past a skipped one, it
    // just plans no partition (the Delta dataChange=false skip); a
    // STRADDLING restatement substitutes its sidecar copies (r20)
    TradeLogPartition.plan(path, blocks.slice(a, b).flatMap(emitsFor(_, w0)))
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new TradeLogReaderFactory(wanted, xtypes, HadoopConfBox.active())

  override def commit(end: Offset): Unit = () // the offset log is the commit
  override def stop(): Unit = ()
}

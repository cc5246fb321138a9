package graft.source

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.StructType

import TradeLogFormat.BlockMeta

/** Exactly-once distributed write for the tradelog format.
  *
  * Protocol (the v2 commit contract): every task writes a UNIQUELY named
  * data file (`part-<partition>-<task>-<uuid>.gtl`) and returns its block
  * stats as the commit message; only messages from SUCCESSFUL tasks reach
  * `BatchWrite.commit`, where the driver publishes the manifest
  * atomically (temp + rename). Readers resolve blocks exclusively through
  * the manifest, so files from failed, retried, or speculative tasks are
  * never visible, and an aborted job leaves the previous committed state
  * readable — the same observable semantics a transactional sink gives a
  * foreachBatch writer. `SupportsTruncate` backs SaveMode.Overwrite. */
final class TradeLogWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate
    // update-as-append (the Kafka-sink contract): an UPDATE-mode streaming
    // aggregation may write here — each epoch APPENDS its changed-key
    // rows, so the committed log is the upsert FEED and a reader folds
    // last-write-per-key to materialize the table (q_cdc_sink_streamed).
    // The log itself stays append-only; no row is ever rewritten.
    with org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend {
  private var truncateFirst = false
  // write option: rows per block (the skip-index granularity knob — the
  // parquet row-group-size analogue)
  private val blockRows =
    Option(info.options().get("blockRows")).map(_.toInt)
      .getOrElse(TradeLogFormat.DefaultBlockRows)
  // write option: this append is the REWRITE half of a delete-vector
  // compaction — its commit REPLACES every DV-carrying block with the
  // fresh ones (see TradeLogMaintenance.compactDeletes, which pairs it
  // with the onlyDeleted read). expectDvFingerprint is the MANDATORY
  // conflict token: the DV state the paired read captured.
  private val compactDeletes =
    Option(info.options().get("compactDeletes")).exists(_.toBoolean)
  private val expectDvFp =
    Option(info.options().get("expectDvFingerprint"))
  // write option: this append is the rewrite half of a WHOLE-LOG OPTIMIZE
  // (see TradeLogMaintenance.optimize): its commit REPLACES every
  // committed block with the fresh clustered ones, conflict-validated
  // against expectGeneration — the head generation the paired read
  // planned. History survives: the commit is a new generation, so time
  // travel spans an OPTIMIZE (r18 verdict #4 — the old ensureZordered
  // overwrote a fresh path instead).
  private val optimizeFull =
    Option(info.options().get("optimizeFull")).exists(_.toBoolean)
  private val expectGen =
    Option(info.options().get("expectGeneration")).map(_.toLong)
  // write option: the SCOPED variant ("loUs:hiUs") — replace only blocks
  // whose known ts span sits fully inside the range (the per-partition
  // maintenance shape a 100 TB archive actually schedules); must pair
  // with the optimizeScope READ option carrying the same range
  private val optScope: Option[(Long, Long)] =
    Option(info.options().get("optimizeScope")).map { s =>
      val a = s.split(":", 2)
      require(a.length == 2, s"optimizeScope must be loUs:hiUs, got $s")
      (a(0).toLong, a(1).toLong)
    }
  // write option: commit this append to a named BRANCH head instead of
  // main (the WAP staging door — see TradeLogRefs); main is untouched
  // until TradeLogRefs.publish fast-forwards it
  private val branch = Option(info.options().get("branch"))
  override def truncate(): WriteBuilder = { truncateFirst = true; this }
  override def build(): Write = {
    // prefix validation (the ACCEPT_ANY_SCHEMA contract: the table defers
    // schema reconciliation to this check) — returns the evolution tail
    val xcols = TradeLogFormat.requireWriteSchema(info.schema())
    require(!((compactDeletes || optimizeFull) && truncateFirst),
      "graft-tradelog compactDeletes/optimizeFull are append-shaped " +
        "rewrites — overwrite mode cannot compose with them")
    require(!(compactDeletes && optimizeFull),
      "graft-tradelog: compactDeletes and optimizeFull are distinct " +
        "maintenance rewrites — set one")
    require(branch.isEmpty || !(truncateFirst || compactDeletes || optimizeFull),
      "graft-tradelog: branch writes are plain appends — overwrite and " +
        "maintenance rewrites target main only")
    new Write {
      override def toBatch: BatchWrite =
        if (compactDeletes) {
          require(expectDvFp.isDefined,
            "graft-tradelog compactDeletes requires expectDvFingerprint " +
              "(use TradeLogMaintenance.compactDeletes, which captures it)")
          new TradeLogCompactDeletesWrite(path, blockRows, xcols,
            expectDvFp.get)
        } else if (optimizeFull) {
          require(expectGen.isDefined,
            "graft-tradelog optimizeFull requires expectGeneration " +
              "(use TradeLogMaintenance.optimize, which captures it)")
          new TradeLogOptimizeWrite(path, blockRows, xcols, expectGen.get,
            optScope)
        } else new TradeLogBatchWrite(path, truncateFirst, blockRows, xcols,
          branch)
      override def toStreaming: StreamingWrite = {
        require(!truncateFirst,
          "graft-tradelog streaming sink is append-only (no complete/update)")
        require(branch.isEmpty,
          "graft-tradelog streaming sink writes to main (the epoch replay " +
            "guard lives in the head manifest) — branch is batch-only")
        new TradeLogStreamingWrite(path, info.queryId(), blockRows, xcols)
      }
      override def description(): String = s"GraftTradeLog write path=$path"
    }
  }
}

/** Streaming (micro-batch) sink: each epoch's writers use the same
  * uniquely-named-file protocol as the batch write; `commit(epoch, …)`
  * APPENDS the epoch's blocks to the manifest and stamps (epoch,
  * queryId) into the manifest header — one atomic overwrite-rename per
  * epoch. Exactly-once: a REPLAYED epoch (driver restarted after the
  * sink committed but before the engine logged the batch) is detected
  * by the stamp and its duplicate files are dropped instead of
  * double-appended — the idempotent-sink contract the engine's offset
  * log assumes. The stamp is scoped to the QUERY: a different query
  * writing into an existing log (fresh checkpoint, epochs restarting at
  * 0) is a new writer, not a replay, and its batches append normally —
  * never silently dropped.
  * Single-writer assumption (the standard file-sink contract): one
  * streaming query owns a log directory at a time — the epoch
  * read-modify-write is not atomic across concurrent WRITERS
  * (concurrent readers are always safe; the overwrite-rename means they
  * always see a complete published manifest). */
final class TradeLogStreamingWrite(path: String, queryId: String,
    blockRows: Int,
    xcols: Seq[org.apache.spark.sql.types.StructField] = Seq.empty)
    extends StreamingWrite {

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory =
    new TradeLogStreamingWriterFactory(path, blockRows,
      xcols.map(_.dataType).toArray, HadoopConfBox.active())

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val fresh = TradeLogCommit.blocksOf(messages)
    // optimistic commit: the replay check re-runs inside every retry
    // against the CURRENT head, so a concurrent writer landing between
    // read and claim can never outdate the guard. ecommit marks this
    // generation as the epoch's OWN publication — the asOfEpoch anchor;
    // later carry-forward rewrites stay unmarked.
    val committed = TradeLogFormat.commitManifest(path) { prev =>
      val (lastEpoch, lastQid) = (prev.flatMap(_.epoch), prev.flatMap(_.qid))
      if (lastQid.contains(queryId) && lastEpoch.exists(_ >= epochId)) None
      else Some(TradeLogFormat.CommitSpec(
        reuse = prev.map(_.shards).getOrElse(Seq.empty),
        fresh = fresh,
        epoch = Some(epochId), qid = Some(queryId),
        xcols = TradeLogFormat.mergeXcols(
          prev.map(_.xcols).getOrElse(Seq.empty), xcols),
        epochCommit = true))
    }
    if (committed.isEmpty)
      // epoch replay BY THIS QUERY: the previous attempt already
      // published — drop the duplicates, leave the manifest untouched
      TradeLogCommit.deleteFiles(path, fresh.map(_.file))
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    TradeLogCommit.abort(path, messages)
}

final class TradeLogStreamingWriterFactory(path: String, blockRows: Int,
    xtypes: Array[org.apache.spark.sql.types.DataType],
    confBox: HadoopConfBox) extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] =
    new TradeLogDataWriter(path, partitionId, taskId, blockRows, xtypes,
      confBox)
}

/** A batch write through the plain per-task tradelog writers: every
  * subclass differs only in its driver-side commit. An aborted job
  * deletes the files its successful tasks wrote. */
abstract class TradeLogBlockWrite(path: String, blockRows: Int,
    xcols: Seq[org.apache.spark.sql.types.StructField]) extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory =
    new TradeLogWriterFactory(path, blockRows,
      xcols.map(_.dataType).toArray, HadoopConfBox.active())

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    TradeLogCommit.abort(path, messages)
}

final class TradeLogBatchWrite(path: String,
    truncateFirst: Boolean, blockRows: Int,
    xcols: Seq[org.apache.spark.sql.types.StructField] = Seq.empty,
    branch: Option[String] = None)
    extends TradeLogBlockWrite(path, blockRows, xcols) {

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fresh = TradeLogCommit.blocksOf(messages)
    if (truncateFirst) {
      // overwrite: PUBLISH FIRST, then garbage-collect. The atomic
      // claim+rename pair is the commit point — a crash before it leaves
      // the old log fully readable (old manifest + old files intact), a
      // crash after it leaves the new log committed with some orphaned
      // old files (harmless: readers resolve blocks only through the
      // manifest). Deleting before publishing would let a crash or a
      // concurrent reader observe a manifest whose files are gone.
      // truncate REPLACES the schema identity too (the new write's xcols
      // are the log's extras from here on) and RESTARTS the block
      // sequence — any prior stream's checkpoint lineage is void anyway.
      val oldFiles = new java.util.concurrent.atomic.AtomicReference[
        Seq[String]](Seq.empty)
      TradeLogFormat.commitManifest(path) { prev =>
        oldFiles.set(prev.map(p =>
          TradeLogFormat.resolveBlocks(path, p).map(_.file).distinct)
          .getOrElse(Seq.empty))
        Some(TradeLogFormat.CommitSpec(fresh = fresh, xcols = xcols,
          resetSeq = true))
      }
      val keep = fresh.map(_.file).toSet
      TradeLogCommit.deleteFiles(path, oldFiles.get().filterNot(keep))
    } else {
      // append (SaveMode.Append) to main, or to a named branch head (the
      // WAP staging door — main is untouched until TradeLogRefs.publish):
      // the new blocks JOIN the committed set — the untouched day shards
      // carry forward as refs (O(touched days) commit). The streaming
      // (epoch, qid) stamp is CARRIED FORWARD: erasing it would disarm
      // the replay guard for a restartable streaming query whose epoch
      // committed just before this batch append (the restart would
      // double-append that epoch). A WIDENING append merges its extras
      // with the committed ones (append-only prefix rule) — old blocks
      // keep their own nCols and null-fill on read. The merge re-validates
      // inside every optimistic retry, so a conflicting concurrent
      // evolution loses deterministically.
      val head = branch.fold[TradeLogFormat.CommitHead](
        TradeLogFormat.CommitHead.Main)(TradeLogFormat.CommitHead.Branch)
      TradeLogFormat.commitManifest(path, head) { prev =>
        Some(TradeLogFormat.CommitSpec(
          reuse = prev.map(_.shards).getOrElse(Seq.empty),
          fresh = fresh,
          epoch = prev.flatMap(_.epoch), qid = prev.flatMap(_.qid),
          xcols = TradeLogFormat.mergeXcols(
            prev.map(_.xcols).getOrElse(Seq.empty), xcols)))
      }
      ()
    }
  }
}

/** The REPLACE commit shared by delete-vector compaction and OPTIMIZE:
  * the fresh blocks — the paired read's live rows, rewritten by the
  * normal distributed writers — replace the head blocks `select` drops,
  * every other block carries forward. Re-checked inside every optimistic
  * retry: the subclass's conflict validation (`select`, and `validate`
  * once there is something to replace), then the row-count invariant —
  * the replaced blocks' live rows must equal the rows rewritten. The
  * fresh blocks carry replace provenance over every dropped seq
  * (dataChange=false: a seq-watermark stream or changes-since diff
  * positioned past the sources skips the restatement instead of
  * re-emitting every survivor — the offset-stability contract in
  * TradeLogStream.scala; transitive across prior replaces). After the
  * commit: the CDF-retention fold sidecar (the dropped blocks' final DV
  * state, keyed by the fold's generation — best-effort, see
  * [[TradeLogFormat.writeFoldSidecar]]), the delist journal and the
  * graced vacuum. Nothing to replace and nothing written
  * is a no-op: no commit, the job's files are dropped. */
abstract class TradeLogReplaceWrite(path: String, blockRows: Int,
    xcols: Seq[org.apache.spark.sql.types.StructField], verb: String)
    extends TradeLogBlockWrite(path, blockRows, xcols) {

  /** Plan the head: which shards carry forward and which blocks drop. */
  protected def select(prev: TradeLogFormat.ManifestInfo)
      : TradeLogFormat.ShardTriage

  /** Conflict validation that runs only when the commit replaces
    * something. */
  protected def validate(plan: TradeLogFormat.ShardTriage): Unit = ()

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fresh = TradeLogCommit.blocksOf(messages)
    val outcome = new java.util.concurrent.atomic.AtomicReference(
      TradeLogFormat.ShardTriage.Empty)
    val committed = TradeLogFormat.commitManifest(path) { prevOpt =>
      val prev = prevOpt.getOrElse(throw new IllegalStateException(
        s"graft-tradelog $path lost its manifest during $verb"))
      val plan = select(prev)
      outcome.set(plan)
      if (plan.dropped.isEmpty && fresh.isEmpty) None
      else {
        validate(plan)
        val live = plan.dropped.map(_.liveRows.toLong).sum
        val rewrote = fresh.map(_.nRows.toLong).sum
        if (live != rewrote) throw new IllegalStateException(
          s"graft-tradelog $path: $verb rewrote $rewrote rows but the " +
            s"replaced blocks hold $live live rows — a concurrent commit " +
            "moved the target or the paired read did not cover it; re-run it")
        val (srcMin, srcMax) = TradeLogFormat.replaceProvenance(plan.dropped)
        Some(TradeLogFormat.CommitSpec(reuse = plan.reuse,
          rewrite = plan.rewrite,
          fresh = fresh.map(_.copy(srcMinSeq = srcMin, srcMaxSeq = srcMax)),
          epoch = prev.epoch, qid = prev.qid,
          xcols = TradeLogFormat.mergeXcols(prev.xcols, xcols)))
      }
    }
    committed match {
      case None => abort(messages)
      case Some(gen) =>
        val plan = outcome.get()
        TradeLogFormat.writeFoldSidecar(path, gen, plan.dropped)
        TradeLogFormat.journalDelisted(path, plan.delisted,
          System.currentTimeMillis())
        TradeLogFormat.vacuum(path, TradeLogFormat.dmlVacuumGraceMs())
        ()
    }
  }
}

/** Delete-vector COMPACTION commit (the rewrite half of
  * [[TradeLogMaintenance.compactDeletes]]): the fresh blocks — written by
  * the normal distributed writers from the `onlyDeleted` masked read —
  * REPLACE every block that carries a DV. Conflict validation is
  * EXACT-IDENTITY (re-checked inside every optimistic retry): the head's
  * DV state — (file, offset, mask bytes) of every DV-carrying block,
  * order-independently fingerprinted — must equal the state the paired
  * read captured, so a MoR delete landing anywhere between capture and
  * commit fails loudly. A row-count equation alone is NOT sufficient:
  * two offsetting concurrent deletes (more rows masked in a block we
  * read + a fresh mask on a block we didn't) can balance the counts
  * while losing the unread block's live rows and resurrecting the newly
  * masked ones (r18 review finding). The count equation is kept as a
  * secondary invariant. Replaced files with no surviving blocks journal
  * for the graced vacuum, like every delete tier. */
final class TradeLogCompactDeletesWrite(path: String, blockRows: Int,
    xcols: Seq[org.apache.spark.sql.types.StructField],
    expectDvFingerprint: String)
    extends TradeLogReplaceWrite(path, blockRows, xcols, "DV compaction") {

  // refs-tier pruning: only shards with deletes resolve (nDel > 0)
  override protected def select(prev: TradeLogFormat.ManifestInfo)
      : TradeLogFormat.ShardTriage =
    TradeLogFormat.triageShards(path, prev, _.nDel > 0L)(_.nDel > 0)

  override protected def validate(plan: TradeLogFormat.ShardTriage): Unit =
    if (TradeLogFormat.dvFingerprint(plan.dropped) != expectDvFingerprint)
      throw new IllegalStateException(
        s"graft-tradelog $path: the delete-vector state changed between " +
          "the compaction's read and its commit (a concurrent DELETE " +
          "landed) — re-run the compaction")
}

/** Whole-log OPTIMIZE commit (the rewrite half of
  * [[TradeLogMaintenance.optimize]] — Iceberg rewrite_data_files, Delta
  * OPTIMIZE [ZORDER]): the fresh blocks — the ENTIRE live content of the
  * log, re-clustered and DV-masked by the paired head read — REPLACE
  * every committed block as one new generation under the optimistic
  * protocol, so history/time-travel spans the rewrite and post-optimize
  * appends continue the sequence (r18 verdict #4; the prior shape
  * overwrite-copied to a new path, orphaning the table's history).
  *
  * Conflict validation is generation-exact, re-checked inside every
  * optimistic retry: the head generation must still be the one the
  * paired read planned (`expectGeneration`). Coarser than compaction's
  * DV fingerprint by design — OPTIMIZE reads the WHOLE log, so any
  * interleaved commit (append, DELETE, DV write) invalidates the
  * clustered rewrite; the Iceberg rewrite-data-files validation trade.
  * Accumulated delete vectors FOLD into the rewrite (the masked read
  * never emits masked rows, and the fresh blocks carry no DV) — OPTIMIZE
  * over a DV'd log compacts and clusters in one commit (r18 verdict #5).
  * The scoped variant touches only scope-intersecting shards: untouched
  * day shards carry forward by ref — the property that makes the scoped
  * verb the schedulable per-partition maintenance shape at 100 TB. */
final class TradeLogOptimizeWrite(path: String, blockRows: Int,
    xcols: Seq[org.apache.spark.sql.types.StructField],
    expectGeneration: Long,
    scope: Option[(Long, Long)] = None)
    extends TradeLogReplaceWrite(path, blockRows, xcols, "OPTIMIZE") {

  /** The same fully-contained test as the paired `optimizeScope` read
    * (unknown spans never qualify) — read and commit MUST agree on the
    * replaced set or rows would be lost/duplicated. Unscoped = whole log. */
  private def contained(b: BlockMeta): Boolean = scope match {
    case None => true
    case Some((lo, hi)) =>
      b.minTsUs != Long.MinValue && b.minTsUs >= lo && b.maxTsUs <= hi
  }

  override protected def select(prev: TradeLogFormat.ManifestInfo)
      : TradeLogFormat.ShardTriage = {
    if (prev.gen != expectGeneration) throw new IllegalStateException(
      s"graft-tradelog $path: a commit landed between this OPTIMIZE's " +
        s"read (generation $expectGeneration) and its publish (head is " +
        s"${prev.gen}) — the clustered rewrite is stale; re-run it")
    TradeLogFormat.triageShards(path, prev,
      r => scope.forall { case (lo, hi) => r.intersectsTs(lo, hi) })(contained)
  }
}

/** The commit message of one tradelog writer task: the blocks it wrote. */
final case class TradeLogCommit(blocks: Seq[BlockMeta])
    extends WriterCommitMessage

object TradeLogCommit {
  /** Every block the tasks wrote, in (file, offset) order. Failed tasks'
    * slots (null or foreign messages) carry none. */
  def blocksOf(messages: Array[WriterCommitMessage]): IndexedSeq[BlockMeta] =
    messages.toIndexedSeq.flatMap {
      case m: TradeLogCommit => m.blocks
      case _ => Nil
    }.sortBy(b => (b.file, b.offset))

  /** Delete data files of the log at `path` (each at most once). */
  def deleteFiles(path: String, files: Seq[String]): Unit = {
    val (fs, root) = TradeLogFormat.fs(path)
    files.distinct.foreach(f =>
      fs.delete(new org.apache.hadoop.fs.Path(root, f), false))
  }

  /** A write's abort: drop every file its successful tasks wrote. */
  def abort(path: String, messages: Array[WriterCommitMessage]): Unit =
    deleteFiles(path, blocksOf(messages).map(_.file))
}

final class TradeLogWriterFactory(path: String, blockRows: Int,
    xtypes: Array[org.apache.spark.sql.types.DataType],
    confBox: HadoopConfBox) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] =
    new TradeLogDataWriter(path, partitionId, taskId, blockRows, xtypes,
      confBox)
}

/** Per-task writer: encodes rows into blocks of `blockRows` through one
  * [[BlockEncoder]] (a growable byte array, values written by offset),
  * writes each framed block to the data file in one call, and tracks the
  * block's skip statistics (ts min/max, null-ts count, user range and
  * bloom). Input rows arrive as InternalRow in [[TradeLogFormat.schema]]
  * order (ts = epoch micros, strings = UTF8String) plus the evolution
  * tail `xtypes` (encoded after the base bytes; each block's nCols
  * records the tail it carries). The bytes are those the format has
  * always written for the same rows, so files are byte-identical for the
  * same input partitioning. Resolves its filesystem from the DRIVER's
  * conf (the factory's [[HadoopConfBox]] broadcast), so spark.hadoop.*
  * settings apply on executors. On a checksummed `LocalFileSystem` the
  * file and its `.crc` are written through [[graft.core.LocalPublish]]
  * (java.nio), where Hadoop's `create` would fork a `chmod` for each of
  * them; every other filesystem uses `create`. */
final class TradeLogDataWriter(dir: String, partitionId: Int, taskId: Long,
    blockRows: Int,
    xtypes: Array[org.apache.spark.sql.types.DataType] = Array.empty,
    confBox: HadoopConfBox = HadoopConfBox.active())
    extends DataWriter[InternalRow] {

  private val fileName =
    s"part-$partitionId-$taskId-" +
      s"${java.util.UUID.randomUUID().toString.take(8)}.gtl"
  private val (filesystem, root) = TradeLogFormat.fs(dir, confBox.conf)
  private val file = new org.apache.hadoop.fs.Path(root, fileName)
  private val out: java.io.OutputStream = filesystem match {
    case local: org.apache.hadoop.fs.LocalFileSystem =>
      graft.core.LocalPublish.mkdirs(local, root)
      graft.core.LocalPublish.create(local, file)
    case _ => filesystem.create(file, true)
  }

  private val block = new BlockEncoder(xtypes)
  private var minTs = Long.MaxValue
  private var maxTs = Long.MinValue
  private var nTsNull = 0
  private var minUser = Long.MaxValue
  private var maxUser = Long.MinValue
  private var bloom = TradeLogFormat.bloomAlloc(blockRows)
  private var bytesWritten = 0L
  private val blocks = scala.collection.mutable.ArrayBuffer.empty[BlockMeta]

  override def write(row: InternalRow): Unit = {
    block.add(row)
    if (!row.isNullAt(1)) {
      val ts = row.getLong(1)
      minTs = minTs.min(ts); maxTs = maxTs.max(ts)
    } else nTsNull += 1
    if (!row.isNullAt(2)) {
      val u = row.getLong(2)
      TradeLogFormat.bloomAdd(bloom, u)
      minUser = minUser.min(u); maxUser = maxUser.max(u)
    }
    if (block.rows >= blockRows) flushBlock()
  }

  private def flushBlock(): Unit = if (block.rows > 0) {
    val payloadLen = block.payloadLen
    block.writeFramed(out)
    blocks += BlockMeta(fileName, bytesWritten, payloadLen, block.rows,
      if (minTs == Long.MaxValue) Long.MinValue else minTs,
      if (maxTs == Long.MinValue) Long.MaxValue else maxTs,
      TradeLogFormat.bloomHex(bloom),
      TradeLogFormat.BaseCols + xtypes.length,
      // an all-null-user block keeps the inverted (provably-empty) range,
      // which correctly skips every point lookup — null never equals
      nTsNull = nTsNull, seq = -1L, minUser = minUser, maxUser = maxUser)
    bytesWritten += 8L + payloadLen
    block.reset()
    minTs = Long.MaxValue; maxTs = Long.MinValue; nTsNull = 0
    minUser = Long.MaxValue; maxUser = Long.MinValue
    bloom = TradeLogFormat.bloomAlloc(blockRows)
  }

  override def commit(): WriterCommitMessage = {
    flushBlock()
    out.close()
    if (blocks.isEmpty) // empty partition: no file to keep
      filesystem.delete(file, false)
    TradeLogCommit(blocks.toIndexedSeq)
  }

  override def abort(): Unit = {
    out.close()
    filesystem.delete(file, false)
  }

  override def close(): Unit = ()
}

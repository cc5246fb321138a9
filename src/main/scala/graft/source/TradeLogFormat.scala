package graft.source

import java.lang.ref.WeakReference
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** The `graft-tradelog` on-disk format — a block-framed binary event log
  * with a committed manifest, built so the DataSource V2 connector
  * ([[TradeLogProvider]]) can demonstrate the full source contract this
  * sandbox cannot exercise against Kafka (no spark-sql-kafka jar, no
  * egress — reference `main.py:77-87`): real offset-tracked micro-batch
  * reads, block-statistics skipping, column-pruned decoding, and an
  * exactly-once distributed write.
  *
  * Layout under a directory:
  *   - `part-<writerPartition>-<taskId>-<uuid>.gtl` — data files, a
  *     sequence of BLOCKS: `[int32 nRows][int32 payloadLen][payload]`.
  *   - `index.manifest` — the COMMIT POINT. Header line, then one CSV
  *     line per block: `file,offset,payloadLen,nRows,minTsUs,maxTsUs`,
  *     in (file, offset) order — the global block sequence streaming
  *     offsets index into. Written atomically (temp + rename) by the
  *     driver-side `BatchWrite.commit`; data files not listed here are
  *     invisible to readers, which is what makes speculative/retried
  *     writer tasks and aborted jobs harmless (each writer uses a
  *     unique filename and only successful tasks' commit messages reach
  *     the manifest).
  *
  * Row payload encoding (schema [[TradeLogFormat.schema]]):
  *   `[nullMask byte][event_id i64][ts_us i64][user_id i64][value f64]
  *    [etLen i16][event_type utf8][prLen i32][props utf8]`
  * Fixed-width fields are always present (zero when null — the mask
  * decides); var-length fields are present only when non-null; a widened
  * log's extra columns follow (see [[BlockEncoder]], which writes blocks,
  * and [[BlockCursor]], which reads them). The
  * decoder materializes ONLY the pruned columns and skips the rest by
  * arithmetic (fixed) or length-prefix hop (var-length) — column pruning
  * that actually avoids decode work, the parquet ReadSchema idea at
  * byte-codec scale.
  *
  * Per-block `minTsUs/maxTsUs` (over non-null ts) are the skip
  * statistics: a pushed ts-range conjunction drops whole blocks at plan
  * time, so a time-slice query over a day-bucketed, ts-sorted log reads
  * only the frames it needs — parquet row-group pruning re-expressed for
  * this format (the write path sorts within partitions by ts, so block
  * ranges are tight; see [[TradeLogQueries]]).
  */
object TradeLogFormat {
  import org.apache.spark.sql.types._

  val ManifestName = "index.manifest"
  val ManifestHeader = "graft-tradelog v1"
  val DefaultBlockRows = 1024

  /** Base reader/writer schema (events-table shaped, FIXTURES.md) — the
    * fixed 6-column prefix every tradelog block starts with. A widened
    * log appends extra columns AFTER these (see [[xcolsOf]]). */
  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Number of base columns (the fixed prefix). */
  val BaseCols: Int = 6

  /** Extra-column types the evolution tail supports. Timestamps encode
    * as epoch-µs i64, like `ts`. */
  private val XcolTypes: Map[String, DataType] = Map(
    "long" -> LongType, "double" -> DoubleType,
    "string" -> StringType, "timestamp" -> TimestampType)

  private def xcolTypeName(dt: DataType): String = dt match {
    case LongType => "long"
    case DoubleType => "double"
    case StringType => "string"
    case TimestampType => "timestamp"
    case other => throw new IllegalArgumentException(
      s"graft-tradelog extra columns support long/double/string/timestamp, got $other")
  }

  /** The manifest-header token for a widened schema's extra columns
    * (empty string when the log is base-schema). Names are restricted so
    * the space/semicolon/colon-delimited header stays parseable. */
  def xcolsToken(xcols: Seq[StructField]): String =
    if (xcols.isEmpty) ""
    else {
      xcols.foreach(f => require(f.name.matches("[A-Za-z0-9_]+"),
        s"graft-tradelog extra column name must be [A-Za-z0-9_]+: ${f.name}"))
      " xcols=" + xcols.map(f => s"${f.name}:${xcolTypeName(f.dataType)}")
        .mkString(";")
    }

  private def parseXcols(token: String): Seq[StructField] =
    token.split(";").toSeq.filter(_.nonEmpty).map { s =>
      val Array(n, t) = s.split(":", 2)
      StructField(n, XcolTypes.getOrElse(t,
        throw new IllegalArgumentException(s"unknown xcol type: $t")))
    }

  /** The full table schema a manifest describes: base prefix + extras. */
  def widenedSchema(xcols: Seq[StructField]): StructType =
    StructType(schema.fields ++ xcols)

  /** Merge the committed extra columns with a write's: widening is
    * APPEND-ONLY, so one list must be a prefix of the other (same names,
    * same types, same order) and the wider one wins — anything else is a
    * conflicting evolution and fails the commit rather than silently
    * reinterpreting old blocks' bytes. */
  def mergeXcols(committed: Seq[StructField],
      incoming: Seq[StructField]): Seq[StructField] = {
    val (short, long) =
      if (committed.length <= incoming.length) (committed, incoming)
      else (incoming, committed)
    require(long.take(short.length).map(f => (f.name, f.dataType)) ==
      short.map(f => (f.name, f.dataType)),
      s"graft-tradelog schema evolution is append-only: committed extras " +
        s"[${committed.map(_.name).mkString(",")}] vs write extras " +
        s"[${incoming.map(_.name).mkString(",")}] are not prefix-compatible")
    long
  }

  /** One committed block: where it sits, its ts span, (7th CSV field,
    * optional for manifests written before it existed) a hex-encoded
    * user_id bloom filter — the parquet column-bloom idea at block
    * granularity, so point lookups and runtime join filters skip blocks
    * whose bloom provably misses every requested id — and (8th field,
    * optional) the number of columns the block PHYSICALLY encodes.
    * `nCols` is the schema-evolution ledger: widening appends columns to
    * the table schema, old blocks keep their original nCols, and the
    * reader null-fills any requested ordinal >= nCols without decoding
    * anything (the parquet mergeSchema missing-column rule re-expressed
    * at block granularity).
    *
    * Fields 9-12 (all optional, legacy lines default conservatively):
    * `nTsNull` — how many of the block's rows carry a NULL ts (-1 =
    * unknown, pre-field manifests). A ts-range DELETE may drop a block
    * metadata-only ONLY when its span sits inside the range AND
    * nTsNull == 0: null-ts rows never match a ts predicate, so a block
    * holding any must be rewritten, not dropped. `seq` — the block's
    * MONOTONE commit sequence number, assigned by the committing driver
    * (-1 on legacy lines → normalized to manifest position, which IS
    * legacy append order). Streaming offsets are seq watermarks, so they
    * survive purges and compactions of already-consumed blocks — the
    * production evolution the r16 offset-stability note called for.
    * `minUser`/`maxUser` — the block's user_id range (inverted range =
    * provably no non-null user_id; legacy default = unbounded), the
    * coarse tier above the bloom.
    *
    * Fields 13-14 (optional, r18): the block's DELETE VECTOR — the
    * merge-on-read tier (Iceberg v2 position deletes / Delta deletion
    * vectors re-expressed at block granularity). `nDel` counts deleted
    * row ordinals; `dvHex` is a hex-encoded bitmap over the block's
    * 0..nRows-1 ordinals (bit set = row deleted), empty when nothing is
    * deleted. Readers apply the mask at decode time, so a k-row DELETE
    * rewrites ZERO data files — only the touched manifest shards. The
    * block's identity (file, offset, seq) and its skip statistics are
    * UNCHANGED by a DV (spans bound the live rows conservatively), which
    * is what keeps streaming offsets, time travel, and changes-since
    * reads coherent across MoR deletes. */
  final case class BlockMeta(file: String, offset: Long, payloadLen: Int,
      nRows: Int, minTsUs: Long, maxTsUs: Long, bloomHex: String = "",
      nCols: Int = BaseCols, nTsNull: Int = -1, seq: Long = -1L,
      minUser: Long = Long.MinValue, maxUser: Long = Long.MaxValue,
      nDel: Int = 0, dvHex: String = "",
      srcMinSeq: Long = -1L, srcMaxSeq: Long = -1L) {
    def csv: String =
      s"$file,$offset,$payloadLen,$nRows,$minTsUs,$maxTsUs,$bloomHex," +
        s"$nCols,$nTsNull,$seq,$minUser,$maxUser,$nDel,$dvHex," +
        s"$srcMinSeq,$srcMaxSeq"
    def mightContainUser(id: Long): Boolean =
      id >= minUser && id <= maxUser &&
        TradeLogFormat.bloomMightContain(bloomHex, id)
    /** Rows a reader emits from this block after the delete mask. */
    def liveRows: Int = nRows - nDel
    /** Fields 15-16 (optional, r19): REPLACE-commit provenance — the
      * dataChange=false marker. A block written by a content-preserving
      * rewrite (DV compaction, OPTIMIZE) carries the [min, max] commit
      * seq of the blocks the rewrite folded, so an incremental consumer
      * (seq-watermark stream, changes-since diff) positioned PAST the
      * sources can skip it as a restatement instead of re-emitting every
      * surviving row as a duplicate (r18 advice, high: the Delta
      * dataChange=false / Iceberg streaming-skips-REPLACE rule). -1 =
      * a normal data-change block. */
    def isReplace: Boolean = srcMaxSeq >= 0L
  }

  object BlockMeta {
    def fromCsv(line: String): BlockMeta = {
      val a = line.split(",", -1)
      require(a.length >= 6 && a.length <= 16, s"bad manifest line: $line")
      BlockMeta(a(0), a(1).toLong, a(2).toInt, a(3).toInt,
        a(4).toLong, a(5).toLong, if (a.length >= 7) a(6) else "",
        if (a.length >= 8) a(7).toInt else BaseCols,
        if (a.length >= 9) a(8).toInt else -1,
        if (a.length >= 10) a(9).toLong else -1L,
        if (a.length >= 11) a(10).toLong else Long.MinValue,
        if (a.length >= 12) a(11).toLong else Long.MaxValue,
        if (a.length >= 13) a(12).toInt else 0,
        if (a.length >= 14) a(13) else "",
        if (a.length >= 15) a(14).toLong else -1L,
        if (a.length >= 16) a(15).toLong else -1L)
    }
  }

  // ---- per-block delete vector (merge-on-read tier) --------------------

  /** Parse a DV hex bitmap to words; empty hex = no deletes (null). */
  def dvWords(hex: String): Array[Long] =
    if (hex.isEmpty) null
    else Array.tabulate(hex.length / 16)(i =>
      java.lang.Long.parseUnsignedLong(hex.substring(i * 16, i * 16 + 16), 16))

  /** Is row ordinal `i` deleted? Null/short words = live (legacy). */
  def dvDeleted(words: Array[Long], i: Int): Boolean =
    words != null && (i >>> 6) < words.length &&
      (words(i >>> 6) & (1L << (i & 63))) != 0

  /** Hex-encode DV words (the bloomHex discipline — fixed 16-char words,
    * decodable without a length prefix). */
  def dvHexOf(words: Array[Long]): String =
    words.map(w => f"$w%016x").mkString

  def dvCount(words: Array[Long]): Int =
    if (words == null) 0 else words.map(java.lang.Long.bitCount).sum

  /** Order-independent fingerprint of a DV state — the exact-identity
    * token the DV compaction's conflict check compares (a row-COUNT
    * equation alone can be defeated by two OFFSETTING concurrent deletes:
    * one masking more rows in a block the compaction read, one masking a
    * block it did not — r18 review finding). Covers identity AND mask
    * bytes of every DV-carrying block. */
  def dvFingerprint(blocks: Seq[BlockMeta]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    // one entry per line: without the terminator, adjacent-entry
    // concatenation would be ambiguous and two distinct DV states could
    // fingerprint-equal — this string is an exact-identity conflict token
    // (r18 advice)
    blocks.filter(_.nDel > 0).map(b => s"${b.file},${b.offset},${b.dvHex}\n")
      .sorted.foreach(l => md.update(l.getBytes(StandardCharsets.UTF_8)))
    md.digest().map(x => f"$x%02x").mkString
  }

  /** The [srcMin, srcMax] provenance span a rewrite commit stamps on its
    * fresh blocks, folded TRANSITIVELY: a dropped block that was itself
    * written by an earlier replace commit contributes its SOURCE span
    * (srcMinSeq/srcMaxSeq), not its own seq. Without transitivity,
    * compaction→OPTIMIZE chains re-base the span to the intermediate
    * block's seq, and a consumer positioned before the FIRST fold sees
    * srcMinSeq above its watermark and silently re-emits every surviving
    * pre-sync row (r19 advice, high).
    *
    * Why the replace block's own seq is EXCLUDED from the union: a
    * consumer at position p has emitted a dropped replace block's
    * content iff it passed the restatement (seq < p) OR the originals
    * (srcMaxSeq < p); fresh seqs always exceed every committed seq, so
    * min(seq, srcMaxSeq) = srcMaxSeq and the exact skip bound is the
    * source span alone. Unioning the own seq (the advice's literal
    * formula) is over-conservative — a stream fully synced before a
    * compaction→OPTIMIZE chain would straddle-fail loudly where a skip
    * is provably safe (pinned by TradeLogOptimizeSpec's "synced before
    * TWO successive folds" test). */
  def replaceProvenance(dropped: Seq[BlockMeta]): (Long, Long) = {
    val lo = dropped.map(b => if (b.isReplace) b.srcMinSeq else b.seq).min
    val hi = dropped.map(b => if (b.isReplace) b.srcMaxSeq else b.seq).max
    (lo, hi)
  }

  /** Merge `bits` (set-bit positions, 0-based row ordinals) into a
    * block's existing DV; returns the block with the union mask and the
    * recomputed nDel. `nRows` bounds every ordinal. */
  def withDeletes(b: BlockMeta, bits: Array[Long]): BlockMeta = {
    val words = {
      val w = dvWords(b.dvHex)
      val need = (b.nRows + 63) >>> 6
      if (w == null) new Array[Long](need)
      else if (w.length >= need) w
      else java.util.Arrays.copyOf(w, need)
    }
    bits.zipWithIndex.foreach { case (w, i) =>
      require(i < words.length ||  w == 0L,
        s"graft-tradelog delete vector overruns block ${b.file}@${b.offset}")
      if (w != 0L) words(i) |= w
    }
    // a set bit at ordinal >= nRows inside the LAST word would be silently
    // accepted by the word-count check above, skewing nDel/liveRows (stats,
    // the compaction row-count equation) while readers never emit those
    // ordinals — it can only mean a corrupted row id, so fail (r18 advice)
    val tail = b.nRows & 63
    if (tail != 0)
      require((words(words.length - 1) & ~((1L << tail) - 1)) == 0L,
        s"graft-tradelog delete vector marks an ordinal >= nRows " +
          s"(${b.nRows}) in block ${b.file}@${b.offset}")
    val n = dvCount(words)
    require(n <= b.nRows,
      s"graft-tradelog delete vector marks $n of ${b.nRows} rows")
    b.copy(nDel = n, dvHex = dvHexOf(words))
  }

  /** One manifest SHARD: an immutable `_manifests/shard-*.csv` file of
    * block CSV lines, listed in the manifest by this ref line — the
    * two-level manifest (Iceberg's manifest-list/manifest split). Commits
    * write shards only for the day buckets they TOUCH and carry every
    * other ref forward byte-identical, so an append is O(touched days)
    * driver work and a generation snapshot shares its predecessor's shard
    * files. The ref carries the shard's block count, row count, ts span
    * and user_id range, so a ts-sliced (or user-pointed) plan resolves
    * only intersecting shards — block-level skipping then refines within
    * them. Unknown spans stay conservative: a shard holding any
    * unknown-ts block has minTsUs = Long.MinValue / maxTsUs =
    * Long.MaxValue and is never pruned. */
  final case class ShardRef(file: String, nBlocks: Int, nRows: Long,
      minTsUs: Long, maxTsUs: Long, minUser: Long, maxUser: Long,
      maxSeq: Long, nDel: Long = 0L) {
    def line: String =
      s"S,$file,$nBlocks,$nRows,$minTsUs,$maxTsUs,$minUser,$maxUser," +
        s"$maxSeq,$nDel"
    def intersectsTs(lo: Long, hi: Long): Boolean =
      minTsUs <= hi && maxTsUs >= lo
    def mightContainAnyUser(ids: Set[Long]): Boolean =
      ids.exists(id => id >= minUser && id <= maxUser)
  }

  object ShardRef {
    def of(file: String, blocks: Seq[BlockMeta]): ShardRef = {
      require(blocks.nonEmpty, "a shard must hold at least one block")
      ShardRef(file, blocks.size, blocks.map(_.nRows.toLong).sum,
        blocks.map(_.minTsUs).min, blocks.map(_.maxTsUs).max,
        blocks.map(_.minUser).min, blocks.map(_.maxUser).max,
        blocks.map(_.seq).max,
        // the MoR planning tier: compaction and pushed-aggregate guards
        // find DV-carrying shards from refs alone — O(#shards), no resolve
        blocks.map(_.nDel.toLong).sum)
    }
    def fromLine(l: String): ShardRef = {
      val a = l.split(",", -1)
      require((a.length == 9 || a.length == 10) && a(0) == "S",
        s"bad shard ref line: $l")
      ShardRef(a(1), a(2).toInt, a(3).toLong, a(4).toLong, a(5).toLong,
        a(6).toLong, a(7).toLong, a(8).toLong,
        if (a.length >= 10) a(9).toLong else 0L)
    }
  }

  // ---- per-block user_id bloom ---------------------------------------
  // m = 8 bits per buffered row (m/n = 8, k = 3 → ~3% false positives at
  // a full block), double hashing from a splitmix64 mix — the same
  // fingerprint discipline as the dedup lanes: pure integer ops,
  // deterministic on any JVM/partitioning.

  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Fresh bloom accumulator for a block of up to `blockRows` rows. */
  def bloomAlloc(blockRows: Int): Array[Long] =
    new Array[Long](math.max(1, blockRows / 8)) // 8*blockRows bits / 64

  /** Per-row write hot path: the k=3 double-hash positions are computed
    * in an unrolled loop — no Seq, no closure, zero allocation. */
  def bloomAdd(bits: Array[Long], id: Long): Unit = {
    val mBits = bits.length * 64
    val h1 = mix64(id)
    val h2 = mix64(id ^ 0x5851f42d4c957f2dL) | 1L
    var i = 0
    while (i < 3) {
      val p = (((h1 + i * h2) & Long.MaxValue) % mBits).toInt
      bits(p >>> 6) |= (1L << (p & 63))
      i += 1
    }
  }

  def bloomHex(bits: Array[Long]): String =
    bits.map(w => f"$w%016x").mkString

  /** Conservative check: an absent bloom (legacy manifest line) reports
    * "might contain". An all-zero bloom (every user_id in the block was
    * null) correctly reports a miss for every id — null never equals.
    * Decodes only the 3 probed 16-char words, never the whole hex. */
  def bloomMightContain(hex: String, id: Long): Boolean =
    hex.isEmpty || {
      val mBits = hex.length * 4
      val h1 = mix64(id)
      val h2 = mix64(id ^ 0x5851f42d4c957f2dL) | 1L
      var i = 0
      var ok = true
      while (ok && i < 3) {
        val p = (((h1 + i * h2) & Long.MaxValue) % mBits).toInt
        val word = java.lang.Long.parseUnsignedLong(
          hex.substring((p >>> 6) * 16, (p >>> 6) * 16 + 16), 16)
        ok = (word & (1L << (p & 63))) != 0
        i += 1
      }
      ok
    }

  /** Written-schema contract, shared by the batch and streaming write
    * paths (one check, one claim): the first [[BaseCols]] fields must be
    * the base schema exactly (name and type); any TRAILING fields are the
    * widening — supported types only, header-safe names. Returns the
    * extra fields. Widening is append-only by construction: renames,
    * drops, and type changes of base columns are rejected here, which is
    * what makes per-block `nCols` a complete schema ledger. */
  def requireWriteSchema(s: StructType): Seq[StructField] = {
    require(s.fields.length >= BaseCols &&
      s.fields.take(BaseCols).map(f => (f.name, f.dataType)).sameElements(
        schema.fields.map(f => (f.name, f.dataType))),
      s"graft-tradelog expects a ${schema.simpleString} prefix, got ${s.simpleString}")
    val extra = s.fields.drop(BaseCols).toSeq
    xcolsToken(extra) // validates names + types
    // a duplicate name (vs the base schema or another extra) would commit
    // a permanently ambiguous table schema — fieldIndex/analysis break on
    // every later read and only a truncate could repair the log (r16
    // review finding). Case-insensitive, matching Spark's resolution.
    val names = s.fields.map(_.name.toLowerCase)
    require(names.distinct.length == names.length,
      s"graft-tradelog write schema has duplicate column names: " +
        s"${names.diff(names.distinct).distinct.mkString(", ")}")
    // `_file`/`_boff`/`_brow`/`_change_type` are the reader's METADATA
    // columns (block provenance, the MoR row id, the CDF verb): a data
    // column of those names would be silently hijacked by the scan's
    // metadata slots — reserved, like every lakehouse format's _-prefixed
    // metadata namespace (r17 review finding; r18 added the row-id pair,
    // r19 the change type)
    Seq("_file", "_boff", "_brow", "_change_type").foreach(m =>
      require(!names.contains(m),
        s"graft-tradelog reserves the column name `$m` (metadata column)"))
    extra
  }

  /** Retention grace for the vacuums that row-level DML piggybacks
    * (COW replace, metadata DELETE, MoR full-block drops), read from the
    * driver's Hadoop conf: set
    * `spark.hadoop.graft.tradelog.dml.vacuum.grace.ms` to the snapshot
    * retention window and a DELETE leaves its victims' data files on disk
    * for that long — so a time-travel read pinned at a pre-DELETE
    * generation keeps resolving (r17 advice: grace 0 unlinked files a
    * VERSION AS OF read still referenced). The default 0 keeps the
    * single-writer bench shape: any DML immediately invalidates
    * older-generation time travel over its victim files — exactly the
    * Delta VACUUM RETAIN 0 trade, and the documented horizon rule
    * (`readManifestInfoAt`: data-file availability bounds the horizon). */
  def dmlVacuumGraceMs(): Long =
    driverConf().getLong("graft.tradelog.dml.vacuum.grace.ms", 0L)

  /** Driver-side Hadoop conf: the ACTIVE session's hadoopConfiguration
    * when one exists (so `spark.hadoop.*` — S3A credentials, a
    * fs.defaultFS override, kerberos settings — reach the connector,
    * exactly like every other artifact path in this repo), else the
    * classpath core-site/hdfs-site. Executor-side readers/writers never
    * call this: their factory carries a [[HadoopConfBox]], a broadcast
    * copy of this conf taken when the factory was created. */
  def driverConf(): Configuration =
    SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  def fs(dir: String): (FileSystem, Path) = fs(dir, driverConf())

  def fs(dir: String, conf: Configuration): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(conf), p)
  }

  /** Read the committed manifest: the global block sequence (seq order —
    * append order for legacy flat logs). Resolves every shard of a
    * two-level manifest; plan paths that can prune should use
    * [[readManifestRefs]] + [[readShardBlocks]] instead. */
  def readManifest(dir: String): Seq[BlockMeta] = readManifestMeta(dir)._1

  /** Blocks + last committed streaming epoch (compat accessor). */
  def readManifestFull(dir: String): (Seq[BlockMeta], Option[Long]) = {
    val (b, e, _) = readManifestMeta(dir)
    (b, e)
  }

  /** Manifest blocks plus the last committed streaming (epoch, queryId)
    * stamp (both None for a batch-written log — the header carries
    * ` epoch=N qid=X` only when the streaming sink published it). */
  def readManifestMeta(dir: String)
      : (Seq[BlockMeta], Option[Long], Option[String]) = {
    val i = readManifestInfo(dir)
    (i.blocks, i.epoch, i.qid)
  }

  /** Everything a committed manifest says: the block sequence, the
    * streaming (epoch, qid) stamp, whether THIS generation is the
    * streaming sink's own epoch commit (`epochCommit` — false on batch
    * appends and purges, which CARRY the stamp forward for the replay
    * guard without being epoch states themselves), the manifest
    * GENERATION (0 for pre-generation legacy manifests), and the
    * extra-column fields of a widened schema (empty for a base-schema
    * log). */
  final case class ManifestInfo(blocks: Seq[BlockMeta], epoch: Option[Long],
      qid: Option[String], gen: Long, xcols: Seq[StructField],
      epochCommit: Boolean = false, shards: Seq[ShardRef] = Seq.empty,
      maxSeq: Long = -1L, delMode: Option[String] = None) {
    def tableSchema: StructType = widenedSchema(xcols)
    /** Total committed blocks, from refs alone when sharded. */
    def blockCount: Int =
      if (shards.nonEmpty) shards.map(_.nBlocks).sum else blocks.size
    /** Total DV-deleted rows, from refs alone when sharded (refs-only
      * reads carry no inline blocks, so the shard tier answers). */
    def totalDeletes: Long =
      if (shards.nonEmpty) shards.map(_.nDel).sum
      else blocks.map(_.nDel.toLong).sum
  }

  def readManifestInfo(dir: String): ManifestInfo =
    readManifestFile(dir, ManifestName)

  /** Header-only read of the head manifest: everything but the block
    * list, at one-line cost — what schema inference and epoch resolution
    * need (a full readManifestInfo is O(blocks) CSV parsing). */
  def readManifestHeader(dir: String): ManifestInfo =
    readManifestFile(dir, ManifestName, headerOnly = true)

  /** Shard refs without resolving their block lists — the O(#shards)
    * planning read. On a legacy FLAT manifest the blocks are inline and
    * come back populated (`shards` empty): callers treat that as "one
    * unprunable shard". */
  def readManifestRefs(dir: String): ManifestInfo =
    readManifestFile(dir, ManifestName, refsOnly = true)

  /** Resolve one shard's block list (seq order as written). */
  def readShardBlocks(dir: String, ref: ShardRef): Seq[BlockMeta] = {
    val (filesystem, root) = fs(dir)
    val in = filesystem.open(new Path(root, s"$ManifestDirName/${ref.file}"))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(_.nonEmpty).map(BlockMeta.fromCsv).toSeq
    finally in.close()
  }

  /** Full block resolve of an already-read (refs or flat) manifest. */
  def resolveBlocks(dir: String, info: ManifestInfo): Seq[BlockMeta] =
    if (info.shards.nonEmpty)
      info.shards.flatMap(readShardBlocks(dir, _)).sortBy(_.seq)
    else normalizeSeq(info.blocks)

  /** Committed block count at O(#shards) cost (refs-only read). */
  def countBlocks(dir: String): Int = readManifestRefs(dir).blockCount

  /** Legacy flat manifests carry no seq: assign manifest position, which
    * IS their append order (appends concatenated). Sharded blocks sort by
    * their committed seq. */
  private[source] def normalizeSeq(bs: Seq[BlockMeta]): Seq[BlockMeta] =
    if (bs.forall(_.seq >= 0L)) bs.sortBy(_.seq)
    else bs.zipWithIndex.map { case (b, i) => b.copy(seq = i.toLong) }

  /** A PINNED generation snapshot (`_manifests/gen-N.manifest`) — the
    * read-at-version surface. Every commit CLAIMS its snapshot (atomic
    * no-overwrite publish) before publishing the main manifest, so any
    * committed state is addressable. Data-file availability bounds the
    * horizon: purge+vacuum may have GC'd files an old generation
    * references (the delist-journal grace window is the retention knob —
    * the Iceberg/Delta snapshot-expiry trade, re-expressed). Snapshots
    * above the committed head generation are in-flight or abandoned
    * CLAIMS, not committed states — callers resolving "latest" semantics
    * must bound by the head gen (see [[resolveEpochGen]]). */
  def readManifestInfoAt(dir: String, gen: Long,
      headerOnly: Boolean = false, refsOnly: Boolean = false): ManifestInfo = {
    val name = s"$ManifestDirName/gen-$gen.manifest"
    val (filesystem, root) = fs(dir)
    require(filesystem.exists(new Path(root, name)),
      s"graft-tradelog $dir has no generation $gen snapshot " +
        "(pre-generation log, or the snapshot horizon was pruned)")
    readManifestFile(dir, name, headerOnly, refsOnly)
  }

  private[source] def readManifestFile(dir: String, name: String,
      headerOnly: Boolean = false, refsOnly: Boolean = false): ManifestInfo = {
    val (filesystem, root) = fs(dir)
    val (head, refs, inline) = rereadTorn {
      val in = filesystem.open(new Path(root, name))
      try {
        val src = scala.io.Source.fromInputStream(in, "UTF-8")
        val lineIt = src.getLines().map(_.trim).filter(_.nonEmpty)
        val head = if (lineIt.hasNext) lineIt.next() else ""
        require(head == ManifestHeader || head.startsWith(ManifestHeader + " "),
          s"not a graft-tradelog dir: $dir")
        if (headerOnly) (head, Seq.empty[ShardRef], Seq.empty[BlockMeta])
        else {
          val (refLines, blockLines) = lineIt.toSeq.partition(_.startsWith("S,"))
          (head, refLines.map(ShardRef.fromLine),
            blockLines.map(BlockMeta.fromCsv))
        }
      } finally in.close()
    }
    val epoch = "epoch=(\\d+)".r.findFirstMatchIn(head).map(_.group(1).toLong)
    val qid = "qid=(\\S+)".r.findFirstMatchIn(head).map(_.group(1))
    val gen = "gen=(\\d+)".r.findFirstMatchIn(head).map(_.group(1).toLong)
      .getOrElse(0L)
    val xcols = "xcols=(\\S+)".r.findFirstMatchIn(head).map(_.group(1))
      .map(parseXcols).getOrElse(Seq.empty)
    val ecommit = head.contains(" ecommit=1")
    val maxSeq = "maxSeq=(-?\\d+)".r.findFirstMatchIn(head)
      .map(_.group(1).toLong).getOrElse(-1L)
    val delMode = "delmode=(\\S+)".r.findFirstMatchIn(head).map(_.group(1))
    val blocks =
      if (refs.nonEmpty && !refsOnly)
        refs.flatMap(readShardBlocks(dir, _)).sortBy(_.seq)
      else if (refs.nonEmpty) Seq.empty
      else normalizeSeq(inline)
    ManifestInfo(blocks, epoch, qid, gen, xcols, ecommit, refs, maxSeq,
      delMode)
  }

  val ManifestDirName = "_manifests"

  /** Generation numbers of every `gen-N.manifest` snapshot, strictly
    * regex-matched so a stray file sharing the prefix/suffix can never
    * abort a maintenance pass with a NumberFormatException (r16 advice). */
  /** CDF-RETENTION SIDECAR (r19 verdict #3 — Delta's CDF-retention
    * semantics completed): a rewrite commit (DV compaction / OPTIMIZE)
    * destroys the dropped blocks' delete-vector history, which is what a
    * changes-since withChangeTypes diff synced BEFORE the fold pairs
    * against. The committing rewrite persists the dropped blocks' FINAL
    * metadata (including their DVs) as `_manifests/fold-<gen>.csv`, so a
    * later diff can (a) recover the pre-fold DV deltas and (b) re-serve
    * folded post-sync additions from the dropped copies (whose data
    * files ride the DML vacuum grace — the data half of the retention
    * window). Swept with the snapshot horizon: expireSnapshots deletes
    * `fold-<G>` alongside `gen-<G>` — past retention the diff refuses
    * loudly again, never silently under-reports. Best-effort at commit
    * (a crash between the manifest publish and this write degrades to
    * the pre-sidecar refusal, losing no exactness). */
  def writeFoldSidecar(dir: String, gen: Long,
      dropped: Seq[BlockMeta]): Unit = {
    val conf = driverConf()
    val (filesystem, root) = fs(dir, conf)
    val mdir = new Path(root, ManifestDirName)
    publishAtomic(filesystem, conf, mdir, new Path(mdir, s"fold-$gen.csv"),
      dropped.map(_.csv).mkString("\n").getBytes(StandardCharsets.UTF_8),
      overwrite = true)
    ()
  }

  /** Every fold sidecar with generation > `sinceGen`, grouped per fold
    * (the fold's own dropped set — what the per-span completeness
    * equation needs under CHAINED folds, where raw span membership
    * over-counts earlier lineage copies). Within and across groups,
    * (file, offset) is unique — fresh blocks always land in fresh
    * files, so a block is dropped at most once. */
  def readFoldSidecars(dir: String, sinceGen: Long)
      : Seq[(Long, Seq[BlockMeta])] = {
    val (filesystem, root) = fs(dir)
    val mdir = new Path(root, ManifestDirName)
    if (!filesystem.exists(mdir)) return Seq.empty
    val re = "^fold-(\\d+)\\.csv$".r
    filesystem.listStatus(mdir).toSeq.flatMap { st =>
      re.findFirstMatchIn(st.getPath.getName) match {
        case Some(m) if m.group(1).toLong > sinceGen =>
          val in = filesystem.open(st.getPath)
          val bs =
            try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
              .filter(_.nonEmpty).map(BlockMeta.fromCsv).toList
            finally in.close()
          Seq(m.group(1).toLong -> bs)
        case _ => Nil
      }
    }.sortBy(_._1)
  }

  private def listSnapshotGens(filesystem: FileSystem, mdir: Path): Seq[Long] = {
    val re = "^gen-(\\d+)\\.manifest$".r
    filesystem.listStatus(mdir).toSeq.map(_.getPath.getName)
      .flatMap(n => re.findFirstMatchIn(n).map(_.group(1).toLong))
  }

  /** SNAPSHOT EXPIRY — the retention verb of the time-travel surface
    * (Iceberg's expire_snapshots / Delta's log retention): delete every
    * COMMITTED generation snapshot older than the newest `keepLast` (the
    * head generation's snapshot always survives). Snapshots ABOVE the
    * committed head are in-flight or abandoned commit CLAIMS, never
    * counted or touched here — counting them could victimize the real
    * head's snapshot (r16 advice); reclaiming a dead claim is the commit
    * loop's takeover job. Reads pinned at an expired generation fail
    * loudly afterwards (`readManifestInfoAt`'s horizon message); the
    * head manifest and all data files are untouched.
    *
    * After deleting victims, shard files referenced by NO surviving
    * manifest (head, kept snapshots, in-flight claims) are swept too —
    * age-gated by `sweepMinAgeMs` so a concurrent commit's just-written,
    * not-yet-claimed shards are never destroyed (the same floor as
    * vacuum's orphan adoption). Returns the number of SNAPSHOTS deleted.
    * Same single-maintenance-writer contract as the delist journal. */
  def expireSnapshots(dir: String, keepLast: Int,
      sweepMinAgeMs: Long = OrphanMinAgeMs): Int = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val (filesystem, root) = fs(dir)
    val mdir = new Path(root, ManifestDirName)
    if (!filesystem.exists(mdir) ||
      !filesystem.exists(new Path(root, ManifestName))) return 0
    val headGen = readManifestHeader(dir).gen
    // ref-anchored generations (tag targets, branch fork points) are
    // retained regardless of age — expiring one would orphan the ref
    val anchored = TradeLogRefs.anchoredGens(dir)
    val committed = listSnapshotGens(filesystem, mdir).filter(_ <= headGen)
      .sorted
    val victims = committed.dropRight(keepLast).filterNot(anchored)
    // a tag published after the batch read above may anchor a victim:
    // park the snapshot, THEN re-read the anchors and put it back if a tag
    // appeared. createTag re-validates after publishing its ref, so it
    // either saw the snapshot before it was parked (this re-read sees its
    // ref) or fails loudly — no check-then-act window is left (r19 advice)
    val n = victims.count { g =>
      val snap = new Path(mdir, s"gen-$g.manifest")
      val parked = new Path(mdir, s".gen-$g.manifest.expiring")
      filesystem.rename(snap, parked) && {
        val tagged = TradeLogRefs.anchoredGens(dir).contains(g)
        if (tagged) require(filesystem.rename(parked, snap),
          s"graft-tradelog $dir: could not restore tagged snapshot $parked")
        else {
          filesystem.delete(parked, false)
          // the CDF-retention sidecar rides the same horizon: past it a
          // changes-since read across that fold refuses instead of serving
          filesystem.delete(new Path(mdir, s"fold-$g.csv"), false)
        }
        !tagged
      }
    }
    // shard sweep: collect every shard still referenced by the head, any
    // surviving snapshot (claims above headGen included — their refs are a
    // racer's in-flight commit), or any named ref's snapshot (staged
    // branch commits), unlink the aged rest
    val referenced = (readManifestRefs(dir).shards ++
      listSnapshotGens(filesystem, mdir).flatMap(g =>
        readManifestInfoAt(dir, g, refsOnly = true).shards))
      .map(_.file).toSet ++ TradeLogRefs.referencedShards(dir)
    val now = System.currentTimeMillis()
    val shardRe = "^shard-[0-9a-f]+\\.csv$".r
    filesystem.listStatus(mdir).foreach { st =>
      val name = st.getPath.getName
      if (shardRe.findFirstIn(name).isDefined && !referenced(name) &&
        st.getModificationTime <= now - sweepMinAgeMs)
        filesystem.delete(st.getPath, false)
    }
    n
  }

  /** Resolve a WALL-CLOCK time-travel read (`TIMESTAMP AS OF`) to the
    * newest COMMITTED generation whose snapshot file was published at or
    * before `tsMs` — the Delta rule: commit time IS the transaction-log
    * file's modification time (a dead-claim takeover re-publishes the
    * snapshot, so the mtime is always the time the WINNING commit
    * landed). Bounded by the head generation like every "latest"
    * resolution (orphan claims above head are never committed states);
    * ties at millisecond granularity resolve to the highest generation,
    * matching commit order. */
  def resolveWallClockGen(dir: String, tsMs: Long): Long = {
    val (filesystem, root) = fs(dir)
    val mdir = new Path(root, ManifestDirName)
    require(filesystem.exists(mdir),
      s"graft-tradelog $dir has no generation snapshots (pre-generation log)")
    val headGen = readManifestHeader(dir).gen
    val eligible = listSnapshotGens(filesystem, mdir).filter(_ <= headGen)
      .flatMap { g =>
        val p = new Path(mdir, s"gen-$g.manifest")
        val st =
          try Some(filesystem.getFileStatus(p))
          catch { case _: java.io.FileNotFoundException => None }
        st.collect { case s if s.getModificationTime <= tsMs => g }
      }
    require(eligible.nonEmpty,
      s"graft-tradelog $dir has no committed generation at or before " +
        s"timestamp $tsMs ms (earliest surviving snapshot is later, or " +
        "the horizon was expired)")
    eligible.max
  }

  /** Resolve an `asOfEpoch` read to the newest COMMITTED generation that
    * IS a streaming-sink epoch commit with stamp <= `epoch`. Two filters:
    * the `ecommit` marker — not the epoch token alone — because batch
    * appends and purges CARRY the (epoch, qid) stamp forward for the
    * replay guard (r16 review finding); and gen <= the head generation,
    * because a snapshot above the head is an in-flight or crashed commit
    * CLAIM whose data files were never published — resolving it would
    * serve a never-committed state (r16 advice). Header-only snapshot
    * reads — one line per generation, driver-side. */
  def resolveEpochGen(dir: String, epoch: Long): Long = {
    val (filesystem, root) = fs(dir)
    val mdir = new Path(root, ManifestDirName)
    require(filesystem.exists(mdir),
      s"graft-tradelog $dir has no generation snapshots (pre-generation log)")
    val headGen = readManifestHeader(dir).gen
    val gens = listSnapshotGens(filesystem, mdir).filter(_ <= headGen)
    val stamped = gens.flatMap { g =>
      val info = readManifestInfoAt(dir, g, headerOnly = true)
      info.epoch.collect { case e if info.epochCommit && e <= epoch => g }
    }
    require(stamped.nonEmpty,
      s"graft-tradelog $dir has no committed generation at or before epoch $epoch")
    stamped.max
  }

  // ---- optimistic commit protocol --------------------------------------

  /** What one commit wants the next generation to contain:
    * `reuse` — shard refs carried forward byte-identical (untouched
    * days); `rewrite` — shard files to re-emit from ALREADY-SEQUENCED
    * blocks (purge/DELETE rewrites, legacy conversion); `fresh` — new
    * blocks, sequenced here (monotone from the head's maxSeq) and
    * grouped into per-day shards. Header fields as before; `resetSeq`
    * restarts the sequence (truncate — a new content identity). */
  final case class CommitSpec(
      reuse: Seq[ShardRef] = Seq.empty,
      rewrite: Seq[Seq[BlockMeta]] = Seq.empty,
      fresh: Seq[BlockMeta] = Seq.empty,
      epoch: Option[Long] = None,
      qid: Option[String] = None,
      xcols: Seq[StructField] = Seq.empty,
      epochCommit: Boolean = false,
      resetSeq: Boolean = false,
      // table property: DELETE routing ("cow" | "mor"). None = carry the
      // head's setting forward — commitManifest handles the inheritance,
      // so no call site needs to know the property exists.
      delMode: Option[String] = None)

  /** The head a commit targets. Both heads run the one claim protocol of
    * [[commitManifest]]; they differ only in where the head pointer lives
    * and which snapshot file a generation claims. */
  sealed trait CommitHead {
    /** The `_manifests/` snapshot that generation `gen` of this head claims. */
    private[source] def snapshotName(gen: Long): String
  }
  object CommitHead {
    /** The table: `index.manifest`, generation N claims `gen-N.manifest`. */
    case object Main extends CommitHead {
      private[source] def snapshotName(gen: Long): String = s"gen-$gen.manifest"
    }
    /** A [[TradeLogRefs]] branch: `_refs/<name>`, branch-local generation
      * k claims `gen-k-<name>.manifest` — namespaced, so a branch never
      * contends with main's generation sequence. */
    final case class Branch(name: String) extends CommitHead {
      private[source] def snapshotName(gen: Long): String =
        s"gen-$gen-$name.manifest"
    }
  }

  /** A commit whose content is exactly `snap`'s (RESTORE, branch
    * publish): its shards adopted by reference — nothing rewritten — or,
    * for a legacy flat snapshot, its blocks re-emitted (seqs preserved) as
    * one shard, the same one-time migration cost a legacy head pays.
    * `snap`'s schema comes with it; the head's streaming stamp carries
    * forward. */
  private[source] def adoptSpec(snap: ManifestInfo,
      head: ManifestInfo): CommitSpec =
    CommitSpec(reuse = snap.shards,
      rewrite =
        if (snap.shards.isEmpty) Seq(normalizeSeq(snap.blocks)) else Nil,
      epoch = head.epoch, qid = head.qid, xcols = snap.xcols)

  /** One day bucket of the block-to-shard grouping (µs epoch days;
    * unknown-ts blocks collect in their own always-read bucket). */
  private val DayUs = 86400000000L
  private[source] def dayOf(minTsUs: Long): Long =
    if (minTsUs == Long.MinValue) Long.MinValue
    else Math.floorDiv(minTsUs, DayUs)

  private[source] def groupByDay(blocks: Seq[BlockMeta]): Seq[Seq[BlockMeta]] =
    blocks.groupBy(b => dayOf(b.minTsUs)).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_.seq))

  /** In-process commit serialization, keyed by qualified log root (every
    * head of one log shares it): local racers take the optimistic path
    * deterministically (read outside the lock, claim+publish inside), and
    * the claim in [[publishAtomic]] arbitrates cross-process racers —
    * `link(2)` on a local log, `FileContext`'s no-overwrite rename
    * elsewhere — the Delta LogStore split. */
  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Write `body` to a temp file and atomically publish it as `target`.
    * With `overwrite = false` the publish is the commit CLAIM: it fails
    * (returns false) when the target already exists — the lost race.
    * A checksummed local log publishes fork-free through
    * [[graft.core.LocalPublish]]; every other filesystem writes with
    * `create` and publishes with `FileContext.rename`. Reads stay on Hadoop,
    * which verifies the `.crc` sidecar. No failure path leaves a temp. */
  private[source] def publishAtomic(filesystem: FileSystem, conf: Configuration,
      tmpDir: Path, target0: Path, body: Array[Byte],
      overwrite: Boolean): Boolean = {
    val target = filesystem.makeQualified(target0)
    val tmp = filesystem.makeQualified(new Path(tmpDir,
      s".${target0.getName}.tmp-" +
        java.util.UUID.randomUUID().toString.take(8)))
    filesystem match {
      case local: LocalFileSystem =>
        graft.core.LocalPublish.publish(local, tmp, target, body, overwrite)
      case _ =>
        import org.apache.hadoop.fs.{FileContext, Options}
        val fc = FileContext.getFileContext(target.toUri, conf)
        try {
          val out = filesystem.create(tmp, true)
          try out.write(body) finally out.close()
          if (overwrite) fc.rename(tmp, target, Options.Rename.OVERWRITE)
          else fc.rename(tmp, target)
          true
        } catch {
          // a claim is lost only if the destination really exists; anything
          // else is a genuine IO failure and must surface
          case e: java.io.IOException =>
            filesystem.delete(tmp, false)
            if (!overwrite && filesystem.exists(target)) false else throw e
        }
    }
  }

  /** Re-run a metadata read that failed its checksum. An overwrite
    * publish swaps the body, then its sidecar
    * ([[graft.core.LocalPublish.move]]), so a reader that opened the old
    * body before the swap can still meet the new sidecar; a re-read a
    * moment later sees the finished publish. Real corruption fails every
    * attempt and surfaces. */
  private[source] def rereadTorn[T](read: => T, tries: Int = 4): T =
    try read
    catch {
      case _: org.apache.hadoop.fs.ChecksumException if tries > 1 =>
        Thread.sleep(5L)
        rereadTorn(read, tries - 1)
    }

  /** Does the claim file exist and hold exactly `body`? False on any
    * read failure — the caller treats that as a lost race. */
  private[source] def claimHoldsBody(filesystem: FileSystem, claim: Path,
      body: Array[Byte]): Boolean =
    try {
      val in = filesystem.open(claim)
      try java.util.Arrays.equals(in.readAllBytes(), body)
      finally in.close()
    } catch { case _: java.io.IOException => false }

  /** After a lost claim for `gen`: wait for the racing claimant to
    * publish its head (normal race — retry immediately after), or take
    * over a DEAD claimant's orphan snapshot once it ages past
    * `patienceMs` with the head still behind it. Takeover deletes the
    * orphan so the generation can be re-claimed; the patience must
    * exceed any sane claim→publish latency (two renames), which is why
    * the default is a minute and specs pass ~0 to exercise the path. */
  private def awaitHeadOrTakeover(filesystem: FileSystem, claim: Path,
      gen: Long, patienceMs: Long, headGen: () => Long): Unit = {
    var spins = 0
    while (spins < 50) {
      if (headGen() >= gen) return // racer published: retry against new head
      val st =
        try Some(filesystem.getFileStatus(claim))
        catch { case _: java.io.FileNotFoundException => None }
      st match {
        case None => return // claim vanished (owner aborted): re-claim
        case Some(s)
          if System.currentTimeMillis() - s.getModificationTime > patienceMs =>
          // dead claimant — but re-read the head at the last instant: if
          // the claim's owner published while this racer was deciding,
          // deleting would unlink a LIVE generation's snapshot (the same
          // check-then-act shape as the takeover race this resolves)
          if (headGen() < gen) filesystem.delete(claim, false)
          return
        case _ => Thread.sleep(50); spins += 1
      }
    }
  }

  /** OPTIMISTIC manifest commit — the Iceberg/Delta commit protocol for
    * concurrent writers, and the ONE commit of the format: every main
    * commit and every branch append runs it, differing only in `head`.
    * Read the head, build the next generation's shard set, then CLAIM the
    * generation's snapshot (`gen-N.manifest` for main,
    * `gen-k-<branch>.manifest` for a branch) with an atomic no-overwrite
    * publish. Before publishing, the claimant re-verifies that the claim
    * still holds ITS body: a patience-based takeover deletes a stalled
    * claim and re-claims the same path, and a claimant slow between its
    * claim and its publish (GC pause, FS stall) is indistinguishable from
    * a dead one — publishing blindly would point the head at the other
    * racer's manifest or at a deleted file. The winner then publishes the
    * head (main: `index.manifest` by OVERWRITE rename — never a window
    * with no manifest on disk; branch: the `_refs/<name>` line). A loser
    * deletes its attempt's shard files, waits for the winner's head (or,
    * after `claimPatienceMs`, re-reads the head at the last instant and
    * takes over a dead claim), re-runs `update` against the new head
    * (re-validating schema prefixes, replay stamps, purge conflicts —
    * whatever the caller checks) and retries with the next generation,
    * bounded by `maxAttempts`. A crash between claim and publish leaves
    * an orphan snapshot that resolution ignores (it is above the head
    * gen) until a later committer takes it over.
    *
    * `update` sees the head as refs (legacy flat manifests are converted
    * to day shards first — a one-time O(blocks) migration commit; None
    * only for a main head with nothing committed yet) and returns None to
    * abort (e.g. a detected epoch replay) or the spec of the new state.
    * Returns the committed generation (branch-local for a branch), or
    * None on abort.
    *
    * 100 TB shape: an append is O(touched day shards) driver work — refs
    * header read, per-day shard files for the fresh blocks, two renames
    * and one claim read-back — never O(all blocks); generation snapshots
    * share shard files, so time travel stays O(metadata touched), the
    * Iceberg manifest-list property. */
  def commitManifest(dir: String, head: CommitHead = CommitHead.Main,
      maxAttempts: Int = 12, claimPatienceMs: Long = 60000L)(
      update: Option[ManifestInfo] => Option[CommitSpec]): Option[Long] = {
    val conf = driverConf()
    val (filesystem, root) = fs(dir, conf)
    val mdir = new Path(root, ManifestDirName)
    filesystem.mkdirs(mdir)
    val lock = commitLocks.computeIfAbsent(
      filesystem.makeQualified(root).toString, _ => new Object)
    val mainHead = new Path(root, ManifestName)
    def headGen(): Long = head match {
      case CommitHead.Main =>
        if (filesystem.exists(mainHead)) readManifestHeader(dir).gen else 0L
      case CommitHead.Branch(name) => TradeLogRefs.readRef(dir, name).gen
    }
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val attemptShards = scala.collection.mutable.ArrayBuffer.empty[String]
      def newShard(blocks: Seq[BlockMeta]): ShardRef = {
        val name = "shard-" + java.util.UUID.randomUUID().toString
          .replace("-", "").take(16) + ".csv"
        publishAtomic(filesystem, conf, mdir, new Path(mdir, name),
          blocks.map(_.csv).mkString("\n").getBytes(StandardCharsets.UTF_8),
          overwrite = true)
        attemptShards += name
        ShardRef.of(name, blocks)
      }
      def dropAttemptShards(): Unit =
        attemptShards.foreach(f => filesystem.delete(new Path(mdir, f), false))
      // the head state, its generation, and how to point the head at a
      // won generation's manifest body
      val (prev0, headAt, publish) = head match {
        case CommitHead.Main =>
          val p =
            if (filesystem.exists(mainHead)) Some(readManifestRefs(dir))
            else None
          (p, p.map(_.gen).getOrElse(0L), (body: Array[Byte], _: Long) => {
            publishAtomic(filesystem, conf, root, mainHead, body,
              overwrite = true)
            ()
          })
        case CommitHead.Branch(name) =>
          val ref = TradeLogRefs.readRef(dir, name)
          require(ref.isBranch,
            s"graft-tradelog $dir: ref '$name' is a tag — tags are immutable")
          (Some(readManifestFile(dir, ref.headManifestName, refsOnly = true)),
            ref.gen,
            (_: Array[Byte], g: Long) => {
              TradeLogRefs.writeRef(dir, ref.copy(gen = g), overwrite = true)
              ()
            })
      }
      // one-time legacy migration: a flat manifest's inline blocks become
      // day shards (positional seq preserves append order), so this and
      // every later commit is O(touched shards)
      val prev = prev0.map { p =>
        if (p.shards.isEmpty && p.blocks.nonEmpty) {
          val seqd = normalizeSeq(p.blocks)
          p.copy(shards = groupByDay(seqd).map(newShard),
            maxSeq = seqd.map(_.seq).max)
        } else p
      }
      update(prev) match {
        case None =>
          dropAttemptShards()
          return None
        case Some(spec) =>
          val gen = headAt + 1
          val baseSeq =
            if (spec.resetSeq) 0L
            else prev.map(p => math.max(p.maxSeq,
              p.shards.foldLeft(-1L)((a, r) => math.max(a, r.maxSeq))) + 1L)
              .getOrElse(0L)
          val freshSeqd = spec.fresh.zipWithIndex.map { case (b, i) =>
            b.copy(seq = baseSeq + i) }
          val newRefs =
            (spec.rewrite.filter(_.nonEmpty) ++ groupByDay(freshSeqd))
              .map(newShard)
          val refs = spec.reuse ++ newRefs
          val maxSeq = math.max(baseSeq + freshSeqd.size - 1,
            refs.foldLeft(-1L)((a, r) => math.max(a, r.maxSeq)))
          val header = ManifestHeader + s" gen=$gen" +
            spec.epoch.map(e => s" epoch=$e").getOrElse("") +
            spec.qid.map(q => s" qid=$q").getOrElse("") +
            (if (spec.epochCommit) " ecommit=1" else "") +
            xcolsToken(spec.xcols) +
            s" maxSeq=$maxSeq" +
            // delete-mode property: explicit override, else inherited from
            // the head — every commit path carries it without knowing it
            spec.delMode.orElse(prev.flatMap(_.delMode))
              .map(m => s" delmode=$m").getOrElse("")
          val body = (header +: refs.map(_.line)).mkString("\n")
            .getBytes(StandardCharsets.UTF_8)
          val claim = new Path(mdir, head.snapshotName(gen))
          val won = lock.synchronized {
            publishAtomic(filesystem, conf, mdir, claim, body,
              overwrite = false) &&
              claimHoldsBody(filesystem, claim, body) && {
                publish(body, gen)
                true
              }
          }
          if (won) return Some(gen)
          // lost the generation race: drop this attempt's shards, wait for
          // the winner's head (or reclaim a dead claim), then recompute
          dropAttemptShards()
          awaitHeadOrTakeover(filesystem, claim, gen, claimPatienceMs, headGen)
      }
    }
    throw new IllegalStateException(
      s"graft-tradelog commit to $dir ($head) lost $maxAttempts generation " +
        "races — either contention is pathological or an abandoned claim " +
        "is blocking (compare _manifests/gen-*.manifest to the head gen)")
  }

  /** Full-replace commit under the optimistic protocol (compat surface —
    * specs and re-stamp paths): the given blocks become the log's entire
    * content at the next generation, re-sequenced in the given order.
    * The streaming sink stamps (epoch, queryId) so a replayed epoch
    * commit is detected and dropped; `epochCommit` marks the generation
    * as the sink's OWN epoch publication (what asOfEpoch resolution keys
    * on) — carry-forward rewrites leave it false. */
  def writeManifest(dir: String, blocks: Seq[BlockMeta],
      epoch: Option[Long] = None, qid: Option[String] = None,
      xcols: Seq[StructField] = Seq.empty,
      epochCommit: Boolean = false): Unit = {
    commitManifest(dir) { _ =>
      Some(CommitSpec(fresh = blocks, epoch = epoch, qid = qid,
        xcols = xcols, epochCommit = epochCommit))
    }
    ()
  }

  /** SCHEMA EVOLUTION through the metadata door — `ALTER TABLE … ADD
    * COLUMNS` (the catalog routes here): append the fields to the
    * committed extra-column list in ONE header-only commit. No block is
    * touched — existing blocks keep their own nCols and null-fill the new
    * ordinals on read, exactly like a widening write's evolution, so the
    * two doors (widening append on the path door, ALTER+INSERT on the
    * catalog door) commit the same ledger. Validation mirrors
    * [[requireWriteSchema]]: supported types, header-safe names, no
    * duplicates against the widened schema, reserved names refused. */
  def addColumns(dir: String, fields: Seq[StructField]): Unit = {
    require(fields.nonEmpty, "ALTER TABLE ADD COLUMNS needs columns")
    commitManifest(dir) { prevOpt =>
      val prev = prevOpt.getOrElse(throw new IllegalArgumentException(
        s"graft-tradelog $dir has no committed manifest to evolve"))
      val widened = prev.xcols ++ fields
      xcolsToken(widened) // validates names + types
      val names = (schema.fields ++ widened).map(_.name.toLowerCase)
      require(names.distinct.length == names.length,
        s"graft-tradelog ADD COLUMNS duplicates existing columns: " +
          s"${names.diff(names.distinct).distinct.mkString(", ")}")
      Seq("_file", "_boff", "_brow", "_change_type").foreach(m =>
        require(!names.contains(m),
          s"graft-tradelog reserves the column name `$m` (metadata column)"))
      Some(CommitSpec(reuse = prev.shards, epoch = prev.epoch,
        qid = prev.qid, xcols = widened))
    }
    ()
  }

  /** Set the table's DELETE routing property (the Iceberg
    * `write.delete.mode` idea): "cow" (default — group-based
    * copy-on-write) or "mor" (merge-on-read delete vectors, applied at
    * scan time). One metadata-only commit; every later commit carries the
    * property forward automatically. The metadata-only ts-range tier
    * outranks both (dropping whole blocks beats either rewrite). */
  def setDeleteMode(dir: String, mode: String): Unit = {
    require(mode == "cow" || mode == "mor",
      s"graft-tradelog delete mode must be cow or mor, got $mode")
    commitManifest(dir) { prevOpt =>
      val prev = prevOpt.getOrElse(throw new IllegalArgumentException(
        s"graft-tradelog $dir has no committed manifest to configure"))
      Some(CommitSpec(reuse = prev.shards, epoch = prev.epoch,
        qid = prev.qid, xcols = prev.xcols, delMode = Some(mode)))
    }
    ()
  }

  /** RETENTION purge + vacuum — the metadata-only DELETE of every block
    * whose entire ts span predates `cutoffUs`, then GC of data files no
    * surviving block references. Blocks STRADDLING the cutoff (and
    * blocks with an unknown span — all-null ts stores maxTsUs =
    * Long.MaxValue) survive conservatively; a reader enforcing the
    * retention boundary applies the ts predicate, which the same span
    * metadata turns into block skips. Policy for null-ts rows inside a
    * TIMED block: the span covers non-null ts only, so they expire with
    * their block — the retention predicate excludes them regardless, and
    * the ts-sorted writer layout clusters nulls into their own leading
    * blocks (unknown span ⇒ kept) when they must be retained.
    * The manifest rewrite is the usual
    * atomic publish-then-GC (a crash after publish leaves harmless
    * orphans, never dangling references) and CARRIES the streaming
    * (epoch, qid) stamp forward. Returns (#blocks dropped, #files
    * deleted). 100 TB shape: retention is O(manifest) driver work plus
    * unlinks — no data is read or rewritten, the delete every
    * time-partitioned archive actually runs.
    *
    * Concurrent readers: a scan plans its block list against the
    * manifest it read at PLAN time, so a reader in flight across the
    * publish can still reference just-expired files. `vacuumGraceMs`
    * bounds that window the lakehouse way (publish, then delayed GC):
    * the delist journal records WHEN each file became unreferenced, and
    * [[vacuum]] unlinks a victim only once it has been delisted for the
    * grace — measured from the PURGE, not from the file's write time
    * (retention victims are by definition old files, so an mtime-based
    * grace would never engage; r15 review finding). The default 0 keeps
    * the single-writer / no-concurrent-reader bench shape (immediate
    * unlink).
    *
    * Returns (#blocks dropped by THIS purge, #files GC'd by the
    * piggybacked [[vacuum]] pass). The second element is vacuum's total
    * for this call — it can include victims of EARLIER purges whose grace
    * just expired and previously adopted orphans past their age floor, so
    * it may exceed (or undershoot, under a grace) this purge's own delist
    * set (r16 advice: the two counters measure different things by
    * design). */
  def purgeBefore(dir: String, cutoffUs: Long,
      vacuumGraceMs: Long = 0L): (Int, Int) =
    // fully-retained shards carry forward UNRESOLVED (the O(touched
    // shards) property); fully-expired shards resolve only for file
    // accounting, straddlers rewrite their surviving blocks
    dropCommit(dir, "purge", vacuumGraceMs) { prev =>
      Some(triageShards(dir, prev, _.minTsUs < cutoffUs)(_.maxTsUs < cutoffUs))
    }

  /** One commit's plan over the head's shards: refs carried forward
    * unresolved (`reuse`), the kept blocks of each touched shard to
    * re-emit (`rewrite`), the blocks leaving the table (`dropped`), and
    * every resolved kept block (`kept`). */
  final case class ShardTriage(reuse: Seq[ShardRef],
      rewrite: Seq[Seq[BlockMeta]], dropped: Seq[BlockMeta],
      kept: Seq[BlockMeta]) {
    /** Delist-journal candidates: files with a dropped block and no
      * resolved kept block. A file also referenced by an unresolved
      * reused shard is protected by vacuum's own still-referenced check
      * at GC time — the journal is a hint, the manifest is the authority. */
    def delisted: Seq[String] = {
      val keptFiles = kept.map(_.file).toSet
      dropped.map(_.file).distinct.filterNot(keptFiles)
    }
  }
  object ShardTriage {
    val Empty: ShardTriage = ShardTriage(Nil, Nil, Nil, Nil)
  }

  /** The shard walk of every replace-shaped commit (purge, exact ts
    * DELETE, copy-on-write replace, DV compaction, OPTIMIZE): a shard
    * `touches` rejects carries forward unresolved; a touched shard
    * resolves and splits into the blocks `drops` selects and the blocks
    * it keeps. A touched shard that drops nothing carries forward as is;
    * otherwise its kept blocks re-emit as one shard. A legacy flat head
    * (inline blocks, no shards) walks as one always-touched pseudo-shard,
    * so its kept blocks re-emit sharded. */
  private[source] def triageShards(dir: String, prev: ManifestInfo,
      touches: ShardRef => Boolean)(
      drops: BlockMeta => Boolean): ShardTriage = {
    val reuse = scala.collection.mutable.ArrayBuffer.empty[ShardRef]
    val rewrite = scala.collection.mutable.ArrayBuffer.empty[Seq[BlockMeta]]
    val dropped = scala.collection.mutable.ArrayBuffer.empty[BlockMeta]
    val kept = scala.collection.mutable.ArrayBuffer.empty[BlockMeta]
    def split(ref: Option[ShardRef], bs: Seq[BlockMeta]): Unit = {
      val (drop, keep) = bs.partition(drops)
      dropped ++= drop
      kept ++= keep
      if (drop.isEmpty && ref.isDefined) reuse ++= ref
      else if (keep.nonEmpty) rewrite += keep
    }
    if (prev.shards.isEmpty && prev.blocks.nonEmpty)
      split(None, normalizeSeq(prev.blocks))
    prev.shards.foreach(r =>
      if (touches(r)) split(Some(r), readShardBlocks(dir, r)) else reuse += r)
    ShardTriage(reuse.toSeq, rewrite.toSeq, dropped.toSeq, kept.toSeq)
  }

  /** The metadata-only drop commit shared by [[purgeBefore]] and
    * [[deleteWhereTs]]: `triage` plans the head (re-run inside every
    * optimistic retry; None = no-op, nothing committed), the commit
    * carries the streaming (epoch, qid) stamp and the schema forward,
    * then the delisted files journal and the piggybacked [[vacuum]] runs
    * under `graceMs`. Returns (#blocks dropped, #files GC'd). */
  private def dropCommit(dir: String, verb: String, graceMs: Long)(
      triage: ManifestInfo => Option[ShardTriage]): (Int, Int) = {
    val outcome = new java.util.concurrent.atomic.AtomicReference(
      ShardTriage.Empty)
    commitManifest(dir) { prevOpt =>
      // reset per attempt: a retry that aborts (a concurrent commit
      // already removed the blocks) must not journal or report the
      // PREVIOUS attempt's drop set
      outcome.set(ShardTriage.Empty)
      val prev = prevOpt.getOrElse(throw new IllegalArgumentException(
        s"graft-tradelog $dir has no committed manifest to $verb"))
      triage(prev).map { t =>
        outcome.set(t)
        CommitSpec(reuse = t.reuse, rewrite = t.rewrite,
          epoch = prev.epoch, qid = prev.qid, xcols = prev.xcols)
      }
    }
    val t = outcome.get()
    journalDelisted(dir, t.delisted, System.currentTimeMillis())
    (t.dropped.size, vacuum(dir, graceMs))
  }

  // ---- exact metadata-only DELETE (SQL row-level fast path) ------------

  /** Triage one committed state for an EXACT ts-range delete
    * (`DELETE FROM … WHERE ts` bounds → drop rows with lo ≤ ts ≤ hi;
    * `all` = an unconditioned delete, which also matches null-ts rows).
    * Unlike [[purgeBefore]] — a retention POLICY that expires null-ts
    * rows with their block — this is the SQL DELETE contract: a block may
    * be dropped metadata-only ONLY when EVERY one of its rows provably
    * matches (span inside the range and `nTsNull == 0`; legacy blocks
    * with unknown null counts never qualify). Returns the commit plan,
    * or None when any block STRADDLES the range — the caller then falls
    * back to the row-level copy-on-write rewrite, which Spark plans
    * automatically when `canDeleteWhere` says no. */
  private[source] def tsDeleteTriage(dir: String, prev: ManifestInfo,
      loUs: Long, hiUs: Long, all: Boolean): Option[ShardTriage] = {
    // an EMPTY range (lo > hi — contradictory bounds, or a strict
    // comparison against the Long µs extreme) matches no row: exact
    // no-op, every shard carries forward
    if (!all && loUs > hiUs)
      return Some(ShardTriage.Empty.copy(reuse = prev.shards))
    val t = triageShards(dir, prev, r => all || r.intersectsTs(loUs, hiUs)) {
      b => all || (loUs <= b.minTsUs && b.maxTsUs <= hiUs && b.nTsNull == 0)
    }
    // a kept block whose known span meets the range straddles it
    val straddles = t.kept.exists(b => b.minTsUs != Long.MinValue &&
      b.maxTsUs >= loUs && b.minTsUs <= hiUs)
    if (straddles) None else Some(t)
  }

  /** Execute an exact metadata-only ts-range DELETE under the optimistic
    * commit protocol (the triage re-runs inside every retry, so a
    * concurrent append can never slip matching blocks past the delete).
    * Throws when a straddling block appears — [[tsDeleteTriage]] is the
    * caller's feasibility gate and re-validation is the protocol's job.
    * Fully-dereferenced data files enter the delist journal and the
    * piggybacked [[vacuum]] pass, exactly like a retention purge — under
    * the DML retention grace (not a bare 0), so a pinned pre-DELETE read
    * stays resolvable for the configured window.
    * Returns (#blocks dropped, #files GC'd). */
  def deleteWhereTs(dir: String, loUs: Long, hiUs: Long,
      all: Boolean): (Int, Int) =
    dropCommit(dir, "delete from", dmlVacuumGraceMs()) { prev =>
      tsDeleteTriage(dir, prev, loUs, hiUs, all) match {
        case None => throw new IllegalStateException(
          s"graft-tradelog $dir: a concurrent commit introduced blocks " +
            "straddling the delete range — re-run the DELETE (it will " +
            "take the copy-on-write path)")
        case Some(t) => Some(t).filter(_.dropped.nonEmpty) // empty: no-op
      }
    }

  /** Append freshly-dereferenced data files to the delist journal (the
    * shared epilogue of purge / metadata delete / row-level replace). */
  private[source] def journalDelisted(dir: String, files: Seq[String],
      now: Long): Unit =
    if (files.nonEmpty)
      writeTrash(dir, readTrash(dir) ++
        files.map(f => TrashEntry(f, now, adopted = false)))

  /** Delist journal: `(file, delistMillis, adopted)` rows for every data
    * file a manifest rewrite stopped referencing, published with the same
    * tmp+atomic-rename as the manifest. The journal — not file mtime —
    * is vacuum's GC authority: it both carries the correct grace origin
    * (delist time) and keeps vacuum's hands off files it has never been
    * told about, which is what protects an in-flight WRITER's
    * pre-manifest-commit part files from being swept as garbage (r15
    * review finding — the old "unlink anything unreferenced" rule could
    * brick a log by deleting data its writer was about to commit).
    * Adopted orphans (files vacuum found unreferenced but was never told
    * about) carry a trailing `,o` marker so their deletion eligibility
    * can honor [[OrphanMinAgeMs]] independently of the caller's grace.
    *
    * SINGLE MAINTENANCE WRITER assumption (the same contract as the
    * manifest's epoch read-modify-write): journal updates are
    * read-modify-write + atomic replace, so two CONCURRENT purge/vacuum
    * callers are last-writer-wins — a lost entry is re-adopted as an
    * orphan on the next vacuum pass (self-healing, delayed one adoption
    * cycle), but maintenance ops should be serialized by the caller. */
  private val TrashName = "_trash.graftlog"

  /** One journal row: the delisted file, when it was delisted, and
    * whether it entered via orphan ADOPTION rather than an explicit
    * manifest-rewrite delist. */
  final case class TrashEntry(file: String, delistMs: Long, adopted: Boolean) {
    def line: String = s"$file,$delistMs${if (adopted) ",o" else ""}"
  }

  private[source] def readTrash(dir: String): Seq[TrashEntry] = {
    val (filesystem, root) = fs(dir)
    val p = new Path(root, TrashName)
    if (!filesystem.exists(p)) return Seq.empty
    val in = filesystem.open(p)
    try {
      scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.trim).filter(_.nonEmpty).map { l0 =>
          val adopted = l0.endsWith(",o")
          val l = if (adopted) l0.dropRight(2) else l0
          val i = l.lastIndexOf(',')
          TrashEntry(l.substring(0, i), l.substring(i + 1).toLong, adopted)
        }.toSeq
    } finally in.close()
  }

  private def writeTrash(dir: String, entries: Seq[TrashEntry]): Unit = {
    val conf = driverConf()
    val (filesystem, root) = fs(dir, conf)
    val p = new Path(root, TrashName)
    if (entries.isEmpty) filesystem.delete(p, false)
    else publishAtomic(filesystem, conf, root, p, entries.map(_.line)
      .mkString("\n").getBytes(StandardCharsets.UTF_8), overwrite = true)
    ()
  }

  /** Default minimum age an ADOPTED orphan must reach before vacuum may
    * unlink it, independent of the caller's grace: with the bench-shaped
    * default grace of 0, two back-to-back vacuum calls would otherwise
    * adopt-then-delete an in-flight writer's uncommitted part file in
    * milliseconds — exactly the hazard the journal exists to remove (r16
    * advice). 5 minutes comfortably exceeds any sane manifest-commit
    * latency; callers that KNOW no writer is in flight (tests, the
    * strict single-writer bench) pass `orphanMinAgeMs = 0` explicitly. */
  val OrphanMinAgeMs: Long = 5L * 60 * 1000

  /** Deferred GC driven by the delist journal: unlink every journaled
    * file whose delist timestamp is at least `graceMs` old and that the
    * CURRENT manifest still does not reference (a re-committed file's
    * entry is dropped without an unlink). Unreferenced `*.gtl` files the
    * journal does NOT know (crash-orphaned writer part files, or victims
    * of a pre-journal purge) are ADOPTED into the journal now and become
    * deletable only by a LATER vacuum call once their adoption ages past
    * `max(graceMs, orphanMinAgeMs)` — so an in-flight writer always has
    * at least one full vacuum cycle PLUS the orphan age floor to commit
    * its manifest before its files are at risk, even under the default
    * grace of 0 (r16 advice). Returns the number of files ACTUALLY
    * deleted: a victim the filesystem refuses to delete stays journaled
    * for the next pass and is not counted; an entry whose file is already
    * gone is dropped silently. Journal updates are read-modify-write —
    * see the single-maintenance-writer note on the journal above. */
  def vacuum(dir: String, graceMs: Long = 0L,
      orphanMinAgeMs: Long = OrphanMinAgeMs): Int = {
    val (blocks, _, _) = readManifestMeta(dir)
    // reachable = the head PLUS every named ref's snapshot (a staged
    // branch's data files and a tagged generation's files are referenced
    // content, not grace-bounded garbage — the Iceberg ref-retention rule)
    val ref = blocks.map(_.file).toSet ++ TradeLogRefs.referencedFiles(dir)
    val (filesystem, root) = fs(dir)
    val now = System.currentTimeMillis()
    val journal = readTrash(dir)
    val (due, pending) = journal.partition { e =>
      val floor = if (e.adopted) math.max(graceMs, orphanMinAgeMs) else graceMs
      e.delistMs <= now - floor
    }
    var deleted = 0
    // count only files this call really unlinked; a refused delete keeps
    // its journal entry alive for the next pass (r16 advice — the old
    // code counted attempts and dropped failures from the journal)
    val failed = due.filter { e =>
      if (ref(e.file)) false // re-committed: drop the entry, no unlink
      else {
        val q = new Path(root, e.file)
        if (!filesystem.exists(q)) false // already gone: drop silently
        else if (filesystem.delete(q, false)) { deleted += 1; false }
        else true // delete refused: retry on a later pass
      }
    }
    val known = journal.map(_.file).toSet
    val orphans = filesystem.listStatus(root).toSeq.collect {
      case st if st.isFile && st.getPath.getName.endsWith(".gtl") &&
        !ref(st.getPath.getName) && !known(st.getPath.getName) =>
        TrashEntry(st.getPath.getName, now, adopted = true)
    }
    writeTrash(dir, pending.filterNot(e => ref(e.file)) ++ failed ++ orphans)
    deleted
  }
}

/** The driver's Hadoop conf as executor-side tradelog readers and writers
  * see it, so `spark.hadoop.*` settings apply on every task (a fresh
  * `new Configuration()` on an executor would see only classpath XML).
  * [[HadoopConfBox.active]] captures the conf when a factory is created
  * and ships it as a broadcast: the box serializes to a broadcast handle
  * of a few hundred bytes, so a task binary that carries a factory does
  * not carry the conf. Each executor fetches it once per distinct conf;
  * in local mode tasks get the driver's broadcast copy itself and
  * deserialize no conf at all. That copy is shared by every task in a
  * JVM, so executor code treats [[conf]] as read-only: readers and
  * writers only resolve a `FileSystem` from it. A box made with no
  * active session (executor side, or a driver without one) carries no
  * broadcast, and [[conf]] is the plain local conf, as
  * [[TradeLogFormat.driverConf]] gives it there. */
final class HadoopConfBox private (
    private[source] val shipped: Option[Broadcast[SerializableConfiguration]])
    extends java.io.Serializable {
  @transient private lazy val plain = new Configuration()
  def conf: Configuration = shipped.fold(plain)(_.value.value)
}

object HadoopConfBox {
  /** The last broadcast: its context, held weakly so a stopped one is
    * never pinned, the entries of the copy it carries, and its box. */
  private final class Slot(val sc: WeakReference[SparkContext],
      val entries: Map[String, String], val box: HadoopConfBox)
  private var slot: Option[Slot] = None

  private def entries(c: Configuration): Map[String, String] =
    c.iterator().asScala.map(e => e.getKey -> e.getValue).toMap

  /** Capture the driver's conf (call at plan/factory-creation time): a
    * copy of the active session's `hadoopConfiguration`, broadcast. The
    * broadcast is reused across scans, writes and micro-batches while
    * the live conf's entries equal the copy's; a changed entry, or
    * another or a stopped context, broadcasts a new copy. A replaced
    * broadcast is left to the ContextCleaner, since a running query may
    * still read it. */
  def active(): HadoopConfBox =
    SparkSession.getActiveSession.map(_.sparkContext).filterNot(_.isStopped)
      .fold(new HadoopConfBox(None))(broadcast)

  private def broadcast(sc: SparkContext): HadoopConfBox = synchronized {
    val live = entries(sc.hadoopConfiguration)
    slot.filter(s => (s.sc.get eq sc) && s.entries == live).fold {
      val copy = new Configuration(sc.hadoopConfiguration)
      val box = new HadoopConfBox(
        Some(sc.broadcast(new SerializableConfiguration(copy))))
      slot = Some(new Slot(new WeakReference(sc), entries(copy), box))
      box
    }(_.box)
  }
}

package graft.source

import org.apache.spark.sql.SparkSession

/** Maintenance verbs of the tradelog's lakehouse surface that are not
  * themselves reads or row-level commands:
  *
  *   - [[compactDeletes]] — fold accumulated merge-on-read delete
  *     vectors into rewritten blocks (Iceberg's rewrite_position_deletes
  *     + rewrite_data_files pair, Delta's PURGE).
  *   - [[optimize]] — re-cluster the whole live content as one
  *     history-preserving commit (Iceberg rewrite_data_files, Delta
  *     OPTIMIZE [ZORDER]); DVs fold, time travel spans the rewrite.
  *   - [[restoreTo]] — roll the table back to a committed generation as
  *     a NEW commit (Iceberg rollback / Delta RESTORE): history is
  *     preserved, the restored state gets its own generation, and
  *     nothing is rewritten — the commit re-references the target
  *     generation's immutable shard files.
  *
  * Both run under the optimistic commit protocol, so they compose with
  * concurrent appends exactly like every other commit. */
object TradeLogMaintenance {

  private val FormatName = "graft-tradelog"

  /** Rewrite every block carrying a delete vector into fresh full blocks
    * (masked rows gone physically), dropping the vectors — the read is
    * the `onlyDeleted` maintenance scan (only DV-carrying shards resolve,
    * only DV-carrying blocks plan), the write is one distributed pass
    * through the normal writers, and the commit's row-count equation
    * fails loudly if a concurrent delete moves the target (see
    * [[TradeLogCompactDeletesWrite]]). Returns the number of blocks that
    * carried deletes before the fold (0 = nothing to do, no commit).
    *
    * 100 TB shape: cost is O(rows in DV-carrying blocks) — the blocks a
    * deletion actually touched — never a whole-log rewrite; at scale it
    * runs per day-partition on a schedule, the Iceberg maintenance
    * cadence. */
  def compactDeletes(s: SparkSession, dir: String,
      blockRows: Int = TradeLogFormat.DefaultBlockRows): Int = {
    val refs = TradeLogFormat.readManifestRefs(dir)
    if (refs.totalDeletes == 0L) return 0
    // capture the DV state this compaction intends to fold — ONE resolve
    // of the DV-carrying shards (the touched set). The fingerprint is the
    // commit's exact-identity conflict token: any concurrent delete —
    // masking more rows in a block we read, or a block we didn't —
    // changes it and fails the commit loudly (a row-count equation alone
    // can be defeated by two OFFSETTING deletes; r18 review finding).
    val dvBlocks = refs.shards.filter(_.nDel > 0L)
      .flatMap(TradeLogFormat.readShardBlocks(dir, _))
      .filter(_.nDel > 0)
    s.read.format(FormatName).option("onlyDeleted", "true").load(dir)
      .write.format(FormatName).mode("append")
      .option("compactDeletes", "true")
      .option("expectDvFingerprint", TradeLogFormat.dvFingerprint(dvBlocks))
      .option("blockRows", blockRows)
      .save(dir)
    dvBlocks.size
  }

  /** OPTIMIZE — rewrite the table's ENTIRE live content into fresh
    * clustered blocks as ONE history-preserving commit (Iceberg
    * rewrite_data_files / Delta OPTIMIZE [ZORDER], r18 verdict #4): the
    * read is the normal head scan (delete vectors mask at read time, so
    * accumulated DVs FOLD into the rewrite — OPTIMIZE over a MoR log
    * compacts and clusters in one pass, r18 verdict #5), `cluster`
    * arranges the layout (z-order keys, range partitioning, sorts), and
    * the commit replaces every block under the optimistic protocol with
    * generation-exact conflict validation (see [[TradeLogOptimizeWrite]]).
    * Time travel to pre-optimize generations keeps resolving within the
    * DML retention grace; post-optimize appends continue the sequence;
    * streams/changes-since skip the restatement via replace provenance.
    * Returns the new head generation.
    *
    * 100 TB shape: a whole-log rewrite is the SMALL-table verb (serving
    * indexes, dimension logs); a production archive runs it per
    * day-partition on a maintenance cadence, exactly like compaction. */
  def optimize(s: SparkSession, dir: String,
      blockRows: Int = TradeLogFormat.DefaultBlockRows)(
      cluster: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : Long = {
    val readGen = TradeLogFormat.readManifestHeader(dir).gen
    cluster(s.read.format(FormatName).load(dir))
      .write.format(FormatName).mode("append")
      .option("optimizeFull", "true")
      .option("expectGeneration", readGen)
      .option("blockRows", blockRows)
      .save(dir)
    TradeLogFormat.readManifestHeader(dir).gen
  }

  /** SCOPED OPTIMIZE — the per-partition maintenance shape a 100 TB
    * archive actually schedules (Iceberg rewrite_data_files with a
    * partition filter, Delta `OPTIMIZE WHERE`): rewrite ONLY the blocks
    * whose known ts span sits fully inside [loUs, hiUs], leaving every
    * other shard carried by reference. Read and commit share the exact
    * containment rule (the `optimizeScope` read option plans precisely
    * the blocks the commit replaces — a ts PREDICATE would residual-drop
    * straddlers' out-of-range rows while the commit dropped their
    * blocks). Straddling and unknown-span blocks stay in place,
    * untouched. DVs inside the scope fold; outside they survive for a
    * later pass. Conflict validation stays generation-exact — coarser
    * than a per-scope token, conservatively correct (any interleaved
    * commit re-runs the scoped pass). Returns the new head generation. */
  def optimizeRange(s: SparkSession, dir: String, loUs: Long, hiUs: Long,
      blockRows: Int = TradeLogFormat.DefaultBlockRows)(
      cluster: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : Long = {
    require(loUs <= hiUs, s"optimizeRange needs loUs <= hiUs: $loUs > $hiUs")
    val readGen = TradeLogFormat.readManifestHeader(dir).gen
    val scoped = s.read.format(FormatName)
      .option("optimizeScope", s"$loUs:$hiUs").load(dir)
    cluster(scoped)
      .write.format(FormatName).mode("append")
      .option("optimizeFull", "true")
      .option("optimizeScope", s"$loUs:$hiUs")
      .option("expectGeneration", readGen)
      .option("blockRows", blockRows)
      .save(dir)
    TradeLogFormat.readManifestHeader(dir).gen
  }

  /** RESTORE the table to generation `gen` as a new commit whose block
    * set equals that generation's — the Iceberg rollback contract:
    * time travel to every generation (including the ones being rolled
    * past) keeps working, post-restore appends continue the sequence,
    * and a changes-since read across the restore shows the restatement
    * (re-appearing blocks) rather than pretending history rewrote.
    * The restored generation's SCHEMA comes back with it (a pre-widening
    * restore narrows the table — later wide blocks are no longer
    * referenced, so no byte is misread). The streaming (epoch, qid)
    * replay stamp carries FORWARD from the head — it guards sink-epoch
    * replay, which the restore does not re-open.
    *
    * Fails if the target generation's snapshot was expired
    * ([[TradeLogFormat.expireSnapshots]]) or any of its data files was
    * vacuumed past the retention grace — the restore horizon IS the
    * retention horizon. Returns the new head generation. */
  def restoreTo(dir: String, gen: Long): Long = {
    // bound by the committed head BEFORE touching the snapshot: a gen-N
    // file above head is an in-flight or abandoned commit CLAIM — reading
    // it here would restore a never-committed state (the same rule every
    // "latest" resolution follows). Re-validated inside the commit.
    val headGen = TradeLogFormat.readManifestHeader(dir).gen
    require(gen <= headGen,
      s"graft-tradelog $dir: generation $gen is not committed " +
        s"(head is $headGen) — cannot restore to an in-flight claim")
    val snap = TradeLogFormat.readManifestInfoAt(dir, gen, refsOnly = true)
    // availability pre-check (best effort — the commit itself is what
    // serializes against concurrent writers): every data file the target
    // generation references must still exist
    val snapBlocks = TradeLogFormat.resolveBlocks(dir, snap)
    val (fs, root) = TradeLogFormat.fs(dir)
    snapBlocks.map(_.file).distinct.foreach { f =>
      require(fs.exists(new org.apache.hadoop.fs.Path(root, f)),
        s"graft-tradelog $dir: data file $f of generation $gen was " +
          "vacuumed — the restore horizon is the retention grace " +
          "(graft.tradelog.dml.vacuum.grace.ms / purge vacuumGraceMs)")
    }
    val committed = TradeLogFormat.commitManifest(dir) { prevOpt =>
      val prev = prevOpt.getOrElse(throw new IllegalArgumentException(
        s"graft-tradelog $dir has no committed manifest to restore"))
      require(gen <= prev.gen,
        s"graft-tradelog $dir: generation $gen is not committed " +
          s"(head is ${prev.gen}) — cannot restore to an in-flight claim")
      Some(TradeLogFormat.adoptSpec(snap, prev))
    }
    committed.getOrElse(throw new IllegalStateException(
      s"graft-tradelog $dir: restore commit aborted unexpectedly"))
  }
}

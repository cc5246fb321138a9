package graft.core

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** The build-once rule, for every artifact derived from the testdata (merge
  * tables, persisted indexes, label stores, the candle tier) and every
  * staged streaming layout ([[Tables.stageOnce]]):
  *
  *   - NAME: the artifact path carries its source's [[fingerprint]] (plus a
  *     code-version tag the caller bumps when the build's semantics or shape
  *     change), so a regenerated corpus or a new layout is a fresh path by
  *     construction and a published artifact is never stale;
  *   - PUBLISH: [[publishOnce]] builds the whole artifact under a hidden
  *     sibling staging dir and renames it into place — the TradeLog manifest
  *     commit pattern lifted to directories. Readers (a streaming file
  *     source replaying a micro-batch included) never observe a partial or
  *     changing artifact; when two cold-path sessions race, `Rename.NONE`
  *     lets exactly one publish and the loser reads the winner's. A
  *     `_SUCCESS`-guarded in-place overwrite would instead let one racer
  *     read the other's half-replaced files. */
object Artifacts {

  private def marked(fs: FileSystem, p: Path): Boolean =
    fs.exists(new Path(p, "_SUCCESS"))

  /** `<dir>_<len>_<mtime>[_<len>_<mtime>…]`: the dataset dir, made
    * path-safe, then each source table's parquet (length, mtime). */
  def fingerprint(s: SparkSession, dir: String, tables: String*): String = {
    val conf = s.sparkContext.hadoopConfiguration
    (dir.replaceAll("[^A-Za-z0-9.]", "_") +: tables.map { t =>
      val src = new Path(s"$dir/$t.parquet")
      val st = src.getFileSystem(conf).getFileStatus(src)
      s"${st.getLen}_${st.getModificationTime}"
    }).mkString("_")
  }

  /** Build `path` if it is not already published (marked by `_SUCCESS`).
    * `build` receives a staging path and must leave a COMPLETE artifact
    * there; the `_SUCCESS` marker is written for it when the build leaves
    * none (a hive-partitioned write, a multi-directory artifact, a layout
    * of renamed files).
    *
    * Crash leftovers vs concurrent winners: an unmarked directory at
    * `path` is normally a pre-atomic-writer crash leftover (staged builds
    * appear only via the rename) — BUT between observing it and acting on
    * it, a concurrent racer's rename can land a complete artifact, so a
    * blind in-place delete could destroy a published artifact the racer is
    * already reading (r15/r16 review findings). The loop below therefore
    * never deletes in place: it RENAMES the unmarked directory aside to a
    * hidden tombstone (one atomic step — nothing new can land inside it
    * afterwards), re-checks the marker on the quiesced tombstone, and
    * restores a marked artifact untouched; only a tombstone that is
    * verifiably unmarked AFTER the move is deleted. A published artifact
    * is thus never destroyed. Residual for in-flight READERS of a racer's
    * artifact that loses the gap race: path-based re-opens during the
    * move→restore window can transiently fail (open handles are
    * unaffected on posix filesystems), after which the identical artifact
    * is back at the same path — a transient read retry, never a
    * half-read or lost artifact. Returns `path`. */
  def publishOnce(s: SparkSession, path: String)(build: String => Unit): String = {
    val conf = s.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    def renameNoReplace(src: Path, dst: Path): Boolean =
      try {
        FileContext.getFileContext(fs.makeQualified(dst).toUri, conf)
          .rename(fs.makeQualified(src), fs.makeQualified(dst),
            Options.Rename.NONE)
        true
      } catch {
        // src vanished, dst taken, or parent contention: fall through to
        // the loop's re-check — never force anything here
        case _: java.io.IOException => false
      }
    var attempts = 0
    while (!marked(fs, p) && attempts < 3) {
      attempts += 1
      if (fs.exists(p) && !marked(fs, p)) {
        val tomb = new Path(p.getParent,
          s".${p.getName}.tomb-${java.util.UUID.randomUUID().toString.take(8)}")
        if (renameNoReplace(p, tomb)) {
          if (marked(fs, tomb)) {
            // the gap fired: a racer's complete artifact landed between the
            // marker check and the move. Restore it untouched — our own
            // move just vacated the destination; if yet another racer
            // publishes first, both are complete builds of the same
            // deterministic artifact, so the tombstone copy is redundant.
            if (!renameNoReplace(tomb, p)) fs.delete(tomb, true)
            if (marked(fs, p)) return path
          } else fs.delete(tomb, true) // crash debris, quiesced off-path
        }
      }
      if (stageAndPublish(s, path)(build)) return path
      // rename lost: somebody else owns the destination — if it is a
      // marked artifact they won fairly; if it is unmarked debris (their
      // crash between our move-aside and rename), loop and clear it again
    }
    if (!marked(fs, p))
      throw new IllegalStateException(
        s"publishOnce($path): destination still unmarked after $attempts " +
          "attempts — a writer is crash-looping or the path is not writable")
    path
  }

  /** The stage→rename step, exists-check-free (so a spec can drive the
    * collision branch directly). Returns true if this call published,
    * false if a concurrent winner beat it to the rename. The staging dir
    * is removed on EVERY exit path: rename success consumes it, a lost
    * race deletes it, and a failed `build` (job error, interrupt) cleans
    * it in the catch — failed cold builds must not accumulate hidden
    * `.name.staging-*` debris next to the artifact (r15 review finding). */
  private[graft] def stageAndPublish(s: SparkSession, path: String)(
      build: String => Unit): Boolean = {
    val conf = s.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val tmp = new Path(p.getParent,
      s".${p.getName}.staging-${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      build(fs.makeQualified(tmp).toString)
      if (!marked(fs, tmp)) fs.create(new Path(tmp, "_SUCCESS"), true).close()
      fs.mkdirs(p.getParent)
      val ctx = FileContext.getFileContext(fs.makeQualified(p).toUri, conf)
      try {
        ctx.rename(fs.makeQualified(tmp), fs.makeQualified(p),
          Options.Rename.NONE)
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
             _: java.nio.file.FileAlreadyExistsException |
             _: org.apache.hadoop.fs.ParentNotDirectoryException =>
          fs.delete(tmp, true) // lost the race; check the winner upstream
          false
      }
    } catch {
      case e: Throwable =>
        fs.delete(tmp, true) // failed build: no staging debris
        throw e
    }
  }
}

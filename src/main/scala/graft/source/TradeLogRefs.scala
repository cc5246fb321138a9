package graft.source

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path

import TradeLogFormat.{CommitHead, ManifestInfo}

/** NAMED REFS over the tradelog's generation ledger — branches and tags
  * (Iceberg refs / the write-audit-publish staging pattern, VERDICT r18
  * order sheet #7):
  *
  *   - A **tag** is an immutable name for a committed MAIN generation
  *     (`createTag`): release pins, audit anchors. Reading
  *     `option("ref", name)` serves exactly that generation's snapshot.
  *   - A **branch** is a named WRITABLE lineage forked from a main
  *     generation (`createBranch`): writes with
  *     `option("branch", name)` commit to the branch head — real
  *     distributed appends — while the MAIN table is untouched. Audit by
  *     reading the ref; then `publish` FAST-FORWARDS main to the branch
  *     head as one re-referencing commit (RESTORE's trick: the branch's
  *     immutable shard files are adopted by reference, nothing is
  *     rewritten). Publish is conflict-checked: if main advanced past the
  *     fork point the fast-forward fails loudly — the WAP contract
  *     (re-stage against the new head).
  *
  * One commit protocol, two head targets: a branch commit is
  * [[TradeLogFormat.commitManifest]] with `CommitHead.Branch(name)`, the
  * same claim → verify claim → publish → wait-or-take-over loop every
  * main commit runs. Both heads re-verify that their claim still holds
  * their body before publishing, and both re-read the head just before
  * deleting a dead claim to take it over. Only the pointer differs:
  * `_refs/<name>` is one atomic header line
  * (`graft-tradelog ref kind=… base=… gen=…`), and branch-local
  * generation `k` claims `_manifests/gen-<k>-<name>.manifest` —
  * NAMESPACED from main's `gen-<N>.manifest` claims, so a branch never
  * contends with (or blocks) main's generation sequence. GC safety: ref'd
  * snapshots' data files join vacuum's referenced set and ref-anchored
  * main generations are excluded from snapshot expiry, so a staged
  * branch survives routine maintenance until it is dropped or published.
  *
  * 100 TB shape: a branch commit is the same O(touched day shards)
  * metadata work as a main commit; publish is O(branch shard refs) — no
  * data moves at any step, the Iceberg branch property. */
object TradeLogRefs {

  val RefsDirName = "_refs"
  private val RefHeader = "graft-tradelog ref"

  /** One named ref: `base` is the MAIN generation it forked from /
    * points at; `gen` is the branch-local commit count (0 = still at the
    * fork point; tags are always 0). */
  final case class RefInfo(name: String, kind: String, base: Long,
      gen: Long) {
    def isBranch: Boolean = kind == "branch"
    private[source] def line: String =
      s"$RefHeader kind=$kind base=$base gen=$gen"
    /** The snapshot file this ref's head resolves to. */
    private[source] def headManifestName: String =
      s"${TradeLogFormat.ManifestDirName}/" + (
        if (gen == 0L) CommitHead.Main.snapshotName(base)
        else CommitHead.Branch(name).snapshotName(gen))
  }

  private def requireRefName(name: String): Unit =
    require(name.matches("[A-Za-z0-9][A-Za-z0-9_.-]*"),
      s"graft-tradelog ref names are [A-Za-z0-9][A-Za-z0-9_.-]*: '$name'")

  private def refPath(root: Path, name: String): Path =
    new Path(root, s"$RefsDirName/$name")

  /** Create a branch at the CURRENT main head generation. Fails if the
    * name exists (refs are created once, retargeted never — drop and
    * recreate to re-fork). Returns the ref. */
  def createBranch(dir: String, name: String): RefInfo = {
    requireRefName(name)
    val base = TradeLogFormat.readManifestHeader(dir).gen
    writeNewRef(dir, RefInfo(name, "branch", base, 0L))
  }

  /** Tag a committed main generation (head by default). Immutable. */
  def createTag(dir: String, name: String,
      gen: Option[Long] = None): RefInfo = {
    requireRefName(name)
    val headGen = TradeLogFormat.readManifestHeader(dir).gen
    val g = gen.getOrElse(headGen)
    require(g <= headGen,
      s"graft-tradelog $dir: generation $g is not committed (head is " +
        s"$headGen) — a tag cannot anchor an in-flight claim")
    // the snapshot must still exist (not expired)
    TradeLogFormat.readManifestInfoAt(dir, g, headerOnly = true)
    val ref = writeNewRef(dir, RefInfo(name, "tag", g, 0L))
    // …and must STILL exist after the ref is visible: expireSnapshots
    // reads the anchor set before its deletes, so a tag racing an
    // in-flight expiry can anchor a victimized generation (r19 advice).
    // Re-validate after publishing — the expiry parks a victim before
    // re-reading anchors and restores it if this ref appeared, so once
    // this check passes the snapshot stays — and drop the dangling ref
    // loudly if the snapshot is gone.
    try TradeLogFormat.readManifestInfoAt(dir, g, headerOnly = true)
    catch {
      case e: Exception =>
        dropRef(dir, name)
        throw new IllegalStateException(
          s"graft-tradelog $dir: generation $g was expired while tag " +
            s"'$name' was being created — the tag was dropped; re-create " +
            "it against a surviving snapshot", e)
    }
    ref
  }

  private def writeNewRef(dir: String, ref: RefInfo): RefInfo = {
    require(writeRef(dir, ref, overwrite = false),
      s"graft-tradelog $dir: ref '${ref.name}' already exists")
    ref
  }

  /** Publish the ref file atomically; without `overwrite` the publish
    * fails (false) when the ref exists. A branch commit overwrites its
    * ref only after winning the generation's claim
    * ([[TradeLogFormat.commitManifest]]). */
  private[source] def writeRef(dir: String, ref: RefInfo,
      overwrite: Boolean): Boolean = {
    val conf = TradeLogFormat.driverConf()
    val (fs, root) = TradeLogFormat.fs(dir, conf)
    fs.mkdirs(new Path(root, RefsDirName))
    TradeLogFormat.publishAtomic(fs, conf, new Path(root, RefsDirName),
      refPath(root, ref.name), ref.line.getBytes(StandardCharsets.UTF_8),
      overwrite)
  }

  def readRef(dir: String, name: String): RefInfo = {
    val (fs, root) = TradeLogFormat.fs(dir)
    val p = refPath(root, name)
    require(fs.exists(p), s"graft-tradelog $dir has no ref '$name'")
    val head = TradeLogFormat.rereadTorn {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .find(_.nonEmpty).getOrElse("")
      finally in.close()
    }
    require(head.startsWith(RefHeader), s"not a graft-tradelog ref: $name")
    def tok(k: String): String =
      s"$k=(\\S+)".r.findFirstMatchIn(head).map(_.group(1)).getOrElse(
        throw new IllegalStateException(s"ref '$name' is missing $k="))
    RefInfo(name, tok("kind"), tok("base").toLong, tok("gen").toLong)
  }

  def listRefs(dir: String): Seq[RefInfo] = {
    val (fs, root) = TradeLogFormat.fs(dir)
    val d = new Path(root, RefsDirName)
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).toSeq.filter(_.isFile).map(_.getPath.getName)
      // a ref name never starts with a dot; an in-flight publish's temp does
      .filterNot(_.startsWith(".")).map(readRef(dir, _))
  }

  /** Drop a ref; a branch's own snapshot files go with it (their data
    * files become orphans for vacuum's age-gated adoption — the staged
    * write is garbage once unreachable). Returns true if it existed. */
  def dropRef(dir: String, name: String): Boolean = {
    val (fs, root) = TradeLogFormat.fs(dir)
    val p = refPath(root, name)
    if (!fs.exists(p)) return false
    val ref = readRef(dir, name)
    val existed = fs.delete(p, false)
    if (ref.isBranch) {
      val mdir = new Path(root, TradeLogFormat.ManifestDirName)
      val re = s"^gen-(\\d+)-${java.util.regex.Pattern.quote(name)}\\.manifest$$".r
      if (fs.exists(mdir)) fs.listStatus(mdir).foreach { st =>
        if (re.findFirstIn(st.getPath.getName).isDefined)
          fs.delete(st.getPath, false)
      }
    }
    existed
  }

  /** The committed state a ref's HEAD names (a branch's own latest
    * commit, or the anchored main generation for tags / unwritten
    * branches). */
  def headInfo(dir: String, name: String, headerOnly: Boolean = false,
      refsOnly: Boolean = false): ManifestInfo =
    headInfoOf(dir, readRef(dir, name), headerOnly, refsOnly)

  private def headInfoOf(dir: String, ref: RefInfo, headerOnly: Boolean,
      refsOnly: Boolean): ManifestInfo =
    TradeLogFormat.readManifestFile(dir, ref.headManifestName,
      headerOnly, refsOnly)

  /** Read a SPECIFIC branch snapshot (exact pin — what a scan resolved
    * once at schema inference reads at plan time). */
  def snapshotInfo(dir: String, name: String, gen: Long,
      headerOnly: Boolean = false, refsOnly: Boolean = false): ManifestInfo =
    headInfoOf(dir, RefInfo(name, "branch", 0L, gen), headerOnly, refsOnly)

  /** FAST-FORWARD PUBLISH — the WAP "publish" verb: main adopts the
    * branch head as ONE re-referencing commit (nothing rewritten — the
    * branch's immutable shard files join the main manifest, RESTORE's
    * trick). Conflict-checked inside every optimistic retry: main must
    * still be at the branch's fork generation, else the fast-forward is
    * impossible and the publish fails loudly (re-stage against the new
    * head — the WAP contract). The main head's streaming (epoch, qid)
    * replay stamp carries forward. Returns the new MAIN generation. */
  def publish(dir: String, name: String): Long = {
    val ref = readRef(dir, name)
    require(ref.isBranch,
      s"graft-tradelog $dir: ref '$name' is a tag — only branches publish")
    if (ref.gen == 0L) // nothing staged: main already holds the content
      return TradeLogFormat.readManifestHeader(dir).gen
    val bh = headInfoOf(dir, ref, headerOnly = false, refsOnly = true)
    val committed = TradeLogFormat.commitManifest(dir) { prevOpt =>
      val prev = prevOpt.getOrElse(throw new IllegalStateException(
        s"graft-tradelog $dir lost its manifest during a branch publish"))
      if (prev.gen != ref.base) throw new IllegalStateException(
        s"graft-tradelog $dir: branch '$name' forked at generation " +
          s"${ref.base} but main is at ${prev.gen} — the fast-forward " +
          "publish is not possible; re-stage the branch against the " +
          "current head")
      Some(TradeLogFormat.adoptSpec(bh, prev))
    }
    committed.getOrElse(throw new IllegalStateException(
      s"graft-tradelog $dir: branch publish aborted unexpectedly"))
  }

  /** Data files referenced by any ref's head snapshot — vacuum's
    * protection set (a staged branch's files are reachable, not
    * orphans; a tagged old generation's files outlive the grace). */
  private[source] def referencedFiles(dir: String): Set[String] =
    listRefs(dir).flatMap { r =>
      TradeLogFormat.resolveBlocks(dir,
        headInfoOf(dir, r, headerOnly = false, refsOnly = true))
        .map(_.file)
    }.toSet

  /** Shard files referenced by any ref's head snapshot — the snapshot
    * sweep's protection set. A tag whose snapshot is already gone protects
    * nothing: its racing [[createTag]] drops it. */
  private[source] def referencedShards(dir: String): Set[String] =
    listRefs(dir).flatMap(r =>
      try headInfoOf(dir, r, headerOnly = false, refsOnly = true)
        .shards.map(_.file)
      catch { case _: java.io.FileNotFoundException => Nil }).toSet

  /** Main generations anchored by a ref (tag targets, branch fork
    * points) — excluded from snapshot expiry. */
  private[source] def anchoredGens(dir: String): Set[Long] =
    listRefs(dir).map(_.base).toSet
}

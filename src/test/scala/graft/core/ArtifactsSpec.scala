package graft.core

import graft.SparkTestBase
import org.apache.hadoop.fs.Path

/** Artifacts: the build-once rule. The claims under test: a fingerprint
  * names its sources and changes only with them; a published artifact is
  * never rebuilt, a crash leftover (directory without _SUCCESS) is cleared
  * and rebuilt, a build that leaves no _SUCCESS is marked for it, a staged
  * layout appears whole with its file mtimes intact, and the collision
  * branch (two cold-path racers) leaves exactly the winner's artifact with
  * no staging debris — the in-place-overwrite hazard the helper exists to
  * remove. */
class ArtifactsSpec extends SparkTestBase {
  import spark.implicits._

  private def fs(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeArtifact(tag: String)(staging: String): Unit =
    Seq((tag, 1L)).toDF("tag", "v").write.mode("overwrite").parquet(staging)

  test("publishOnce builds when absent, skips when published, rebuilds crash leftovers") {
    val root = tempDir("graft-art").toString
    val path = s"$root/merges/v1"
    var builds = 0
    def build(staging: String): Unit = { builds += 1; writeArtifact("a")(staging) }
    Artifacts.publishOnce(spark, path)(build)
    assert(builds == 1 && fs(path).exists(new Path(path, "_SUCCESS")))
    assert(spark.read.parquet(path).collect().head.getString(0) == "a")
    // published → the build fn must not run again
    Artifacts.publishOnce(spark, path)(build)
    assert(builds == 1, "published artifact was rebuilt")
    // a directory WITHOUT the marker is a crash leftover: moved aside
    // (never deleted in place — a racer's rename could have landed a
    // complete artifact in the check→act gap), verified-unmarked, then
    // cleared and rebuilt — with no tombstone debris left behind
    fs(path).delete(new Path(path, "_SUCCESS"), false)
    Artifacts.publishOnce(spark, path)(build)
    assert(builds == 2 && spark.read.parquet(path).count() == 1)
    val debris = fs(root).listStatus(new Path(s"$root/merges"))
      .map(_.getPath.getName).filterNot(_ == "v1")
    assert(debris.isEmpty, s"tombstone/staging debris left: ${debris.toSeq}")
  }

  test("rename collision: the losing racer discards its staging dir, winner's artifact intact") {
    val root = tempDir("graft-art2").toString
    val path = s"$root/merges/v1"
    assert(Artifacts.stageAndPublish(spark, path)(writeArtifact("winner")))
    // a second racer that already passed the exists-check builds and then
    // loses the rename — driven directly via the check-free entry point
    assert(!Artifacts.stageAndPublish(spark, path)(writeArtifact("loser")),
      "second publisher must lose the rename race")
    assert(spark.read.parquet(path).collect().head.getString(0) == "winner",
      "winner's artifact must be untouched by the losing racer")
    val leftover = fs(root).listStatus(new Path(s"$root/merges"))
      .map(_.getPath.getName).filterNot(_ == "v1")
    assert(leftover.isEmpty, s"staging debris left behind: ${leftover.toSeq}")
  }

  test("a failed build leaves no staging debris and no artifact") {
    val root = tempDir("graft-art3").toString
    val path = s"$root/merges/v1"
    val boom = intercept[RuntimeException] {
      Artifacts.publishOnce(spark, path) { staging =>
        writeArtifact("partial")(staging) // half-done work, then the crash
        throw new RuntimeException("job failed mid-build")
      }
    }
    assert(boom.getMessage.contains("mid-build"))
    val parent = new Path(s"$root/merges")
    val names =
      if (fs(root).exists(parent))
        fs(root).listStatus(parent).map(_.getPath.getName).toSeq
      else Seq.empty
    assert(names.isEmpty,
      s"failed cold builds must not accumulate staging debris: $names")
    // and the next attempt builds cleanly
    Artifacts.publishOnce(spark, path)(writeArtifact("good"))
    assert(spark.read.parquet(path).collect().head.getString(0) == "good")
  }

  test("a racer landing between the marker check and the rebuild is respected, not destroyed") {
    // drives publishOnce's lost-rename branch: the destination is taken by
    // a COMPLETE (marked) artifact after this caller decided to build —
    // publishOnce must defer to the winner instead of deleting it
    val root = tempDir("graft-art4").toString
    val path = s"$root/merges/v1"
    var winnerPlanted = false
    Artifacts.publishOnce(spark, path) { staging =>
      // simulate the concurrent winner completing while this build runs
      Artifacts.stageAndPublish(spark, path)(writeArtifact("winner"))
      winnerPlanted = true
      writeArtifact("latecomer")(staging)
    }
    assert(winnerPlanted)
    assert(spark.read.parquet(path).collect().head.getString(0) == "winner",
      "publishOnce must defer to a concurrently published artifact")
  }

  private def siblings(parent: String, keep: String): Seq[String] =
    fs(parent).listStatus(new Path(parent)).map(_.getPath.getName)
      .filterNot(_ == keep).toSeq

  test("fingerprint is <dir>_<len>_<mtime> per table and changes only with its sources") {
    val dir = tempDir("graft-fp").toString
    for (t <- Seq("a", "b"))
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/$t.parquet"), t.getBytes)
    def file(t: String) = new Path(s"$dir/$t.parquet")
    val mtime = fs(dir).getFileStatus(file("a")).getModificationTime
    val one = Artifacts.fingerprint(spark, dir, "a")
    val both = Artifacts.fingerprint(spark, dir, "a", "b")
    assert(one == s"${dir.replaceAll("[^A-Za-z0-9.]", "_")}_1_$mtime")
    assert(both.startsWith(s"${one}_1_"))
    assert(Artifacts.fingerprint(spark, dir, "a") == one)
    assert(Artifacts.fingerprint(spark, dir, "a", "b") == both)
    // any one of the named sources changing is a fresh name (ScaleUp's
    // four-table form); an untouched source keeps its name
    fs(dir).setTimes(file("b"), mtime + 60000L, -1L)
    assert(Artifacts.fingerprint(spark, dir, "a") == one)
    assert(Artifacts.fingerprint(spark, dir, "a", "b") != both)
    fs(dir).setTimes(file("a"), mtime + 60000L, -1L)
    assert(Artifacts.fingerprint(spark, dir, "a") != one)
  }

  test("publishOnce marks a build that wrote no _SUCCESS of its own") {
    val root = tempDir("graft-art5").toString
    val path = s"$root/index/v1"
    var builds = 0
    def build(staging: String): Unit = {
      builds += 1
      // a hive-partitioned table under a sub-directory: nothing marks the root
      Seq((1L, 0), (2L, 1)).toDF("id", "bucket")
        .write.partitionBy("bucket").parquet(s"$staging/codes")
    }
    assert(Artifacts.publishOnce(spark, path)(build) == path)
    assert(fs(path).exists(new Path(path, "_SUCCESS")))
    Artifacts.publishOnce(spark, path)(build)
    assert(builds == 1, "a build marked by publishOnce was rebuilt")
    assert(spark.read.parquet(s"$path/codes").count() == 2)
    assert(siblings(s"$root/index", "v1").isEmpty)
  }

  test("a layout built by a write, appends and an mtime ladder appears whole, ladder intact") {
    // the sentinel-layout shape of the streaming bridges: the file source
    // delivers files oldest-mtime first, so the forced ladder IS the
    // micro-batch order and must survive the publishing rename
    val root = tempDir("graft-art6").toString
    val path = s"$root/stage/join_v4"
    val base = 1700000000000L
    Artifacts.publishOnce(spark, path) { staging =>
      val st = new Path(staging)
      def parts() = fs(staging).listStatus(st).map(_.getPath)
        .filter(_.getName.startsWith("part-")).toSet
      val files = (1L to 3L).map { v =>
        val before = if (v == 1L) Set.empty[Path] else parts()
        Seq(v).toDF("v").coalesce(1).write
          .mode(if (v == 1L) "overwrite" else "append").parquet(staging)
        assert(!fs(path).exists(new Path(path)),
          "the layout is visible at its final path before the build ends")
        val added = parts() -- before
        assert(added.size == 1)
        added.head
      }
      files.zipWithIndex.foreach { case (f, i) =>
        fs(staging).setTimes(f, base + 1000L * i, -1L)
      }
    }
    val published = fs(path).listStatus(new Path(path))
      .filter(_.getPath.getName.startsWith("part-")).sortBy(_.getModificationTime)
    assert(published.map(_.getModificationTime).toSeq == Seq(base, base + 1000L, base + 2000L))
    assert(published.map(f => spark.read.parquet(f.getPath.toString).head.getLong(0)).toSeq
      == Seq(1L, 2L, 3L))
    assert(fs(path).exists(new Path(path, "_SUCCESS")))
    assert(siblings(s"$root/stage", "join_v4").isEmpty)
  }
}

package graft.stream

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException,
  FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}
import graft.SparkTestBase

/** The contract of [[LocalCheckpointFileManager]] against Spark's default
  * `FileContextBasedCheckpointFileManager`: the same files and `.crc`
  * sidecars on local disk, Hadoop's `FileAlreadyExistsException` for a
  * lost no-overwrite publish, no temp file left behind, and Spark's own
  * code path for a filesystem that is not a checksummed local one. */
class LocalCheckpointFileManagerSpec extends SparkTestBase {

  private val conf = new Configuration()
  private val local: LocalFileSystem = FileSystem.getLocal(conf)

  private def tmpDir(tag: String): Path =
    new Path(tempDir(s"graft-cfm-$tag").toUri)

  private def graftFm(dir: Path, c: Configuration = conf) =
    new LocalCheckpointFileManager(dir, c)

  private def sparkFm(dir: Path) =
    new FileContextBasedCheckpointFileManager(dir, conf)

  private def write(fm: CheckpointFileManager, p: Path, body: Array[Byte],
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(body)
    out.close()
  }

  private def bytes(p: Path): Array[Byte] =
    Files.readAllBytes(local.pathToFile(p).toPath)

  private def sidecar(p: Path): Array[Byte] = bytes(local.getChecksumFile(p))

  private def names(dir: Path): Set[String] =
    Files.list(local.pathToFile(dir).toPath).iterator().asScala
      .map(_.getFileName.toString).toSet

  private def body(n: Int, seed: Int = 7): Array[Byte] =
    Array.tabulate[Byte](n)(i => (i * 31 + seed).toByte)

  test("sidecars are byte-identical to the ones Spark's manager writes " +
      "through FileContext's LocalFs") {
    val dir = tmpDir("crc")
    for (n <- Seq(0, 1, 512, 513, 5000, 70000)) {
      val (viaGraft, viaSpark) = (new Path(dir, s"g-$n"), new Path(dir, s"s-$n"))
      write(graftFm(dir), viaGraft, body(n), overwrite = n % 2 == 0)
      write(sparkFm(dir), viaSpark, body(n), overwrite = n % 2 == 0)
      assert(bytes(viaGraft).sameElements(bytes(viaSpark)), s"$n-byte body")
      assert(sidecar(viaGraft).sameElements(sidecar(viaSpark)), s"$n-byte sidecar")
    }
    assert(names(dir).forall(!_.endsWith(".tmp")), names(dir))
  }

  test("a flipped body byte fails LocalFileSystem.open with ChecksumException") {
    val dir = tmpDir("flip")
    val p = new Path(dir, "1")
    write(graftFm(dir), p, body(2000), overwrite = false)
    val in = local.open(p)
    try assert(in.readAllBytes().sameElements(body(2000))) finally in.close()
    val f = local.pathToFile(p).toPath
    val b = Files.readAllBytes(f)
    b(1500) = (b(1500) ^ 1).toByte
    Files.write(f, b)
    intercept[ChecksumException] {
      val in = local.open(p)
      try in.readAllBytes() finally in.close()
    }
  }

  test("a lost claim throws Hadoop's FileAlreadyExistsException, keeps the " +
      "winner's body and sidecar and leaves no temp file") {
    val dir = tmpDir("claim")
    val p = new Path(dir, "0")
    write(graftFm(dir), p, body(700, 1), overwrite = false)
    val (winBody, winCrc) = (bytes(p), sidecar(p))
    intercept[FileAlreadyExistsException] {
      write(graftFm(dir), p, body(900, 2), overwrite = false)
    }
    assert(bytes(p).sameElements(winBody))
    assert(sidecar(p).sameElements(winCrc))
    assert(names(dir) == Set("0", ".0.crc"))
  }

  test("an overwrite replaces both the body and the sidecar") {
    val dir = tmpDir("overwrite")
    val (p, ref) = (new Path(dir, "state.delta"), new Path(dir, "ref"))
    write(graftFm(dir), p, body(3000, 1), overwrite = true)
    write(graftFm(dir), p, body(600, 2), overwrite = true)
    val out = local.create(ref, true)
    try out.write(body(600, 2)) finally out.close()
    assert(bytes(p).sameElements(body(600, 2)))
    assert(sidecar(p).sameElements(sidecar(ref)))
    assert(names(dir) == Set("state.delta", ".state.delta.crc", "ref", ".ref.crc"))
  }

  test("cancel() leaves no temp file") {
    val dir = tmpDir("cancel")
    val out = graftFm(dir).createAtomic(new Path(dir, "1"), false)
    out.write(body(4000))
    out.cancel()
    assert(names(dir).isEmpty, names(dir))
  }

  test("mkdirs and createCheckpointDirectory create missing directories " +
      "and accept existing ones") {
    val root = tmpDir("dirs")
    val ckpt = new Path(root, "a/b/checkpoint")
    val fm = graftFm(ckpt)
    assert(fm.createCheckpointDirectory() == local.makeQualified(ckpt))
    assert(fm.createCheckpointDirectory() == local.makeQualified(ckpt))
    fm.mkdirs(new Path(ckpt, "offsets"))
    fm.mkdirs(new Path(ckpt, "offsets"))
    assert(names(ckpt) == Set("offsets"))
    val link = new Path(root, "link")
    Files.createSymbolicLink(local.pathToFile(link).toPath,
      local.pathToFile(ckpt).toPath)
    graftFm(link).createCheckpointDirectory()
    graftFm(link).mkdirs(link)
    assert(Files.isSymbolicLink(local.pathToFile(link).toPath))
  }

  test("a RawLocalFileSystem path (fs.file.impl) takes Spark's FileContext " +
      "branch") {
    val raw = new Configuration(conf)
    raw.setClass("fs.file.impl", classOf[RawLocalFileSystem], classOf[FileSystem])
    raw.setBoolean("fs.file.impl.disable.cache", true)
    val dir = tmpDir("raw")
    val fm = graftFm(dir, raw)
    val tmp = new Path(dir, "direct")
    val out = fm.createTempFile(tmp)
    try assert(!out.getWrappedStream.getClass.getName.startsWith("graft."),
      out.getWrappedStream.getClass)
    finally out.close()
    fm.delete(tmp)

    val p = new Path(dir, "0")
    write(fm, p, body(100, 1), overwrite = false)
    intercept[FileAlreadyExistsException] {
      write(fm, p, body(100, 2), overwrite = false)
    }
    write(fm, p, body(100, 3), overwrite = true)
    assert(bytes(p).sameElements(body(100, 3)))
  }
}

package graft.source

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{ChecksumException, FileSystem, LocalFileSystem,
  Path, RawLocalFileSystem}
import org.apache.spark.sql.Row

import graft.SparkTestBase

/** The metadata publish every tradelog commit rests on
  * ([[TradeLogFormat.publishAtomic]]), specified once for both branches:
  * a checksummed `LocalFileSystem` (the java.nio branch: `link(2)` claims,
  * rename overwrites, a Hadoop-format `.crc` sidecar) and a raw local
  * filesystem standing in for every other scheme (Hadoop `create` +
  * `FileContext.rename`). Also: logs whose metadata was written through
  * `LocalFileSystem.create` — every log committed before the nio branch —
  * keep committing, reading and verifying their checksums. */
class TradeLogPublishSpec extends SparkTestBase {

  private val Fmt = "graft-tradelog"

  private def tmpDir(tag: String): String =
    tempDir(s"graft-pub-$tag").toString

  private def conf = TradeLogFormat.driverConf()

  private def local: LocalFileSystem = FileSystem.getLocal(conf)

  private def raw: FileSystem = {
    val r = new RawLocalFileSystem()
    r.initialize(java.net.URI.create("file:///"), conf)
    r
  }

  private val branches: Seq[(String, () => FileSystem)] =
    Seq("local (nio)" -> (() => local), "raw (Hadoop)" -> (() => raw))

  private def bytes(p: Path): Array[Byte] =
    Files.readAllBytes(local.pathToFile(p).toPath)

  private def sidecar(p: Path): Option[Array[Byte]] = {
    val f = local.pathToFile(local.getChecksumFile(p)).toPath
    if (Files.exists(f)) Some(Files.readAllBytes(f)) else None
  }

  private def temps(dir: Path): Seq[String] =
    Files.list(local.pathToFile(dir).toPath).iterator().asScala
      .map(_.getFileName.toString).filter(_.contains(".tmp-")).toSeq

  private def publish(fs: FileSystem, target: Path, body: String,
      overwrite: Boolean): Boolean =
    TradeLogFormat.publishAtomic(fs, conf, target.getParent, target,
      body.getBytes(UTF_8), overwrite)

  for ((name, mkFs) <- branches) {
    test(s"publishAtomic [$name]: overwrite replaces the body; a lost claim " +
        "leaves the winner's body and sidecar intact; no temp survives") {
      val fs = mkFs()
      val dir = new Path(tmpDir("contract"))
      val target = new Path(dir, "head.manifest")
      assert(publish(fs, target, "first", overwrite = true))
      assert(publish(fs, target, "second body", overwrite = true))
      assert(new String(bytes(target), UTF_8) == "second body")
      // the checksummed reader accepts what either branch published
      val in = local.open(target)
      try assert(new String(in.readAllBytes(), UTF_8) == "second body")
      finally in.close()

      val claim = new Path(dir, "gen-1.manifest")
      assert(publish(fs, claim, "winner", overwrite = false))
      val (winBody, winCrc) = (bytes(claim), sidecar(claim))
      assert(!publish(fs, claim, "loser!", overwrite = false))
      assert(bytes(claim).sameElements(winBody))
      assert(sidecar(claim).map(_.toSeq) == winCrc.map(_.toSeq))
      if (fs.isInstanceOf[LocalFileSystem]) assert(winCrc.nonEmpty)
      assert(temps(dir).isEmpty, temps(dir))
    }

    test(s"publishAtomic [$name]: a failed overwrite surfaces and leaves " +
        "no temp file behind") {
      val fs = mkFs()
      val dir = new Path(tmpDir("leak"))
      val target = new Path(dir, "index.manifest")
      Files.createDirectories(local.pathToFile(new Path(target, "x")).toPath)
      intercept[java.io.IOException] {
        publish(fs, target, "body", overwrite = true)
      }
      assert(temps(dir).isEmpty, temps(dir))
      assert(!publish(fs, target, "body", overwrite = false))
      assert(temps(dir).isEmpty, temps(dir))
    }
  }

  test("publishAtomic [local (nio)]: the sidecar is byte-identical to " +
      "LocalFileSystem.create's") {
    val dir = new Path(tmpDir("crc"))
    for (n <- Seq(0, 1, 512, 513, 5000)) {
      val body = Array.tabulate[Byte](n)(i => (i * 31 + 7).toByte)
      val viaNio = new Path(dir, s"nio-$n")
      val viaHadoop = new Path(dir, s"hadoop-$n")
      assert(TradeLogFormat.publishAtomic(local, conf, dir, viaNio, body,
        overwrite = n % 2 == 0))
      val out = local.create(viaHadoop, true)
      try out.write(body) finally out.close()
      assert(sidecar(viaNio).get.sameElements(sidecar(viaHadoop).get),
        s"$n-byte body")
    }
  }

  test("publishAtomic [local (nio)]: an overwrite torn between the body and " +
      "the sidecar rename leaves the new body readable; the next publish " +
      "succeeds") {
    val dir = new Path(tmpDir("torn"))
    val target = new Path(dir, "index.manifest")
    assert(publish(local, target, "body A", overwrite = true))
    // a temp without its sidecar: the move fails exactly between the body
    // rename and the sidecar rename, as a crash there would leave it
    val tmp = new Path(dir, ".index.manifest.tmp-torn")
    val out = graft.core.LocalPublish.create(local, tmp)
    try out.write("body B".getBytes(UTF_8)) finally out.close()
    Files.delete(local.pathToFile(local.getChecksumFile(tmp)).toPath)
    intercept[java.io.IOException] {
      graft.core.LocalPublish.move(local, tmp, target, overwrite = true)
    }
    def read(): String = {
      val in = local.open(target)
      try new String(in.readAllBytes(), UTF_8) finally in.close()
    }
    assert(read() == "body B")
    assert(publish(local, target, "body C", overwrite = true))
    assert(read() == "body C" && sidecar(target).nonEmpty)
    assert(temps(dir).isEmpty, temps(dir))
  }

  test("a flipped byte in a published manifest fails the next header read " +
      "with ChecksumException") {
    val dir = tmpDir("flip")
    TradeLogFormat.writeManifest(dir, Seq(TradeLogFormat.BlockMeta(
      "part-a.gtl", 0L, 100, 10, 0L, 1000L)))
    val (_, root) = TradeLogFormat.fs(dir)
    val head = local.pathToFile(new Path(root, TradeLogFormat.ManifestName))
      .toPath
    val b = Files.readAllBytes(head)
    b(b.length - 1) = (b(b.length - 1) ^ 1).toByte
    Files.write(head, b)
    intercept[ChecksumException](TradeLogFormat.readManifestHeader(dir))
  }

  // ---- logs written before the nio branch ----------------------------------

  private def dayRows(day: Int, base: Long): Seq[Row] =
    (0 until 4).map(i => Row(base + i,
      Timestamp.valueOf(f"2024-01-$day%02d 00:0$i:00"),
      100L + i, s"t$i", i * 1.5, s"p$i"))

  private def df(rows: Seq[Row]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), TradeLogFormat.schema)

  private def ids(dir: String, opts: (String, String)*): Seq[Long] =
    opts.foldLeft(spark.read.format(Fmt)) { case (r, (k, v)) => r.option(k, v) }
      .load(dir).select("event_id").collect().map(_.getLong(0)).sorted.toSeq

  private def files(dir: String): Seq[java.nio.file.Path] =
    Files.walk(Paths.get(dir)).iterator().asScala
      .filter(Files.isRegularFile(_)).toSeq

  /** Re-write every metadata file (head, claims, shards, refs, journal)
    * through `LocalFileSystem.create`, as the Hadoop publish wrote them. */
  private def rewriteThroughHadoop(dir: String): Unit =
    files(dir).map(_.toString).filterNot(f =>
      f.endsWith(".gtl") || f.endsWith(".crc")).foreach { f =>
      val body = Files.readAllBytes(Paths.get(f))
      val out = local.create(new Path(f), true)
      try out.write(body) finally out.close()
    }

  /** Every `.X.crc` sits beside its `X` and verifies against it (the
    * checksummed open reads every chunk), and no temp file is left. */
  private def assertChecksumsVerify(dir: String): Unit = {
    val all = files(dir)
    assert(all.forall(f => !f.getFileName.toString.contains(".tmp-")))
    val crcs = all.filter(_.getFileName.toString.endsWith(".crc"))
    assert(crcs.nonEmpty)
    for (crc <- crcs) {
      val n = crc.getFileName.toString
      val body = crc.resolveSibling(n.stripPrefix(".").stripSuffix(".crc"))
      assert(Files.exists(body), s"$crc has no body")
      val in = local.open(new Path(body.toUri))
      try in.readAllBytes() finally in.close()
    }
  }

  test("a log whose metadata LocalFileSystem.create wrote takes an append, " +
      "an optimize and a branch append; every row reads back and every " +
      "checksum verifies") {
    val dir = tmpDir("compat")
    df(dayRows(1, 0)).write.format(Fmt).mode("overwrite")
      .option("blockRows", 2).save(dir)
    df(dayRows(2, 10)).write.format(Fmt).mode("append")
      .option("blockRows", 2).save(dir)
    TradeLogRefs.createBranch(dir, "audit")
    rewriteThroughHadoop(dir)
    assertChecksumsVerify(dir)

    df(dayRows(3, 20)).write.format(Fmt).mode("append")
      .option("blockRows", 2).save(dir)
    TradeLogMaintenance.optimize(spark, dir, blockRows = 4)(
      _.repartition(1).sortWithinPartitions("ts"))
    df(dayRows(4, 30)).write.format(Fmt).mode("append")
      .option("branch", "audit").option("blockRows", 2).save(dir)

    val base = (0L until 4L) ++ (10L until 14L)
    assert(ids(dir) == base ++ (20L until 24L))
    assert(ids(dir, "ref" -> "audit") == base ++ (30L until 34L))
    assertChecksumsVerify(dir)
  }
}

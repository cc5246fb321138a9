package graft

import java.io.IOException
import java.nio.file.{FileVisitResult, Files, NoSuchFileException, Path, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession for the whole test run (Spark startup is
  * ~10s — per-suite sessions would dominate test time). Config mirrors
  * Verify.scala so tests see the same semantics the driver harness does. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** `rm -r` in java.nio: no forked child, no Hadoop FileSystem. Entries
    * already gone (a concurrent cleanup) are skipped; symlinks are removed,
    * never followed. */
  def deleteRecursively(root: Path): Unit =
    Files.walkFileTree(root, new SimpleFileVisitor[Path] {
      override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
        Files.deleteIfExists(f); FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path, e: IOException): FileVisitResult = e match {
        case _: NoSuchFileException => FileVisitResult.CONTINUE
        case _ => throw e
      }
      override def postVisitDirectory(d: Path, e: IOException): FileVisitResult = {
        if (e != null && !e.isInstanceOf[NoSuchFileException]) throw e
        Files.deleteIfExists(d); FileVisitResult.CONTINUE
      }
    })
}

abstract class SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.spark

  private val tempDirs = new ConcurrentLinkedQueue[Path]()

  /** A fresh directory under `java.io.tmpdir`, deleted with everything in
    * it when the suite ends. */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }

  override protected def afterAll(): Unit =
    try tempDirs.forEach(d => SparkTestBase.deleteRecursively(d))
    finally super.afterAll()
}

package graft

import java.nio.file.{FileSystems, Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.streaming.Trigger

import graft.expr.GraftFunctions
import graft.stream.LocalCheckpointFileManager

/** [[GraftExtensionsProvider]] reaches every session with no call site: a
  * fresh builder session, its `newSession()` child and the session a
  * started stream clones all resolve graft's functions from plain SQL and
  * checkpoint through [[LocalCheckpointFileManager]]; an explicit setting
  * still wins. Spark logs and swallows a provider that fails to load, so
  * the service files are checked here too. */
class GraftExtensionsProviderSpec extends SparkTestBase {

  private val Key = "spark.sql.streaming.checkpointFileManagerClass"

  private def manager(s: SparkSession): Class[_] = {
    val dir = tempDir("graft-provider").toUri
    CheckpointFileManager.create(new Path(dir), s.sessionState.newHadoopConf()).getClass
  }

  private def assertInstalled(s: SparkSession, what: String): Unit = {
    for ((id, info, _) <- GraftFunctions.functions) {
      val described = s.sql(s"DESCRIBE FUNCTION ${id.funcName}").collect().map(_.getString(0))
      assert(described.contains(s"Class: ${info.getClassName}"),
        s"$what: ${id.funcName} did not resolve: ${described.mkString("; ")}")
    }
    assert(s.sql("SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))")
      .collect().head.getDouble(0) == 11.0, what)
    assert(manager(s) == classOf[LocalCheckpointFileManager], what)
  }

  test("a builder session, its newSession() child and a stream's cloned session " +
      "resolve graft's functions and checkpoint through graft's manager") {
    assert(!spark.sparkContext.isStopped)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val fresh = SparkSession.builder().getOrCreate()
    try {
      assert(fresh ne spark, "the builder returned the old session")
      assertInstalled(fresh, "builder session")
      val child = fresh.newSession()
      assertInstalled(child, "newSession() child")

      var cloned: SparkSession = null
      val in = tempDir("graft-provider-src")
      child.range(3).toDF("v").write.mode("overwrite").parquet(in.toString)
      child.readStream.schema("v LONG").parquet(in.toString)
        .writeStream
        .option("checkpointLocation", tempDir("graft-provider-ckpt").toString)
        .foreachBatch { (b: DataFrame, _: Long) => cloned = b.sparkSession }
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      assert(cloned != null && (cloned ne child), "the stream ran on its own session")
      assertInstalled(cloned, "stream session")

      val explicit = fresh.newSession()
      explicit.conf.set(Key, classOf[FileContextBasedCheckpointFileManager].getName)
      assert(manager(explicit) == classOf[FileContextBasedCheckpointFileManager])
    } finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  test("every META-INF/services entry graft ships names a class that implements " +
      "its interface") {
    val root = Paths.get(classOf[GraftExtensionsProvider].getProtectionDomain
      .getCodeSource.getLocation.toURI)
    val services =
      if (Files.isDirectory(root)) root.resolve("META-INF/services")
      else FileSystems.newFileSystem(root).getPath("META-INF/services")
    val files = Files.list(services).iterator().asScala.toSeq.map(f =>
      f.getFileName.toString -> new String(Files.readAllBytes(f), "UTF-8"))
    val entries = for {
      (iface, body) <- files
      line <- body.linesIterator.map(_.takeWhile(_ != '#').trim) if line.nonEmpty
    } yield iface -> line
    assert(entries.map(_._2).toSet ==
      Set("graft.GraftExtensionsProvider", "graft.source.TradeLogProvider"), entries)
    for ((iface, impl) <- entries) {
      val cls = Class.forName(impl)
      assert(Class.forName(iface).isAssignableFrom(cls), s"$impl is not a $iface")
      cls.getConstructor().newInstance()
    }
  }
}

package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{SparkSessionExtensions, SparkSessionExtensionsProvider}

import graft.expr.GraftFunctions
import graft.stream.LocalCheckpointFileManager

/** Installs graft in every session with graft on the classpath. Spark loads
  * it through `META-INF/services` when it builds a root session;
  * `newSession()` children and the sessions a stream clones inherit it.
  *
  * Injects [[GraftFunctions.functions]] and makes
  * [[LocalCheckpointFileManager]] the context's default checkpoint manager:
  * Spark reads the manager from `sessionState.newHadoopConf()`, which
  * overlays a session's own settings on the context's Hadoop conf, so a
  * session or `--conf` setting still wins. */
class GraftExtensionsProvider extends SparkSessionExtensionsProvider {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.functions.foreach(ext.injectFunction)
    SparkContext.getOrCreate().hadoopConfiguration.setIfUnset(
      "spark.sql.streaming.checkpointFileManagerClass",
      classOf[LocalCheckpointFileManager].getName)
  }
}

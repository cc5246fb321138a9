package graft.stream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, LocalFileSystem, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

import graft.core.LocalPublish

/** Spark's checkpoint file manager, fork-free on a checksummed
  * `LocalFileSystem`: temp files, publishes and directories go through
  * [[graft.core.LocalPublish]] (same names, same `.crc`); a lost claim throws
  * Hadoop's `FileAlreadyExistsException`. Reads, listings and deletes stay
  * on `FileContext`, other filesystems on Spark's code. The default manager
  * of every session, set by [[graft.GraftExtensionsProvider]]. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, hadoopConf) {

  private val local = Some(path.getFileSystem(hadoopConf)).collect { case l: LocalFileSystem => l }

  override def createTempFile(p: Path): FSDataOutputStream =
    local.fold(super.createTempFile(p))(l =>
      new FSDataOutputStream(LocalPublish.create(l, p), null))

  override def renameTempFile(src: Path, dst: Path, overwrite: Boolean): Unit =
    local.fold(super.renameTempFile(src, dst, overwrite))(l =>
      if (!LocalPublish.move(l, src, dst, overwrite))
        throw new FileAlreadyExistsException(s"$dst already exists"))

  override def mkdirs(p: Path): Unit =
    local.fold(super.mkdirs(p))(LocalPublish.mkdirs(_, p))

  override def createCheckpointDirectory(): Path =
    local.fold(super.createCheckpointDirectory()) { l =>
      val qualified = fc.makeQualified(path)
      LocalPublish.mkdirs(l, qualified)
      qualified
    }
}

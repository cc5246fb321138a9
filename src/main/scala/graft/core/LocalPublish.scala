package graft.core

import java.io.{BufferedOutputStream, DataOutputStream, OutputStream}
import java.nio.file.{FileAlreadyExistsException, Files}
import java.nio.file.StandardCopyOption.ATOMIC_MOVE

import org.apache.hadoop.fs.{LocalFileSystem, Path}

/** Fork-free atomic publish on a checksummed `LocalFileSystem` (tradelog
  * metadata, streaming checkpoints): java.nio, where Hadoop's local FS forks
  * `chmod`/`readlink` children without libhadoop. Same body and `.crc`. */
object LocalPublish {

  private def nio(local: LocalFileSystem, p: Path) = local.pathToFile(p).toPath
  private def crc(local: LocalFileSystem, p: Path) = nio(local, local.getChecksumFile(p))

  /** Open `tmp`; closing the stream completes its sidecar as
    * `ChecksumFileSystem` writes it: magic `crc\0`, the bytes-per-checksum
    * int, then one big-endian CRC32 per chunk. */
  def create(local: LocalFileSystem, tmp: Path): OutputStream = new OutputStream {
    private val perSum = local.getBytesPerSum
    private val body = new BufferedOutputStream(Files.newOutputStream(nio(local, tmp)), 1 << 16)
    private val sums = new DataOutputStream(
      new BufferedOutputStream(Files.newOutputStream(crc(local, tmp))))
    private val sum = new java.util.zip.CRC32()
    private var inChunk = 0
    sums.write(Array[Byte]('c', 'r', 'c', 0))
    sums.writeInt(perSum)

    private def endChunk(): Unit = { sums.writeInt(sum.getValue.toInt); sum.reset(); inChunk = 0 }
    override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      body.write(b, off, len)
      var i = off
      while (i < off + len) {
        val n = math.min(off + len - i, perSum - inChunk)
        sum.update(b, i, n); inChunk += n; i += n
        if (inChunk == perSum) endChunk()
      }
    }
    override def flush(): Unit = body.flush()
    override def close(): Unit =
      try { if (inChunk > 0) endChunk(); body.close() } finally sums.close()
  }

  /** Move `tmp` and its sidecar to `target`: an overwrite deletes the
    * target's sidecar, renames the body, then the sidecar, so a crash
    * between the two renames leaves the new body readable unverified, never
    * paired with the old sidecar; a claim is `link(2)`, false on a taken
    * name, and moves the sidecar only after the link wins. Neither temp
    * file survives. */
  def move(local: LocalFileSystem, tmp: Path, target: Path, overwrite: Boolean): Boolean =
    try {
      val won =
        if (overwrite) {
          Files.deleteIfExists(crc(local, target))
          Files.move(nio(local, tmp), nio(local, target), ATOMIC_MOVE); true
        }
        else try { Files.createLink(nio(local, target), nio(local, tmp)); true }
        catch { case _: FileAlreadyExistsException => false }
      if (won) Files.move(crc(local, tmp), crc(local, target), ATOMIC_MOVE)
      won
    } finally discard(local, tmp)
  private def discard(local: LocalFileSystem, tmp: Path): Unit = {
    Files.deleteIfExists(nio(local, tmp)); Files.deleteIfExists(crc(local, tmp))
  }

  /** Write `body` to `tmp`, then [[move]] it to `target`. */
  def publish(local: LocalFileSystem, tmp: Path, target: Path,
      body: Array[Byte], overwrite: Boolean): Boolean = {
    try { val out = create(local, tmp); try out.write(body) finally out.close() }
    catch { case e: Throwable => discard(local, tmp); throw e }
    move(local, tmp, target, overwrite)
  }

  /** Create `dir` and its parents unless it is a directory (or a link to one). */
  def mkdirs(local: LocalFileSystem, dir: Path): Unit =
    if (!Files.isDirectory(nio(local, dir))) Files.createDirectories(nio(local, dir))
}

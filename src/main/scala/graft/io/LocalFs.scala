package graft.io

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row}

/** The engine's one DataFrame sink. Every path write goes through
  * [[LocalFs.write]], which sends `file:` paths to
  * [[NioLocalFileSystem]]; other schemes are untouched.
  *
  * Why: without libhadoop, Hadoop's `RawLocalFileSystem.setPermission`
  * forks `chmod` through `Shell.execCommand`, and a Spark write sets the
  * permission of every file, `.crc` file and directory it makes. A
  * 48-file partitioned gold write forks about 160 processes, most inside
  * its one write task. [[NioRawLocalFileSystem]] sets the same bits with
  * `Files.setPosixFilePermissions` instead, in process.
  *
  * The settings ride on each write rather than on the session: sessions
  * the engine does not build must get them too, and Hadoop caches
  * `FileSystem`s by scheme, authority and user, not by conf, so
  * `fs.file.impl` takes effect only with the cache off for the write. */
object LocalFs {

  def write(df: DataFrame): DataFrameWriter[Row] =
    df.write
      .option("fs.file.impl", classOf[NioLocalFileSystem].getName)
      .option("fs.file.impl.disable.cache", "true")
}

/** Hadoop's checksummed local file system over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `RawLocalFileSystem` whose `setPermission` is one `chmod` system call
  * through java.nio. A sticky bit (which java.nio cannot express) or a
  * store without POSIX attributes goes to Hadoop's own implementation. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val mode = permission.toShort
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // values() runs OWNER_READ … OTHERS_EXECUTE: mode bits 8 down to 0
      PosixFilePermission.values.zipWithIndex.foreach { case (b, i) =>
        if ((mode & (0x100 >> i)) != 0) perms.add(b)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch {
        case _: UnsupportedOperationException => super.setPermission(p, permission)
      }
    }
}

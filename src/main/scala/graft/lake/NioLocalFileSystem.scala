package graft.lake

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system (`.crc` sidecars and all) whose
  * raw layer sets permission bits in-process. Without libhadoop — stock
  * Spark ships none — `RawLocalFileSystem.setPermission` forks a `chmod`
  * process for every file, `.crc` sidecar and directory it creates (~66
  * forks per 16-bucket staging commit). This one sets the same mode bits
  * (already umask-applied by the caller) with java.nio, and falls back to
  * Hadoop's own path for the sticky bit, which nio cannot express, and for
  * a file store without POSIX attributes.
  *
  * It is handed to a single write through [[writeOptions]], never
  * installed globally: Hadoop caches one file system per scheme, so the
  * option set also bypasses that cache for the write's own lookups. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** DataFrameWriter options that route a write's `file:` paths here. */
  val writeOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else try Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString)) // "rwxr-x---"
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }
}

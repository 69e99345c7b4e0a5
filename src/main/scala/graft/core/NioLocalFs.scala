package graft.core

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

/**
 * The `file:` file system every library file write
 * (`GraftBridge.writeFiles`) writes through.
 *
 * Without `libhadoop`, Hadoop's `RawLocalFileSystem.setPermission` runs
 * `chmod` as a child process, and a local write calls it for every
 * directory `mkdirs` creates and for every file it creates (data file,
 * `.crc`, `_SUCCESS`): about 20 process spawns per partitioned lake write,
 * each ≥0.9 ms from a large JVM. [[NioRawLocalFileSystem]] sets the same
 * permission bits through `java.nio` in-process; [[NioLocalFileSystem]]
 * keeps Hadoop's checksum layer, so the on-disk layout (`.crc` files
 * included) is the stock one.
 *
 * `GraftBridge.writeFiles` passes [[options]]. The keys are
 * scheme-specific, so a write to `hdfs://` or `s3a://` is untouched.
 * `FileSystem.CACHE` keys instances by scheme, authority and user, not by
 * configuration, so the NIO class only takes effect with the cache
 * disabled for `file:`.
 */
object NioLocalFs {
  val options: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** The POSIX permission set of the low nine (rwx) bits of `mode`. */
  private[core] def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    // the enum declares OWNER_READ … OTHERS_EXECUTE: mode bits 8 down to 0
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (0x100 >> i)) != 0) s.add(p)
    }
    s
  }
}

/**
 * `RawLocalFileSystem` that sets permissions in-process. Modes with bits
 * beyond rwx (setuid, setgid, sticky), which `java.nio` cannot express, and
 * file stores without POSIX attributes go through the stock path.
 */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission) // 0x1ff = 0777
    else {
      try Files.setPosixFilePermissions(pathToFile(p).toPath, NioLocalFs.posix(mode))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }
}

/** The checksummed `file:` file system over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

package graft.sources

import java.nio.file.{Files, StandardCopyOption}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, LocalFileSystem,
  Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The filesystem every graftbackup write goes through (sink commits,
  * task writers, manifest and stamp records, the batch operators'
  * metadata and retention writes), and streaming checkpoint files
  * through [[WriteFsCheckpointFileManager]].
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` forks a
  * `chmod` process (`Shell.execCommand`), and Hadoop calls it for every
  * file create and every new directory — two or more processes per
  * chunk once the `.crc` sidecar is counted. For a path whose innermost
  * raw filesystem is exactly `RawLocalFileSystem`, [[forPath]] returns
  * a fresh `LocalFileSystem` over [[NioPermissionFileSystem]], which
  * sets the same mode bits in-process. `.crc` sidecars are still
  * written and checked. Any other filesystem — HDFS, object stores,
  * local subclasses — is returned exactly as `path.getFileSystem(conf)`
  * resolves it. */
object WriteFs {
  def forPath(path: Path, conf: Configuration): FileSystem = {
    val fs = path.getFileSystem(conf)
    if (innermost(fs).getClass == classOf[RawLocalFileSystem] &&
        fs.makeQualified(path).toUri.getScheme == "file") {
      val local = new NioLocalFileSystem
      local.initialize(fs.getUri, conf)
      local
    } else fs
  }

  /** Unwraps `FilterFileSystem` layers (`ChecksumFileSystem`, Hive's
    * proxy local filesystem) down to the filesystem that does the I/O. */
  private[sources] def innermost(fs: FileSystem): FileSystem = fs match {
    case f: FilterFileSystem if f.getRawFileSystem ne f =>
      innermost(f.getRawFileSystem)
    case other => other
  }
}

/** `LocalFileSystem` over [[NioPermissionFileSystem]]. Like HDFS (and
  * Hive's proxy local filesystem, which `file:` resolves to when Hive is
  * on the classpath), a rename never replaces an existing file: the
  * sink's publish and record writes rely on a failed rename to detect a
  * taken destination. */
private[sources] final class NioLocalFileSystem
    extends LocalFileSystem(new NioPermissionFileSystem) {
  override def rename(src: Path, dst: Path): Boolean =
    !isFile(dst) && super.rename(src, dst)

  /** Moves file `src` onto `dst`, replacing any file there with one
    * rename(2), then moves its `.crc` sidecar. The target's old sidecar
    * goes first: a reader between the steps finds a file without a
    * sidecar, which reads unchecked, never one checked against another
    * file's sums. */
  def replace(src: Path, dst: Path): Unit = {
    def local(p: Path) = pathToFile(p).toPath
    val srcCrc = local(getChecksumFile(src))
    val dstCrc = local(getChecksumFile(dst))
    Files.deleteIfExists(dstCrc)
    Files.move(local(src), local(dst), StandardCopyOption.ATOMIC_MOVE)
    if (Files.exists(srcCrc))
      Files.move(srcCrc, dstCrc, StandardCopyOption.ATOMIC_MOVE): Unit
  }
}

/** `RawLocalFileSystem` whose `setPermission` sets the nine
  * owner/group/other bits with `Files.setPosixFilePermissions` instead
  * of a forked `chmod`. Modes NIO cannot express (the sticky bit) and
  * filesystems without POSIX attributes take Hadoop's own path. */
private[sources] class NioPermissionFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // values() runs OWNER_READ .. OTHERS_EXECUTE, i.e. bits 8 .. 0
      PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
        if ((mode & (1 << (8 - i))) != 0) perms.add(perm)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms): Unit
      catch {
        case _: UnsupportedOperationException =>
          super.setPermission(p, permission)
      }
    }
  }
}

package graft.sources

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system without child processes.
  *
  * Without libhadoop, `RawLocalFileSystem` runs `chmod` as a child process
  * for every create or mkdir that carries a permission, and its
  * `getFileLinkStatus` runs `readlink` — which `FileContext.rename` calls
  * 2–4 times per file. On small streaming epochs (an offset-log entry, a
  * commit-log entry and one state-store delta per partition) those
  * process starts were most of the commit time. Both calls are answered
  * here through java.nio, with the stock result; the rare case nio cannot
  * mirror (a sticky bit, a real symlink) still goes to the stock code.
  *
  * `GraftSession.configure` registers both faces for the `file` scheme:
  * [[ForklessLocalFileSystem]] for the `FileSystem` API (format writers,
  * commit protocol, `DerivedLayouts`) and [[ForklessLocalFs]] for the
  * `FileContext` API (Spark's checkpoint file manager: offset logs,
  * commit logs, state-store deltas). Every other scheme keeps Hadoop's
  * classes. */
class ForklessRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort.toInt
    if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      // PosixFilePermission's ordinals run owner-read (bit 8) down to
      // others-execute (bit 0)
      val perms = new java.util.HashSet[PosixFilePermission]()
      PosixFilePermission.values.foreach { x =>
        if ((bits & (1 << (8 - x.ordinal))) != 0) perms.add(x)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }
  }

  /** Stock runs `readlink` on `new File(f.toString)` — for a qualified
    * `file:/…` path a name that never exists — and returns
    * `getFileStatus(f)` when it prints nothing. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed local file system over the raw one. */
class ForklessLocalFileSystem extends LocalFileSystem(new ForklessRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` shape over
  * [[ForklessRawLocalFileSystem]]. */
class ForklessLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForklessRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` overrides, over the fork-free raw file system. */
class ForklessRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForklessRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

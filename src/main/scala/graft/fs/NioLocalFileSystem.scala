package graft.fs

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without a child process per call.
  *
  * Without the native Hadoop library (`libhadoop.so`, absent from the
  * Spark distribution this engine runs on) `RawLocalFileSystem` starts a
  * shell for every `chmod` — each new directory and each new file,
  * `.crc` sidecars included — and for every symlink probe: a `readlink`
  * per `FileContext.rename`, which is how every streaming checkpoint file
  * (offset and commit logs, state-store deltas, metadata) is committed.
  * One stream-ingest benchmark run (sf0.01) started 1,474 such processes,
  * most of them on stream execution and checkpoint-writer threads.
  *
  * This subclass does the same two things through `java.nio`:
  *  - [[setPermission]] sets the same nine mode bits with
  *    `Files.setPosixFilePermissions`. A sticky bit, which that call cannot
  *    express, and a store without a POSIX view fall back to `super`.
  *  - [[getFileLinkStatus]] is [[getFileStatus]] for anything that is not
  *    a symlink, which is what `super` returns for it after its probe; a
  *    real symlink still goes to `super`.
  * Everything else — umask application, checksums, rename — is Hadoop's
  * own, so checkpoint atomicity and the crash contract do not change.
  *
  * Registered for the `file:` scheme by `core-site.xml` on the classpath,
  * which every Hadoop `Configuration` reads, as [[NioLocalFileSystem]]
  * (`FileSystem`) and [[NioLocalFs]] (`FileContext`). */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      // Bit 8 (owner read) down to bit 0 (others execute), as `chmod` reads them.
      val rwx = (8 to 0 by -1).map(i => if ((mode >> i & 1) != 0) "rwx"((8 - i) % 3) else '-')
      try Files.setPosixFilePermissions(nio(p), PosixFilePermissions.fromString(rwx.mkString))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }

  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(nio(p))) super.getFileLinkStatus(p) else getFileStatus(p)

  private def nio(p: Path): JPath = pathToFile(p).toPath
}

/** `fs.file.impl`: the checksummed `LocalFileSystem` over
  * [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `FileContext` raw layer over [[NioRawLocalFileSystem]]; the same
  * overrides as Hadoop's `RawLocalFs`, whose constructors are not public. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1 // no port in file:///
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  // Local names are validated by the OS, as in RawLocalFs.
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: checksums over [[NioRawLocalFs]],
  * as Hadoop's `LocalFs` wraps `RawLocalFs`. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))

package graft.sources

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.LinkOption.NOFOLLOW_LINKS
import java.nio.file.attribute.{BasicFileAttributes, PosixFileAttributes, PosixFilePermissions}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus,
  FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` filesystem without subprocesses.
  *
  * Without the Hadoop native library, `RawLocalFileSystem` forks a shell
  * command for two things every lake, parquet and checkpoint write does:
  * `chmod` in `setPermission` (every created file and directory, `.crc`
  * sidecars included) and `readlink` in `getFileLinkStatus` /
  * `getLinkTarget` (four per `FileContext.rename`: two from
  * `AbstractFileSystem.renameInternal`, two from `FileSystem.rename(src,
  * dst, opts)`). [[Raw]] answers both through `java.nio.file`; everything
  * else, and every byte, `.crc` sidecar and permission bit, is Hadoop's.
  *
  * [[Checksummed]] (FileSystem API) and [[Context]] (FileContext API, the
  * streaming checkpoint path) wrap it exactly as Hadoop's `LocalFileSystem`
  * and `local.LocalFs` wrap the stock class, so checksums stay on.
  * [[install]] binds both to `file:` on one Hadoop configuration.
  */
object LocalFs {

  private val FileImpl = "fs.file.impl"
  private val ContextImpl = "fs.AbstractFileSystem.file.impl"
  private val LocalUri = URI.create("file:///")

  /** `RawLocalFileSystem` with its shell-outs replaced. Keeps no per-path
    * state. */
  class Raw extends RawLocalFileSystem {

    /** `chmod` via NIO. The mode arrives with the umask already applied;
      * NIO cannot set the sticky bit, so that case still goes to Hadoop. */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))

    override def getFileLinkStatus(f: Path): FileStatus = {
      val st = linkStatus(f)
      if (st.isSymlink)
        st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
      st
    }

    // unqualified target; a non-link throws "not a symbolic link" as in Hadoop
    override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

    /** Hadoop's deprecated link status with `lstat` for `readlink`: a
      * regular path gets `getFileStatus`; a symlink gets its target's
      * length, times, permission, owner and group (Hadoop's `ls -ld` runs
      * on the canonical path); a dangling one gets Hadoop's placeholder.
      * Hadoop runs `readlink` on `f.toString`, so a scheme-qualified
      * symlink reads as its target there; here both spellings are links. */
    private def linkStatus(f: Path): FileStatus = {
      val file = pathToFile(f).toPath
      val isLink =
        try Files.readAttributes(file, classOf[BasicFileAttributes], NOFOLLOW_LINKS).isSymbolicLink
        catch { case _: IOException => false }
      if (!isLink) getFileStatus(f)
      else {
        val target = new Path(Files.readSymbolicLink(file).toString)
        try {
          val t = getFileStatus(f)
          val a = Files.readAttributes(file, classOf[PosixFileAttributes])
          new FileStatus(t.getLen, false, t.getReplication, t.getBlockSize,
            t.getModificationTime, t.getAccessTime,
            FsPermission.valueOf("-" + PosixFilePermissions.toString(a.permissions)),
            a.owner.getName, a.group.getName, target, f)
        } catch {
          case _: FileNotFoundException | _: NoSuchFileException =>
            new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
        }
      }
    }
  }

  /** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over [[Raw]]. */
  class Checksummed extends LocalFileSystem(new Raw)

  /** `fs.AbstractFileSystem.file.impl`: Hadoop's `local.LocalFs` over [[Raw]]. */
  class Context(uri: URI, conf: Configuration) extends ChecksumFs(new RawContext(uri, conf))

  /** Hadoop's `local.RawLocalFs`, whose constructor is package-private. */
  private class RawContext(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, LocalUri.getScheme, false) {
    override def getServerDefaults(f: Path) = LocalConfigKeys.getServerDefaults()
    override def getServerDefaults() = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }

  /** Binds `file:` to these classes on `conf` and closes a stock instance
    * Hadoop already cached, which removes it from the cache, then caches a
    * [[Checksummed]] that every configuration shares from then on. Closing
    * runs the stock instance's delete-on-exit set, which nothing in graft
    * or the Spark paths it uses registers, and leaves it usable for any
    * holder. On Spark's classpath the stock class is Hive's
    * `ProxyLocalFileSystem`, whose `rename` also refuses an existing
    * destination file; no graft write renames onto one. Returns whether
    * this call installed; idempotent and thread-safe. */
  def install(conf: Configuration): Boolean =
    !installedOn(conf) && synchronized {
      !installedOn(conf) && {
        conf.set(ContextImpl, classOf[Context].getName)
        conf.set(FileImpl, classOf[Checksummed].getName)
        FileSystem.get(LocalUri, conf) match {
          case _: Checksummed => ()
          case stock => stock.close(); FileSystem.get(LocalUri, conf)
        }
        true
      }
    }

  private def installedOn(conf: Configuration): Boolean =
    conf.get(FileImpl) == classOf[Checksummed].getName
}

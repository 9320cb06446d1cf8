package graft

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{FileSystems, Files, InvalidPathException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FSLinkResolver, FsConstants, FsServerDefaults, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Local-filesystem helpers shared by the scratch-path management and
  * tests, and the engine's `file:` filesystem (below).
  *
  * Deletion is symlink-safe: the walk NEVER follows links
  * (walkFileTree's default — link resolution happens at visit time, not
  * via a separate check-then-list that a concurrent attacker could race),
  * so a planted link inside a world-writable tmpdir cannot redirect the
  * deletion at files outside it; the link itself is removed as a link.
  */
object LocalFs {

  import java.nio.file.{FileVisitResult, Path, SimpleFileVisitor}
  import java.nio.file.attribute.BasicFileAttributes

  /** BEST-EFFORT: an undeletable entry (foreign file under a sticky-bit
    * /tmp, a dir left non-empty by one) is skipped, never thrown — a
    * cleanup failure must not fail the query or test that triggered it.
    */
  def deleteRecursively(f: java.io.File): Unit = {
    def quietly(p: Path): Unit =
      try { Files.deleteIfExists(p); () }
      catch { case _: java.io.IOException => () }
    if (!f.exists() && !Files.isSymbolicLink(f.toPath)) return
    try {
      Files.walkFileTree(f.toPath, new SimpleFileVisitor[Path] {
        override def visitFile(p: Path, a: BasicFileAttributes)
            : FileVisitResult = {
          quietly(p); FileVisitResult.CONTINUE
        }
        override def visitFileFailed(p: Path, e: java.io.IOException)
            : FileVisitResult = FileVisitResult.CONTINUE
        override def postVisitDirectory(p: Path, e: java.io.IOException)
            : FileVisitResult = {
          quietly(p); FileVisitResult.CONTINUE
        }
      })
      ()
    } catch { case _: java.io.IOException => () }
  }

  /** The session settings that make [[NioLocalFileSystem]] and
    * [[NioLocalFs]] the `file:` filesystem of every Hadoop
    * configuration Spark derives (`GraftSession.configure`).
    */
  val fileSystemConf: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
      classOf[NioLocalFs].getName)

  private val hasUnixView =
    FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  /** `PosixFilePermission` set of each of the 512 rwx modes. */
  private val rwxSets: Array[java.util.Set[PosixFilePermission]] = {
    val order = PosixFilePermission.values // OWNER_READ .. OTHERS_EXECUTE
    Array.tabulate(512) { mode =>
      val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      order.indices.foreach { i =>
        if ((mode & (1 << (8 - i))) != 0) s.add(order(i))
      }
      java.util.Collections.unmodifiableSet(s)
    }
  }

  /** `chmod <mode> <canonical path>` in-process, as `RawLocalFileSystem`
    * runs it without libhadoop. Returns false, having changed nothing,
    * where a permission set cannot say the same: a mode with the sticky
    * bit, a target that carries setuid/setgid (GNU chmod keeps those on
    * a directory for a 4-digit octal mode, chmod(2) clears them), or a
    * filesystem without unix attributes. Follows symlinks, as chmod does;
    * a missing target throws `NoSuchFileException`.
    */
  private[graft] def nioChmod(p: java.nio.file.Path, mode: Int): Boolean =
    if ((mode & ~0x1FF) != 0 || !hasUnixView) false
    else try {
      val cur = Files.getAttribute(p, "unix:mode").asInstanceOf[Integer]
      if ((cur & 0xC00) != 0) false
      else { Files.setPosixFilePermissions(p, rwxSets(mode)); true }
    } catch { case _: UnsupportedOperationException => false }

  /** `FileUtil.readLink` without the `readlink` process: the link's
    * target as `readlink <f>` prints it (trimmed), or "" when `f` is not
    * a symlink or cannot be read.
    */
  private[graft] def readLink(f: File): String =
    try {
      val p = f.toPath
      if (Files.isSymbolicLink(p)) Files.readSymbolicLink(p).toString.trim
      else ""
    } catch { case _: IOException | _: InvalidPathException => "" }
}

/** Hadoop's `RawLocalFileSystem` with the two calls that start an
  * external process when libhadoop is not loaded done with
  * `java.nio.file` instead:
  *  - `setPermission` ran `chmod` for every file and directory created,
  *    `.crc` files included;
  *  - `getFileLinkStatus` ran `readlink` inside every `FileContext`
  *    rename, the atomic commit of every streaming offset, commit and
  *    state-store changelog file.
  * Everything else, and the results of both, are Hadoop's. A mode NIO
  * cannot express goes to Hadoop's own `chmod` ([[LocalFs.nioChmod]]).
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (!LocalFs.nioChmod(pathToFile(p).toPath, permission.toShort & 0xFFFF))
      super.setPermission(p, permission)

  override def getFileLinkStatus(f: Path): FileStatus = {
    val fi = linkStatus(f)
    if (fi.isSymlink) fi.setSymlink(
      FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** Hadoop's `deprecatedGetFileLinkStatusInternal`, line for line. It
    * reads the link of `new File(f.toString)`: for a qualified `file:/…`
    * path that names no file, so such a path always reads as its
    * target's status, exactly as Hadoop's does.
    */
  private def linkStatus(f: Path): FileStatus = {
    val target = LocalFs.readLink(new File(f.toString))
    try {
      val fs = getFileStatus(f)
      if (target.isEmpty) fs
      else new FileStatus(fs.getLen, false, fs.getReplication,
        fs.getBlockSize, fs.getModificationTime, fs.getAccessTime,
        fs.getPermission, fs.getOwner, fs.getGroup, new Path(target), f)
    } catch {
      case e: FileNotFoundException =>
        // a dangling link: File.exists is false for it
        if (target.nonEmpty) new FileStatus(0, false, 0, 0, 0, 0,
          FsPermission.getDefault, "", "", new Path(target), f)
        else throw e
    }
  }
}

/** Hadoop's `LocalFileSystem` (checksummed) over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's `local.RawLocalFs` (the `AbstractFileSystem` that
  * `FileContext` uses) over [[NioRawLocalFileSystem]].
  */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  def this(conf: Configuration) = this(FsConstants.LOCAL_FS_URI, conf)
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  // the OS validates names, as in RawLocalFileSystem
  override def isValidName(src: String): Boolean = true
}

/** Hadoop's `local.LocalFs` (checksummed) over [[NioRawLocalFs]]: the
  * `FileContext` filesystem of Spark's checkpoint file manager. Like
  * Hadoop's, it ignores `uri` for `file:///`.
  */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(conf))

package graft.sources

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{FileSystems, Files, NoSuchFileException}
import java.nio.file.attribute.{FileTime, GroupPrincipal, PosixFilePermission, UserPrincipal}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FSLinkResolver,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without process spawns.
  *
  * Without the native `libhadoop` library, `RawLocalFileSystem` forks a
  * shell command for three kinds of call, each ~3 ms from a 3 GB JVM:
  *  - `setPermission` runs `chmod`, on every file `create` and every
  *    `mkdirs`;
  *  - a status's permission, owner or group runs `ls -ld`
  *    (`fs.listFiles` reads it for every `LocatedFileStatus` it builds);
  *  - `getFileLinkStatus` runs `readlink`; every FileContext `rename`
  *    calls it (streaming offset and commit logs, state-store files).
  * This class answers those calls through `java.nio.file` with the
  * results Hadoop's would give:
  *  - `setPermission`: `Files.setPosixFilePermissions`; a permission with
  *    bits beyond 0777 (sticky, setuid) falls back to Hadoop's `chmod`;
  *  - `getFileStatus` / `listStatus`: eager statuses from one attribute
  *    read that follows a symlink (Hadoop runs `ls -ld` on the canonical
  *    path), with Hadoop's permission bits: 0777 plus sticky;
  *  - `getFileLinkStatus` / `getLinkTarget`: `Files.readSymbolicLink`,
  *    on the path's string form as Hadoop reads it (so a scheme-qualified
  *    path reads as its target, as it does there).
  * Everything else is Hadoop's. [[LocalFs.FileSystemImpl]] and
  * [[LocalFs.FileContextImpl]] wrap it in Hadoop's checksummed local
  * filesystems; [[LocalFs.install]] points the `file:` scheme at them.
  */
class LocalFs extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath, LocalFs.posix(mode))
    catch { case _: NoSuchFileException => throw new FileNotFoundException(s"File $p does not exist") }
  }

  override def getFileStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    try {
      val a = Files.readAttributes(file.toPath, LocalFs.Attrs)
      def millis(k: String) = a.get(k).asInstanceOf[FileTime].toMillis
      new FileStatus(a.get("size").asInstanceOf[Long], a.get("isDirectory") == true, 1,
        getDefaultBlockSize(f), millis("lastModifiedTime"), millis("lastAccessTime"),
        new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort),
        a.get("owner").asInstanceOf[UserPrincipal].getName,
        a.get("group").asInstanceOf[GroupPrincipal].getName,
        new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
    } catch { case _: NoSuchFileException => throw new FileNotFoundException(s"File $f does not exist") }
  }

  /** Hadoop lists a directory through [[getFileStatus]] already; a file it
    * answers with a lazy status whose permission would fork.
    */
  override def listStatus(f: Path): Array[FileStatus] =
    if (pathToFile(f).isDirectory) super.listStatus(f) else Array(getFileStatus(f))

  override def getFileLinkStatus(f: Path): FileStatus = {
    val link = new File(f.toString).toPath
    if (!Files.isSymbolicLink(link)) getFileStatus(f)
    else {
      val target = new Path(Files.readSymbolicLink(link).toString)
      val st = try {
        val s = getFileStatus(f)
        new FileStatus(s.getLen, false, s.getReplication, s.getBlockSize, s.getModificationTime,
          s.getAccessTime, s.getPermission, s.getOwner, s.getGroup, target, f)
      } catch {
        case _: FileNotFoundException =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
      }
      st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, f, target))
      st
    }
  }

  override def getLinkTarget(f: Path): Path = {
    val link = new File(f.toString).toPath
    if (Files.isSymbolicLink(link)) new Path(Files.readSymbolicLink(link).toString)
    else super.getLinkTarget(f)
  }
}

object LocalFs {
  private val Attrs = "unix:mode,owner,group,size,lastModifiedTime,lastAccessTime,isDirectory"

  /** `PosixFilePermission` lists owner read .. others execute, high bit first. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (0x100 >> i)) != 0) set.add(p)
    }
    set
  }

  /** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over [[LocalFs]]. */
  final class FileSystemImpl extends LocalFileSystem(new LocalFs)

  /** `fs.AbstractFileSystem.file.impl`: Hadoop's FileContext local
    * filesystem (`local.LocalFs`) over [[LocalFs]].
    */
  final class FileContextImpl(uri: URI, conf: Configuration) extends ChecksumFs(new Raw(uri, conf))

  /** Hadoop's `local.RawLocalFs` with [[LocalFs]] as its delegate. */
  private final class Raw(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new LocalFs, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** Each key with Hadoop's default (unset or Hadoop's class) and graft's
    * class for it.
    */
  private val keys = Seq(
    ("fs.file.impl", classOf[LocalFileSystem].getName, classOf[FileSystemImpl].getName),
    ("fs.AbstractFileSystem.file.impl", classOf[org.apache.hadoop.fs.local.LocalFs].getName,
      classOf[FileContextImpl].getName))

  /** Points each of the two `file:` keys that holds Hadoop's default at
    * graft's class, reading with `get` (null when unset) and writing with
    * `set`. A key set to anything else is left alone, and so is every key
    * where `java.nio` has no `unix` attribute view.
    */
  def install(get: String => String, set: (String, String) => Unit): Unit =
    if (FileSystems.getDefault.supportedFileAttributeViews.contains("unix"))
      keys.foreach { case (k, hadoop, graft) =>
        val v = get(k)
        if (v == null || v == hadoop) set(k, graft)
      }
}

package graftbench

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{FileSystemException, Files, LinkOption, NoSuchFileException}
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermission}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The local file system the benchmark runs graft on: Hadoop's, with its
  * permission and status calls made through `java.nio` instead of child
  * processes.
  *
  * Without Hadoop's native library, `RawLocalFileSystem` forks `stat` for
  * every `getFileStatus` (so once per file of every directory listing) and
  * `chmod` for every permission it sets. A micro-batch of the CDC stream
  * lists its input directory and writes its offset, commit and data files,
  * so the stock class forks about 80 processes per batch; their cost is the
  * host's process-spawn latency, which moves with other tenants' load and
  * made the per-batch timings measure the host rather than graft. A
  * deployment with the native library, or on HDFS or an object store,
  * forks nothing either.
  *
  * Registered for the `file` scheme through both Hadoop APIs: `fs.file.impl`
  * ([[LocalFs.FileSystem]], used by reads and the data writes) and
  * `fs.AbstractFileSystem.file.impl` ([[LocalFs.Context]], used by the
  * streaming checkpoint's `FileContext`). See [[LocalFs.conf]].
  */
object LocalFs {

  /** Spark session settings that put both Hadoop APIs on this file system. */
  val conf: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[FileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[Context].getName)

  /** `RawLocalFileSystem` whose status and permission calls do not fork. */
  class Raw extends RawLocalFileSystem {

    override def getFileStatus(f: Path): FileStatus = status(f, follow = true)

    override def getFileLinkStatus(f: Path): FileStatus = {
      val st = status(f, follow = false)
      if (st.isSymlink) super.getFileLinkStatus(f) else st
    }

    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val bits = permission.toShort
      val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.foreach(x => if ((bits & bit(x)) != 0) set.add(x))
      Files.setPosixFilePermissions(pathToFile(p).toPath, set)
    }

    private def bit(x: PosixFilePermission): Int = 1 << (8 - x.ordinal)

    private def status(f: Path, follow: Boolean): FileStatus = {
      val opts = if (follow) Array.empty[LinkOption] else Array(LinkOption.NOFOLLOW_LINKS)
      val a = try Files.readAttributes(pathToFile(f).toPath, classOf[PosixFileAttributes], opts: _*)
      catch {
        case _: NoSuchFileException => missing(f)
        case e: FileSystemException if String.valueOf(e.getReason).contains("Not a directory") =>
          missing(f)
      }
      var mode = 0
      a.permissions.forEach(x => mode |= bit(x))
      val link = if (a.isSymbolicLink)
        new Path(Files.readSymbolicLink(pathToFile(f).toPath).toString) else null
      new FileStatus(a.size, a.isDirectory, 1, getDefaultBlockSize(f),
        a.lastModifiedTime.toMillis, a.lastAccessTime.toMillis, new FsPermission(mode.toShort),
        a.owner.getName, a.group.getName, link, qualified(f))
    }

    /** The path as the stock class reports it: qualified, without a
      * fragment or trailing slash. */
    private def qualified(f: Path): Path =
      new Path(f.makeQualified(getUri, getWorkingDirectory).toUri.getPath)
        .makeQualified(getUri, getWorkingDirectory)

    private def missing(f: Path): Nothing =
      throw new FileNotFoundException(s"File $f does not exist")
  }

  /** `fs.file.impl`: the checksummed local file system over [[Raw]]. */
  class FileSystem extends LocalFileSystem(new Raw)

  /** The `AbstractFileSystem` over [[Raw]], as `RawLocalFs` is over the stock class. */
  class RawContext(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    @deprecated("as in AbstractFileSystem", "")
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** `fs.AbstractFileSystem.file.impl`: checksummed, as `LocalFs` is. */
  class Context(uri: URI, conf: Configuration) extends ChecksumFs(new RawContext(uri, conf))
}

package graft.io

import java.io.File
import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, Path}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system without the shell. Spark ships Hadoop
  * without the native libhadoop, so the stock `RawLocalFileSystem` forks
  * `chmod` for every file and directory it creates and `readlink` for
  * every `getFileLinkStatus` (two per FileContext rename). A streaming
  * checkpoint writes several files per micro-batch (offset log, commit
  * log, state delta, checksum file, each with its `.crc` and each through
  * a temp file and a rename): ~130 forks per batch. These two overrides
  * do the same work in-process; every other call, checksums and rename
  * semantics included, is Hadoop's own. */
class InProcessRawLocalFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {

  // chmod(2) with the full mode, as Hadoop's `chmod %04o` does: the
  // sticky bit as asked, a directory's setuid/setgid kept, a file's cleared
  override def setPermission(p: Path, perm: FsPermission): Unit = {
    val f = pathToFile(p).toPath
    val keep = if (Files.isDirectory(f)) Files.getAttribute(f, "unix:mode").asInstanceOf[Int] & 0xc00 else 0
    Files.setAttribute(f, "unix:mode", (perm.toShort & 0x3ff) | keep)
  }

  // The shell path reads the link of `new File(f.toString)` and, when it
  // is not a link, returns exactly getFileStatus(f).
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `FileSystem` (DataFrame readers and
  * writers, `FileSystem.get(file:///)`). Without the key, Spark's jars
  * resolve `file:` to Hive's `ProxyLocalFileSystem`, a `LocalFileSystem`
  * whose one change is a rename that refuses an existing target file;
  * that rule is kept. */
class InProcessLocalFileSystem
    extends org.apache.hadoop.fs.LocalFileSystem(new InProcessRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean = !isFile(dst) && super.rename(src, dst)
}

/** `fs.AbstractFileSystem.file.impl`: the checksummed `FileContext` file
  * system (the streaming checkpoint manager, the state store), built as
  * Hadoop's `LocalFs` and `RawLocalFs` are, whose constructors are
  * package-private. */
class InProcessLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new InProcessLocalFs.Raw(uri, conf)) {
  override def getUriDefaultPort: Int = -1
}

object InProcessLocalFs {
  class Raw(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new InProcessRawLocalFileSystem, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}

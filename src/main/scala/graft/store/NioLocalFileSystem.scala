package graft.store

import java.io.FileNotFoundException
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.{FileTime, PosixFileAttributes, PosixFilePermission}

import org.apache.hadoop.fs.{FileStatus, FileUtil, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Local `file://` filesystem whose chmod, readlink and file statuses are
  * java.nio syscalls instead of forked `chmod`, `readlink` and `ls`
  * processes.
  *
  * Without libhadoop.so (NativeIO), Hadoop's RawLocalFileSystem applies
  * permissions through `Shell.execCommand("chmod", ...)` — one forked
  * process PLUS one watcher thread per created file or directory: every
  * `create` sets an explicit permission, and the checksum sidecar doubles
  * the count. Under a many-core local master this dominates file-heavy
  * work: profiled stacks of the streaming probes showed most task threads
  * RUNNABLE inside Thread.start0/forkAndExec under
  * RawLocalFileSystem.setPermission (the r21 driver measured ~70 s of
  * task time for ~6 s of CPU on the stream_neardup family, and 32 cores
  * ran 5-30x SLOWER than 8 — more partitions, more files, more forks).
  * One `Files.setPosixFilePermissions` call replaces the fork with
  * identical chmod semantics; non-POSIX stores and permission bits beyond
  * 0777 (setuid/sticky — never produced by the create/mkdir default-
  * permission paths) fall back to the inherited shell path.
  *
  * Statuses fork the same way: the stock status loads its permission,
  * owner and group lazily, by running `ls -ld` on the path, the first
  * time any of them is asked for — and `FileSystem.listFiles` asks for
  * every entry it walks (the `LocatedFileStatus` copy), so each listing
  * forked once per file, and a walk racing a writer's `_temporary`
  * cleanup failed outright (`ls` on a vanished path). [[getFileStatus]]
  * and [[listStatus]] here build EAGER statuses from one `stat` each.
  *
  * Wired as `spark.hadoop.fs.file.impl` by [[graft.GraftSession]]. Must
  * stay a [[LocalFileSystem]] subtype: `FileSystem.getLocal` casts its
  * result, and the checksum layer is part of the local-fs contract.
  */
final class NioRawLocalFileSystem extends RawLocalFileSystem {

  private var blockSize: Long = 0L

  override def initialize(uri: java.net.URI,
                          conf: org.apache.hadoop.conf.Configuration): Unit = {
    super.initialize(uri, conf)
    blockSize = getDefaultBlockSize(new Path(uri))
  }

  /** The stock status, field for field, with nothing left to load. Like
    * the stock one it describes a symlink's TARGET (`java.io.File`
    * follows links, and the stock `ls -ld` runs on the canonical path).
    * The permission keeps the sticky bit, as `FsPermission.valueOf`
    * parses it from `ls`; setuid/setgid are not part of the stock reading
    * either. None when the store has no unix attribute view (the caller
    * falls back to the stock status).
    */
  private def eagerStatus(f: Path): Option[FileStatus] = {
    val file = pathToFile(f)
    val p = file.toPath
    try {
      val a = Files.readAttributes(p, // one stat for every field
        "unix:mode,uid,gid,size,isDirectory,lastModifiedTime,lastAccessTime")
      def millis(k: String) = a.get(k).asInstanceOf[FileTime].toMillis
      val mode = a.get("mode").asInstanceOf[java.lang.Integer].intValue
      Some(new FileStatus(a.get("size").asInstanceOf[java.lang.Long].longValue,
        a.get("isDirectory") == java.lang.Boolean.TRUE, 1, blockSize,
        millis("lastModifiedTime"), millis("lastAccessTime"),
        new FsPermission((mode & 0x3ff).toShort), // 01777: rwx bits + sticky
        NioRawLocalFileSystem.owners.computeIfAbsent(
          a.get("uid").asInstanceOf[Integer], _ => Files.getOwner(p).getName),
        NioRawLocalFileSystem.groups.computeIfAbsent(
          a.get("gid").asInstanceOf[Integer],
          _ => Files.readAttributes(p, classOf[PosixFileAttributes]).group.getName),
        new Path(file.getPath).makeQualified(getUri, getWorkingDirectory)))
    } catch {
      case _: NoSuchFileException =>
        throw new FileNotFoundException(s"File $f does not exist")
      case _: UnsupportedOperationException | _: IllegalArgumentException => None
    }
  }

  override def getFileStatus(f: Path): FileStatus =
    eagerStatus(f).getOrElse(super.getFileStatus(f))

  /** The stock listing over eager statuses: a directory lists its
    * children, a file lists itself, and a child that vanishes between
    * the directory read and its `stat` is skipped, not an error.
    */
  override def listStatus(f: Path): Array[FileStatus] =
    eagerStatus(f) match {
      case None => super.listStatus(f)
      case Some(st) if !st.isDirectory => Array(st)
      case Some(_) =>
        FileUtil.list(pathToFile(f)).flatMap { name =>
          try Some(getFileStatus(new Path(f, new Path(null, null, name))))
          catch { case _: FileNotFoundException => None }
        }
    }

  /** Fork-free link status: without native Hadoop, the stock
    * implementation shells out one `readlink` PER CALL
    * (`FileUtil.readLink`) — and `FileContext.rename` consults link
    * status on every rename, so every streaming-checkpoint commit
    * (temp-file rename per offsets/commits/changelog file) forked.
    * `Files.isSymbolicLink`/`readSymbolicLink` answer the same question
    * in-process; the status assembly below mirrors the stock
    * `deprecatedGetFileLinkStatusInternal` field by field (non-link →
    * the plain dereferenced status; link → target-bearing copy;
    * dangling link → the zeroed placeholder status).
    */
  override def getFileLinkStatus(f: Path): org.apache.hadoop.fs.FileStatus = {
    val p = pathToFile(f).toPath
    val target: String =
      try {
        if (java.nio.file.Files.isSymbolicLink(p))
          java.nio.file.Files.readSymbolicLink(p).toString
        else ""
      } catch {
        case _: UnsupportedOperationException | _: SecurityException =>
          return super.getFileLinkStatus(f)
      }
    try {
      val st = getFileStatus(f)
      if (target.isEmpty) st
      else new org.apache.hadoop.fs.FileStatus(st.getLen, false,
        st.getReplication, st.getBlockSize, st.getModificationTime,
        st.getAccessTime, st.getPermission, st.getOwner, st.getGroup,
        new Path(target), f)
    } catch {
      case e: java.io.FileNotFoundException =>
        if (target.nonEmpty)
          new org.apache.hadoop.fs.FileStatus(0, false, 0, 0, 0, 0,
            FsPermission.getDefault, "", "", new Path(target), f)
        else throw e
    }
  }

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits: Int = permission.toShort & 0xffff
    // setuid/setgid/sticky cannot be expressed as PosixFilePermissions —
    // defer those (never hit by the create/mkdir defaults) to the shell
    if ((bits & ~0x1ff) != 0) { super.setPermission(p, permission); return }
    try {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // PosixFilePermission.values() runs OWNER_READ..OTHERS_EXECUTE —
      // positionally the 0400..0001 bits, high to low
      val all = PosixFilePermission.values()
      var i = 0
      while (i < 9) {
        if ((bits & (1 << (8 - i))) != 0) perms.add(all(i))
        i += 1
      }
      java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      ()
    } catch {
      case _: UnsupportedOperationException =>
        super.setPermission(p, permission)
    }
  }
}

/** The `fs.file.impl` entry point: [[LocalFileSystem]] (checksummed local
  * fs, what `FileSystem.getLocal` expects) over the fork-free raw layer.
  */
final class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

private object NioRawLocalFileSystem {
  /** uid → owner and gid → group names, resolved once per id for the
    * process: the name lookup reads the passwd/group databases and costs
    * several times the `stat` itself.
    */
  val owners, groups = new java.util.concurrent.ConcurrentHashMap[Integer, String]()
}

/** The FileContext twin ([[org.apache.hadoop.fs.AbstractFileSystem]]
  * tree): `FileContext` resolves `file://` through
  * `fs.AbstractFileSystem.file.impl`, NOT `fs.file.impl` — Spark's
  * streaming-checkpoint file managers write offsets, commits and state
  * changelogs through FileContext, so without this twin every checkpoint
  * file kept forking `chmod` (profiled: the ChecksumCheckpointFileManager
  * pool threads sat in Shell.runCommand). Mirrors
  * `org.apache.hadoop.fs.local.RawLocalFs` / `LocalFs` exactly (scheme,
  * default port, name validation, checksum layer), with the delegate
  * swapped for the fork-free raw fs. Instantiated reflectively by Hadoop
  * via the (URI, Configuration) constructor.
  */
final class NioRawLocalFs(uri: java.net.URI,
                          conf: org.apache.hadoop.conf.Configuration)
    extends org.apache.hadoop.fs.DelegateToFileSystem(
      uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl` entry point — the checksummed
  * FileContext local fs (what stock `LocalFs` is) over the fork-free raw
  * layer.
  */
final class NioLocalFs(uri: java.net.URI,
                       conf: org.apache.hadoop.conf.Configuration)
    extends org.apache.hadoop.fs.ChecksumFs(new NioRawLocalFs(uri, conf))

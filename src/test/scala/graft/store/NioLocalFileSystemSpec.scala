package graft.store

import java.nio.file.attribute.PosixFilePermission
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The fork-free local filesystem: sessions must resolve `file://` to
  * [[NioLocalFileSystem]], and its chmod must land the exact permission
  * bits the shell-exec path would — create, mkdirs, and explicit
  * setPermission all flow through the NIO override. Its statuses must
  * carry the stock statuses' fields with nothing left to load lazily.
  */
class NioLocalFileSystemSpec extends AnyFunSuite with SharedSpark {

  private def posixOf(p: String): java.util.Set[PosixFilePermission] =
    Files.getPosixFilePermissions(Paths.get(p))

  test("session file:// resolves to NioLocalFileSystem (getLocal cast intact)") {
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(new java.net.URI("file:///"), conf)
    assert(fs.isInstanceOf[NioLocalFileSystem],
      s"expected NioLocalFileSystem, got ${fs.getClass.getName}")
    // FileSystem.getLocal casts to LocalFileSystem — the subtype must fit
    assert(FileSystem.getLocal(conf).isInstanceOf[NioLocalFileSystem])
  }

  test("FileContext file:// resolves to NioLocalFs (checkpoint write path)") {
    val conf = spark.sessionState.newHadoopConf()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      new java.net.URI("file:///"), conf)
    assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs],
      s"expected NioLocalFs, got ${fc.getDefaultFileSystem.getClass.getName}")
    // and it must be writable end to end (create + rename, the checkpoint
    // manager's commit shape)
    val dir = tmpDir("graft-niofc")
    val tmp = new Path(dir, "x.tmp")
    val out = fc.create(tmp,
      java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
    out.write(Array[Byte](7)); out.close()
    fc.rename(tmp, new Path(dir, "x"))
    assert(Files.exists(Paths.get(s"$dir/x")))
  }

  test("setPermission applies exact bits via NIO (no shell)") {
    val dir = tmpDir("graft-niofs")
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(new java.net.URI("file:///"), conf)
    val f = new Path(dir, "x.bin")
    val out = fs.create(f, true)
    out.write(Array[Byte](1, 2, 3)); out.close()
    fs.setPermission(f, new FsPermission("640"))
    val got = posixOf(s"$dir/x.bin")
    assert(got.contains(PosixFilePermission.OWNER_READ))
    assert(got.contains(PosixFilePermission.OWNER_WRITE))
    assert(got.contains(PosixFilePermission.GROUP_READ))
    assert(!got.contains(PosixFilePermission.GROUP_WRITE))
    assert(!got.contains(PosixFilePermission.OTHERS_READ))
    assert(!got.contains(PosixFilePermission.OWNER_EXECUTE))
    fs.setPermission(f, new FsPermission("755"))
    val rwx = posixOf(s"$dir/x.bin")
    assert(rwx.contains(PosixFilePermission.OWNER_EXECUTE))
    assert(rwx.contains(PosixFilePermission.OTHERS_READ))
    assert(rwx.contains(PosixFilePermission.OTHERS_EXECUTE))
    assert(!rwx.contains(PosixFilePermission.GROUP_WRITE))
  }

  test("mkdirs with explicit permission flows through the override") {
    val dir = tmpDir("graft-niofs-mk")
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(new java.net.URI("file:///"), conf)
    val d = new Path(dir, "a/b")
    assert(fs.mkdirs(d, new FsPermission("750")))
    val got = posixOf(s"$dir/a/b")
    assert(got.contains(PosixFilePermission.OWNER_EXECUTE))
    assert(got.contains(PosixFilePermission.GROUP_EXECUTE))
    assert(!got.contains(PosixFilePermission.OTHERS_READ))
  }

  test("getFileLinkStatus matches stock semantics without forking") {
    val dir = tmpDir("graft-niofs-ln")
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(new java.net.URI("file:///"), conf)
    val plain = new Path(dir, "plain.txt")
    val out = fs.create(plain, true); out.write(Array[Byte](9)); out.close()
    // non-link: the dereferenced status, no symlink flag
    val st = fs.getFileLinkStatus(plain)
    assert(!st.isSymlink && st.getLen === 1L)
    // link: target carried, not a directory
    Files.createSymbolicLink(Paths.get(s"$dir/ln.txt"), Paths.get(s"$dir/plain.txt"))
    val ln = fs.getFileLinkStatus(new Path(dir, "ln.txt"))
    assert(ln.isSymlink)
    assert(ln.getSymlink.toString.endsWith("plain.txt"))
    assert(ln.getLen === 1L)
    // dangling link: placeholder status with the target, zero length
    Files.createSymbolicLink(Paths.get(s"$dir/dangle"), Paths.get(s"$dir/nope"))
    val dg = fs.getFileLinkStatus(new Path(dir, "dangle"))
    assert(dg.isSymlink && dg.getLen === 0L)
    // missing path: FileNotFoundException, as stock
    intercept[java.io.FileNotFoundException] {
      fs.getFileLinkStatus(new Path(dir, "absent"))
    }
  }

  test("parquet round-trip through the session fs") {
    val dir = tmpDir("graft-niofs-pq")
    spark.range(100).selectExpr("id", "id * 2 AS v")
      .write.mode("overwrite").parquet(s"$dir/t")
    assert(spark.read.parquet(s"$dir/t").count() === 100L)
  }

  private def sessionFs: FileSystem =
    FileSystem.get(new java.net.URI("file:///"), spark.sessionState.newHadoopConf())

  /** Stock Hadoop's raw local filesystem: its statuses shell out `ls -ld`
    * for permission, owner and group — the reference the eager statuses
    * must equal.
    */
  private def stockFs: org.apache.hadoop.fs.RawLocalFileSystem = {
    val fs = new org.apache.hadoop.fs.RawLocalFileSystem
    fs.initialize(new java.net.URI("file:///"), spark.sessionState.newHadoopConf())
    fs
  }

  private def fields(st: org.apache.hadoop.fs.FileStatus) =
    (st.getPath.toString, st.getLen, st.isDirectory, st.getModificationTime,
      st.getReplication, st.getBlockSize, st.getPermission, st.getOwner, st.getGroup)

  test("statuses match stock RawLocalFileSystem field for field") {
    val dir = tmpDir("graft-niofs-stat")
    val fs = sessionFs
    val file = new Path(dir, "x.bin")
    val out = fs.create(file, true); out.write(Array.fill[Byte](1234)(3)); out.close()
    fs.setPermission(file, new FsPermission("640"))
    val sub = new Path(dir, "sub")
    fs.mkdirs(sub, new FsPermission("750"))
    Files.createSymbolicLink(Paths.get(s"$dir/ln"), Paths.get(s"$dir/x.bin"))
    val sticky = new Path(dir, "sticky")
    fs.mkdirs(sticky)
    fs.setPermission(sticky, new FsPermission(Integer.parseInt("1777", 8).toShort))
    val stock = stockFs
    for (p <- Seq(file, sub, new Path(dir, "ln"), sticky, new Path(dir)))
      assert(fields(fs.getFileStatus(p)) == fields(stock.getFileStatus(p)), p.toString)
    assert(fs.getFileStatus(new Path(dir, "ln")).getLen === 1234L)
    assert(fs.getFileStatus(sticky).getPermission.getStickyBit)
    // listings: same entries (the checksum layer hides .crc), same fields
    val raw = new NioRawLocalFileSystem
    raw.initialize(new java.net.URI("file:///"), spark.sessionState.newHadoopConf())
    val ours = raw.listStatus(new Path(dir)).map(fields).sortBy(_._1).toSeq
    assert(ours == stock.listStatus(new Path(dir)).map(fields).sortBy(_._1).toSeq)
    assert(ours.map(_._1.split("/").last).toSet ==
      Set("x.bin", ".x.bin.crc", "sub", "ln", "sticky"))
    // a file lists as itself
    assert(raw.listStatus(file).map(fields).toSeq == Seq(fields(stock.getFileStatus(file))))
    intercept[java.io.FileNotFoundException](raw.getFileStatus(new Path(dir, "absent")))
    intercept[java.io.FileNotFoundException](raw.listStatus(new Path(dir, "absent")))
  }

  test("a status taken before its file is deleted still answers getPermission") {
    val dir = tmpDir("graft-niofs-gone")
    val fs = sessionFs
    val f = new Path(dir, "part-0.parquet")
    val out = fs.create(f, true); out.write(Array[Byte](1)); out.close()
    fs.setPermission(f, new FsPermission("644"))
    val st = fs.getFileStatus(f)
    val listed = fs.listFiles(new Path(dir), true)
    Files.delete(Paths.get(s"$dir/part-0.parquet"))
    // the stock status would shell out `ls` on the vanished path here
    assert(st.getPermission === new FsPermission("644"))
    assert(st.getOwner === System.getProperty("user.name"))
    assert(listed.hasNext && listed.next().getPermission === new FsPermission("644"))
  }

  test("listing skips a child that vanishes mid-walk instead of throwing") {
    val dir = tmpDir("graft-niofs-walk")
    val fs = sessionFs
    for (d <- Seq("a", "b", "_temporary/0"); i <- 0 until 3) {
      val out = fs.create(new Path(dir, s"$d/part-$i"), true)
      out.write(Array[Byte](1)); out.close()
    }
    // a child whose stat fails after the directory read — a dangling
    // link is exactly that, deterministically — is skipped like stock
    Files.createSymbolicLink(Paths.get(s"$dir/gone"), Paths.get(s"$dir/never"))
    assert(!sessionFs.listStatus(new Path(dir)).exists(_.getPath.getName == "gone"))
    // a walk whose pending directories are removed (a writer's
    // `_temporary` cleanup) goes on with the rest
    val rootPath = Paths.get(dir).toString
    def topOf(p: Path): String =
      p.toUri.getPath.stripPrefix(rootPath + "/").takeWhile(_ != '/')
    val it = fs.listFiles(new Path(dir), true)
    val first = it.next().getPath
    Seq("a", "b", "_temporary").filter(_ != topOf(first))
      .foreach(d => fs.delete(new Path(dir, d), true))
    val rest = Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath).toList
    assert(rest.size == 2 && rest.forall(topOf(_) == topOf(first)),
      rest.mkString(", "))
  }
}

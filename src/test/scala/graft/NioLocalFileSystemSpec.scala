package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FSDataInputStream, FileContext, FileStatus,
  FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.{FsCreateModes, FsPermission}

import graft.sources.{NioChecksumFileSystem, NioLocalFileSystem, NioLocalFs}

/** [[NioLocalFileSystem]] against Hadoop's stock local file system: every
  * case runs the same calls on both and compares what they leave on disk
  * and what they return.
  */
class NioLocalFileSystemSpec extends SparkSpecBase {

  private val root = URI.create("file:///")

  private def raw(fs: RawLocalFileSystem, umask: String): FileSystem = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(root, conf)
    fs
  }
  private def stockRaw(umask: String = "022") = raw(new RawLocalFileSystem, umask)
  private def nioRaw(umask: String = "022") = raw(new NioLocalFileSystem, umask)

  private def checksummed(fs: LocalFileSystem): FileSystem = { fs.initialize(root, new Configuration()); fs }

  // LocalFileSystem answers a checksum failure by moving the file to a
  // bad_files directory as high up its device as it may write; these two
  // keep it where it is so the spec writes only under its temp dirs
  private def stockChecksummed = checksummed(new LocalFileSystem(new RawLocalFileSystem) {
    override def reportChecksumFailure(p: Path, in: FSDataInputStream, inPos: Long,
        sums: FSDataInputStream, sumsPos: Long): Boolean = false
  })
  private def nioChecksummed = checksummed(new NioChecksumFileSystem {
    override def reportChecksumFailure(p: Path, in: FSDataInputStream, inPos: Long,
        sums: FSDataInputStream, sumsPos: Long): Boolean = false
  })

  private def fileContext(impl: Option[String]): FileContext = {
    val conf = new Configuration()
    impl.foreach(conf.set("fs.AbstractFileSystem.file.impl", _))
    FileContext.getFileContext(root, conf)
  }

  private def tmp(tag: String) = Files.createTempDirectory(s"graft_niofs_$tag")

  /** Permission bits with the sticky/setuid/setgid bits, read without Hadoop. */
  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Every field of a status, or the exception's class and message. */
  private def outcome(status: => FileStatus): Either[(Class[_], String), Seq[Any]] =
    Try(status).toEither.left.map(e => (e.getClass, e.getMessage)).map { s =>
      Seq(s.getPath, s.getLen, s.isFile, s.isDirectory, s.isSymlink,
        if (s.isSymlink) s.getSymlink else null, s.getModificationTime, s.getAccessTime,
        s.getReplication, s.getBlockSize, s.getPermission, s.getOwner, s.getGroup)
    }

  test("create and mkdirs leave the stock permission bits under the umask") {
    for ((umask, file, dir) <- Seq(("022", 0x1a4, 0x1ed), ("077", 0x180, 0x1c0))) { // 0644/0755, 0600/0700
      val modes = Seq(stockRaw(umask), nioRaw(umask)).map { fs =>
        val d = tmp("perm")
        val f = new Path(d.toString, "f")
        fs.create(f).close()
        assert(fs.mkdirs(new Path(d.toString, "a/b")))
        (mode(d.resolve("f")), mode(d.resolve("a")), mode(d.resolve("a/b")))
      }
      assert(modes.distinct == Seq((file, dir, dir)), s"umask $umask: stock vs nio $modes")
    }
  }

  test("a sticky-bit request takes the stock path and sets the bit") {
    val modes = Seq(stockRaw(), nioRaw()).map { fs =>
      val d = tmp("sticky")
      fs.setPermission(new Path(d.toString), new FsPermission(0x3ff.toShort)) // 01777
      mode(d)
    }
    assert(modes == Seq(0x3ff, 0x3ff))
  }

  test("an FsCreateModes permission (FileContext's masked mode) sets its masked bits") {
    val perm = FsCreateModes.applyUMask(new FsPermission(0x1ff.toShort), new FsPermission(0x12.toShort))
    assert(perm.isInstanceOf[FsCreateModes] && !perm.toString.startsWith("rwx"))
    val modes = Seq(stockRaw(), nioRaw()).map { fs =>
      val d = tmp("masked")
      fs.setPermission(new Path(d.toString), perm)
      mode(d)
    }
    assert(modes == Seq(0x1ed, 0x1ed)) // 0777 under umask 022
  }

  test("FileStatus of a file, a directory, symlinks and a missing path equals the stock one") {
    val d = tmp("status")
    Files.write(d.resolve("file"), "abc".getBytes(UTF_8))
    Files.createDirectory(d.resolve("dir"))
    Files.createSymbolicLink(d.resolve("link"), d.resolve("file"))
    Files.createSymbolicLink(d.resolve("dangling"), d.resolve("gone"))
    val (stock, nio) = (stockRaw(), nioRaw())
    for (name <- Seq("file", "dir", "link", "dangling", "missing");
         p <- Seq(new Path(d.resolve(name).toString), stock.makeQualified(new Path(d.resolve(name).toString)))) {
      assert(outcome(nio.getFileLinkStatus(p)) == outcome(stock.getFileLinkStatus(p)), s"link status of $p")
      assert(outcome(nio.getFileStatus(p)) == outcome(stock.getFileStatus(p)), s"status of $p")
    }
    val link = nio.getFileLinkStatus(new Path(d.resolve("dangling").toString))
    assert(link.isSymlink && link.getSymlink.toUri.getPath == d.resolve("gone").toString)
    assert(outcome(nio.getFileLinkStatus(new Path(d.resolve("missing").toString)))
      .left.exists(_._1 == classOf[FileNotFoundException]))
  }

  test("FileContext rename with OVERWRITE leaves the same files as LocalFs") {
    def write(fc: FileContext, p: Path, s: String): Unit = {
      val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      try out.write(s.getBytes(UTF_8)) finally out.close()
    }
    def read(fc: FileContext, p: Path): String = {
      val in = fc.open(p)
      try new String(in.readAllBytes(), UTF_8) finally in.close()
    }
    val results = Seq(fileContext(None), fileContext(Some(classOf[NioLocalFs].getName))).map { fc =>
      val d = tmp("rename")
      val (src, dst, fresh) = (new Path(d.toString, "src"), new Path(d.toString, "dst"), new Path(d.toString, "fresh"))
      write(fc, src, "new")
      write(fc, dst, "old")
      val refused = Try(fc.rename(src, dst)).failed.map(_.getClass.getSimpleName).getOrElse("")
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      fc.rename(dst, fresh, Options.Rename.OVERWRITE) // onto a missing path
      (fc.getDefaultFileSystem.getClass, refused, read(fc, fresh), Files.list(d).toArray.map(_.toString.stripPrefix(d.toString)).sorted.toSeq)
    }
    assert(results.map(_._1) == Seq(classOf[LocalFs], classOf[NioLocalFs]))
    assert(results.map(_.productIterator.drop(1).toSeq).distinct.size == 1, s"stock vs nio $results")
    assert(results.head._2 == "FileAlreadyExistsException")
    assert(results.head._3 == "new" && results.head._4 == Seq("/.fresh.crc", "/fresh"))
  }

  test("checksums are written and a corrupted byte fails the read, through both APIs") {
    def corruptAndRead(d: java.nio.file.Path, open: Path => java.io.InputStream): Unit = {
      assert(Files.exists(d.resolve(".f.crc")), "the checksum file is written")
      val bytes = Files.readAllBytes(d.resolve("f"))
      bytes(100) = (bytes(100) ^ 1).toByte
      Files.write(d.resolve("f"), bytes)
      val in = open(new Path(d.resolve("f").toString))
      try intercept[ChecksumException](in.readAllBytes()) finally in.close()
    }
    val payload = Array.tabulate[Byte](4096)(_.toByte)
    for (fs <- Seq(stockChecksummed, nioChecksummed)) {
      val d = tmp("crc")
      val out = fs.create(new Path(d.resolve("f").toString))
      try out.write(payload) finally out.close()
      corruptAndRead(d, p => fs.open(p))
    }
    for (fc <- Seq(fileContext(None), fileContext(Some(classOf[NioLocalFs].getName)))) {
      val d = tmp("crcfc")
      val out = fc.create(new Path(d.resolve("f").toString), java.util.EnumSet.of(CreateFlag.CREATE))
      try out.write(payload) finally out.close()
      // with a buffer size: FileContext.open(p) goes through FilterFs straight
      // to the raw layer and checks no checksum, for LocalFs too
      corruptAndRead(d, p => fc.open(p, 4096))
    }
  }

  test("the session resolves file: to the graft classes for FileSystem and FileContext") {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(root, conf)
    assert(fs.getClass == classOf[NioChecksumFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass == classOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(conf).getClass == classOf[NioChecksumFileSystem])
    assert(FileContext.getFileContext(root, conf).getDefaultFileSystem.getClass == classOf[NioLocalFs])
    val p = new Path(Paths.get(tmp("session").toString, "x").toString)
    assert(p.getFileSystem(conf).getClass == classOf[NioChecksumFileSystem])
  }
}

package graft

import java.io.{File, FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermission
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileStatus, FileSystem,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}

/** `graft.io`'s local file system answers exactly as Hadoop's stock one
  * does: the same statuses, the same modes on disk, the same `.crc`
  * siblings and checksum failures. Only the way it gets there differs
  * (no `chmod`/`ls`/`readlink` process per call). */
class NioLocalFileSystemSpec extends AnyFunSuite {
  private val conf = new Configuration()
  private val root = URI.create("file:///")
  private def init[F <: FileSystem](fs: F): F = { fs.initialize(root, conf); fs }
  private val stock = init(new RawLocalFileSystem)
  private val nio = init(new NioRawLocalFileSystem)

  /** file `f`, directory `d` holding `c`, a link to each, a dangling link. */
  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft_niofs")
    Files.write(d.resolve("f"), Array.fill[Byte](1234)(7))
    Files.createDirectory(d.resolve("d"))
    Files.write(d.resolve("d").resolve("c"), Array[Byte](1, 2, 3))
    Files.createSymbolicLink(d.resolve("lf"), d.resolve("f"))
    Files.createSymbolicLink(d.resolve("ld"), Paths.get("d")) // relative target
    Files.createSymbolicLink(d.resolve("dangling"), d.resolve("gone"))
    d.toString
  }
  private val names = Seq("f", "d", "d/c", "lf", "ld", "dangling", "missing")
  /** Each name both as a plain absolute path and qualified with `file:`. */
  private def paths: Seq[Path] = names.flatMap { n =>
    val p = new Path(s"$dir/$n")
    Seq(p, p.makeQualified(root, new Path("/")))
  }

  private def fields(s: FileStatus): Seq[(String, Any)] = Seq(
    "len" -> s.getLen, "isDirectory" -> s.isDirectory, "isSymlink" -> s.isSymlink,
    "symlink" -> (if (s.isSymlink) s.getSymlink else null),
    "permission" -> s.getPermission, "owner" -> s.getOwner, "group" -> s.getGroup,
    "modificationTime" -> s.getModificationTime, "accessTime" -> s.getAccessTime,
    "replication" -> s.getReplication, "blockSize" -> s.getBlockSize, "path" -> s.getPath)

  /** Runs `op` on both file systems: both throw `FileNotFoundException`,
    * or both return statuses that agree field by field. */
  private def agree(what: String, p: Path)(op: FileSystem => Seq[FileStatus]): Unit = {
    def run(fs: FileSystem) = try Right(op(fs).map(fields)) catch {
      case e: FileNotFoundException => Left(e.getClass)
    }
    val want = run(stock)
    val got = run(nio)
    assert(got == want, s"$what($p): stock $want, nio $got")
  }

  test("getFileStatus, getFileLinkStatus and listStatus agree with RawLocalFileSystem") {
    paths.foreach { p =>
      agree("getFileStatus", p)(fs => Seq(fs.getFileStatus(p)))
      agree("getFileLinkStatus", p)(fs => Seq(fs.getFileLinkStatus(p)))
      agree("listStatus", p)(fs => fs.listStatus(p).toSeq)
    }
    // the fixture reaches every branch: links seen as links, the
    // dangling one included, and missing paths on both sides
    val link = new Path(s"$dir/dangling")
    assert(nio.getFileLinkStatus(link).isSymlink)
    assert(nio.getLinkTarget(link) == stock.getLinkTarget(link))
    assert(nio.getLinkTarget(new Path(s"$dir/ld")) == new Path("d"))
    Seq("missing", "dangling").foreach { n =>
      intercept[FileNotFoundException](nio.getFileStatus(new Path(s"$dir/$n")))
      intercept[FileNotFoundException](stock.getFileStatus(new Path(s"$dir/$n")))
    }
    intercept[FileNotFoundException](nio.listStatus(new Path(s"$dir/missing")))
    intercept[FileNotFoundException](nio.getFileLinkStatus(new Path(s"$dir/missing")))
  }

  test("setPermission leaves exactly the requested bits for every mode 0000-0777") {
    val p = new Path(s"$dir/modes")
    Files.write(Paths.get(p.toString), Array[Byte](0))
    try (0 until 512).foreach { mode =>
      nio.setPermission(p, new FsPermission(mode.toShort))
      val want = PosixFilePermission.values.filter(b => (mode & (0x100 >> b.ordinal)) != 0).toSet
      val got = Files.getPosixFilePermissions(Paths.get(p.toString)).asScala.toSet
      assert(got == want, f"mode $mode%04o")
      assert(nio.getFileStatus(p).getPermission.toShort == mode, f"mode $mode%04o read back")
    } finally nio.setPermission(p, new FsPermission(0x1a4.toShort)) // 0644
  }

  test("a mode outside 0777 (the sticky bit) goes to the stock setPermission unchanged") {
    val p = new Path(s"$dir/sticky")
    Files.createDirectory(Paths.get(p.toString))
    nio.setPermission(p, new FsPermission(0x3ed.toShort)) // 01755
    val mode = Files.getAttribute(Paths.get(p.toString), "unix:mode").asInstanceOf[Int] & 0xfff
    assert(mode == 0x3ed, f"on disk $mode%04o, want 1755")
    assert(nio.getFileStatus(p).getPermission == stock.getFileStatus(p).getPermission)
    assert(nio.getFileStatus(p).getPermission.getStickyBit)
  }

  test("files and directories are created with the stock modes") {
    val ours = init(new NioLocalFileSystem)
    val theirs = init(new LocalFileSystem)
    Seq("nio" -> ours, "stock" -> theirs).foreach { case (n, fs) =>
      fs.mkdirs(new Path(s"$dir/mk_$n/a/b"))
      fs.create(new Path(s"$dir/mk_$n/a/b/file")).close()
    }
    Seq("a", "a/b", "a/b/file", "a/b/.file.crc").foreach { rel =>
      def mode(n: String) = Files.getPosixFilePermissions(Paths.get(s"$dir/mk_$n/$rel"))
      assert(mode("nio") == mode("stock"), rel)
    }
  }

  private val data = Array.tabulate[Byte](5000)(i => (i * 31).toByte)

  /** Flips one byte of `file` in place. */
  private def flip(file: String): Unit = {
    val raf = new RandomAccessFile(file, "rw")
    try { raf.seek(1000); val b = raf.read(); raf.seek(1000); raf.write(b ^ 0xff) } finally raf.close()
  }

  private def readAll(in: java.io.InputStream): Array[Byte] =
    try in.readAllBytes() finally in.close()

  test("NioLocalFileSystem.create writes the .crc sibling, and a flipped byte fails the read") {
    val fs = init(new NioLocalFileSystem)
    val p = new Path(s"$dir/sum_fs.bin")
    val out = fs.create(p)
    out.write(data); out.close()
    assert(new File(s"$dir/.sum_fs.bin.crc").isFile)
    assert(readAll(FileSystem.getLocal(conf).open(p)).sameElements(data), "the stock reader checks it")
    flip(p.toString)
    intercept[ChecksumException](readAll(fs.open(p)))
  }

  test("NioLocalFs.create writes the .crc sibling, and a flipped byte fails the read") {
    val fc = FileContext.getFileContext(new NioLocalFs(root, conf), conf)
    val p = new Path(s"$dir/sum_fc.bin")
    val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE))
    out.write(data); out.close()
    assert(new File(s"$dir/.sum_fc.bin.crc").isFile)
    assert(readAll(FileSystem.getLocal(conf).open(p)).sameElements(data), "the stock reader checks it")
    flip(p.toString)
    // FileContext.open(path) skips the checker in stock Hadoop as well;
    // the sized open is the one that verifies
    intercept[ChecksumException](readAll(fc.open(p, 4096)))
  }
}

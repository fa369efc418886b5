package graft.fs

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException,
  FileContext, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The `file:` filesystem registered in `core-site.xml` against Hadoop's
  * stock local filesystem: every check runs the same call through both
  * and compares what lands on disk, read back through `java.nio`. */
class NioLocalSpec extends AnyFunSuite {
  private val conf = new Configuration()
  private val umask = FsPermission.getUMask(conf)

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), conf); fs
  }
  private val stock = raw(new RawLocalFileSystem)
  private val nio = raw(new NioRawLocalFileSystem)

  /** FileContexts over Hadoop's own `LocalFs` and over [[NioLocalFs]]. */
  private def context(impl: String): FileContext = {
    val c = new Configuration(conf)
    c.set("fs.AbstractFileSystem.file.impl", impl)
    FileContext.getLocalFSFileContext(c)
  }
  private val stockFc = context("org.apache.hadoop.fs.local.LocalFs")
  private val nioFc = context(classOf[NioLocalFs].getName)

  private def tmp(): JPath = Files.createTempDirectory("nio_local")
  /** The full mode word, sticky and setuid bits included. */
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
  private def hp(p: JPath): Path = new Path(p.toUri)

  private val modes = Seq(0x1ed, 0x1c0, 0x1a4, 0x1ff) // 0755, 0700, 0644, 0777

  test("the file: scheme resolves to graft.fs for FileSystem and FileContext") {
    val fs = FileSystem.get(URI.create("file:///"), new Configuration())
    assert(fs.isInstanceOf[NioLocalFileSystem])
    assert(fs.asInstanceOf[NioLocalFileSystem].getRaw.isInstanceOf[NioRawLocalFileSystem])
    assert(FileSystem.getLocal(new Configuration()).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(new Configuration())
      .getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  test("mkdirs, create and setPermission give stock's POSIX mode under the umask") {
    val d = tmp()
    for (m <- modes; (name, fs) <- Seq("stock" -> stock, "nio" -> nio)) {
      val perm = new FsPermission(m.toShort)
      val dir = d.resolve(s"dir_${name}_$m")
      assert(fs.mkdirs(hp(dir), perm))
      val file = d.resolve(s"file_${name}_$m")
      fs.create(hp(file), perm, false, 4096, 1.toShort, 1L << 20, null).close()
      val set = d.resolve(s"set_${name}_$m")
      Files.createFile(set)
      fs.setPermission(hp(set), perm)
      val masked = perm.applyUMask(umask).toShort.toInt
      assert(mode(dir) == masked, s"$name mkdirs ${m.toOctalString}")
      assert(mode(file) == masked, s"$name create ${m.toOctalString}")
      assert(mode(set) == m, s"$name setPermission ${m.toOctalString}")
    }
    for (m <- modes; kind <- Seq("dir", "file", "set"))
      assert(mode(d.resolve(s"${kind}_stock_$m")) == mode(d.resolve(s"${kind}_nio_$m")))
  }

  test("a sticky-bit mode still applies") {
    val d = tmp()
    for ((name, fs) <- Seq("stock" -> stock, "nio" -> nio)) {
      val dir = Files.createDirectory(d.resolve(name))
      fs.setPermission(hp(dir), new FsPermission(0x3ff.toShort)) // 01777
      assert(mode(dir) == 0x3ff, name)
    }
  }

  test("FileContext.rename: NONE refuses an existing target, OVERWRITE replaces, absent source throws") {
    def write(fc: FileContext, p: Path, body: String): Unit = {
      val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    def outcome(fc: FileContext): Seq[String] = {
      val d = tmp()
      val (src, dst) = (hp(d.resolve("src")), hp(d.resolve("dst")))
      write(fc, src, "new"); write(fc, dst, "old")
      val none = try { fc.rename(src, dst, Options.Rename.NONE); "renamed" }
        catch { case _: FileAlreadyExistsException => "exists" }
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      val replaced = new String(Files.readAllBytes(d.resolve("dst")), "UTF-8")
      val absent = try { fc.rename(src, dst, Options.Rename.OVERWRITE); "renamed" }
        catch { case _: FileNotFoundException => "missing" }
      Seq(none, replaced, absent, Files.exists(d.resolve("src")).toString,
        Files.exists(d.resolve(".dst.crc")).toString)
    }
    val expected = Seq("exists", "new", "missing", "false", "true")
    assert(outcome(stockFc) == expected)
    assert(outcome(nioFc) == expected)
  }

  test("getFileLinkStatus on a symlink gives stock's isSymlink and target") {
    val d = tmp()
    val target = Files.write(d.resolve("target"), "x".getBytes("UTF-8"))
    val link = Files.createSymbolicLink(d.resolve("link"), target)
    val dangling = Files.createSymbolicLink(d.resolve("dangling"), d.resolve("gone"))
    /** (isSymlink, target) or the exception's class, for one path. */
    def probe(status: Path => org.apache.hadoop.fs.FileStatus)(p: Path): Any =
      try { val s = status(p); (s.isSymlink, if (s.isSymlink) s.getSymlink else null) }
      catch { case e: java.io.IOException => e.getClass }
    // Both path forms: stock probes a qualified `file:` path with
    // `readlink file:/…`, which fails, so it reports no symlink there.
    val paths = Seq(link, dangling, target, d.resolve("absent"))
      .flatMap(p => Seq(hp(p), new Path(p.toString)))
    for (p <- paths) {
      assert(probe(nio.getFileLinkStatus)(p) == probe(stock.getFileLinkStatus)(p), p)
      assert(probe(nioFc.getFileLinkStatus)(p) == probe(stockFc.getFileLinkStatus)(p), p)
    }
    val bare = new Path(link.toString)
    assert(probe(stock.getFileLinkStatus)(bare) == ((true, hp(target))))
    assert(probe(nio.getFileLinkStatus)(new Path(target.toString)) == ((false, null)))
    assert(probe(nio.getFileLinkStatus)(hp(d.resolve("absent"))) ==
      classOf[FileNotFoundException])
  }
}

package graft.core.io

import graft.SparkSpec
import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.util.EnumSet
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileSystem,
  Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import scala.util.Try

class LocalFsSpec extends SparkSpec {

  private def initialized(fs: RawLocalFileSystem, umask: String): RawLocalFileSystem = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  private def mode(p: NioPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xFFF

  private def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  /** Create `name` as a file and `name.d` as a directory with `octal`, under
    * `root`, through `fs`; returns the two paths.
    */
  private def createBoth(fs: RawLocalFileSystem, root: NioPath, name: String,
                         octal: String): (NioPath, NioPath) = {
    val file = root.resolve(name)
    val dir = root.resolve(name + ".d")
    fs.create(new Path(file.toUri), perm(octal), false, 4096, 1.toShort, 1L << 20, null).close()
    assert(fs.mkdirs(new Path(dir.toUri), perm(octal)))
    (file, dir)
  }

  test("created files and dirs get the stock POSIX bits under a non-default umask") {
    val root = Files.createTempDirectory("localfs-perm")
    val stock = initialized(new RawLocalFileSystem, "037")
    val forkFree = initialized(new ForkFreeRawLocalFileSystem, "037")
    for (octal <- Seq("640", "750", "700")) {
      val (sf, sd) = createBoth(stock, root, s"stock-$octal", octal)
      val (ff, fd) = createBoth(forkFree, root, s"forkfree-$octal", octal)
      assert(mode(ff) == mode(sf), octal)
      assert(mode(fd) == mode(sd), octal)
    }
    // the umask applied (0750 & ~037 = 0740), not the requested bits
    assert(mode(root.resolve("forkfree-750")) == Integer.parseInt("740", 8))
  }

  test("a sticky-bit mode and a setgid directory go through the stock fallback") {
    val root = Files.createTempDirectory("localfs-special")
    val stock = initialized(new RawLocalFileSystem, "022")
    val forkFree = initialized(new ForkFreeRawLocalFileSystem, "022")
    // the umask drops a sticky bit on create, so set it directly; java.nio
    // cannot express it, only the fallback gets 01770
    val (_, sd) = createBoth(stock, root, "stock-sticky", "755")
    val (_, fd) = createBoth(forkFree, root, "forkfree-sticky", "755")
    stock.setPermission(new Path(sd.toUri), perm("1770"))
    forkFree.setPermission(new Path(fd.toUri), perm("1770"))
    assert(mode(fd) == Integer.parseInt("1770", 8))
    assert(mode(fd) == mode(sd))
    // a directory made under a setgid parent inherits setgid; chmod keeps it
    val shared = Files.createDirectory(root.resolve("shared"))
    Files.setAttribute(shared, "unix:mode", Integer.valueOf(Integer.parseInt("2775", 8)))
    val (_, sg) = createBoth(stock, shared, "stock", "750")
    val (_, fg) = createBoth(forkFree, shared, "forkfree", "750")
    assert(mode(fg) == Integer.parseInt("2750", 8))
    assert(mode(fg) == mode(sg))
  }

  test("getFileLinkStatus equals the stock result for files, dirs, links and missing paths") {
    val root = Files.createTempDirectory("localfs-link")
    val file = Files.write(root.resolve("file"), "x".getBytes)
    val dir = Files.createDirectory(root.resolve("dir"))
    val link = Files.createSymbolicLink(root.resolve("link"), file)
    val dangling = Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
    val missing = root.resolve("missing")
    val stock = initialized(new RawLocalFileSystem, "022")
    val forkFree = initialized(new ForkFreeRawLocalFileSystem, "022")
    // the status fields, or the exception class
    def outcome(fs: RawLocalFileSystem, p: Path) = Try(fs.getFileLinkStatus(p)).toEither
      .map(s => (s.getPath, s.isFile, s.isDirectory, s.isSymlink, s.getLen,
        s.getModificationTime, s.getPermission, s.getOwner, s.getGroup,
        if (s.isSymlink) Some(s.getSymlink) else None))
      .left.map(_.getClass)
    // both path forms: the stock `readlink` only sees a link through the bare
    // one; through `file:` it follows the link (and a dangling one is missing)
    for (p <- Seq(file, dir, link, dangling, missing);
         hp <- Seq(new Path(p.toString), new Path(p.toUri)))
      assert(outcome(forkFree, hp) == outcome(stock, hp), hp)
    assert(forkFree.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
    assert(outcome(forkFree, new Path(missing.toString)) ==
      Left(classOf[FileNotFoundException]))
  }

  test("a Sessions.builder session maps file: to the fork-free classes for both APIs") {
    val conf = spark.sparkContext.hadoopConfiguration
    // newInstance: FileSystem.get's cache is keyed by scheme/authority/user, not conf
    val fs = FileSystem.newInstance(URI.create("file:///"), conf)
    try assert(fs.getClass == classOf[ForkFreeLocalFileSystem]) finally fs.close()
    assert(AbstractFileSystem.get(URI.create("file:///"), conf).getClass ==
      classOf[ForkFreeLocalFs])

    // the FileContext commit shape streaming checkpoints use: create + rename
    val root = Files.createTempDirectory("localfs-fc")
    val fc = FileContext.getFileContext(URI.create("file:///"), conf)
    val tmp = new Path(root.resolve(".1.tmp").toUri)
    val dst = new Path(root.resolve("1").toUri)
    val out = fc.create(tmp, EnumSet.of(CreateFlag.CREATE))
    try out.write("offsets".getBytes) finally out.close()
    fc.rename(tmp, dst, Options.Rename.OVERWRITE)
    assert(new String(Files.readAllBytes(root.resolve("1"))) == "offsets")
    assert(Files.exists(root.resolve(".1.crc")) && !Files.exists(root.resolve(".1.tmp")))
  }
}

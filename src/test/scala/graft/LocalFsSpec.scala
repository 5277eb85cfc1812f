package graft

import java.io.{FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileStatus, FileSystem,
  LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.sources.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}

/** The engine's local filesystem ([[sources.NioRawLocalFileSystem]] and
  * its checksummed forms) against Hadoop's own: the same modes, the same
  * link statuses, renames that carry the `.crc` along, and checksums
  * that still catch a corrupted byte.
  */
class LocalFsSpec extends SparkSpec {

  private val local = URI.create("file:///")

  private def conf(umask: Option[String] = None): Configuration = {
    val c = new Configuration(spark.sparkContext.hadoopConfiguration)
    umask.foreach(c.set(FsPermission.UMASK_LABEL, _))
    c
  }

  private def init[F <: FileSystem](fs: F, c: Configuration): F = { fs.initialize(local, c); fs }

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xFFF

  private def hpath(p: JPath): Path = new Path(p.toString)

  test("files and directories get the modes Hadoop's shell path sets, under the session's umask and another") {
    for (umask <- Seq(None, Some("077"))) {
      val c = conf(umask)
      def made(fs: FileSystem): Map[String, Int] = {
        val dir = Files.createTempDirectory("localfs-mode")
        fs.create(hpath(dir.resolve("f"))).close()
        assert(fs.mkdirs(hpath(dir.resolve("d/e"))))
        Seq("f", ".f.crc", "d", "d/e").map(n => n -> mode(dir.resolve(n))).toMap
      }
      val hadoop = made(init(new LocalFileSystem, c))
      val engine = made(init(new NioLocalFileSystem, c))
      assert(engine === hadoop, s"umask $umask")
      val (file, dir) = if (umask.isEmpty) (0x1A4, 0x1ED) else (0x180, 0x1C0) // 0644/0755, 0600/0700
      assert(engine("f") === file && engine("d") === dir, s"umask $umask")
    }
  }

  test("a sticky bit, and a directory's setgid bit, take Hadoop's own path") {
    val raw = init(new NioRawLocalFileSystem, conf())
    val sticky = Files.createTempDirectory("localfs-sticky")
    raw.setPermission(hpath(sticky), new FsPermission(0x3FF.toShort)) // 01777
    assert(mode(sticky) === 0x3FF)

    // chmod 0755 keeps a directory's setgid bit; java.nio alone would clear it
    def child(fs: FileSystem): Int = {
      val parent = Files.createTempDirectory("localfs-setgid")
      Files.setAttribute(parent, "unix:mode", Integer.valueOf(0x5ED)) // 02755
      assert(fs.mkdirs(hpath(parent.resolve("d"))))
      mode(parent.resolve("d"))
    }
    val hadoop = child(init(new RawLocalFileSystem, conf()))
    assert(hadoop === 0x5ED, "the directory did not inherit its parent's setgid bit")
    assert(child(raw) === hadoop)
  }

  test("getFileLinkStatus: a file, a directory, a symlink and a missing path") {
    val raw = init(new NioRawLocalFileSystem, conf())
    val hadoop = init(new RawLocalFileSystem, conf())
    val dir = Files.createTempDirectory("localfs-link")
    val file = Files.write(dir.resolve("f"), "abc".getBytes("UTF-8"))
    val sub = Files.createDirectory(dir.resolve("d"))
    val link = Files.createSymbolicLink(dir.resolve("l"), file)
    def facts(s: FileStatus) =
      (s.getPath, s.isFile, s.isDirectory, s.isSymlink, s.getLen, s.getModificationTime, s.getPermission)

    for (p <- Seq(file, sub)) {
      val st = raw.getFileLinkStatus(hpath(p))
      assert(!st.isSymlink, p)
      assert(facts(st) === facts(hadoop.getFileLinkStatus(hpath(p))), p)
    }
    assert(raw.getFileLinkStatus(hpath(file)).isFile)
    assert(raw.getFileLinkStatus(hpath(sub)).isDirectory)

    val st = raw.getFileLinkStatus(hpath(link))
    assert(st.isSymlink)
    assert(st.getSymlink.toUri.getPath === file.toString)
    assert(facts(st) === facts(hadoop.getFileLinkStatus(hpath(link))))

    intercept[FileNotFoundException](raw.getFileLinkStatus(hpath(dir.resolve("missing"))))
  }

  test("FileContext.rename with OVERWRITE moves the file and its .crc") {
    val fc = FileContext.getFileContext(local, conf())
    assert(fc.getDefaultFileSystem.getClass === classOf[NioLocalFs])
    val dir = Files.createTempDirectory("localfs-rename")
    def write(name: String, text: String): Path = {
      val p = hpath(dir.resolve(name))
      val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      try out.write(text.getBytes("UTF-8")) finally out.close()
      p
    }
    val src = write("src", "the new offset")
    val dst = write("dst", "old")
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(!Files.exists(dir.resolve("src")) && !Files.exists(dir.resolve(".src.crc")))
    assert(Files.exists(dir.resolve(".dst.crc")))
    val in = fc.open(dst)
    val read = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    assert(read === "the new offset")
  }

  test("a flipped data byte still fails the read with a ChecksumException") {
    val fs = init(new NioLocalFileSystem, conf())
    val file = Files.createTempDirectory("localfs-crc").resolve("data")
    val out = fs.create(hpath(file))
    try out.write(Array.tabulate[Byte](4096)(_.toByte)) finally out.close()
    val raf = new RandomAccessFile(file.toFile, "rw")
    try {
      raf.seek(1000)
      val b = raf.readByte()
      raf.seek(1000)
      raf.write(b ^ 0xFF)
    } finally raf.close()
    val in = fs.open(hpath(file))
    try intercept[ChecksumException](in.readFully(new Array[Byte](4096))) finally in.close()
  }
}

package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileSystem, Options, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.util.SerializableConfiguration
import org.scalatest.funsuite.AnyFunSuite

import graft.io.LocalFs

/** [[LocalFs]] against Hadoop's own local filesystem: same modes, same link
  * statuses, same checksums, and the session binding that selects it. */
class LocalFsSpec extends AnyFunSuite {
  private val root = new URI("file:///")

  /** Hadoop's raw local filesystem and LocalFs's, both initialized on a
    * conf with the given umask (Hadoop applies its own, not the process's). */
  private def raws(umask: String): (RawLocalFileSystem, RawLocalFileSystem) = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    val stock = new RawLocalFileSystem
    stock.initialize(root, c)
    val ours = new LocalFs.Raw
    ours.initialize(root, c)
    (stock, ours)
  }

  /** The full mode word, sticky bit included. */
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
  private def octal(s: String): Int = Integer.parseInt(s, 8)
  private def hpath(p: JPath): Path = new Path(p.toUri)

  private def write(fc: FileContext, p: Path, text: String): Unit = {
    val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }
  /** Read through ChecksumFs: `FileContext.open` with a buffer size. */
  private def read(fc: FileContext, p: Path): String = {
    val in = fc.open(p, 4096)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def twinContext(): FileContext = {
    val c = new Configuration()
    LocalFs.impls.foreach { case (k, v) => c.set(k, v) }
    val fc = FileContext.getFileContext(root, c)
    assert(fc.getDefaultFileSystem.isInstanceOf[LocalFs.Afs])
    fc
  }

  test("created files and directories get Hadoop's modes under umask 022 and 077") {
    for ((umask, dirMode, fileMode) <- Seq(("022", "755", "644"), ("077", "700", "600"))) {
      val (stock, ours) = raws(umask)
      val d = TestSpark.tempDir("localfs-mode")
      def made(fs: RawLocalFileSystem, tag: String): Seq[Int] = {
        val dir = new Path(hpath(d), s"$tag/sub")
        assert(fs.mkdirs(dir))
        val f = new Path(dir, "part-0")
        val out = fs.create(f)
        out.write(1)
        out.close()
        Seq(d.resolve(tag), d.resolve(s"$tag/sub"), d.resolve(s"$tag/sub/part-0")).map(mode)
      }
      val expected = Seq(dirMode, dirMode, fileMode).map(octal)
      assert(made(stock, "stock") == expected, s"umask $umask")
      assert(made(ours, "ours") == expected, s"umask $umask")
    }
  }

  test("setPermission sets the same nine bits as Hadoop's chmod") {
    val (stock, ours) = raws("022")
    val d = TestSpark.tempDir("localfs-chmod")
    for (m <- Seq("644", "600", "755", "700", "777", "640", "421", "000")) {
      val perm = new FsPermission(octal(m).toShort)
      val (a, b) = (Files.createFile(d.resolve(s"a$m")), Files.createFile(d.resolve(s"b$m")))
      stock.setPermission(hpath(a), perm)
      ours.setPermission(hpath(b), perm)
      assert(mode(b) == octal(m))
      assert(mode(b) == mode(a), m)
    }
  }

  test("a sticky-bit directory mode goes through Hadoop's own chmod") {
    val (stock, ours) = raws("022")
    val perm = new FsPermission(octal("1777").toShort)
    val (a, b) = (TestSpark.tempDir("sticky-stock"), TestSpark.tempDir("sticky-ours"))
    stock.setPermission(hpath(a), perm)
    ours.setPermission(hpath(b), perm)
    // java.nio cannot set the sticky bit: it being there means the fallback ran
    assert(mode(b) == octal("1777"))
    assert(mode(b) == mode(a))
  }

  test("getFileLinkStatus matches Hadoop's for a file, a directory and live and dangling symlinks") {
    val (stock, ours) = raws("022")
    val d = TestSpark.tempDir("localfs-link")
    val file = Files.writeString(d.resolve("f"), "abc")
    val dir = Files.createDirectory(d.resolve("d"))
    val link = Files.createSymbolicLink(d.resolve("l"), file)
    val dangling = Files.createSymbolicLink(d.resolve("x"), d.resolve("gone"))
    def status(fs: RawLocalFileSystem, p: Path): String =
      Try(fs.getFileLinkStatus(p)).fold(e => s"${e.getClass.getName}: ${e.getMessage}",
        o => Seq(o.getPath, o.isSymlink, o.isDirectory, o.getLen, o.getModificationTime,
          if (o.isSymlink) o.getSymlink else "").mkString(" "))
    // Hadoop's own code shells `readlink` on the path string, so it sees a
    // link only through a scheme-less path; both spellings must match it
    for (p <- Seq(file, dir, link, dangling); hp <- Seq(hpath(p), new Path(p.toString)))
      assert(status(ours, hp) == status(stock, hp), hp)
    assert(ours.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(ours.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
    assert(!ours.getFileLinkStatus(hpath(file)).isSymlink)
    intercept[FileNotFoundException](ours.getFileLinkStatus(hpath(d.resolve("missing"))))
    intercept[FileNotFoundException](stock.getFileLinkStatus(hpath(d.resolve("missing"))))
  }

  test("writes carry a .crc sidecar, and a flipped data byte fails the read") {
    val fs = new LocalFs
    fs.initialize(root, new Configuration())
    val d = TestSpark.tempDir("localfs-crc")
    val data = (0 until 2000).map(i => (i % 251).toByte).toArray
    val out = fs.create(hpath(d.resolve("data.bin")))
    out.write(data)
    out.close()
    assert(Files.exists(d.resolve(".data.bin.crc")))
    val in = fs.open(hpath(d.resolve("data.bin")))
    try assert(in.readAllBytes().sameElements(data)) finally in.close()

    val bytes = Files.readAllBytes(d.resolve("data.bin"))
    bytes(1000) = (bytes(1000) ^ 0x5a).toByte
    Files.write(d.resolve("data.bin"), bytes)
    intercept[ChecksumException] {
      val in = fs.open(hpath(d.resolve("data.bin")))
      try in.readAllBytes() finally in.close()
    }
    intercept[ChecksumException](read(twinContext(), hpath(d.resolve("data.bin"))))
  }

  test("the twin's one-argument open verifies the .crc, and a file without one still reads") {
    val fc = twinContext()
    val d = TestSpark.tempDir("localfs-open1")
    val p = hpath(d.resolve("log"))
    write(fc, p, "v1\n{\"batchWatermarkMs\":0}")
    assert(Files.exists(d.resolve(".log.crc")))
    def read1(q: Path): String = {
      val in = fc.open(q)
      try new String(in.readAllBytes(), UTF_8) finally in.close()
    }
    assert(read1(p) == "v1\n{\"batchWatermarkMs\":0}")

    val bytes = Files.readAllBytes(d.resolve("log"))
    bytes(4) = (bytes(4) ^ 0x5a).toByte
    Files.write(d.resolve("log"), bytes)
    // Hadoop's FilterFs.open(Path) would read the flipped byte unchecked
    intercept[ChecksumException](read1(p))

    val bare = d.resolve("no-crc")
    Files.writeString(bare, "plain")
    assert(read1(hpath(bare)) == "plain")
  }

  test("FileContext.rename(OVERWRITE) through the twin moves the data and its .crc") {
    val fc = twinContext()
    val d = TestSpark.tempDir("localfs-rename")
    val (src, dst) = (hpath(d.resolve("src")), hpath(d.resolve("dst")))
    write(fc, src, "new")
    write(fc, dst, "old")
    assert(Files.exists(d.resolve(".src.crc")))
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(!Files.exists(d.resolve("src")) && !Files.exists(d.resolve(".src.crc")))
    assert(Files.exists(d.resolve(".dst.crc")))
    assert(read(fc, dst) == "new")
  }

  test("inside the session binding, the session's Hadoop conf resolves LocalFs on the driver and in tasks") {
    val spark = TestSpark.spark
    val before = spark.conf.getAll
    val (driver, task, cached) = GraftSession.withConf(spark, LocalFs.sessionBinding: _*) {
      val hc = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.newHadoopConf()
      val shipped = new SerializableConfiguration(hc)
      val fs = FileSystem.get(root, hc)
      val inTask = spark.sparkContext.parallelize(Seq(1), 1)
        .map(_ => FileSystem.get(new URI("file:///"), shipped.value).getClass.getName)
        .collect().head
      (fs.getClass.getName, inTask, fs eq FileSystem.get(root, spark.sparkContext.hadoopConfiguration))
    }
    assert(driver == classOf[LocalFs].getName)
    assert(task == classOf[LocalFs].getName)
    assert(!cached, "the binding must bypass the FileSystem cache")
    assert(spark.conf.getAll == before)
  }
}

package graft.sources

import java.io.{FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import java.security.PrivilegedExceptionAction
import java.util.concurrent.{Callable, CountDownLatch, Executors}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, FileContext,
  FSDataInputStream, FileStatus, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.security.UserGroupInformation

import graft.SparkSpec

/** [[LocalFs]] answers what Hadoop's stock local filesystem answers,
  * without its subprocesses, and `Tables.table` installs it once. */
class LocalFsSpec extends SparkSpec {

  private val LocalUri = URI.create("file:///")

  private def initialized[F <: FileSystem](fs: F, conf: Configuration = new Configuration()): F = {
    fs.initialize(LocalUri, conf); fs
  }

  private def tmp(prefix: String): java.nio.file.Path = tempDir(prefix)

  private def mode(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** A file, a directory, a symlink, a dangling symlink and a missing path. */
  private def fixture(): Map[String, Path] = {
    val d = tmp("graft-localfs")
    val file = Files.write(d.resolve("file"), "twelve bytes".getBytes(UTF_8))
    val dir = Files.createDirectory(d.resolve("dir"))
    val link = Files.createSymbolicLink(d.resolve("link"), file)
    val dangling = Files.createSymbolicLink(d.resolve("dangling"), d.resolve("gone"))
    Map("file" -> file, "dir" -> dir, "link" -> link, "dangling" -> dangling,
      "missing" -> d.resolve("missing")).map { case (k, p) => k -> new Path(p.toString) }
  }

  private def fields(st: FileStatus): Seq[Any] =
    Seq(st.getLen, st.isDirectory, st.isSymlink,
      if (st.isSymlink) Some(st.getSymlink.toString) else None,
      st.getPermission.toString, st.getOwner, st.getGroup)

  private def outcome(f: => FileStatus): Either[String, Seq[Any]] =
    try Right(fields(f)) catch { case e: FileNotFoundException => Left(e.getClass.getSimpleName) }

  test("link and file status match Hadoop's stock RawLocalFileSystem on every path kind") {
    val stock = initialized(new RawLocalFileSystem)
    val ours = initialized(new LocalFs.Raw)
    val paths = fixture()
    paths.foreach { case (kind, p) =>
      assert(outcome(ours.getFileLinkStatus(p)) === outcome(stock.getFileLinkStatus(p)),
        s"getFileLinkStatus on $kind")
      assert(outcome(ours.getFileStatus(p)) === outcome(stock.getFileStatus(p)),
        s"getFileStatus on $kind")
    }
    assert(ours.getFileLinkStatus(paths("link")).isSymlink)
    assert(ours.getFileLinkStatus(paths("dangling")).isSymlink)
    Seq("link", "dangling").foreach { k =>
      assert(ours.getLinkTarget(paths(k)) === stock.getLinkTarget(paths(k)), s"getLinkTarget on $k")
    }
    assert(outcome(ours.getFileLinkStatus(paths("missing"))) === Left("FileNotFoundException"))
    // Hadoop's readlink misses a scheme-qualified symlink; NIO does not
    assert(ours.getFileLinkStatus(paths("link").makeQualified(LocalUri, null)).isSymlink)
  }

  test("create and mkdirs honour fs.permissions.umask-mode, .crc sidecar included") {
    def modes(fs: FileSystem): (String, String, String) = {
      val d = tmp("graft-umask")
      val out = fs.create(new Path(s"$d/f"))
      out.write(1); out.close()
      assert(fs.mkdirs(new Path(s"$d/sub")))
      (mode(d.resolve("f")), mode(d.resolve(".f.crc")), mode(d.resolve("sub")))
    }
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", "027")
    val got = modes(initialized(new LocalFs.Checksummed, conf))
    assert(got === (("rw-r-----", "rw-r-----", "rwxr-x---")))
    assert(got === modes(initialized(new LocalFileSystem, conf)))
  }

  private def contextConf(): Configuration = {
    val conf = new Configuration()
    conf.set("fs.AbstractFileSystem.file.impl", classOf[LocalFs.Context].getName)
    conf
  }

  private def write(fc: FileContext, p: Path, s: String): Unit = {
    val out = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
    try out.write(s.getBytes(UTF_8)) finally out.close()
  }

  private def read(fc: FileContext, p: Path): String = {
    val in = fc.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("FileContext rename: NONE refuses an existing destination, OVERWRITE replaces it") {
    val fc = FileContext.getFileContext(LocalUri, contextConf())
    assert(fc.getDefaultFileSystem.isInstanceOf[LocalFs.Context])
    val d = tmp("graft-rename")
    val (src, dst) = (new Path(s"$d/src"), new Path(s"$d/dst"))
    write(fc, src, "new")
    write(fc, dst, "old")
    intercept[FileAlreadyExistsException](fc.rename(src, dst, Options.Rename.NONE))
    assert(read(fc, dst) === "old")
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(read(fc, dst) === "new")
    assert(!Files.exists(d.resolve("src")) && !Files.exists(d.resolve(".src.crc")))
    assert(Files.exists(d.resolve(".dst.crc")))
  }

  test("one flipped byte still fails the .crc check on read") {
    // reporting the failure would move the file to a bad_files directory
    // at the top of its mount; verification itself is untouched
    val fs = initialized(new LocalFs.Checksummed {
      override def reportChecksumFailure(p: Path, in: FSDataInputStream, inPos: Long,
          sums: FSDataInputStream, sumsPos: Long): Boolean = false
    })
    val d = tmp("graft-crc")
    val p = new Path(s"$d/data")
    val out = fs.create(p)
    out.write("checksummed payload".getBytes(UTF_8)); out.close()
    def read(): String = {
      val in = fs.open(p)
      try new String(in.readAllBytes(), UTF_8) finally in.close()
    }
    assert(read() === "checksummed payload")
    val raf = new RandomAccessFile(d.resolve("data").toFile, "rw")
    try { raf.seek(3); val b = raf.read(); raf.seek(3); raf.write(b ^ 0x01) } finally raf.close()
    intercept[ChecksumException](read())
  }

  test("after the first Tables.table call, FileSystem and FileContext resolve to graft's classes") {
    val dir = tmp("graft-install").toString
    spark.range(3).write.parquet(s"$dir/t.parquet")
    assert(graft.Tables.table(spark, dir, "t").count() === 3)
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(LocalUri, hadoopConf).isInstanceOf[LocalFs.Checksummed])
    // the cache serves every configuration, even one without the binding
    assert(FileSystem.get(LocalUri, new Configuration()).isInstanceOf[LocalFs.Checksummed])
    assert(FileContext.getFileContext(LocalUri, spark.sessionState.newHadoopConf())
      .getDefaultFileSystem.isInstanceOf[LocalFs.Context])
    assert(!LocalFs.install(hadoopConf), "a second install is a no-op")
  }

  test("two threads making the first install at once install once and evict the stock instance") {
    // a fresh user has its own FileSystem cache entry, so the stock
    // instance cached here is this test's alone
    val ugi = UserGroupInformation.createRemoteUser("graft-localfs-spec")
    def as[T](f: => T): T = ugi.doAs(new PrivilegedExceptionAction[T] { def run(): T = f })
    val stock = as(FileSystem.get(LocalUri, new Configuration()))
    assert(stock.isInstanceOf[LocalFileSystem] && !stock.isInstanceOf[LocalFs.Checksummed])
    val conf = new Configuration()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val calls = (1 to 2).map(_ => pool.submit(new Callable[Boolean] {
        def call(): Boolean = { start.await(); as(LocalFs.install(conf)) }
      }))
      start.countDown()
      assert(calls.map(_.get()).count(identity) === 1)
      val now = as(FileSystem.get(LocalUri, new Configuration()))
      assert(now.isInstanceOf[LocalFs.Checksummed])
      assert(now eq as(FileSystem.get(LocalUri, conf)))
    } finally {
      pool.shutdown()
      FileSystem.closeAllForUGI(ugi)
    }
  }
}

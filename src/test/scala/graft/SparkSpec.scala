package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM per sbt test run). Temp
  * dirs come from [[tempDir]]: when the suite ends each is deleted, with
  * the `graft_*` scratch roots and lock files keyed on it (a temp dir a
  * query read as its data dir). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]

  /** A fresh directory under `java.io.tmpdir`, deleted in `afterAll`. */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }

  /** Run `body` under the RocksDB state store, which `transformWithState`
    * requires; the provider is restored when the body returns or throws. */
  def withRocksDbState[T](body: => T): T =
    graft.exec.Session.withConf(spark, Seq("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))(body)

  /** The rows of a reference frame `build` makes on [[SparkSpec.plain]]:
    * a session with graft's native functions but not `Md5ConvRewrite`, so
    * an md5 `conv` chain runs as written instead of being fused into the
    * `md5_slice64` it is compared with. Fails when the frame's optimized
    * plan holds `md5_slice64` all the same. `build` reads files with
    * `read.parquet`: `Tables` would install the rule on the session. */
  def reference(build: SparkSession => DataFrame): Array[Row] = {
    val df = build(SparkSpec.plain)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("md5_slice64"), s"the reference was fused into md5_slice64:\n$plan")
    df.collect()
  }

  override def afterAll(): Unit =
    try tempDirs.forEach { d =>
      SparkSpec.deleteTree(d)
      // "_<user>_<md5>": the suffix every kind's root over `d` shares
      val key = "_" + java.nio.file.Paths.get(graft.exec.Scratch.root("", d.toString))
        .getFileName.toString.stripPrefix("graft__")
      val tmp = Files.list(d.getParent)
      try tmp.filter { p =>
        val n = p.getFileName.toString
        n.startsWith("graft_") && (n.endsWith(key) || n.endsWith(key + ".lock"))
      }.forEach(SparkSpec.deleteTree(_))
      finally tmp.close()
    } finally super.afterAll()
}

/** Built through the mains' own factory at 4 cpus, so specs run under the
  * confs the mains use. */
object SparkSpec {
  lazy val session: SparkSession = graft.exec.Session(4)

  /** A session sharing [[session]]'s context, with graft's native
    * functions registered and no `Md5ConvRewrite`. */
  lazy val plain: SparkSession = {
    val s = session.newSession()
    graft.functions.NativeFunction.all.foreach(_.register(s))
    s
  }

  /** Best-effort recursive delete (symlinks are not followed): a file a
    * spec still holds open must not fail the suite. */
  def deleteTree(root: Path): Unit =
    if (Files.exists(root, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val all = Files.walk(root)
      try all.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }
      finally all.close()
    }
}

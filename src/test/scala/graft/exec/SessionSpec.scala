package graft.exec

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.{Run, SparkEntry, SparkSpec, Tables}
import graft.functions.{CosineHofRewrite, Md5ConvRewrite, NativeFunction}

/** The execution-context module: the session factory's conf set, the
  * session state [[Session.install]] attaches, the [[Session.withConf]]
  * window, the source guards that keep session building and session
  * state, lineage cuts, thread pools and the scratch guard inside
  * `graft.exec`, and the `graft.Run` dispatcher. */
class SessionSpec extends SparkSpec {

  test("the factory pins the conf set every main runs under") {
    val s = Session(4)
    assert(s eq spark, "the spec session is the factory's session")
    val conf = s.sparkContext.getConf
    assert(conf.get("spark.master") === "local[4]")
    assert(s.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(s.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.ui.enabled") === "false")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") === "2000")
    assert(s.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold") === "1024")
  }

  private def builders(s: SparkSession) = NativeFunction.all.map(f =>
    s.sessionState.functionRegistry.lookupFunctionBuilder(FunctionIdentifier(f.name)))

  /** Everything [[Session.install]] attaches, checked on `s`. */
  private def assertInstalled(s: SparkSession): Unit = {
    assert(builders(s).forall(_.isDefined), NativeFunction.all.map(_.name))
    val rules = s.experimental.extraOptimizations
    assert(rules.count(_ eq Md5ConvRewrite) === 1)
    assert(!rules.exists(_ eq CosineHofRewrite))
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
  }

  test("install attaches graft's functions, rule and conf once") {
    val s = spark.newSession()
    assert(!s.catalog.functionExists("cosine_sim"))
    Session.install(s)
    assertInstalled(s)
    val first = builders(s)
    Session.install(s)
    assertInstalled(s)
    builders(s).zip(first).foreach { case (b, a) => assert(b.get eq a.get) }
  }

  test("a fresh session gets graft's state from its first table read") {
    val dir = tempDir("graft-install").toString
    spark.range(1).write.parquet(s"$dir/t.parquet")
    val s = spark.newSession()
    assert(!s.catalog.functionExists("cosine_sim"))
    Tables.table(s, dir, "t")
    assertInstalled(s)
  }

  test("withConf restores a set key and unsets an absent one, also on a throw") {
    val (set, absent) = ("spark.sql.cbo.enabled", "spark.graft.spec.absent")
    val s = spark.newSession()
    s.conf.set(set, "false")
    def check(body: => Unit): Unit = {
      Session.withConf(s, Seq(set -> "true", absent -> "x")) {
        assert(s.conf.get(set) === "true")
        assert(s.conf.get(absent) === "x")
        body
      }
    }
    check(())
    assert(s.conf.get(set) === "false")
    assert(s.conf.getOption(absent).isEmpty)
    intercept[IllegalStateException](check(throw new IllegalStateException("body")))
    assert(s.conf.get(set) === "false")
    assert(s.conf.getOption(absent).isEmpty)
  }

  test("under src/main only graft/exec builds sessions, cuts lineage or owns threads") {
    // session state too: function and rule registration, the filesystem
    // install and session-conf writes go through Session.install/withConf
    val patterns = Seq("SparkSession.builder", "localCheckpoint(", ".checkpoint(",
      "Executors.new", "ExecutionContext", "Future {",
      ".register(", "LocalFs.install(", ".conf.set(", ".conf.unset(")
    val exec = Paths.get("src/main/scala/graft/exec")
    val sources = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(f => Files.isRegularFile(f) && f.toString.endsWith(".scala")).toSeq
    assert(sources.exists(_.startsWith(exec)))
    val offenders = for {
      f <- sources if !f.startsWith(exec)
      text = Files.readString(f)
      p <- patterns if text.contains(p)
    } yield s"$f: $p"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("under src/main only graft/exec/Scratch.scala fingerprints, locks or names the marker") {
    val scratch = Paths.get("src/main/scala/graft/exec/Scratch.scala")
    val owned = Seq("sum(hash(", "FileChannel.open", "_graft_layout_fingerprint", "_graft_layout_key")
    val sources = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(f => Files.isRegularFile(f) && f.toString.endsWith(".scala")).toSeq
    val own = Files.readString(scratch)
    assert(owned.forall(own.contains), "Scratch.scala holds the guard")
    val offenders = for {
      f <- sources if f != scratch
      text = Files.readString(f)
      p <- owned if text.contains(p)
    } yield s"$f: $p"
    assert(offenders.isEmpty, offenders.mkString("\n"))
    // dynamic partition overwrite is a per-write option and the stream
    // join's progress retention the session default, never a
    // session-wide conf window other threads can see: the quoted key may
    // only appear in the stream join's read of that default
    val windowed = Seq("spark.sql.sources.partitionOverwriteMode",
      "spark.sql.streaming.numRecentProgressUpdates")
    val confWindows = for {
      f <- sources
      text = Files.readString(f)
      k <- windowed
      quoted = s"\"$k\""
      if text.replace(s"conf.get($quoted", "").contains(quoted)
    } yield s"$f: $k"
    assert(confWindows.isEmpty, confWindows.mkString("\n"))
  }

  private def runOutput(args: String*): Seq[String] = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Run.main(args.toArray))
    out.toString("UTF-8").linesIterator.toSeq
  }

  test("graft.Run list prints every registry key, sorted") {
    val keys = SparkEntry.queries.keys.toSeq.sorted
    assert(keys.size === 242)
    assert(runOutput("list") === keys)
    assert(runOutput() === keys)
  }

  test("graft.Run rejects an unknown query with the nearest registered name") {
    val e = intercept[RuntimeException](runOutput("x_dedup_minhash_lsj"))
    assert(e.getMessage.contains("unknown query 'x_dedup_minhash_lsj'"))
    assert(e.getMessage.contains("did you mean x_dedup_minhash_lsh?"))
  }
}

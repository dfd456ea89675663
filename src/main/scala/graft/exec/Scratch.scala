package graft.exec

import java.nio.file.{Files, LinkOption, Paths, StandardOpenOption}

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.catalyst.expressions.{CurrentDate, CurrentTimestampLike, Expression, ScalaUDF}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, ObjectConsumer, ObjectProducer}
import org.apache.spark.sql.execution.aggregate.{ScalaAggregator, ScalaUDAF, TypedAggregateExpression}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

import graft.functions.NativeFunction

/** The one guard for every write graft does "once per input content":
  * a layout, a lake lineage, a streaming replay, a trained model, a
  * bucketed table. The protocol, in order:
  *
  *  1. [[root]]: the scratch directory `graft_<kind>_<user>_<md5(dir)>`
  *     under `java.io.tmpdir` (read on every call);
  *  2. [[key]]: a metadata key of the planned input — the tag, the
  *     analyzed plan's text and the `(path, length, mtime)` of every file
  *     it reads — taken without a Spark job;
  *  3. under a lock on the `<root>.lock` sibling, compare the key with
  *     the key file the last successful call left in the root: a match is
  *     a hit, and nothing else runs;
  *  4. otherwise [[fingerprint]], an order-free content hash of what the
  *     write would produce, `tag:count:sum(hash(cols))`, is compared with
  *     the marker: equal, only the key file is rewritten; different (or
  *     no marker), the root is wiped, the write runs, then the key file
  *     and the marker are written — the marker LAST, so it is the commit
  *     point: a crash or a throwing write leaves no marker and the next
  *     call rewrites.
  *
  * The key trusts file metadata the way a lake log does: an in-place
  * rewrite that keeps a file's path, length and mtime goes unseen until
  * the next key miss. Plans whose text cannot stand for their content
  * get no key and always take step 4 (see [[key]]).
  *
  * Forms: `materializeIfChanged(out, tag, planned)(write)` fingerprints
  * `planned` only on a key miss. A write that stores the planned rows
  * one-for-one takes the observed form, `materializeIfChanged(out, tag,
  * planned, cols)(write)`: on a root with no marker (a cold root) the
  * fingerprint's two aggregates ride the write itself through
  * `Dataset.observe`, so the input is read once.
  *
  * Bump a fingerprint's tag when the write's output changes for the
  * same input (a new formula, a new file in the root): neither the
  * content hash nor the plan text sees the write's code. Three callers
  * fuse the fingerprint into another pass through [[aggregates]] —
  * `Layout.lakeE2e` (per-cell, feeding the DECIDE histogram) and
  * `BucketedTables`' two sizings — format the folded counters with
  * [[fingerprintOf]] and take the `(out, fingerprint)` form, which has
  * no key; their strings equal [[fingerprint]]'s. */
object Scratch {

  /** The commit marker's file name inside every root. */
  private[graft] val Marker = "_graft_layout_fingerprint"

  /** Scratch root for `kind` over data dir `dir`: keyed by the FULL md5
    * of the data-dir string (hashCode alone let two dirs collide on 32
    * bits) plus the user name (a world-shared /tmp path caused
    * permission clashes between users on a shared host). */
  private[graft] def root(kind: String, dir: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val user = sys.props.getOrElse("user.name", "anon").replaceAll("[^A-Za-z0-9_-]", "_")
    s"${sys.props("java.io.tmpdir")}/graft_${kind}_${user}_$digest"
  }

  /** The fingerprint's two aggregates over `cols`, counting only the
    * rows `where` keeps: the row count and the row-hash sum (32-bit
    * `hash` widened to long, 0 on no rows). */
  private[graft] def aggregates(cols: Seq[Column],
      where: Option[Column] = None): (Column, Column) = {
    val h = hash(cols: _*).cast("long")
    where match {
      case None => (count(lit(1)), coalesce(sum(h), lit(0L)))
      case Some(w) => (count(when(w, lit(1))), coalesce(sum(when(w, h)), lit(0L)))
    }
  }

  /** The fingerprint string of `n` rows whose hashes sum to `h`. */
  private[graft] def fingerprintOf(tag: String, n: Long, h: Long): String = s"$tag:$n:$h"

  /** Order-free content fingerprint of every column of `df` under a
    * version tag: one aggregation job. */
  private[graft] def fingerprint(tag: String, df: DataFrame): String = {
    val (n, h) = aggregates(df.columns.map(col).toSeq)
    val r = df.agg(n, h).head()
    fingerprintOf(tag, r.getLong(0), r.getLong(1))
  }

  /** The key file's name inside every root: the [[key]] of the input
    * the marker's content was read from, and that marker. */
  private[graft] val KeyFile = "_graft_layout_key"

  /** The guard's metadata key for `planned` under `tag`:
    * `tag:sha256(plan text, file signature)`, where the plan text is
    * [[render]] of the ANALYZED plan (the canonicalized one orders
    * commutative operands by hash code, which differs between JVMs) and
    * the file signature is [[fileSignature]] of every file its relations
    * list. None — no key, the call fingerprints as before — unless the
    * text stands for the content: every leaf is a file relation whose
    * index lists its files, and no expression's result can change while
    * the text stays the same (a non-deterministic or clock expression, a
    * Scala UDF or UDAF, a graft native function, an object operator
    * holding a closure). A `LocalRelation` (collected rows) and a cut's
    * `LogicalRDD` are not file relations. */
  private[graft] def key(tag: String, planned: DataFrame): Option[String] =
    scala.util.Try {
      val plan = planned.queryExecution.analyzed
      val nodes = plan.collectWithSubqueries { case n => n }
      val files = nodes.collect { case l: LeafNode => l }.map {
        case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location match {
          case index: PartitioningAwareFileIndex => Some(index.allFiles())
          case _ => None
        }
        case _ => None
      }
      val opaque = nodes.exists(n => n.isInstanceOf[ObjectProducer] ||
        n.isInstanceOf[ObjectConsumer] || n.expressions.exists(_.exists(opaqueExpression)))
      if (opaque || files.exists(_.isEmpty)) None
      else Some(s"$tag:" + sha256(render(plan) + "\n" + fileSignature(files.flatten.flatten)))
    }.toOption.flatten

  private def opaqueExpression(e: Expression): Boolean = e match {
    case _: ScalaUDF | _: ScalaUDAF | _: ScalaAggregator[_, _, _] |
        _: TypedAggregateExpression | _: CurrentTimestampLike | _: CurrentDate => true
    case _ => !e.deterministic || NativeFunction.all.exists(_.expression.isInstance(e))
  }

  /** `plan`'s full text with expression ids normalised: nothing elided
    * (the session's `maxToStringFields` would cut a long operand list to
    * "… n more fields"), so two plans differing past that limit render
    * differently. The limit is lifted on a copy of the conf, for this
    * thread only. */
  private[graft] def render(plan: LogicalPlan): String = {
    val conf = SQLConf.get.clone()
    conf.setConf(SQLConf.MAX_TO_STRING_FIELDS, Int.MaxValue)
    SQLConf.withExistingConf(conf)(
      plan.treeString(verbose = true, addSuffix = false, maxFields = Int.MaxValue))
      .replaceAll("#\\d+", "#N")
  }

  /** The signature of a file set: the SHA-256 of its sorted `(path,
    * length, mtime)` lines. What the guard's [[key]], the footer-manifest
    * memo and the table-schema cache trust for "these files did not
    * change". */
  private[graft] def fileSignature(files: Seq[FileStatus]): String =
    sha256(files.map(f => s"${f.getPath}\t${f.getLen}\t${f.getModificationTime}")
      .sorted.mkString("\n"))

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The in-process monitor is PER PATH, not one global object: multi-
    * minute writes run under this guard (streaming replays, the
    * classifier training loop), and one global monitor would stall every
    * unrelated materialization in the JVM behind them. Keyed by the
    * CANONICAL path, so two spellings of one root ("/tmp/x" vs
    * "/tmp/./x") take the same monitor instead of colliding on the OS
    * lock as an OverlappingFileLockException. Bounded by (data dirs ×
    * kinds), a few dozen entries: never route per-call unique paths
    * through here. */
  private val pathMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def monitorFor(out: String): Object = {
    val key = try new java.io.File(out).getCanonicalPath
      catch { case _: java.io.IOException => out }
    pathMonitors.computeIfAbsent(key, _ => new Object)
  }

  /** Run `write` only when `fingerprint` differs from the marker the
    * last successful write left in `out`: wipe `out`, write, then write
    * the marker. For fingerprints the three fused sites compute in a pass
    * they need anyway; it takes no [[key]]. */
  private[graft] def materializeIfChanged(out: String, fingerprint: String)(
      write: => Unit): Unit =
    guarded(out, None)(rewriteUnless(out, _, fingerprint)(write))

  /** [[materializeIfChanged]] guarded by `planned`'s [[key]] under `tag`:
    * a hit starts no job; a miss computes [[fingerprint]] over every
    * column of `planned` and rewrites when it differs from the marker.
    * For writes that are not `planned`'s rows one-for-one (a lineage, a
    * model trained on them). */
  private[graft] def materializeIfChanged(out: String, tag: String, planned: DataFrame)(
      write: => Unit): Unit =
    guarded(out, key(tag, planned))(rewriteUnless(out, _, fingerprint(tag, planned))(write))

  /** [[materializeIfChanged]] for a `write` that stores `planned`'s rows
    * one-for-one, fingerprinted over `cols` under `tag` and guarded by
    * `planned`'s [[key]]. With a marker in `out` and a key miss it is the
    * plain form: [[fingerprint]], compare, rewrite on a miss. With no
    * marker (a cold root) there is nothing to compare, so it wipes,
    * hands `write` the planned frame with the fingerprint's aggregates
    * observed, and builds the marker from what the write counted — the
    * string [[fingerprint]] would have returned, without its job. `write`
    * must run every row of the frame it is handed (a `limit` above it
    * counts a prefix): a wrong count writes a marker the next key miss
    * misses, which costs one rewrite. When the observation does not
    * arrive within [[ObservedWait]] (the write never ran the observed
    * plan) or arrives empty (AQE pruned the node over an empty input),
    * the marker comes from a [[fingerprint]] job after the write. */
  private[graft] def materializeIfChanged(out: String, tag: String, planned: DataFrame,
      cols: Seq[String])(write: DataFrame => Unit): Unit = {
    def computed = fingerprint(tag, planned.select(cols.map(col): _*))
    guarded(out, key(tag, planned)) {
      case current @ Some(_) => rewriteUnless(out, current, computed)(write(planned))
      case None =>
        val obs = Observation()
        val (n, h) = aggregates(cols.map(col))
        wipe(out)
        write(planned.observe(obs, n.as("n"), h.as("h")))
        Some(observed(tag, obs).getOrElse(computed))
    }
  }

  /** The marker to commit after comparing `fingerprint` with `current`:
    * None on a match, else `fingerprint` once `out` is wiped and
    * rewritten. */
  private def rewriteUnless(out: String, current: Option[String], fingerprint: String)(
      write: => Unit): Option[String] =
    if (current.contains(fingerprint)) None
    else { wipe(out); write; Some(fingerprint) }

  /** How long a cold write's caller waits, after the write returned, for
    * its observation: the listener bus delivers it asynchronously. */
  private val ObservedWait = 10.seconds

  /** The fingerprint `obs` counted, or None when it never completed or
    * completed empty. */
  private def observed(tag: String, obs: Observation): Option[String] =
    scala.util.Try(Await.result(obs.future, ObservedWait)).toOption
      .filter(_.length == 2)
      .map(r => fingerprintOf(tag, r.getLong(0), r.getLong(1)))

  /** The in-process monitor and the OS lock around one guarded call.
    * The key file holds a key and the marker it vouches for: when it
    * holds `key` and the root's current marker, the call is a hit and
    * returns (a marker edited by hand voids the hit). Otherwise `body`
    * gets the marker's current content (None without a marker) and
    * returns the marker to commit, or None to leave the data as it is;
    * then the key file is written with `key` (when there is one) and the
    * marker it now vouches for, and the new marker after it. The OS
    * file lock on `<out>.lock` (NEXT TO the root, so the wipe cannot
    * delete it) serializes two JVMs sharing the path (a bench run racing
    * `sbt test` on one fixture); the monitor covers same-process reentry,
    * where a second `FileChannel.lock` would throw instead of blocking. */
  private def guarded(out: String, key: Option[String])(
      body: Option[String] => Option[String]): Unit =
    monitorFor(out).synchronized {
      val ch = java.nio.channels.FileChannel.open(Paths.get(s"$out.lock"),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val lock = ch.lock()
        try {
          def read(name: String): Option[String] = {
            val p = Paths.get(out, name)
            if (Files.isRegularFile(p)) Some(new String(Files.readAllBytes(p), "UTF-8")) else None
          }
          def write(name: String, content: String): Unit = {
            Files.createDirectories(Paths.get(out))
            Files.write(Paths.get(out, name), content.getBytes("UTF-8"))
          }
          val current = read(Marker)
          def vouching(marker: Option[String]) = for (k <- key; m <- marker) yield s"$k\n$m"
          if (vouching(current).isEmpty || read(KeyFile) != vouching(current)) {
            val commit = body(current)
            vouching(commit.orElse(current)).foreach(write(KeyFile, _))
            commit.foreach(write(Marker, _))
          }
        } finally lock.release()
      } finally ch.close()
    }

  /** Delete `out` and everything under it (symlinks are not followed). */
  private def wipe(out: String): Unit = {
    val p = Paths.get(out)
    if (Files.exists(p, LinkOption.NOFOLLOW_LINKS)) {
      val all = Files.walk(p)
      try all.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally all.close()
    }
  }
}

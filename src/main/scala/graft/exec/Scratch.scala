package graft.exec

import java.nio.file.{Files, LinkOption, Paths, StandardOpenOption}

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** The one guard for every write graft does "once per input content":
  * a layout, a lake lineage, a streaming replay, a trained model, a
  * bucketed table. The protocol, in order:
  *
  *  1. [[root]]: the scratch directory `graft_<kind>_<user>_<md5(dir)>`
  *     under `java.io.tmpdir` (read on every call);
  *  2. [[fingerprint]]: an order-free content hash of what the write
  *     would produce, `tag:count:sum(hash(cols))`;
  *  3. [[materializeIfChanged]]: under a lock on the `<root>.lock`
  *     sibling, compare it with the marker the last successful write
  *     left in the root; on a miss wipe the root, run the write, then
  *     write the marker — LAST, so it is the commit point: a crash or a
  *     throwing write leaves no marker and the next call rewrites.
  *
  * A write that stores the planned rows one-for-one takes the observed
  * form, `materializeIfChanged(out, tag, planned, cols)(write)`: on a
  * root with no marker (a cold root) the fingerprint's two aggregates
  * ride the write itself through `Dataset.observe`, so the input is read
  * once, not once for the fingerprint and again for the write. A root
  * that has a marker computes the fingerprint first, as the plain form.
  *
  * Bump a fingerprint's tag when the write's output changes for the
  * same input (a new formula, a new file in the root): the content hash
  * cannot see code. Two callers fuse the fingerprint into another pass
  * through [[aggregates]] — `Layout.lakeE2e` (per-cell, feeding the
  * DECIDE histogram) and `BucketedTables.bucketedAttribution` (per
  * slice, feeding the bucket sizing) — and format the folded counters
  * with [[fingerprintOf]]; their strings equal [[fingerprint]]'s. */
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
    * the marker. For fingerprints computed elsewhere (the fused sites,
    * lineages whose write is not the fingerprinted rows). */
  private[graft] def materializeIfChanged(out: String, fingerprint: String)(
      write: => Unit): Unit =
    guarded(out) { current =>
      if (current.contains(fingerprint)) None
      else { wipe(out); write; Some(fingerprint) }
    }

  /** [[materializeIfChanged]] for a `write` that stores `planned`'s rows
    * one-for-one, fingerprinted over `cols` under `tag`. With a marker
    * in `out` it is the plain form: [[fingerprint]], compare, rewrite on
    * a miss. With none (a cold root) there is nothing to compare, so it
    * wipes, hands `write` the planned frame with the fingerprint's
    * aggregates observed, and builds the marker from what the write
    * counted — the string [[fingerprint]] would have returned, without
    * its job. `write` must run every row of the frame it is handed (a
    * `limit` above it counts a prefix): a wrong count writes a marker
    * the next warm call misses, which costs one rewrite. When the
    * observation does not arrive within [[ObservedWait]] (the write
    * never ran the observed plan) or arrives empty (AQE pruned the node
    * over an empty input), the marker comes from a [[fingerprint]] job
    * after the write. */
  private[graft] def materializeIfChanged(out: String, tag: String, planned: DataFrame,
      cols: Seq[String])(write: DataFrame => Unit): Unit = {
    def computed = fingerprint(tag, planned.select(cols.map(col): _*))
    guarded(out) {
      case Some(current) =>
        val fp = computed
        if (current == fp) None else { wipe(out); write(planned); Some(fp) }
      case None =>
        val obs = Observation()
        val (n, h) = aggregates(cols.map(col))
        wipe(out)
        write(planned.observe(obs, n.as("n"), h.as("h")))
        Some(observed(tag, obs).getOrElse(computed))
    }
  }

  /** How long a cold write's caller waits, after the write returned, for
    * its observation: the listener bus delivers it asynchronously. */
  private val ObservedWait = 10.seconds

  /** The fingerprint `obs` counted, or None when it never completed or
    * completed empty. */
  private def observed(tag: String, obs: Observation): Option[String] =
    scala.util.Try(Await.result(obs.future, ObservedWait)).toOption
      .filter(_.length == 2)
      .map(r => fingerprintOf(tag, r.getLong(0), r.getLong(1)))

  /** The in-process monitor and the OS lock around one guarded call:
    * `body` gets the marker's current content (None without a marker)
    * and returns the marker to commit, or None to leave the root as it
    * is. The OS file lock on `<out>.lock` (NEXT TO the root, so the wipe
    * cannot delete it) serializes two JVMs sharing the path (a bench run
    * racing `sbt test` on one fixture); the monitor covers same-process
    * reentry, where a second `FileChannel.lock` would throw instead of
    * blocking. */
  private def guarded(out: String)(body: Option[String] => Option[String]): Unit =
    monitorFor(out).synchronized {
      val ch = java.nio.channels.FileChannel.open(Paths.get(s"$out.lock"),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val lock = ch.lock()
        try {
          val marker = Paths.get(out, Marker)
          val current = if (Files.isRegularFile(marker))
            Some(new String(Files.readAllBytes(marker), "UTF-8")) else None
          body(current).foreach { fp =>
            Files.createDirectories(marker.getParent)
            Files.write(marker, fp.getBytes("UTF-8"))
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

package graft.exec

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Bounded pool for overlapping INDEPENDENT per-stage report chains
  * (optimization guide §2.6: Spark's scheduler happily runs several
  * jobs at once inside one application — the lake reports' stage
  * chains were sequential only because the driver called them
  * sequentially, leaving most of local[N] idle during each small
  * manifest/probe job). The only thread pool in graft's main code.
  *
  * Sizing: a constant 3 threads — enough to fill the tail of one
  * chain with the next chain's jobs, not enough to fight over
  * executors. The pool is process-global and shared by every query in
  * the JVM: two lake reports running CONCURRENTLY (a multi-tenant
  * driver) serialize through it rather than oversubscribing the
  * scheduler. Callers submit LEAF tasks only (a task must never call
  * [[async]] itself, which could exhaust the fixed pool and deadlock).
  * Daemon threads so a crashed run exits. */
object Pool {
  private lazy val reportPool =
    java.util.concurrent.Executors.newFixedThreadPool(3, reportThreads)

  /** Pool threads are built with `inheritThreadLocals = false`: Spark's
    * local properties live in an InheritableThreadLocal, so a thread
    * created while its submitter sat inside an action would otherwise
    * keep that submitter's `spark.sql.execution.id`, callSite, etc. for
    * its whole life and mis-attribute every later task it runs. The job
    * properties a task SHOULD carry are handed over explicitly per task
    * ([[inheritedJobProps]]). */
  private[graft] val reportThreads: java.util.concurrent.ThreadFactory =
    (r: Runnable) => {
      val t = new Thread(null, r, "graft-report", 0, false)
      t.setDaemon(true)
      t
    }

  /** Spark thread-local job properties a pool task must INHERIT from
    * its submitter: job group (so cancelJobGroup on the query's thread
    * also cancels its async jobs — without this a cancelled query
    * leaves orphans running), description (readable UI), interrupt
    * flag, and scheduler pool. */
  private val inheritedJobProps = Seq(
    "spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel", "spark.scheduler.pool")

  /** One independent eager report task on [[reportPool]]; `await` joins
    * it and unwraps ExecutionException so caller stack traces carry the
    * task's own failure. `cancel` is the failure path of a submitter
    * that will never read the result: a task that has not started never
    * will, and a running one has its Spark jobs cancelled by tag —
    * repeatedly, since it may submit the next job before it notices —
    * until its thread leaves `task`, so the submitter rethrows with no
    * orphan job still running. */
  private[graft] final class ReportTask[A] private[Pool] (sc: SparkContext, task: () => A) {
    // capture the SUBMITTING thread's job group/pool properties so jobs
    // launched from the pool thread stay inside the caller's cancel
    // scope (properties are thread-local; an untagged pool thread would
    // otherwise run its jobs in no group at all)
    private val captured = inheritedJobProps.map(k => k -> sc.getLocalProperty(k))
    private val tag = s"graft-report-${java.util.UUID.randomUUID}"
    private val started = new java.util.concurrent.atomic.AtomicBoolean(false)
    private val done = new java.util.concurrent.CountDownLatch(1)
    @volatile private var joined = false
    private val f = reportPool.submit(new java.util.concurrent.Callable[A] {
      def call(): A = {
        if (!started.compareAndSet(false, true))
          throw new java.util.concurrent.CancellationException("cancelled before start")
        try {
          // a null value clears a stale property
          captured.foreach { case (k, v) => sc.setLocalProperty(k, v) }
          sc.addJobTag(tag)
          try task()
          finally {
            // don't leak into the next task
            sc.removeJobTag(tag)
            captured.foreach { case (k, _) => sc.setLocalProperty(k, null) }
          }
        } finally done.countDown()
      }
    })

    def await: A =
      try f.get()
      catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      finally joined = true

    /** Whether [[await]] has returned or thrown: the task's outcome is
      * in the submitter's hands. */
    private[Pool] def isJoined: Boolean = joined

    def cancel(): Unit =
      if (started.compareAndSet(false, true)) f.cancel(false)
      else {
        var joined = false
        while (!joined) {
          sc.cancelJobsWithTag(tag)
          joined = done.await(50, java.util.concurrent.TimeUnit.MILLISECONDS)
        }
      }
  }

  /** Submit `task` on the report pool; its jobs run in the job group of
    * the calling thread on `spark`'s context. A submitter that can fail
    * before joining every task goes through [[overlap]] instead. */
  private[graft] def async[A](spark: SparkSession)(task: () => A): ReportTask[A] =
    new ReportTask(spark.sparkContext, task)

  /** The tasks one [[overlap]] body submitted. */
  private[graft] final class Overlap private[Pool] (spark: SparkSession) {
    private val tasks = new java.util.concurrent.ConcurrentLinkedQueue[ReportTask[_]]()

    /** [[Pool.async]], tracked so a failing body cancels it. */
    def async[A](task: () => A): ReportTask[A] = {
      val t = Pool.async(spark)(task)
      tasks.add(t)
      t
    }

    private[Pool] def cancelUnjoined(): Unit =
      tasks.forEach(t => if (!t.isJoined) t.cancel())
  }

  /** Run `body`, which overlaps report tasks with its own work through
    * the [[Overlap]] it is handed. If the body — or any `await` in it —
    * throws, every task not yet joined is cancelled (and joined) before
    * the exception propagates, so a failed query leaves no orphan job
    * running. */
  private[graft] def overlap[A](spark: SparkSession)(body: Overlap => A): A = {
    val o = new Overlap(spark)
    try body(o)
    catch {
      case e: Throwable =>
        try o.cancelUnjoined()
        catch { case c: Throwable => e.addSuppressed(c) }
        throw e
    }
  }
}

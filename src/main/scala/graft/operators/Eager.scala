package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Eager materialization with a DIRECT release handle (ADVICE r14).
  *
  * The repo's read-then-overwrite discipline eagerly
  * `localCheckpoint(true)`s any frame that lazily reads a path about to
  * be overwritten. Checkpoint blocks live OUTSIDE the cache manager, so
  * they must be released by RDD id once consumed — and the pre-r15
  * tracking (diffing `sc.getPersistentRDDs.keySet` around the
  * checkpoint call) would capture and later unpersist ANY RDD persisted
  * concurrently by another query in the same SparkSession, destroying
  * that query's only lineage. The writer lease serializes writers on a
  * STORE; it cannot serialize session-level concurrency. This helper
  * instead pulls the checkpointed RDD straight off the returned frame's
  * plan (a `localCheckpoint` frame is a `LogicalRDD` leaf over exactly
  * the persisted RDD), so release touches nothing but its own blocks.
  */
object Eager {

  /** `df.localCheckpoint(eager = true)` plus a release thunk that
    * unpersists exactly the checkpointed RDD backing the returned
    * frame. Idempotent; releasing while a consumer still needs the
    * frame makes it unrecoverable (checkpointing truncates lineage), so
    * release only after every consumer has run.
    */
  def checkpoint(df: DataFrame): (DataFrame, () => Unit) = {
    val ck = df.localCheckpoint(true)
    (ck, () => release(ck))
  }

  /** Unpersist the checkpointed RDD backing an ALREADY-checkpointed
    * frame (a no-op on frames that are not checkpoint leaves) — for
    * releasing a frame some callee checkpointed and handed back.
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd }
      .foreach(_.unpersist(blocking = false))

  /** The checkpoints one [[scoped]] body took: each is released when the
    * body exits, normally or by an exception, unless [[keep]] handed it
    * out as the body's result.
    */
  final class Checkpoints {
    private val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    /** [[checkpoint]] `df`, released when the scope closes. */
    def apply(df: DataFrame): DataFrame = register(df.localCheckpoint(true))

    /** Release `ck`, a frame some callee already checkpointed and handed
      * back, when the scope closes. */
    def register(ck: DataFrame): DataFrame = { synchronized(held += ck); ck }

    /** Take `ck` out of the scope: it outlives the body (the caller now
      * owns its release). */
    def keep(ck: DataFrame): DataFrame = { synchronized(held -= ck); ck }

    private[Eager] def releaseAll(): Unit = synchronized {
      held.foreach(release)
      held.clear()
    }
  }

  /** Run `body` with a checkpoint registry that is released in `finally`
    * — a failed cycle leaks no checkpoint blocks, and a successful one
    * needs no hand-threaded release thunks.
    */
  def scoped[A](body: Checkpoints => A): A = {
    val cks = new Checkpoints
    try body(cks)
    finally cks.releaseAll()
  }

  /** Run `body` with `label` as the Spark job description of every job
    * it submits (appended to an enclosing description, so nested steps
    * read `refreshTo: diff`), restoring the previous description after.
    * Job descriptions are thread-local properties that [[parallel]]'s
    * arms inherit, so a profiler or listener can attribute every job of
    * a lifecycle call to the step that ran it.
    */
  def described[A](spark: SparkSession, label: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(if (prev == null) label else s"$prev: $label")
    try body
    finally sc.setJobDescription(prev)
  }

  /** Run independent driver-blocking tasks on concurrent threads
    * (guide §2.6 "overlap independent jobs"): Spark's scheduler runs
    * several jobs at once inside one application — sequential actions
    * are only sequential because the driver submits them sequentially,
    * leaving cores idle through each job's small tail stages. Tasks
    * must be independent (disjoint on-disk state, no shared mutable
    * frames).
    *
    * Fail-stop: every arm is joined before anything is rethrown, so when
    * `parallel` throws no arm is still running — a caller's `finally`
    * (a lease release, a checkpoint release) never races a sibling arm
    * that is still writing. The first failing arm's exception (in
    * argument order) is rethrown with its original cause; the other
    * arms' failures ride along as suppressed exceptions.
    */
  def parallel(tasks: (() => Unit)*): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    try {
      val futures = tasks.map(t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = t()
        }))
      val failures = futures.flatMap { f =>
        try { f.get(); None }
        catch {
          case e: java.util.concurrent.ExecutionException => Some(e.getCause)
        }
      }
      failures.headOption.foreach { first =>
        failures.tail.foreach(first.addSuppressed)
        throw first
      }
    } finally pool.shutdown()
  }
}

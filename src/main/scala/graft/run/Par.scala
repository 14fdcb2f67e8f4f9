package graft.run

import java.util.concurrent.{ExecutionException, FutureTask}

/** Concurrent submission of INDEPENDENT Spark actions from one driver
  * (guide §2.6: actions are only sequential because driver code calls
  * them sequentially — independent jobs submitted together let the
  * scheduler back-fill executors freed by each job's straggler tail).
  *
  * The ingestion-loop operators (`Dedup.minhashBuild/Extend`,
  * `Similarity.ivfBuild/Extend`) and the streaming ingest gates chain
  * many small ELIGIBLE-to-overlap blocking actions (localCheckpoint
  * materializations, bookkeeping counts): e.g. after an extend's delta
  * checkpoint, the buckets-union checkpoint, sets-union checkpoint and
  * admitted-row count touch only that materialized delta and the old
  * (already materialized) index — nothing orders them. Running them on
  * one thread serializes ~N job latencies; joining them here costs the
  * longest one.
  *
  * Threads are plain daemon threads created per call: the fork sites
  * run O(micro-batches) times per query with 2-3 branches each, so
  * pool management would buy nothing, and a FRESH thread inherits the
  * caller's Spark local properties (job group/description — Spark
  * keeps them in an InheritableThreadLocal) exactly like the
  * subquery-execution threads do. Every branch is awaited before a
  * join returns or throws, so no job of a fork group is left in flight
  * on the failure path; the first failure in slot order (the calling
  * thread's branch first) is then rethrown with its original exception
  * type and any later failures are dropped.
  */
object Par {

  /** Run both thunks concurrently (b on a fresh daemon thread, a on
    * the calling thread) and return both results. */
  def join2[A, B](a: () => A, b: () => B): (A, B) = {
    val fb = fork(b)
    val ra = settle(a, Seq(fb))
    (ra, fb.get())
  }

  /** Run all three thunks concurrently; see [[join2]]. */
  def join3[A, B, C](a: () => A, b: () => B, c: () => C): (A, B, C) = {
    val fb = fork(b); val fc = fork(c)
    val ra = settle(a, Seq(fb, fc))
    (ra, fb.get(), fc.get())
  }

  /** Run all four thunks concurrently; see [[join2]]. */
  def join4[A, B, C, D](a: () => A, b: () => B, c: () => C,
                        d: () => D): (A, B, C, D) = {
    val fb = fork(b); val fc = fork(c); val fd = fork(d)
    val ra = settle(a, Seq(fb, fc, fd))
    (ra, fb.get(), fc.get(), fd.get())
  }

  private def fork[T](body: () => T): FutureTask[T] = {
    val task = new FutureTask[T](() => body())
    val t = new Thread(task, "graft-par")
    t.setDaemon(true)
    t.start()
    task
  }

  /** Run the caller-thread branch, then await EVERY forked branch
    * whatever the outcomes, and only then rethrow the first failure
    * (caller branch first, then forked slot order). On return every
    * forked task has completed normally, so its `get()` does not
    * block. */
  private def settle[A](a: () => A, forked: Seq[FutureTask[_]]): A = {
    val ra = try Right(a()) catch { case e: Throwable => Left(e) }
    val failures = forked.flatMap { f =>
      try { f.get(); None }
      catch { case e: ExecutionException => Some(Option(e.getCause).getOrElse(e)) }
    }
    ra match {
      case Left(e) => throw e
      case Right(r) => failures.headOption.foreach(e => throw e); r
    }
  }
}

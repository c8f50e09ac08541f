package graft.io

import java.util.concurrent.{Callable, ExecutionException, Executors}

/** The one way the engine submits INDEPENDENT driver-side work
  * concurrently — per-directory rewrites, paired staging writes,
  * sidecar-file installs, concurrent loaders against one manifest (whose
  * commit loop absorbs the append race). Spark's scheduler is
  * multi-job, so jobs submitted from these threads run side by side.
  *
  * Contract:
  *  - each call builds its own pool of `min(tasks.size, 8)` threads and
  *    shuts it down before returning; an empty list returns `Nil`
  *    without a pool. The threads are created by the CALLING thread, so
  *    they inherit its SparkContext local properties (job group, job
  *    description, SQL execution id): cancelling the caller's job group
  *    reaches every job a task submits, and the jobs are attributed to
  *    the caller's query.
  *  - results come back in task order.
  *  - the call waits for EVERY task before it rethrows, so no task is
  *    abandoned mid-write; it rethrows the first failure in task order,
  *    with the later failures attached via `addSuppressed`.
  */
private[graft] object GraftPar {

  /** Pool width: enough to keep a local or small cluster's cores busy
    * with one-task jobs, small enough that a wide fan-out (one task per
    * directory or partition value) does not flood the scheduler.
    */
  private val Width = 8

  def all[A](tasks: Seq[() => A]): Seq[A] = {
    if (tasks.isEmpty) return Nil
    val pool = Executors.newFixedThreadPool(math.min(tasks.size, Width))
    try {
      val futures = tasks.map(t => pool.submit(new Callable[A] {
        override def call(): A = t()
      }))
      val settled = futures.map { f =>
        try Right(f.get()) catch { case e: ExecutionException =>
          Left(e.getCause) }
      }
      settled.collect { case Left(e) => e } match {
        case first +: rest =>
          rest.foreach(first.addSuppressed)
          throw first
        case _ => settled.collect { case Right(a) => a }
      }
    } finally pool.shutdown()
  }
}

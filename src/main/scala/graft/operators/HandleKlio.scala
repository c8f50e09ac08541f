package graft.operators

import java.util.concurrent.{Executors, Future => JFuture, TimeUnit, TimeoutException}

import org.apache.spark.sql.Dataset

import graft.model.KlioMessage

/** The engine's equivalent of the reference's decorator stack
  * (`lib/src/klio/transforms/decorators.py`): user functions over messages,
  * wrapped with element-level retry, timeout, and an error → drop channel.
  *
  * No serialization layer is needed — the reference's `@handle_klio`
  * deserializes proto bytes around every call (`decorators.py:538-614`);
  * here Encoders keep rows in Tungsten format and the user function sees a
  * typed case class.
  *
  * Semantics notes vs the reference:
  *  - retry (`_retry.py:33-121`): same element-level loop, configurable
  *    attempts/delay; distinct from Spark task retries.
  *  - timeout (`_timeout.py:60-145`): the reference forks a killable process
  *    per element; a JVM executor cannot kill hung native code, so this is
  *    thread-level best-effort (documented porting hazard, SURVEY §7.4).
  *  - errors divert the ORIGINAL message to the drop channel and the
  *    pipeline continues (`decorators.py:266-304`).
  */
object HandleKlio {

  /** Outcome envelope: `ok` rows carry the transformed message, error rows
    * the original message + error text (for logging/metrics sinks).
    * `attempts` is how many times the fn ran for this element (1 = first
    * try succeeded or failed fast; 0 = a message that passed by without
    * work, as the runner's pass-thru rows do); `nanos` the total fn wall
    * time across attempts — the per-element source for kmsg-timer metrics
    * ([[Metrics.timed]]).
    */
  case class Attempt(msg: KlioMessage, ok: Boolean, error: String,
      attempts: Int = 1, nanos: Long = 0L)

  private lazy val timeoutPool = Executors.newCachedThreadPool(r => {
    val t = new Thread(r, "klio-timeout")
    t.setDaemon(true)
    t
  })

  private def runOnce(fn: KlioMessage => KlioMessage, msg: KlioMessage,
      timeoutMs: Long): KlioMessage =
    if (timeoutMs <= 0) fn(msg)
    else {
      val fut: JFuture[KlioMessage] = timeoutPool.submit(() => fn(msg))
      try fut.get(timeoutMs, TimeUnit.MILLISECONDS)
      catch {
        case e: TimeoutException =>
          fut.cancel(true)
          throw new TimeoutException(
            s"klio fn timed out after ${timeoutMs}ms for ${msg.element}")
        case e: java.util.concurrent.ExecutionException =>
          throw Option(e.getCause).getOrElse(e)
      }
    }

  /** Apply `fn` per message with `retries` extra attempts (delay ms between)
    * and an optional per-element timeout. Returns the full attempt stream;
    * split with [[ok]] / [[dropped]].
    *
    * `retryOn` is the reference's `@retry(exception=...)` filter
    * (`_retry.py:45-57,76`): only matching failures are retried; a
    * non-matching (permanent) failure drops immediately with attempt
    * count 1 instead of burning the retry budget on an error that cannot
    * heal — in the reference it propagates out of the retry wrapper and
    * the outer @handle_klio diverts it, which is exactly the drop channel
    * here. Default: every NonFatal failure is retryable (the reference's
    * `exception or Exception` default).
    */
  def apply(ds: Dataset[KlioMessage], fn: KlioMessage => KlioMessage,
      retries: Int = 0, retryDelayMs: Long = 0, timeoutMs: Long = 0,
      retryOn: Throwable => Boolean = _ => true)
      : Dataset[Attempt] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[Attempt]
    ds.map(attempt(fn, retries, retryDelayMs, timeoutMs, retryOn))
  }

  /** The per-message retry/timeout loop that [[apply]] maps, for callers
    * that run it inside a map of their own (the pipeline runner maps it
    * over the messages tagged `process` only).
    */
  def attempt(fn: KlioMessage => KlioMessage, retries: Int = 0,
      retryDelayMs: Long = 0, timeoutMs: Long = 0,
      retryOn: Throwable => Boolean = _ => true): KlioMessage => Attempt = {
    msg =>
      var attempt = 0
      var fnNanos = 0L
      var result: Attempt = null
      var failFast = false
      while (result == null || (!result.ok && !failFast && attempt <= retries)) {
        if (attempt > 0 && retryDelayMs > 0) Thread.sleep(retryDelayMs)
        // timer covers fn execution only — retry backoff sleeps must not
        // inflate kmsg-timer (the reference times the wrapped call,
        // dispatcher.py:209-236)
        val t0 = System.nanoTime()
        result =
          try Attempt(runOnce(fn, msg, timeoutMs), ok = true, "")
          catch {
            // NonFatal only: an OutOfMemoryError must kill the task, and a
            // task-cancellation interrupt must propagate, not become a
            // "dropped message" that resists the kill
            case e: InterruptedException => throw e
            case scala.util.control.NonFatal(e) =>
              failFast = !retryOn(e)
              Attempt(msg, ok = false,
                s"${e.getClass.getSimpleName}: ${e.getMessage}")
          }
        fnNanos += System.nanoTime() - t0
        attempt += 1
      }
      result.copy(attempts = attempt, nanos = fnNanos)
  }

  /** Convenience `retryOn` for the common class-filter form
    * (`@retry(exception=SomeError)`): retry iff the failure is an
    * instance of any of `classes`.
    */
  def retryOnClasses(classes: Class[_]*): Throwable => Boolean =
    e => classes.exists(_.isInstance(e))

  def ok(attempts: Dataset[Attempt]): Dataset[KlioMessage] = {
    implicit val enc = KlioMessage.encoder
    attempts.filter(_.ok).map(_.msg)
  }

  def dropped(attempts: Dataset[Attempt]): Dataset[Attempt] =
    attempts.filter(!_.ok)
}

package graft.operators

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.execution.QueryExecution

/** Metrics parity (reference `lib/src/klio/metrics/`): the reference fans
  * counters/gauges/timers out to relay clients (client.py:44-172); here
  * `observe()` named columns + a QueryExecutionListener play that role —
  * async by construction, zero cost on the hot path, and the standard klio
  * metric names (kmsg-received / kmsg-success / kmsg-drop-error /
  * kmsg-read / kmsg-write, decorators.py:456-470, io.py:93-145) are
  * preserved so dashboards keyed on them keep working.
  */
object Metrics {

  /** Last observed value per (observation, metric) — the in-process relay
    * client (MetricsLoggerClient parity, logger.py:66-288).
    */
  val collected: TrieMap[(String, String), Long] = TrieMap.empty

  /** Relay client (AbstractRelayClient parity, metrics base.py /
    * shumway.py:76-272): every observed metric fans out to each
    * registered relay from the listener thread — off the hot path, like
    * the reference's 2-thread dispatcher pool (dispatcher.py:47-260). A
    * relay that throws is isolated (a flaky metrics sink must never fail
    * the query's listener).
    */
  trait Relay {
    def emit(observation: String, metric: String, value: Long): Unit
  }

  /** MetricsLoggerClient parity (logger.py:66-288): one log line per
    * metric via log4j.
    */
  object LoggerRelay extends Relay {
    private lazy val log =
      org.apache.log4j.Logger.getLogger("graft.klio.metrics")
    def emit(observation: String, metric: String, value: Long): Unit =
      log.info(s"[$observation] $metric=$value")
  }

  /** The klio metric names the reference registers with COUNTER
    * semantics (monotonic per-run counts — shumway.py distinguishes
    * counter vs gauge emit, :76-272; the names come from
    * decorators.py:456-470, io.py:93-145, _retry.py:59-66). Everything
    * else — gauges and the kmsg-timer family — relays with last-value
    * gauge semantics.
    */
  val CounterMetrics: Set[String] = Set("kmsg-received", "kmsg-success",
    "kmsg-drop", "kmsg-drop-error", "kmsg-read", "kmsg-write",
    "kmsg-retry-attempt")

  /** Shumway/ffwd parity (shumway.py:76-272, native.py:87-244): the
    * reference's default metrics path on the GKE runner pushes every
    * metric to a local agent as a UDP datagram. This relay emits
    * StatsD-format lines — `<prefix>.<observation>.<metric>:<value>|c`
    * for the klio counter names ([[CounterMetrics]], shumway's
    * counter-vs-gauge split), `|g` for gauges and timers — to a
    * configured agent address. UDP is fire-and-forget by design (an
    * absent agent drops packets, never blocks or fails the listener),
    * matching the reference's metrics-must-not-break-the-job stance;
    * the Relay contract isolates any socket error besides.
    * Datagram-illegal characters in names (':', '|', newline, and the
    * '.' hierarchy separator inside a segment) are sanitized to '_' so
    * one odd observation name cannot corrupt the line protocol.
    */
  final class UdpRelay(host: String = "127.0.0.1", port: Int = 19000,
      prefix: String = "klio",
      counters: Set[String] = CounterMetrics)
      extends Relay with java.io.Closeable {
    private val addr = new java.net.InetSocketAddress(host, port)
    private val sock = new java.net.DatagramSocket()
    private def clean(s: String): String =
      s.map(c => if (c == ':' || c == '|' || c == '.' || c == '\n') '_'
        else c)
    private def send(line: String): Unit = {
      val bytes = line.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      sock.send(new java.net.DatagramPacket(bytes, bytes.length, addr))
    }
    def emit(observation: String, metric: String, value: Long): Unit = {
      val name = s"$prefix.${clean(observation)}.${clean(metric)}"
      if (counters.contains(metric)) send(s"$name:$value|c")
      // StatsD reads a signed gauge value as a DELTA, not a set — the
      // protocol's convention for setting a negative gauge is a zero-set
      // followed by the signed decrement, and both lines ride ONE
      // newline-separated datagram (the standard multi-metric packet) so
      // over lossy UDP they apply atomically or not at all
      else if (value < 0) send(s"$name:0|g\n$name:$value|g")
      else send(s"$name:$value|g")
    }
    def close(): Unit = sock.close()
  }

  @volatile private var relays: Vector[Relay] = Vector.empty

  def addRelay(r: Relay): Unit = synchronized { relays = relays :+ r }
  def clearRelays(): Unit = synchronized { relays = Vector.empty }

  // Listener registration is per-SparkSession, so the guard must be too —
  // a JVM-global flag would leave every session after the first unmetered.
  private val installedSessions =
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean])

  class Listener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit =
      qe.observedMetrics.foreach { case (name, row) =>
        row.schema.fieldNames.foreach { f =>
          val v: Option[Long] = row.getAs[Any](f) match {
            case l: Long => Some(l)
            case i: Int => Some(i.toLong)
            // gauge/timer means arrive as doubles; stored rounded (klio
            // relays emit integral ns/values, logger.py:176-208)
            case d: Double => Some(math.round(d))
            case _ => None
          }
          v.foreach { value =>
            collected.put((name, f), value)
            relays.foreach { r =>
              try r.emit(name, f, value)
              catch { case scala.util.control.NonFatal(_) => () }
            }
          }
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  def install(spark: SparkSession): Unit = synchronized {
    if (installedSessions.add(spark)) {
      spark.listenerManager.register(new Listener)
    }
  }

  /** Count messages flowing past, under klio's counter naming
    * (KlioMessageCounter, helpers.py:36-88).
    */
  def counted(df: DataFrame, observation: String, metric: String)
      : DataFrame =
    df.observe(observation, count(lit(1)).as(metric))

  /** Received/success/drop triple around a transform (the `@handle_klio`
    * metric set, decorators.py:456-470).
    */
  def aroundTransform(in: DataFrame, ok: DataFrame, dropped: DataFrame,
      transformName: String): (DataFrame, DataFrame, DataFrame) = (
    counted(in, transformName, "kmsg-received"),
    counted(ok, transformName + "-ok", "kmsg-success"),
    counted(dropped, transformName + "-drop", "kmsg-drop-error"))

  /** Gauge: observe an arbitrary aggregate value under a metric name
    * (MetricsRegistry.gauge, client.py:87-117 — last-value semantics per
    * query run; each completed action refreshes the stored value).
    */
  def gauge(df: DataFrame, observation: String, metric: String,
      value: org.apache.spark.sql.Column): DataFrame =
    df.observe(observation, value.as(metric))

  /** Timer family over a [[graft.operators.HandleKlio.Attempt]] stream
    * (MetricsRegistry.timer + TimerDispatcher, client.py:119-151,
    * dispatcher.py:47-260 — the reference times every @handle_klio call
    * in ns and relays kmsg-timer per transform): per-element `nanos` are
    * aggregated alongside the flow as max/mean/total plus the retry
    * counters (`kmsg-retry-attempt`, `_retry.py:59-66`), all observe-based
    * — zero cost on the hot path, surfaced through [[Listener]]. Only
    * rows the fn ran on (`attempts > 0`) count: messages that passed by
    * without work move neither the mean nor the retry counter.
    */
  def timed[T](ds: org.apache.spark.sql.Dataset[T], observation: String)
      : org.apache.spark.sql.Dataset[T] = {
    val ran = col("attempts") > 0
    ds.observe(observation,
      max(when(ran, col("nanos"))).as("kmsg-timer-max"),
      avg(when(ran, col("nanos"))).as("kmsg-timer-mean"),
      sum(when(ran, col("nanos"))).as("kmsg-timer-total"),
      sum(when(ran, col("attempts") - 1)).as("kmsg-retry-attempt"))
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.model.KlioWire
import graft.operators.{Metrics, Prelude}

class WireV1MetricsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("v1 wire messages upgrade to v2 on decode") {
    val lines = Seq(
      """{"version":1,"entity_id":"old_style"}""",
      """{"element":"new_style","version":2}""",
      "bare_id").toDF("value")
    val decoded = KlioWire.decode(lines, allowNonKlio = true)
    val rows = decoded.select("element", "version").collect()
      .map(r => (r.getString(0), r.getInt(1))).sortBy(_._1)
    assert(rows.toSeq === Seq(("bare_id", 2), ("new_style", 2),
      ("old_style", 2)))
  }

  test("non-klio lines fail the decode when not allowed") {
    // Reference parity: serializer.py raises DecodeError and fails the
    // bundle — corrupt event input must never vanish silently.
    val lines = Seq("""{"element":"ok"}""", "junk").toDF("value")
    val e = intercept[Throwable] {
      KlioWire.decode(lines, allowNonKlio = false).count()
    }
    assert(e.getMessage.contains("DecodeError") ||
      Option(e.getCause).exists(_.getMessage.contains("DecodeError")))
    // the guard is a FILTER, so it survives column pruning: a consumer
    // that never touches `element` must still fail on the corrupt row
    val e2 = intercept[Throwable] {
      KlioWire.decode(lines, allowNonKlio = false)
        .select("payload").count()
    }
    assert(e2.getMessage.contains("DecodeError") ||
      Option(e2.getCause).exists(_.getMessage.contains("DecodeError")))
  }

  test("v2 wire message without metadata decodes with full defaults") {
    val lines = Seq("""{"element":"x","version":2}""").toDF("value")
    val m = KlioWire.decode(lines, allowNonKlio = false).collect().head
    val md = m.getStruct(m.fieldIndex("metadata"))
    assert(!md.getBoolean(md.fieldIndex("force")))
    assert(!md.getBoolean(md.fieldIndex("ping")))
    val ir = md.getStruct(md.fieldIndex("intendedRecipients"))
    assert(ir.getString(ir.fieldIndex("mode")) === "anyone")
    assert(ir.getSeq[Any](ir.fieldIndex("recipients")).isEmpty)
    assert(md.getSeq[Any](md.fieldIndex("jobAuditLog")).isEmpty)
  }

  test("v1 decode preserves payload and force/ping metadata") {
    val lines = Seq(
      """{"version":1,"entity_id":"a","payload":"state",""" +
        """"metadata":{"force":true,"ping":true}}""").toDF("value")
    val m = KlioWire.decode(lines, allowNonKlio = false).collect().head
    assert(m.getString(m.fieldIndex("element")) === "a")
    assert(m.getString(m.fieldIndex("payload")) === "state")
    val md = m.getStruct(m.fieldIndex("metadata"))
    assert(md.getBoolean(md.fieldIndex("force")))
    assert(md.getBoolean(md.fieldIndex("ping")))
  }

  test("observe counters reach the metrics listener with klio names") {
    Metrics.install(spark)
    val df = Seq("a", "b", "c").toDF("element")
    Metrics.counted(df, "test_obs", "kmsg-read").count()
    // listener fires asynchronously on query completion
    var waited = 0
    while (!Metrics.collected.contains(("test_obs", "kmsg-read")) &&
        waited < 50) { Thread.sleep(100); waited += 1 }
    assert(Metrics.collected(("test_obs", "kmsg-read")) === 3L)
  }

  test("timer and retry metrics flow from the attempt stream") {
    import graft.model.KlioMessage
    import graft.operators.HandleKlio
    Metrics.install(spark)
    val ds = Seq(KlioMessage("t1"), KlioMessage("t2")).toDS()
    val attempts = HandleKlio(ds, m => {
      val n = WireV1MetricsSpec.tries.merge(m.element, 1, _ + _)
      if (m.element == "t2" && n < 2) sys.error("transient")
      m
    }, retries = 2)
    // messages that passed by without work (the runner's pass-thru rows)
    // must move neither the mean nor the retry counter
    val passedBy = Seq("p1", "p2", "p3").map(e =>
      HandleKlio.Attempt(KlioMessage(e), ok = true, "", attempts = 0)).toDS()
    Metrics.timed(attempts.union(passedBy), "timer_obs").count()
    var waited = 0
    while (!Metrics.collected.contains(("timer_obs", "kmsg-timer-max")) &&
        waited < 50) { Thread.sleep(100); waited += 1 }
    assert(Metrics.collected(("timer_obs", "kmsg-timer-max")) > 0L)
    assert(Metrics.collected(("timer_obs", "kmsg-timer-mean")) > 0L)
    assert(Metrics.collected(("timer_obs", "kmsg-timer-total")) >=
      Metrics.collected(("timer_obs", "kmsg-timer-max")))
    assert(Metrics.collected(("timer_obs", "kmsg-timer-mean")) ===
      math.round(Metrics.collected(("timer_obs", "kmsg-timer-total")) / 2.0))
    // t2 failed once before succeeding → exactly one retry attempt
    assert(Metrics.collected(("timer_obs", "kmsg-retry-attempt")) === 1L)
  }

  test("registered relay clients receive every observed metric") {
    Metrics.install(spark)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Long)]
    val relay = new Metrics.Relay {
      def emit(o: String, m: String, v: Long): Unit = got.add((o, m, v))
    }
    // a throwing relay must not poison the healthy one
    Metrics.addRelay((_, _, _) => sys.error("flaky sink"))
    Metrics.addRelay(relay)
    try {
      val df = Seq("a", "b").toDF("element")
      Metrics.counted(df, "relay_obs", "kmsg-read").count()
      var waited = 0
      while (!got.toArray.exists(_.asInstanceOf[(String, String, Long)]
          ._1 == "relay_obs") && waited < 50) {
        Thread.sleep(100); waited += 1
      }
      assert(got.toArray.map(_.asInstanceOf[(String, String, Long)])
        .contains(("relay_obs", "kmsg-read", 2L)))
    } finally Metrics.clearRelays()
  }

  test("UDP relay lands klio metric datagrams on a local agent socket") {
    Metrics.install(spark)
    val agent = new java.net.DatagramSocket() // ephemeral port = the agent
    agent.setSoTimeout(8000)
    val relay = new Metrics.UdpRelay(port = agent.getLocalPort)
    Metrics.addRelay(relay)
    try {
      val df = Seq("a", "b", "c", "d").toDF("element")
      Metrics.counted(df, "udp_obs", "kmsg-write").count()
      // drain datagrams until ours arrives (other tests' metrics may
      // interleave on the shared listener)
      val buf = new Array[Byte](512)
      var line = ""
      var tries = 0
      while (!line.startsWith("klio.udp_obs.") && tries < 20) {
        val p = new java.net.DatagramPacket(buf, buf.length)
        agent.receive(p)
        line = new String(p.getData, p.getOffset, p.getLength,
          java.nio.charset.StandardCharsets.UTF_8)
        tries += 1
      }
      // kmsg-write is a monotonic klio counter → StatsD counter type
      assert(line === "klio.udp_obs.kmsg-write:4|c",
        s"unexpected datagram: $line")
    } finally {
      Metrics.clearRelays()
      relay.close()
      agent.close()
    }
  }

  test("UDP relay distinguishes counter vs gauge/timer StatsD types") {
    // shumway registers kmsg counts as counters and everything else
    // (gauges, the timer family) as gauge-valued — the suffix is what
    // the agent aggregates by, so a counter mislabeled |g would be
    // read as last-value instead of rate
    val agent = new java.net.DatagramSocket()
    agent.setSoTimeout(8000)
    val relay = new Metrics.UdpRelay(port = agent.getLocalPort)
    def recv(): String = {
      val buf = new Array[Byte](512)
      val p = new java.net.DatagramPacket(buf, buf.length)
      agent.receive(p)
      new String(p.getData, p.getOffset, p.getLength,
        java.nio.charset.StandardCharsets.UTF_8)
    }
    try {
      for (m <- Metrics.CounterMetrics.toSeq.sorted) {
        relay.emit("types", m, 7L)
        assert(recv() === s"klio.types.$m:7|c", s"$m must be a counter")
      }
      relay.emit("types", "kmsg-timer-max", 123L)
      assert(recv() === "klio.types.kmsg-timer-max:123|g",
        "timers relay as gauge-valued")
      relay.emit("types", "queue-depth", 5L)
      assert(recv() === "klio.types.queue-depth:5|g",
        "non-klio metrics default to gauge")
      // negative gauge: atomic zero-set + signed delta, one datagram
      relay.emit("types", "queue-depth", -3L)
      assert(recv() ===
        "klio.types.queue-depth:0|g\nklio.types.queue-depth:-3|g")
    } finally {
      relay.close()
      agent.close()
    }
  }

  test("gauge observes an aggregate value under a metric name") {
    Metrics.install(spark)
    val df = Seq(3L, 9L, 6L).toDF("v")
    Metrics.gauge(df, "gauge_obs", "kmsg-max-v",
      org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.col("v"))).count()
    var waited = 0
    while (!Metrics.collected.contains(("gauge_obs", "kmsg-max-v")) &&
        waited < 50) { Thread.sleep(100); waited += 1 }
    assert(Metrics.collected(("gauge_obs", "kmsg-max-v")) === 9L)
  }

  test("dropAll counts but propagates nothing") {
    val df = Seq("x", "y").toDF("element")
    assert(Prelude.dropAll(df).count() === 0)
  }

  test("debugMessage passes elements through unchanged") {
    val df = Seq("m1", "m2").toDF("element")
    val out = Prelude.debugMessage(df, "TEST").collect()
      .map(_.getString(0)).sorted
    assert(out === Array("m1", "m2"))
  }
}

object WireV1MetricsSpec {
  // Executor-side attempt counter (single-JVM local mode).
  val tries = new java.util.concurrent.ConcurrentHashMap[String, Int]()
}

package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, get_json_object, lit}

import graft.config.KlioConfig
import graft.functions.Dsp
import graft.io.EventIO
import graft.model.KlioMessage
import graft.operators.{HandleKlio, Prelude}
import graft.runner.KlioPipeline

/** klio_batch: each op is one `KlioPipeline.run` over a wire event input
  * whose route mix follows klio's incremental semantics. Most messages
  * find their output already listed and pass through; a fixed share are
  * forced, pinged, addressed to another job or missing their input; the
  * rest reach a transform that decodes a WAV clip and computes MFCCs.
  * The transform writes no data file, so every op sees the same
  * existence listings and the same route counts.
  */
final class KlioBatch(spark: SparkSession, seed: Long) extends Workload {
  import KlioBatch._

  private val bank = clipBank(seed)
  private val calls = spark.sparkContext.longAccumulator("perfbench.dsp_calls")
  private val dspNanos =
    spark.sparkContext.longAccumulator("perfbench.dsp_nanos")
  private val fn = transform(bank, calls, dspNanos)
  private var dir: String = _
  private var bucket: String = _
  private var cfg: KlioConfig = _
  private var parseMs = 0.0
  /** (processed, passed through, dropped, dsp calls) per pipeline run. */
  private val runs = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
  /** DSP accumulator values at the start and end of the traced window. */
  private var traceStart = (0L, 0L)
  private var traceEnd = (0L, 0L)

  private val plan = Routes.plan(seed)

  val warmPasses = 1

  /** Builds the event input and the config under `d`. The data bucket
    * the existence checks list (one empty file per element whose input
    * or output exists) sits next to it and is created once per run, by
    * the first call: it is the environment a klio job runs in, and its
    * ~16k file creations time the disk's metadata latency, which varies
    * severalfold from minute to minute on a shared machine, more than the
    * engine's set-up.
    */
  def setup(d: String): Unit = {
    dir = d
    Files.createDirectories(Paths.get(d))
    bucket = Paths.get(d).getParent.resolve("bucket").toString
    if (!Files.exists(Paths.get(bucket))) createBucket(bucket)
    val byFile = plan.indices.groupBy(_ % InputFiles)
    val inDir = Paths.get(s"$d/events_in")
    Files.createDirectories(inDir)
    byFile.foreach { case (f, idx) =>
      Files.write(inDir.resolve(f"part-$f%05d.json"),
        idx.map(i => wireLine(plan(i))).mkString("", "\n", "\n")
          .getBytes(StandardCharsets.UTF_8))
    }
    val yaml = configYaml(d, bucket)
    val reps = 50
    val t0 = System.nanoTime()
    (1 to reps).foreach(_ => cfg = KlioConfig.fromYaml(yaml))
    parseMs = (System.nanoTime() - t0) / 1e6 / reps
    // first touch: the event input is read and the bucket listed once
    // before any timing
    EventIO.readWire(spark, s"$d/events_in").count()
    Prelude.listingFor(spark, s"$bucket/data_in", ".wav").count()
    Prelude.listingFor(spark, s"$bucket/data_out", ".npy").count()
  }

  private def createBucket(b: String): Unit = {
    val dataIn = Files.createDirectories(Paths.get(s"$b/data_in"))
    val dataOut = Files.createDirectories(Paths.get(s"$b/data_out"))
    java.util.stream.IntStream.range(0, plan.length).parallel().forEach { i =>
      val m = plan(i)
      if (m.route != NoInput)
        dataIn.resolve(m.element + ".wav").toFile.createNewFile()
      if (m.route == Skip || m.route == Forced)
        dataOut.resolve(m.element + ".npy").toFile.createNewFile()
    }
  }

  def pass(run: OpRunner): Unit = {
    val c0 = calls.value
    var summary: KlioPipeline.RunSummary = null
    val op = run("pipeline_run", plan.length) {
      summary = run.tracer.span("runner.run") {
        KlioPipeline.run(spark, cfg, fn, timeoutMs = TimeoutMs,
          now = lit(FixedNow))
      }
    }
    if (op.ok)
      runs += ((summary.processed, summary.passedThru, summary.dropped,
        calls.value - c0))
  }

  def checks(): Seq[Check] = {
    val exp = Routes.expected(plan)
    val perRun = runs.toSeq.zipWithIndex.flatMap {
      case ((p, t, d, c), i) => Seq(
        Check(s"run$i.processed", exp.processed.toString, p.toString),
        Check(s"run$i.pass_thru", exp.passThru.toString, t.toString),
        Check(s"run$i.dropped", exp.dropped.toString, d.toString),
        Check(s"run$i.dsp_calls", p.toString, c.toString))
    }
    // features of a sample of processed messages, against a direct
    // computation on the same clip
    val sample = plan.filter(m => m.route == Fresh || m.route == Forced)
      .filter(_.clip >= 0).take(SampleSize)
    val got = spark.read.text(s"$dir/events_out")
      .select(get_json_object(col("value"), "$.element").as("e"),
        get_json_object(col("value"), "$.payload").as("p"))
      .filter(col("e").isin(sample.map(_.element): _*))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    runs.clear()
    perRun ++ sample.map(m => Check(s"features.${m.element}",
      features(bank(m.clip)), got.getOrElse(m.element, "<missing>")))
  }

  /** With `traced`, the route counts each traced pipeline run reported
    * in its `RunSummary` (the untraced runs' were checked and cleared).
    */
  override def extraRecord(traced: Boolean): Map[String, Any] = {
    val base = Map("klio" -> Map("received" -> plan.length.toLong,
      "config_parse_ms" -> parseMs))
    if (!traced) base
    else base ++ Map("dsp" -> Map("calls" -> (traceEnd._1 - traceStart._1),
      "nanos" -> (traceEnd._2 - traceStart._2)),
      "klio_runs" -> runs.toSeq.map { case (p, t, d, _) =>
        Map("process" -> p, "pass_thru" -> t, "drop" -> d) })
  }

  override def beginTrace(): Unit =
    traceStart = (calls.value, dspNanos.value)

  /** The same inputs through each layer's public entry point on its own:
    * wire decode, the standard prelude with all three branches counted,
    * HandleKlio over the process branch, and wire encode.
    */
  override def probes(run: OpRunner): Unit = {
    traceEnd = (calls.value, dspNanos.value)
    val in = s"$dir/events_in"
    (1 to ProbeReps).foreach { _ =>
      run("probe.model.decode", plan.length) {
        EventIO.readWire(spark, in).write.format("noop").mode("overwrite")
          .save()
      }
      val msgs = EventIO.readWire(spark, in).cache()
      msgs.count()
      val io = cfg.jobConfig.data
      var routed: Prelude.Routed = null
      run("probe.operators.prelude", plan.length) {
        routed = Prelude.standard(msgs, cfg.jobRef,
          Some(Prelude.listingFor(spark, io.inputs.head.location,
            io.inputs.head.fileSuffix)),
          Some(Prelude.listingFor(spark, io.outputs.head.location,
            io.outputs.head.fileSuffix)), now = lit(FixedNow))
        routed.process.count(); routed.passThru.count(); routed.drop.count()
      }
      val process = routed.process.as[KlioMessage](KlioMessage.encoder)
        .cache()
      process.count()
      run("probe.operators.handle", plan.length) {
        HandleKlio(process, fn, timeoutMs = TimeoutMs).write.format("noop")
          .mode("overwrite").save()
      }
      run("probe.model.encode", plan.length) {
        EventIO.writeWire(msgs, s"$dir/probe_out")
      }
      process.unpersist()
      msgs.unpersist()
    }
  }
}

object KlioBatch {
  val Messages = 10000
  val InputFiles = 4
  val ClipBankSize = 32
  val Corrupt = 16
  val SampleSize = 6
  val ProbeReps = 1
  /** Nonzero so that calls go through HandleKlio's timeout pool; far
    * above any clip's time, so it never fires.
    */
  val TimeoutMs = 60000L
  val FixedNow = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")

  // routes by construction
  val Skip = "skip"; val Forced = "forced"; val Ping = "ping"
  val OtherJob = "other_job"; val NoInput = "no_input"; val Fresh = "fresh"

  final case class Msg(element: String, route: String, clip: Int)

  object Routes {
    /** Share of messages per route, in thousandths; the seed permutes
      * which message takes which route, never the counts.
      */
    val Shares: Seq[(String, Int)] = Seq(Skip -> 600, Forced -> 40,
      Ping -> 60, OtherJob -> 60, NoInput -> 60, Fresh -> 180)

    final case class Expected(processed: Long, passThru: Long, dropped: Long)

    def plan(seed: Long): IndexedSeq[Msg] = {
      val counts = Shares.map { case (r, s) => r -> Messages * s / 1000 }
      require(counts.map(_._2).sum == Messages)
      val routes = counts.flatMap { case (r, n) => Seq.fill(n)(r) }
      val rnd = new scala.util.Random(seed)
      val shuffled = rnd.shuffle(routes).toIndexedSeq
      // a fixed number of the transform-bound messages carry a corrupt
      // clip, which the error channel drops
      val bound = shuffled.indices.filter(i =>
        shuffled(i) == Fresh || shuffled(i) == Forced)
      val corrupt = rnd.shuffle(bound).take(Corrupt).toSet
      shuffled.indices.map(i => Msg(f"clip-$i%06d", shuffled(i),
        if (corrupt(i)) -1 else rnd.nextInt(ClipBankSize)))
    }

    def expected(plan: Seq[Msg]): Expected = {
      def n(r: String*) = plan.count(m => r.contains(m.route)).toLong
      val bound = n(Fresh, Forced)
      Expected(bound - Corrupt, n(Skip, Ping), n(OtherJob, NoInput) + Corrupt)
    }
  }

  def wireLine(m: Msg): String = {
    val recipients =
      if (m.route == OtherJob)
        """{"mode":"limited","recipients":[{"jobName":"other-job","gcpProject":"bench"}]}"""
      else """{"mode":"anyone","recipients":[]}"""
    val payload = if (m.clip < 0) "corrupt" else m.clip.toString
    s"""{"element":"${m.element}","payload":"$payload","version":2,""" +
      s""""metadata":{"force":${m.route == Forced},"ping":${m.route == Ping},""" +
      s""""intendedRecipients":$recipients,"jobAuditLog":[]}}"""
  }

  def configYaml(d: String, bucket: String): String =
    s"""version: 2
       |job_name: bench-klio
       |pipeline_options:
       |  project: bench
       |job_config:
       |  events:
       |    inputs:
       |      - type: wire
       |        location: $d/events_in
       |    outputs:
       |      - type: wire
       |        location: $d/events_out
       |  data:
       |    inputs:
       |      - type: file
       |        location: $bucket/data_in
       |        file_suffix: .wav
       |    outputs:
       |      - type: file
       |        location: $bucket/data_out
       |        file_suffix: .npy
       |""".stripMargin

  /** Synthetic mono 16-bit clips: a few partials plus noise, a quarter
    * second at 8 kHz. Clip -1 is a WAV whose data chunk overruns the
    * file.
    */
  def clipBank(seed: Long): Array[Array[Byte]] =
    Array.tabulate(ClipBankSize) { k =>
      val r = new java.util.SplittableRandom(seed * 1000003L + k)
      val sr = 8000
      val partials = Seq.fill(3)((100.0 + r.nextDouble() * 3000.0,
        0.1 + r.nextDouble() * 0.3))
      val y = Array.tabulate(sr / 4) { i =>
        partials.map { case (f, a) => a * math.sin(2 * math.Pi * f * i / sr) }
          .sum + (r.nextDouble() - 0.5) * 0.05
      }
      Dsp.encodeWavPcm16(y, sr)
    }

  val CorruptClip: Array[Byte] =
    Dsp.encodeWavPcm16(Array.fill(4000)(0.0), 8000).take(1000)

  /** Mean MFCC per coefficient, as the message payload. */
  def features(wav: Array[Byte]): String = {
    val (y, sr) = Dsp.decodeWavPcm16(wav)
    val m = Dsp.mfcc(y, sr, nMfcc = 13, nFft = 512, hop = 256, nMels = 32)
    (0 until 13).map(k => m.map(_(k)).sum / m.length).mkString(",")
  }

  def transform(bank: Array[Array[Byte]],
      calls: org.apache.spark.util.LongAccumulator,
      nanos: org.apache.spark.util.LongAccumulator)
      : KlioMessage => KlioMessage = { m =>
    val t0 = System.nanoTime()
    val wav = if (m.payload == "corrupt") CorruptClip else bank(m.payload.toInt)
    val f = features(wav)
    calls.add(1)
    nanos.add(System.nanoTime() - t0)
    m.copy(payload = f)
  }
}

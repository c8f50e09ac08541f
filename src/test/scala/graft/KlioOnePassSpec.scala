package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.config.KlioConfig
import graft.io.EventIO
import graft.model.KlioMessage
import graft.operators.Prelude
import graft.runner.KlioPipeline

/** `KlioPipeline.run` as one tagged pass: one action (the event-output
  * write) plus one broadcast per existence listing, the transform called
  * once per processed message whatever the number of event outputs, and
  * observed counts that agree with the prelude's own route views.
  */
class KlioOnePassSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** element → (force, ping, addressed to another job, input listed,
    * output listed)
    */
  private val plan = Seq(
    "fresh1" -> (false, false, false, true, false),
    "fresh2" -> (false, false, false, true, false),
    "boom" -> (false, false, false, true, false),
    "done1" -> (false, false, false, true, true),
    "done2" -> (false, false, false, true, true),
    "forced" -> (true, false, false, true, true),
    "pinged" -> (false, true, false, true, false),
    "other" -> (false, false, true, true, false),
    "lost" -> (false, false, false, false, false))

  private def wireLine(element: String, force: Boolean, ping: Boolean,
      otherJob: Boolean): String = {
    val recipients =
      if (otherJob) """{"mode":"limited","recipients":""" +
        """[{"jobName":"other-job","gcpProject":"p"}]}"""
      else """{"mode":"anyone","recipients":[]}"""
    s"""{"element":"$element","payload":"","version":2,""" +
      s""""metadata":{"force":$force,"ping":$ping,""" +
      s""""intendedRecipients":$recipients,"jobAuditLog":[]}}"""
  }

  /** A wire event input, data listings and a config with `outputs`
    * event outputs under a fresh directory.
    */
  private def setup(outputs: Int, messages: Boolean = true)
      : (String, KlioConfig) = {
    val base = Files.createTempDirectory("graft-onepass").toString
    Files.createDirectories(Paths.get(s"$base/in"))
    Files.createDirectories(Paths.get(s"$base/data_in"))
    Files.createDirectories(Paths.get(s"$base/data_out"))
    val lines = if (!messages) Seq.empty else plan.map {
      case (e, (force, ping, other, _, _)) => wireLine(e, force, ping, other)
    }
    Files.writeString(Paths.get(s"$base/in/part-0.json"),
      lines.mkString("\n"))
    plan.foreach { case (e, (_, _, _, in, out)) =>
      if (in) Files.createFile(Paths.get(s"$base/data_in/$e.wav"))
      if (out) Files.createFile(Paths.get(s"$base/data_out/$e.npy"))
    }
    val outs = (0 until outputs).map(i =>
      s"""      - type: wire
         |        location: $base/out$i""".stripMargin).mkString("\n")
    val cfg = KlioConfig.fromYaml(
      s"""version: 2
         |job_name: onepass-job
         |pipeline_options:
         |  project: p
         |job_config:
         |  events:
         |    inputs:
         |      - type: wire
         |        location: $base/in
         |    outputs:
         |$outs
         |  data:
         |    inputs:
         |      - type: file
         |        location: $base/data_in
         |        file_suffix: .wav
         |    outputs:
         |      - type: file
         |        location: $base/data_out
         |        file_suffix: .npy
         |""".stripMargin)
    (base, cfg)
  }

  /** Counts transform calls; fails on `boom`. */
  private def transform(calls: org.apache.spark.util.LongAccumulator)
      : KlioMessage => KlioMessage = { m =>
    calls.add(1)
    if (m.element == "boom") sys.error("corrupt clip")
    m.copy(payload = s"done:${m.element}")
  }

  test("one run is the write plus one broadcast per listing") {
    val (_, cfg) = setup(outputs = 1)
    val calls = spark.sparkContext.longAccumulator("onepass.jobs")
    // warm: the first run of a session may plan extra work once
    KlioPipeline.run(spark, cfg, transform(calls))
    var summary: KlioPipeline.RunSummary = null
    val jobs = SparkJobs.during(spark) {
      summary = KlioPipeline.run(spark, cfg, transform(calls))
    }
    assert(jobs <= 3, s"$jobs jobs for one run")
    assert(summary === KlioPipeline.RunSummary(processed = 3,
      passedThru = 3, dropped = 3))
  }

  test("the transform runs once per processed message, for one event " +
      "output and for two") {
    Seq(1, 2).foreach { n =>
      val (base, cfg) = setup(outputs = n)
      val calls = spark.sparkContext.longAccumulator(s"onepass.calls$n")
      val summary = KlioPipeline.run(spark, cfg, transform(calls))
      // boom's one failed call is the only call that did not process
      assert(calls.value === summary.processed + 1, s"$n outputs")
      (0 until n).foreach { i =>
        val out = EventIO.readWire(spark, s"$base/out$i")
          .select("element", "payload").collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap
        assert(out === Map("fresh1" -> "done:fresh1",
          "fresh2" -> "done:fresh2", "forced" -> "done:forced",
          "done1" -> "", "done2" -> "", "pinged" -> ""), s"output $i of $n")
      }
    }
  }

  test("RunSummary equals the three routed views counted separately") {
    val (base, cfg) = setup(outputs = 1)
    val calls = spark.sparkContext.longAccumulator("onepass.summary")
    val summary = KlioPipeline.run(spark, cfg,
      m => { calls.add(1); m })
    val routed = Prelude.standard(EventIO.readWire(spark, s"$base/in"),
      cfg.jobRef,
      Some(Prelude.listingFor(spark, s"$base/data_in", ".wav")),
      Some(Prelude.listingFor(spark, s"$base/data_out", ".npy")))
    assert(summary === KlioPipeline.RunSummary(
      processed = routed.process.count(),
      passedThru = routed.passThru.count(),
      dropped = routed.drop.count()))
    assert(calls.value === summary.processed)
    assert(summary.processed + summary.passedThru + summary.dropped ===
      plan.length)
  }

  test("an empty event input and no event output still complete the " +
      "run's counts") {
    val (_, empty) = setup(outputs = 1, messages = false)
    assert(KlioPipeline.run(spark, empty, identity) ===
      KlioPipeline.RunSummary(0, 0, 0))
    val (_, noOutput) = setup(outputs = 0)
    val calls = spark.sparkContext.longAccumulator("onepass.nooutput")
    assert(KlioPipeline.run(spark, noOutput, transform(calls)) ===
      KlioPipeline.RunSummary(processed = 3, passedThru = 3, dropped = 3))
  }
}

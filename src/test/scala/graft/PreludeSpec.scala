package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model._
import graft.operators.Prelude

/** Routing semantics of the standard prelude, mirroring the decision table
  * the reference asserts in its helper unit tests
  * (`lib/tests/unit/transforms/test_helpers.py`) and the
  * batch-modular-default golden job.
  */
class PreludeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val job = KlioJobRef("test-job", "test-project")
  val otherJob = KlioJobRef("other-job", "test-project")

  def msg(element: String, ping: Boolean = false, force: Boolean = false,
      recipients: KlioRecipients = KlioRecipients("anyone"))
      : KlioMessage =
    KlioMessage(element, metadata =
      KlioMetadata(force = force, ping = ping,
        intendedRecipients = recipients))

  test("distributed listing routes identically to the driver listing") {
    val dir = java.nio.file.Files.createTempDirectory("graft-listing")
    // many files, mixed suffixes — only .wav entries are data
    (0 until 40).foreach { i =>
      java.nio.file.Files.writeString(dir.resolve(s"track-$i.wav"), "x")
    }
    java.nio.file.Files.writeString(dir.resolve("notes.txt"), "x")
    // hidden-file convention: '_'/'.' prefixes are metadata in BOTH
    // listings (Spark's file index filters them; the driver listing must
    // match or the two routings diverge)
    java.nio.file.Files.writeString(dir.resolve("_SUCCESS.wav"), "x")
    java.nio.file.Files.writeString(dir.resolve(".hidden.wav"), "x")
    val driver = Prelude.listingFor(spark, dir.toString, ".wav")
    val dist = Prelude.distributedListingFor(spark, dir.toString, ".wav")
    val driverSet = driver.collect().map(_.getString(0)).toSet
    assert(driverSet === (0 until 40).map(i => s"track-$i").toSet)
    assert(dist.collect().map(_.getString(0)).toSet === driverSet)
    // identical prelude routing through either listing
    val messages = Seq(msg("track-3"), msg("track-39"), msg("gone")).toDS()
      .toDF()
    def route(listing: org.apache.spark.sql.DataFrame) = {
      val routed = Prelude.standard(messages, job, Some(listing), None)
      assert(routed.passThru.count() === 0)
      (routed.process.select("element").as[String].collect().toSet,
        routed.drop.select("element").as[String].collect().toSet)
    }
    assert(route(driver) === route(dist))
    assert(route(dist) === ((Set("track-3", "track-39"), Set("gone"))))
    // a missing directory lists as empty, not an error
    assert(Prelude.distributedListingFor(spark,
      dir.resolve("nope").toString, ".wav").count() === 0)
  }

  test("standard prelude routes ping/force/exists/missing correctly") {
    val messages = Seq(
      msg("fresh"), // no output yet, input present → process
      msg("done"), // output exists, not forced → pass_thru
      msg("done_forced", force = true), // output exists but forced → process
      msg("pinger", ping = true), // ping → pass_thru
      msg("lost"), // input missing → drop
      msg("not_ours",
        recipients = KlioRecipients("limited", Seq(otherJob))) // → drop
    ).toDS().toDF()

    val inputsPresent = Seq("fresh", "done", "done_forced", "pinger")
      .toDF("element")
    val outputsPresent = Seq("done", "done_forced").toDF("element")

    val routed = Prelude.standard(messages, job,
      Some(inputsPresent), Some(outputsPresent))

    assert(routed.process.select("element").as[String].collect().sorted
      === Array("done_forced", "fresh"))
    assert(routed.passThru.select("element").as[String].collect().sorted
      === Array("done", "pinger"))
    assert(routed.drop.select("element").as[String].collect().sorted
      === Array("lost", "not_ours"))
  }

  test("every message lands in exactly one route, whatever is null") {
    // messages from a source that bypassed decode: no metadata at all, no
    // mode, and a triggerChildrenOf struct whose jobName is null
    val lines = Seq(
      """{"element":"no_metadata"}""",
      """{"element":"no_mode","metadata":{"intendedRecipients":""" +
        """{"recipients":[]}}}""",
      """{"element":"partial_origin","metadata":{"intendedRecipients":""" +
        """{"mode":"anyone","triggerChildrenOf":{"gcpProject":"p"}}}}""",
      """{"element":"partial_origin_limited","metadata":""" +
        """{"intendedRecipients":{"mode":"limited","recipients":""" +
        """[{"jobName":"test-job","gcpProject":"test-project"}],""" +
        """"triggerChildrenOf":{"gcpProject":"test-project"}}}}""",
      """{"element":"plain","metadata":{"intendedRecipients":""" +
        """{"mode":"anyone"}}}""")
    val messages = spark.read.schema(KlioMessage.schema).json(lines.toDS())
    val routed = Prelude.standard(messages, job, None, None)
    def elements(df: org.apache.spark.sql.DataFrame) =
      df.select("element").as[String].collect().toSeq
    val all = elements(routed.process) ++ elements(routed.passThru) ++
      elements(routed.drop)
    assert(all.sorted === elements(messages).sorted)
    assert(elements(routed.process).sorted === Seq("partial_origin",
      "partial_origin_limited", "plain"))
    assert(elements(routed.drop).sorted === Seq("no_metadata", "no_mode"))
    val (kept, dropped) = Prelude.checkRecipients(messages, job)
    assert(kept.count() + dropped.count() === lines.length)
    // a partial origin is not this job: the mode stays as it came
    assert(kept.filter(col("element") === "partial_origin_limited")
      .select("metadata.intendedRecipients.mode").as[String].collect()
      === Array("limited"))
  }

  test("config-level global ping routes everything to pass_thru") {
    // helpers.py:107-154 — msg ping ORs with the data-input config's ping;
    // a ping:true job traces the DAG without doing any work.
    val messages = Seq(msg("a"), msg("b", ping = true)).toDS().toDF()
    val (work, pinged) = Prelude.splitPing(messages, pingDefault = true)
    assert(work.count() === 0)
    assert(pinged.count() === 2)
    val routed = Prelude.standard(messages, job, None, None,
      pingDefault = true)
    assert(routed.process.count() === 0)
    assert(routed.passThru.count() === 2)
  }

  test("limited recipients including this job are processed") {
    val m = Seq(msg("mine",
      recipients = KlioRecipients("limited", Seq(job, otherJob)))).toDS().toDF()
    val (kept, dropped) = Prelude.checkRecipients(m, job)
    assert(kept.count() === 1 && dropped.count() === 0)
  }

  test("triggerChildrenOf origin flips limited back to anyone") {
    val m = Seq(msg("resume",
      recipients = KlioRecipients("limited", Seq(job), Some(job))))
      .toDS().toDF()
    val (kept, _) = Prelude.checkRecipients(m, job)
    val modes = kept.select("metadata.intendedRecipients.mode")
      .as[String].collect()
    assert(modes === Array("anyone"))
  }

  test("audit log appends this job") {
    val m = Seq(msg("a")).toDS().toDF()
    val out = Prelude.updateAuditLog(m, job,
      to_timestamp(lit("2024-01-01 00:00:00")))
    val entries = out.select(explode(col("metadata.jobAuditLog")).as("e"))
      .select("e.jobName").as[String].collect()
    assert(entries === Array("test-job"))
  }

  test("triggerUpstream rewrites recipients for bottom-up backfill") {
    val upstream = KlioJobRef("up-job", "test-project")
    val m = Seq(msg("missing")).toDS().toDF()
    val out = Prelude.triggerUpstream(m, upstream, job)
    val row = out.select(
      col("metadata.intendedRecipients.mode"),
      col("metadata.intendedRecipients.triggerChildrenOf.jobName"))
      .collect().head
    assert(row.getString(0) === "limited")
    assert(row.getString(1) === "test-job")
    val recips = out.select(
      explode(col("metadata.intendedRecipients.recipients")).as("r"))
      .select("r.jobName").as[String].collect().sorted
    assert(recips === Array("test-job", "up-job"))
  }
}

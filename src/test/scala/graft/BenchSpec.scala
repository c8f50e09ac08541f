package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.io.GraftPar

/** [[Bench.run]] over stub queries: jobs filed under their run by start
  * time, driver gap from the union of overlapping job intervals, a
  * failure named in the record, one plan file per returned frame, and a
  * bare JSON summary as the last stdout line.
  */
class BenchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("unionMs counts overlapping and nested intervals once, clipped") {
    assert(Bench.unionMs(Nil, 0, 100) == 0)
    assert(Bench.unionMs(Seq((0L, 10L), (5L, 15L)), 0, 100) == 15)
    assert(Bench.unionMs(Seq((0L, 20L), (5L, 10L)), 0, 100) == 20)
    assert(Bench.unionMs(Seq((10L, 15L), (0L, 5L)), 0, 100) == 10)
    assert(Bench.unionMs(Seq((0L, 5L), (25L, 30L)), 10, 20) == 0)
    assert(Bench.unionMs(Seq((5L, 15L), (18L, 40L)), 10, 20) == 7)
    assert(Bench.unionMs(Seq((0L, 40L), (12L, 14L)), 10, 20) == 10)
  }

  /** One single-task RDD job that sleeps `ms`. */
  private def sleepJob(s: SparkSession, ms: Long): () => Long = () =>
    s.sparkContext.parallelize(Seq(1), 1).map { x => Thread.sleep(ms); x }
      .count()

  test("record: jobs, gap, spread, failures, plans and the summary line") {
    val dir = Files.createTempDirectory("graft-bench-spec")
    val out = dir.resolve("record.json")
    val plans = dir.resolve("plans")
    def frame(s: SparkSession): DataFrame = s.emptyDataFrame
    val queries: Map[String, Bench.Query] = Map(
      "x1_par" -> { (s, _) =>
        GraftPar.all(Seq.fill(2)(sleepJob(s, 400))); frame(s) },
      "x2_one" -> { (s, _) => sleepJob(s, 50)(); frame(s) },
      "x3_throws" -> { (_, _) => throw new IllegalStateException("stub") })
    val countJobs = SparkJobs.during(spark)(frame(spark).count())
    val stdout = new java.io.ByteArrayOutputStream()
    Console.withOut(stdout) {
      Bench.run(spark, "stub", queries, out.toString, Some(plans.toString))
    }

    val mapper = new ObjectMapper()
    def fields(n: JsonNode): Map[String, JsonNode] =
      n.fields().asScala.map(e => e.getKey -> e.getValue).toMap
    val rec = mapper.readTree(new String(Files.readAllBytes(out), UTF_8))
    val names = queries.keySet
    Seq("queries", "spread", "jobs", "gap_s").foreach { k =>
      assert(fields(rec.get(k)).keySet == names, k)
    }
    val jobs = fields(rec.get("jobs")).map { case (k, v) => k -> v.asInt }
    assert(jobs("x1_par") == countJobs + 2)
    assert(jobs("x2_one") == countJobs + 1)
    names.foreach { q =>
      val min = rec.get("queries").get(q).asDouble
      val gap = rec.get("gap_s").get(q).asDouble
      assert(gap >= 0 && gap <= min, q)
      assert(rec.get("spread").get(q).asDouble >= 0, q)
    }
    // the two 400 ms jobs overlap: their union, not their sum, is
    // taken from the wall
    assert(rec.get("gap_s").get("x1_par").asDouble <=
      rec.get("queries").get("x1_par").asDouble - 0.35)
    assert(rec.get("failed").elements().asScala.map(_.asText).toSeq ==
      Seq("x3_throws"))
    val written = Files.list(plans).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(written == Set("x1_par.txt", "x2_one.txt"))

    val last = new String(stdout.toByteArray, UTF_8).trim.linesIterator
      .toSeq.last
    val summary = mapper.readTree(last)
    assert(summary.get("metric").asText == "total_summary")
    assert(summary.get("n_queries").asInt == 3)
  }
}

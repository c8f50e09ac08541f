package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

/** The benchmark harness over the declared queries.
  *
  * Each query runs [[Runs]] times, every run from a cleared cache; the
  * record keeps the fastest run's wall, Spark job count and driver gap,
  * and the spread `(max - min) / min` of the walls. A contended machine
  * moment can inflate one run, but not two independent ones.
  *
  * Usage: `sbt "runMain graft.Bench [plansDir]"`. With a directory,
  * `explain("formatted")` of each query's returned frame is written to
  * `<plansDir>/<query>.txt`. Env: `SPARK_GRAFT_SF_DIR`,
  * `SPARK_GRAFT_CPUS`, `SPARK_GRAFT_ONLY` (comma-separated subset) and
  * `SPARK_GRAFT_BENCH_OUT` (record file, default `BENCH_LOCAL.json`).
  */
object Bench {

  /** Timed runs per query; the record keeps the fastest. */
  val Runs = 2

  type Query = (SparkSession, String) => DataFrame

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // validated up front: the value is interpolated unquoted into the
    // JSON record, and spark.sql.shuffle.partitions requires a number
    require(cpus.matches("\\d+"),
      s"SPARK_GRAFT_CPUS must be a positive integer, got '$cpus' " +
        "(local[*] is not supported — pass the actual core count)")
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    val spark = GraftSession.local(cpus)
    try {
      // Warmup: touch every table once (parquet footers, FS cache,
      // codegen, executor threads) so per-query timings measure the
      // query, not first-job session initialization.
      Option(new java.io.File(sfDir).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .foreach(f => spark.read.parquet(f.getPath).count())
      run(spark, sfDir,
        SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) },
        out, args.headOption)
    } finally spark.stop()
  }

  /** One Spark job as the listener saw it; times are the events' own
    * epoch-millisecond stamps, `endMs` is -1 until the job ends.
    */
  private final case class Job(id: Int, startMs: Long, endMs: Long,
      site: String, exec: String)

  /** Records every job's start and end. Read only after the listener bus
    * has been drained.
    */
  private final class JobListener extends SparkListener {
    private val jobs = new ConcurrentHashMap[Int, Job]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val site = e.stageInfos.lastOption.map(_.name).getOrElse("?")
      // the ROOT execution id groups AQE stage-materialization and
      // broadcast-build sub-jobs under the statement that planned them,
      // which the bare callsite (often a CompletableFuture frame) cannot
      val exec = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.root.id"))
          .orElse(Option(p.getProperty("spark.sql.execution.id"))))
        .getOrElse("-")
      jobs.put(e.jobId, Job(e.jobId, e.time, -1L, site.take(90), exec))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.computeIfPresent(e.jobId, (_, j) => j.copy(endMs = e.time))
    def all: Seq[Job] = jobs.values().asScala.toSeq.sortBy(_.id)
  }

  /** Length of the union of `[start, end]` intervals clipped to
    * `[lo, hi]`: jobs that overlap (`GraftPar.all`) count once.
    */
  def unionMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long =
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      // sorted by start, each interval adds only what lies past the
      // furthest end seen so far
      .foldLeft((0L, Long.MinValue)) { case ((total, reach), (a, b)) =>
        (total + math.max(0L, b - math.max(a, reach)), math.max(reach, b))
      }._1

  /** One timed run; the window is on `System.currentTimeMillis`, the
    * clock Spark stamps job events with, so jobs file under it exactly.
    */
  private final case class Run(startMs: Long, endMs: Long, failed: Boolean) {
    def wallS: Double = (endMs - startMs) / 1e3
    def jobsIn(all: Seq[Job]): Seq[Job] =
      all.filter(j => j.startMs >= startMs && j.startMs <= endMs)
    def gapS(all: Seq[Job]): Double = (endMs - startMs - unionMs(
      jobsIn(all).map(j => (j.startMs, if (j.endMs < 0) endMs else j.endMs)),
      startMs, endMs)) / 1e3
  }

  /** Runs `queries` in name order, prints the record and a short summary
    * as the last two stdout lines, and writes the record to `out`.
    */
  def run(spark: SparkSession, sfDir: String, queries: Map[String, Query],
      out: String, plansDir: Option[String]): Unit = {
    val sc = spark.sparkContext
    val listener = new JobListener
    sc.addSparkListener(listener)
    plansDir.foreach(d => Files.createDirectories(Paths.get(d)))
    def familyOf(name: String): String = name.takeWhile(_.isLetter)
    var lastFamily = ""
    val ran = try queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      // the suite accumulates driver-side state across ~250 queries:
      // cached datasets and, above all, loaded catalog tables whose
      // DirStatsProviders memoize deserialized bloom filters. Dropping
      // them at each family boundary (~12 transitions, milliseconds
      // each) starts every family from the same driver state.
      val fam = familyOf(name)
      if (fam != lastFamily && lastFamily.nonEmpty) {
        spark.catalog.clearCache()
        // CatalogManager.reset() is private[sql] (public in bytecode):
        // it drops the memoized catalog instances; registered catalog
        // confs survive, so later queries re-instantiate lazily
        val cm = spark.sessionState.catalogManager
        cm.getClass.getMethod("reset").invoke(cm)
        // persistent RDD blocks left by already-finished queries: every
        // query rebuilds its own state per run, so nothing live holds them
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        System.gc()
      }
      lastFamily = fam
      var frame: Option[DataFrame] = None
      def once(): Run = {
        spark.catalog.clearCache()
        val t0 = System.currentTimeMillis()
        val (rows, failed) =
          try {
            val df = fn(spark, sfDir)
            frame = Some(df)
            (df.count(), false)
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            (-1L, true)
          }
        val r = Run(t0, System.currentTimeMillis(), failed)
        System.err.println(f"[bench] $name%-22s ${r.wallS}%8.3fs  rows=$rows")
        r
      }
      val runs = scala.collection.mutable.ArrayBuffer(once())
      while (runs.size < Runs && !runs.last.failed) runs += once()
      for (dir <- plansDir; df <- frame)
        try Files.write(Paths.get(dir, s"$name.txt"), df.queryExecution
          .explainString(ExplainMode.fromString("formatted")).getBytes(UTF_8))
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] $name: no plan: ${e.getMessage}") }
      (name, runs.toSeq, sc.getPersistentRDDs.size)
    } finally {
      // one drain for the whole suite: every job of a finished action
      // has posted its end event by now. listenerBus is private[spark]
      // (public in bytecode).
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
        .invoke(bus, Long.box(60000L))
      sc.removeSparkListener(listener)
    }
    val jobs = listener.all

    final case class Row(name: String, best: Run, spread: Double,
        jobs: Seq[Job], gapS: Double, failed: Boolean)
    val rows = ran.map { case (name, runs, persisted) =>
      val best = runs.minBy(_.wallS)
      val spread = if (best.wallS > 0)
        (runs.map(_.wallS).max - best.wallS) / best.wallS else 0.0
      val row = Row(name, best, spread, best.jobsIn(jobs), best.gapS(jobs),
        runs.exists(_.failed))
      System.err.println(f"[bench] $name%-22s min ${best.wallS}%.3fs " +
        f"spread $spread%.3f jobs ${row.jobs.size} gap ${row.gapS}%.3fs " +
        s"persisted $persisted")
      // per-statement view: root execution id in first-job order, with a
      // representative (non-future) callsite when one exists
      row.jobs.groupBy(_.exec).toSeq.sortBy(_._2.map(_.id).min)
        .foreach { case (exec, js) =>
          val wall = js.map(j =>
            (if (j.endMs < 0) best.endMs else j.endMs) - j.startMs).sum
          val rep = js.map(_.site).find(!_.contains("CompletableFuture"))
            .getOrElse(js.head.site)
          System.err.println(f"[bench]   exec $exec%-5s ${wall / 1e3}%7.3fs " +
            f"n=${js.size}%-4d $rep")
        }
      row
    }

    def r4(v: Double): Double = math.rint(v * 10000) / 10000
    def obj(f: Row => String): String =
      rows.map(r => "\"" + r.name + "\":" + f(r)).mkString("{", ",", "}")
    val total = r4(rows.map(_.best.wallS).sum)
    // a fast failure must not read as a speedup
    val failedJson = rows.filter(_.failed).map("\"" + _.name + "\"")
      .mkString("[", ",", "]")
    val cpus = sc.defaultParallelism
    val json = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""queries":${obj(r => r4(r.best.wallS).toString)},""" +
      s""""spread":${obj(r => r4(r.spread).toString)},""" +
      s""""jobs":${obj(_.jobs.size.toString)},""" +
      s""""gap_s":${obj(r => r4(r.gapS).toString)},""" +
      s""""failed":$failedJson,"sf":"$sfDir","cpus":$cpus}"""
    println(json)
    // the full line is tens of KB at 253 queries and a captured stdout
    // tail keeps ~2000 characters, so the LAST line is a short summary:
    // totals and per-family subtotals
    val fams = rows.groupBy(r => familyOf(r.name)).toSeq.sortBy(_._1)
      .map { case (f, rs) => "\"" + f + "\":" + r4(rs.map(_.best.wallS).sum) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total_summary","value":$total,"unit":"sec",""" +
      s""""n_queries":${rows.size},"families":$fams,"failed":$failedJson,""" +
      s""""sf":"$sfDir","cpus":$cpus,"queries_file":"$out"}""")
    // stdout capture has truncated before; the file is the complete record
    try Files.write(Paths.get(out), (json + "\n").getBytes(UTF_8))
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}") }
  }
}

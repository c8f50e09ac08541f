package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One measured op: a pipeline run, a lake statement or a query. */
final case class Op(id: Int, kind: String, startMs: Double, endMs: Double,
    items: Long, ok: Boolean, error: String) {
  def ms: Double = endMs - startMs
  def record: Map[String, Any] = Map("id" -> id, "kind" -> kind,
    "start_ms" -> startMs, "end_ms" -> endMs, "ms" -> ms, "items" -> items,
    "ok" -> ok, "error" -> error)
}

/** A correctness comparison made outside the timed window. */
final case class Check(name: String, expected: String, actual: String) {
  def record: Map[String, Any] =
    Map("name" -> name, "expected" -> expected, "actual" -> actual)
}

/** What every workload provides. A pass is the unit that repeats: one
  * pipeline run, or one lake round.
  */
trait Workload {
  /** Builds inputs and tables under `dir`; called several times so that
    * set-up time is a median, and each call's state replaces the last.
    */
  def setup(dir: String): Unit
  def pass(run: OpRunner): Unit
  /** Comparisons of what the measured passes produced against what the
    * inputs imply.
    */
  def checks(): Seq[Check]
  /** Whole passes run before measuring; the first pays the JVM's cold
    * start.
    */
  def warmPasses: Int
  /** Workload facts for the record; `traced` adds the traced window's. */
  def extraRecord(traced: Boolean): Map[String, Any] = Map.empty
  /** Called just before the traced window starts. */
  def beginTrace(): Unit = ()
  /** Extra per-layer probes run after the traced window. */
  def probes(run: OpRunner): Unit = ()
}

/** Issues ops one at a time (a closed loop with one client) and keeps
  * their records.
  */
final class OpRunner(spark: SparkSession, val tracer: Tracer) {
  val ops = mutable.ArrayBuffer.empty[Op]
  private var nextId = 0
  /** Time spent in bookkeeping between ops, left out of the wall time. */
  var untimedNs = 0L

  def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally untimedNs += System.nanoTime() - t0
  }

  def apply(kind: String, items: Long)(body: => Unit): Op = {
    val id = nextId
    nextId += 1
    val start = tracer.nowMs
    val err =
      try { tracer.op(spark, id, kind)(body); null }
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] op $id ($kind) failed: $e")
        e.printStackTrace()
        s"${e.getClass.getSimpleName}: ${e.getMessage}"
      }
    val op = Op(id, kind, start, tracer.nowMs, items, err == null, err)
    ops += op
    op
  }
}

object Harness {
  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${Settings.Cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Settings.Cores.toString)
      // every statement a run issues keeps its generated code, so a
      // measured pass does not recompile what the warm-up compiled
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
        "2")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.graft.tmpDir", s"$work/tmp")
      .config("spark.sql.catalog.lake", "graft.io.dsv2.GraftCatalog")
      .config("spark.sql.catalog.lake.root", s"$work/lake")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A fixed integer loop, timed after warm-up, so that a run made on a
    * slower or busier machine can be told apart from a regression.
    */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 200000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) println("")
    (System.nanoTime() - t0) / 1e6
  }

  private def jvmCounters(): Map[String, Double] = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    Map("gc_count" -> gcs.map(_.getCollectionCount.max(0L)).sum.toDouble,
      "gc_ms" -> gcs.map(_.getCollectionTime.max(0L)).sum.toDouble,
      "jit_ms" -> ManagementFactory.getCompilationMXBean
        .getTotalCompilationTime.toDouble,
      "classes_loaded" -> ManagementFactory.getClassLoadingMXBean
        .getTotalLoadedClassCount.toDouble,
      "cpu_ms" -> os.getProcessCpuTime / 1e6)
  }

  /** Heap in use after full collections: the least of three, 200 ms
    * apart. Spark's ContextCleaner releases blocks of collected datasets
    * only after a collection has found them unreachable, so one
    * collection can still count them.
    */
  private def heapLiveMb(): Double =
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
        (1024.0 * 1024.0)
    }.min

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val passes = arg(args, "passes").toInt
    val tracePasses = arg(args, "trace-passes").toInt
    val traced = arg(args, "trace") == "1"
    val work = arg(args, "work")
    val out = arg(args, "out")

    // wall seconds of each phase of the run, for the record
    val phases = mutable.LinkedHashMap.empty[String, Double]
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases(name) = (now - mark) / 1e9
      mark = now
    }

    val spark = session(work)
    phase("session")
    val w: Workload = workload match {
      case "klio_batch" => new KlioBatch(spark, seed)
      case "lake_mixed" => new LakeMixed(spark, seed)
      case other => sys.error(s"unknown workload $other")
    }

    // set-up, each repetition into its own directory. The first, cold,
    // holds the state the warm-up runs on and is not counted; the others
    // run after the warm-up and `setup_s` is their median. Passes leave
    // the state as they found it, so a measured pass can run right after
    // the warm-up and another after the last set-up: they sample the
    // machine some ten seconds apart, not in one stretch
    def setupOnce(r: Int): Double = {
      val t0 = System.nanoTime()
      w.setup(s"$work/setup$r")
      (System.nanoTime() - t0) / 1e9
    }
    val coldS = setupOnce(0)
    phase("cold_setup")
    val warm = new OpRunner(spark, new Tracer(false))
    (1 to w.warmPasses).foreach(_ => w.pass(warm))
    phase("warm_up")
    val calibMs = calibrate()

    /** Runs `n` passes; returns each pass's wall seconds and the JVM
      * counters' change over them.
      */
    def measure(runner: OpRunner, n: Int)
        : (Seq[Double], Map[String, Double]) = {
      val c0 = jvmCounters()
      val walls = (1 to n).map { _ =>
        val u0 = runner.untimedNs
        val t0 = System.nanoTime()
        w.pass(runner)
        (System.nanoTime() - t0 - (runner.untimedNs - u0)) / 1e9
      }
      val c1 = jvmCounters()
      (walls, c1.map { case (k, v) => k -> (v - c0(k)) })
    }

    // passes after set-up r: alternately right after the warm-up (r = 0)
    // and after the last set-up
    val reps = Settings.SetupReps
    val after = Array.fill(reps + 1)(0)
    (0 until passes).foreach(p => after(if (p % 2 == 0) 0 else reps) += 1)
    val plain = new OpRunner(spark, new Tracer(false))
    val passWalls = mutable.ArrayBuffer.empty[Double]
    var counters = Map.empty[String, Double]
    var setupWall, measureWall = 0.0
    val setupS = (0 to reps).flatMap { r =>
      val s = if (r == 0) None else Some(setupOnce(r))
      setupWall += s.getOrElse(0.0)
      val t0 = System.nanoTime()
      val (walls, c) = measure(plain, after(r))
      measureWall += (System.nanoTime() - t0) / 1e9
      passWalls ++= walls
      counters = c.map { case (k, v) => k -> (v + counters.getOrElse(k, 0.0)) }
      s
    }
    val wallS = passWalls.sum
    phases("setups") = setupWall
    phases("measure") = measureWall
    mark = System.nanoTime()
    val checks = w.checks()
    phase("checks")

    val traceRecord: Map[String, Any] =
      if (!traced) Map.empty
      else {
        val jobs = new JobListener
        spark.sparkContext.addSparkListener(jobs)
        val streams = new StreamListener
        spark.streams.addListener(streams)
        val runner = new OpRunner(spark, new Tracer(true))
        w.beginTrace()
        val (tWalls, tCounters) = measure(runner, tracePasses)
        val tWall = tWalls.sum
        val probeOps = new OpRunner(spark, runner.tracer)
        w.probes(probeOps)
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        Map("wall_s" -> tWall, "jvm" -> tCounters,
          "ops" -> runner.ops.map(_.record), "spans" -> runner.tracer.records,
          "jobs" -> jobs.records, "streams" -> streams.records,
          "probe_ops" -> probeOps.ops.map(_.record)) ++
          w.extraRecord(traced = true)
      }

    val heapMb = heapLiveMb()
    phase("traced_and_heap")
    val record = Map("phases_s" -> phases,
      "workload" -> workload, "seed" -> seed, "passes" -> passes,
      "warm_passes" -> w.warmPasses, "setup_s" -> setupS,
      "setup_cold_s" -> coldS,
      "wall_s" -> wallS, "pass_walls_s" -> passWalls.toSeq,
      "ops" -> plain.ops.map(_.record),
      "warm_ops" -> warm.ops.map(_.record),
      "checks" -> checks.map(_.record), "jvm" -> counters,
      "calib_ms" -> calibMs, "heap_live_mb" -> heapMb,
      "trace" -> traceRecord) ++ w.extraRecord(traced = false)
    Files.write(Paths.get(out), Json(record).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** Fixed run settings: the same on every commit measured. */
object Settings {
  /** Spark's local[k] and shuffle partitions; fixed per workload. */
  val Cores: Int = sys.props.getOrElse("perfbench.cores", "4").toInt
  /** Set-up repetitions after the warm-up; `setup_s` is their median. */
  val SetupReps = 3
}

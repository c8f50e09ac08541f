package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

import scala.collection.mutable

/** Per-job wall-time profiler for ONE declared query — the measurement
  * tool for the composite lifecycle gates, whose wall is spread over
  * dozens of Spark jobs that a single `.explain` on the returned frame
  * cannot attribute. Installs a listener recording every job's
  * (callsite, duration), runs the named query from
  * [[graft.SparkEntry.queries]] exactly as Bench does (same session
  * shape, same confs), and prints jobs sorted by duration plus the
  * gap between summed job wall and end-to-end wall (= driver-side
  * time: planning, commits, manifest IO, requires).
  *
  * Usage: `sbt "runMain graft.tools.QProf <query> [sfDir]"`.
  */
object QProf {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: QProf <queryName>[,<name2>,...] [sfDir]")
    val name0 = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus)
    // same warmup as Bench so first-job session init is excluded
    Option(new java.io.File(sfDir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet"))
      .foreach(f => spark.read.parquet(f.getPath).count())

    val starts = mutable.Map.empty[Int, (Long, String, String)]
    val rows = mutable.ArrayBuffer.empty[(Int, Double, String, String)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = e.stageInfos.lastOption.map(_.name).getOrElse("?")
        // the ROOT execution id groups AQE stage-materialization and
        // broadcast-build sub-jobs under the statement that planned
        // them — the per-statement attribution the bare callsite (a
        // CompletableFuture frame) cannot give
        val exec = Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.sql.execution.root.id"))
            .orElse(Option(p.getProperty("spark.sql.execution.id"))))
          .getOrElse("-")
        starts(e.jobId) = (System.nanoTime(), site.take(90), exec)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        starts.remove(e.jobId).foreach { case (t0, site, exec) =>
          rows += ((e.jobId, (System.nanoTime() - t0) / 1e9, site, exec))
        }
    }
    // comma-separated names share one warmed JVM — per-query startup
    // cost would otherwise dominate a multi-gate profiling sweep
    for (name <- name0.split(",").map(_.trim).filter(_.nonEmpty)) {
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      rows.clear(); starts.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let the async listener bus drain
      spark.sparkContext.removeSparkListener(listener)
      val jobSum = rows.map(_._2).sum
      println(f"== $name: wall=$wall%.2fs rows=$n jobs=${rows.size} " +
        f"jobWall=$jobSum%.2fs driverGap=${wall - jobSum}%.2fs")
      rows.sortBy(-_._2).take(40).foreach { case (id, s, site, _) =>
        println(f"  job $id%4d $s%7.3fs  $site")
      }
      println("== by site:")
      rows.groupBy(_._3).map { case (site, rs) =>
        (rs.map(_._2).sum, rs.size, site)
      }.toSeq.sortBy(-_._1).foreach { case (sum, cnt, site) =>
        println(f"  $sum%7.3fs n=$cnt%-4d $site")
      }
      // per-statement view: root execution id in first-job order, with
      // a representative (non-future) callsite when one exists
      println("== by execution:")
      rows.groupBy(_._4).toSeq
        .sortBy { case (_, rs) => rs.map(_._1).min }
        .foreach { case (exec, rs) =>
          val rep = rs.map(_._3).find(!_.contains("CompletableFuture"))
            .getOrElse(rs.head._3)
          println(f"  exec $exec%-5s ${rs.map(_._2).sum}%7.3fs " +
            f"n=${rs.size}%-4d $rep")
        }
    }
    spark.stop()
  }
}

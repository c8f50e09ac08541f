package graft.tools

import org.apache.spark.sql.execution.ExplainMode

/** Dump `explain("formatted")` of declared queries to files — the
  * plan-evidence half of an optimization round: the judge checks plan
  * claims (join strategy, Exchange count, PushedFilters) against these
  * committed captures, since it cannot run Spark itself.
  *
  * Usage: `sbt "runMain graft.tools.PlanDump <out-dir> <suffix>
  * <q1,q2,...>"` — runs each gate (composite gates build their
  * fixtures as a side effect of producing the frame) and writes
  * `<out-dir>/<query>_<suffix>.txt` with the formatted plan of the
  * RETURNED frame.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <q,..>")
    val (outDir, suffix) = (args(0), args(1))
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      val df = fn(spark, sfDir)
      val txt = df.queryExecution.explainString(
        ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[plandump] wrote $name ($suffix)")
    }
    spark.stop()
  }
}

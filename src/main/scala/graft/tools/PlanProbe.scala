package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.io.{Manifest, SkipStats}

/** Planning-latency octave probe for the DSv2 manifest planner — the
  * measurement half of the stats-in-manifest work: builds tables of
  * 64/256/1024 committed directories and records PLAN-CONSTRUCTION
  * wall time (resolve + pruning walk + `executedPlan`, no execution)
  * for a static range probe, a LIMIT, and a TopN, through BOTH paths:
  *
  *  - `annotated`  — the manifest embeds every directory's stats
  *    (round-14 format): planning reads the manifest once, zero
  *    sidecar IO. Expect wall FLAT-ish in directory count (the
  *    remaining O(dirs) work is in-memory string parsing).
  *  - `fallback`   — annotations stripped (pre-format manifest):
  *    planning opens one sidecar file per directory. Expect wall
  *    linear in directory count — the regime the format removes.
  *
  * Usage: `sbt "runMain graft.tools.PlanProbe [outDir]"` — prints one
  * JSON line per (dirs, path, probe) with min-of-3 millis.
  */
object PlanProbe {

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft_planprobe")
    val s = graft.GraftSession.local("8")
    try run(s, out) finally s.stop()
  }

  private def run(s: SparkSession, out: String): Unit = {
    for (n <- Seq(64, 256, 1024, 4096, 16384)) {
      val root = s"$out/t$n"
      build(s, root, n)
      // the fallback path is linear in directory count by construction
      // (~2 min/1024 dirs measured at r14) — probing it past 1024
      // would spend half an hour re-demonstrating a slope the 3
      // smaller octaves already pin; the big octaves exist to prove
      // the ANNOTATED path stays flat
      for (annotated <- Seq(true, false)
           if annotated || n <= 1024) {
        val r = if (annotated) root else stripped(s, root, n)
        val tag = if (annotated) "annotated" else "fallback"
        for ((probe, q) <- probes(s, r, n)) {
          val ms = (0 until 3).map { _ =>
            val t0 = System.nanoTime()
            q().queryExecution.executedPlan // plan only, no execution
            (System.nanoTime() - t0) / 1e6
          }.min
          println(f"""{"probe":"$probe","dirs":$n,""" +
            f""""path":"$tag","plan_ms":$ms%.1f}""")
        }
      }
    }
  }

  /** n directories of 64 rows each, contiguous key ranges, sidecars
    * installed without per-directory Spark jobs, ONE commit.
    */
  private def build(s: SparkSession, root: String, n: Int): Unit = {
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    if (Manifest.versions(s, root).nonEmpty) return // reuse across runs
    f.delete(new org.apache.hadoop.fs.Path(root), true)
    val stage = s"$root/data/ingest"
    s.range(0, n * 64L).toDF("k")
      .withColumn("pb", format_string("%04d", (col("k") / 64).cast("int")))
      .write.partitionBy("pb").parquet(stage)
    val dirBodies = (0 until n).map { b =>
      val d = f"$stage/pb=$b%04d"
      val body = SkipStats.render(64L,
        Seq("k" -> SkipStats.ColStats("long",
          Some(((b * 64L).toString, (b * 64L + 63).toString)))),
        Map("k" -> 64L))
      SkipStats.installRendered(s, d, body)
      (d, body)
    }
    // seed the commit's annotations (the production write path's
    // discipline): without seeds the rewrite itself pays 3×n
    // sequential probes — at 16384 directories that is the build,
    // not the measurement
    val schemaJson = Manifest.inferDirSchema(s, dirBodies.head._1)
      .map(_.json)
    val seed = dirBodies.flatMap { case (d, body) =>
      Seq(Manifest.seedStats(d, body),
        Manifest.seedBloom(d, Seq.empty)) ++
        schemaJson.map(j => Manifest.seedSchema(d, j)).toSeq
    }.toMap
    Manifest.rewrite(s, root, dirBodies.map(_._1), seedAnn = seed)
  }

  /** A copy of the table whose manifest carries NO annotations — the
    * pre-format planning regime, same data directories.
    */
  private def stripped(s: SparkSession, root: String, n: Int): String = {
    val dst = root + "_plain"
    val f = new org.apache.hadoop.fs.Path(dst)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    if (Manifest.versions(s, dst).nonEmpty) return dst
    f.delete(new org.apache.hadoop.fs.Path(dst), true)
    val body = (Manifest.entries(s, root)
      .mkString("\n") + "\n#graft-manifest-complete")
    f.mkdirs(new org.apache.hadoop.fs.Path(dst))
    val o = f.create(new org.apache.hadoop.fs.Path(dst,
      "manifest-v000001"), true)
    try o.write(body.getBytes("UTF-8")) finally o.close()
    dst
  }

  private def probes(s: SparkSession, root: String, n: Int)
      : Seq[(String, () => org.apache.spark.sql.DataFrame)] = {
    def t = s.read.format("graft").load(root)
    val mid = (n / 2) * 64L
    Seq(
      ("range", () => t.filter(col("k") >= mid && col("k") < mid + 64)),
      ("limit", () => t.limit(50)),
      ("topn", () => t.orderBy(col("k")).limit(50)))
  }
}

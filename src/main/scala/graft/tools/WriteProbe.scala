package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.io.Manifest

/** Write-side octave probe for PARTITIONED inserts — the measurement
  * for the round-15 commit-metadata work: inserts the same number of
  * ROWS split across 64 / 256 / 1024 partition values into a
  * `PARTITIONED BY` catalog table (stats + bloom sidecars enabled) and
  * records the insert's WALL, its Spark JOB COUNT, and the per-leaf
  * metadata IO the commit performed. With the one-job stats build, the
  * one-job bloom build, parallel sidecar installs, and seeded manifest
  * annotations, wall should be FLAT-ish in partition count (the data
  * volume is constant) and job count CONSTANT — the pre-fix regime was
  * one `df.stat.bloomFilter` job per partition value plus 3 sequential
  * driver probes per leaf at commit.
  *
  * Usage: `sbt "runMain graft.tools.WriteProbe [outDir]"` — prints one
  * JSON line per partition-count octave.
  */
object WriteProbe {

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft_writeprobe")
    val s = graft.GraftSession.local("8")
    try run(s, out) finally s.stop()
  }

  private def run(s: SparkSession, out: String): Unit = {
    import s.implicits._
    val rows = 262144 // constant data volume; only leaf count varies
    for (parts <- Seq(64, 256, 1024)) {
      val cat = s"gwp$parts"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.io.dsv2.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", s"$out/cat$parts")
      new org.apache.hadoop.fs.Path(s"$out/cat$parts")
        .getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(s"$out/cat$parts"), true)
      s.sql(s"CREATE TABLE $cat.t (k BIGINT, p BIGINT, v STRING) " +
        "PARTITIONED BY (p) TBLPROPERTIES (" +
        "'statscols'='k', 'bloomcols'='k')")
      (0L until rows.toLong)
        .map(i => (i, i % parts, s"v$i")).toDF("k", "p", "v")
        .createOrReplaceTempView(s"wp_src_$parts")
      // the FLOOR: the same rows through a bare partitionBy parquet
      // write (no manifest, no sidecars, no annotations) — the
      // data-layout cost more partition values inherently carry (more
      // files, dynamic-partition sort). The engine's metadata share is
      // insert wall minus this.
      val src = s.table(s"wp_src_$parts")
      val tf0 = System.nanoTime()
      src.write.partitionBy("p").parquet(s"$out/floor$parts")
      val floorMs = (System.nanoTime() - tf0) / 1e6
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      s.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      s.sql(s"INSERT INTO $cat.t SELECT * FROM wp_src_$parts")
      val wallMs = (System.nanoTime() - t0) / 1e6
      s.sparkContext.removeSparkListener(listener)
      val root = s"$out/cat$parts/t"
      val leaves = Manifest.committed(s, root).size
      // a seeded commit re-probes nothing: annotations must cover every
      // leaf's stats AND schema in the committed manifest
      val ann = Manifest.annotationsOf(s, root)
      val annStats = ann.stats.count(_._2.isDefined)
      val annSchema = ann.schemas.count(_._2.isDefined)
      println(f"""{"probe":"partitioned_insert","parts":$parts,""" +
        f""""rows":$rows,"leaves":$leaves,"wall_ms":$wallMs%.1f,""" +
        f""""floor_ms":$floorMs%.1f,""" +
        f""""meta_ms":${wallMs - floorMs}%.1f,""" +
        f""""jobs":${jobs.get()},"ann_stats":$annStats,""" +
        f""""ann_schema":$annSchema}""")
    }
  }
}

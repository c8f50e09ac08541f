package graft

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{BloomSidecar, Manifest, MergeOnRead, SkipStats}

/** Pins the Spark jobs each lake verb runs, now that a landed
  * directory's sidecars come from the write that made it: a SQL INSERT
  * is the write alone. Every directory a verb lands carries the
  * sidecar bytes a re-read ([[graft.io.Landing.sidecars]]) computes
  * over it.
  */
class LakeVerbJobsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val wh: String = {
    val wh = java.nio.file.Files.createTempDirectory("graft-jobs").toString
    spark.conf.set("spark.sql.catalog.lakejobs",
      "graft.io.dsv2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.lakejobs.root", wh)
    wh
  }

  private def fs = new Path(wh)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def bytes(d: String, name: String): Option[Seq[Byte]] = {
    val p = new Path(d, name)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(org.apache.commons.io.IOUtils.toByteArray(in).toSeq)
      finally in.close()
    }
  }

  /** Rows k in [lo, hi) of a lineitem-like source view. */
  private def src(view: String, lo: Long, hi: Long): Unit =
    spark.sql(s"""SELECT id AS k, date_add(DATE'2024-01-01',
      CAST(id % 90 AS INT)) AS d, CAST(id % 13 AS DOUBLE) AS v,
      concat('s', CAST(id % 17 AS STRING)) AS s FROM range($lo, $hi)""")
      .createOrReplaceTempView(view)

  private def sql(q: String): Unit = spark.sql(q).collect()

  /** Jobs `q` runs on table `t`, after checking that every data
    * directory it lands carries the re-read's sidecar bytes.
    */
  private def verb(t: String, q: String): Int = {
    val root = s"$wh/$t"
    val before = scala.util.Try(Manifest.committed(spark, root).toSet)
      .getOrElse(Set.empty[String])
    val jobs = SparkJobs.during(spark)(sql(q))
    val landed = Manifest.committed(spark, root)
      .filterNot(MergeOnRead.isTombstone).filterNot(before)
    assert(landed.nonEmpty, s"$q landed no directory")
    landed.foreach { d =>
      val stats = SkipStats.read(fs, d).map(_.keySet.toSeq.sorted)
      assert(stats.nonEmpty, s"$d has no skip-stats")
      val blooms = BloomSidecar.readKeys(fs, d).map(_.toSeq.sorted)
      val (seenStats, seenBloom) =
        (bytes(d, SkipStats.StatsFile), bytes(d, "_bloom"))
      graft.io.Landing.sidecars(spark, d, (stats.get,
        blooms.getOrElse(Nil)))
      assert(seenStats === bytes(d, SkipStats.StatsFile), s"stats of $d")
      assert(seenBloom === bytes(d, "_bloom"), s"blooms of $d")
    }
    jobs
  }

  /** Each verb's jobs, over tables `cow` and `mor` made fresh. */
  private def round(tag: String): Map[String, Int] = {
    wh // registers the catalog
    val (cow, mor) = (s"cow$tag", s"mor$tag")
    for ((t, extra) <- Seq(cow -> "", mor -> ", 'morKey'='k'"))
      sql(s"""CREATE TABLE lakejobs.$t (k BIGINT, d DATE, v DOUBLE,
        s STRING) TBLPROPERTIES('statsCols'='k,d'$extra)""")
    src("jobs_a", 0, 400)
    src("jobs_b", 400, 800)
    src("jobs_m", 600, 700)
    sql(s"INSERT INTO lakejobs.$mor SELECT * FROM jobs_a")
    sql(s"INSERT INTO lakejobs.$cow SELECT * FROM jobs_a")
    Map(
      "insert" -> verb(cow, s"INSERT INTO lakejobs.$cow SELECT * FROM jobs_b"),
      "delete_cow" -> verb(cow,
        s"DELETE FROM lakejobs.$cow WHERE k >= 400 AND k < 500"),
      "merge_cow" -> verb(cow, s"""MERGE INTO lakejobs.$cow t
        USING jobs_m m ON t.k = m.k WHEN MATCHED THEN DELETE"""),
      "compact_cow" -> verb(cow,
        s"CALL lakejobs.compact('$cow', 'k', '0', '799')"),
      "update_mor" -> verb(mor, s"""UPDATE lakejobs.$mor
        SET v = v + 1 WHERE k >= 100 AND k < 150"""),
      "fold_mor" -> verb(mor, s"CALL lakejobs.fold('$mor', 'k')"),
      "ctas" -> verb(s"ctas$tag", s"""CREATE TABLE lakejobs.ctas$tag
        TBLPROPERTIES('statsCols'='k,d')
        AS SELECT * FROM jobs_b"""))
  }

  test("each lake verb's jobs, with the sidecars taken from its write") {
    round("warm")
    // each landed directory used to add two jobs (the stats re-read
    // under AQE): 3, 5, 7, 4, 5, 9 and 3 before
    assert(round("") === Map("insert" -> 1, "delete_cow" -> 3,
      "merge_cow" -> 5, "compact_cow" -> 2, "update_mor" -> 3,
      "fold_mor" -> 7, "ctas" -> 1))
  }
}

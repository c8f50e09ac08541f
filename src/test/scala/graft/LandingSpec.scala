package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Landing]]: the one sidecar-column rule every new data
  * directory lands under, the job-free sidecars of a directory it had
  * to fill with a schema-only file, and that it stays the only place in
  * the table layer that builds sidecars or runs declared constraints.
  */
class LandingSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  private def fresh(tag: String): String = {
    val d = System.getProperty("java.io.tmpdir") + s"/graft_landing_$tag"
    new Path(d).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new Path(d), true)
    d
  }

  private def fsOf(d: String) =
    new Path(d).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("the rule: explicit ∪ property ∪ replaced, mapped to physical " +
      "names, cut to columns the directory has at a supported type") {
    import spark.implicits._
    val root = fresh("rule")
    graft.io.dsv2.GraftTableProps.write(spark, root,
      Map("statscols" -> "k", "bloomcols" -> "name,gone"))
    val old = s"$root/data/old"
    Seq((1L, "a", 1.5, "x")).toDF("p_k", "name", "score", "tag")
      .write.parquet(old)
    Landing.sidecars(spark, old, (Seq("score"), Seq("tag")))
    // `k` is the logical name of physical `p_k`; `arr` has no sidecar
    // type and `gone` is not in the landed directory
    val plan = Landing.plan(spark, root, stats = Seq("arr"),
      colMap = Map("p_k" -> "k")).carrying(spark, Seq(old))
    val dir = s"$root/data/new"
    Seq((2L, "b", 2.5, "y", Seq(1))).toDF("p_k", "name", "score", "tag",
      "arr").write.parquet(dir)
    Landing.prepare(spark, plan, dir, None)
    val f = fsOf(dir)
    assert(SkipStats.read(f, dir).map(_.keySet) ===
      Some(Set("p_k", "score")))
    assert(BloomSidecar.readKeys(f, dir) === Some(Set("name", "tag")))
  }

  test("a directory with no parquet file gets a schema file and, " +
      "without a Spark job, the sidecars a job would compute") {
    import spark.implicits._
    val root = fresh("empty")
    val schema = Seq((1L, "a")).toDF("k", "v").schema
    val plan = Landing.plan(spark, root, Seq("k", "v"), Seq("k", "v"))
    val computed = s"$root/data/computed"
    Seq((1L, "a")).toDF("k", "v").filter(lit(false)).write.parquet(computed)
    Landing.prepare(spark, plan, computed, None)
    val dir = s"$root/data/landed"
    // what a DSv2 write whose tasks produced nothing observed
    val none = graft.io.dsv2.ObservingWrites.observed(spark, schema,
      plan.observed(schema), Nil)
    val landingJobs = graft.SparkJobs.during(spark)(Landing.prepare(
      spark, plan, dir, Some(none), Some(schema)))
    val schemaFileJobs = graft.SparkJobs.during(spark)(Landing.schemaFile(
      spark, s"$root/data/bare", schema))
    assert(schemaFileJobs === 1)
    assert(landingJobs === schemaFileJobs,
      "writing the schema file must be the landing's only Spark work")
    assert(spark.read.parquet(dir).schema === spark.read.parquet(computed)
      .schema)
    assert(spark.read.parquet(dir).count() === 0L)
    def bytes(d: String, name: String) = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(new Path(d, name).toUri.getPath))
    assert(bytes(dir, SkipStats.StatsFile).toSeq ===
      bytes(computed, SkipStats.StatsFile).toSeq)
    assert(bytes(dir, "_bloom").toSeq === bytes(computed, "_bloom").toSeq)
  }

  test("Landing is the only place the table layer builds sidecars or " +
      "runs declared constraints") {
    val io = new java.io.File("src/main/scala/graft/io")
    assert(io.isDirectory, s"run from the project root: $io")
    val owners = Set("Landing.scala", "SkipStats.scala",
      "BloomSidecar.scala", "Constraints.scala")
    val banned = Seq("SkipStats\\.write\\(", "BloomSidecar\\.write\\(",
      "\\.carry\\(", "enforceStaged\\(").mkString("|").r
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val offenders = files(io).filterNot(f => owners(f.getName))
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().zipWithIndex
          .filter { case (l, _) => banned.findFirstIn(l).isDefined }
          .map { case (l, i) => s"${f.getPath}:${i + 1}: ${l.trim}" }
          .toList
        finally src.close()
      }
    assert(offenders.isEmpty,
      "land new data directories through Landing.prepare:\n" +
        offenders.mkString("\n"))
  }
}

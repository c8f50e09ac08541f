package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{BloomSidecar, Landing, Manifest, MergeOnRead, SkipStats}

/** [[graft.io.BloomSidecar]] — point-membership sidecars: roundtrip for
  * long and string columns, the no-false-negative contract (the only
  * one correctness rides on), corrupt-file degradation to "keep", and
  * the maintenance carry through the shared CoW machinery.
  */
class BloomSidecarSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-bloom").toString

  test("roundtrip: every present value answers true (no false " +
      "negatives); absent values mostly answer false; string keys " +
      "match Spark's utf8 put") {
    import spark.implicits._
    val dir = tmp() + "/d0"
    (0L until 5000L)
      .map(i => (i * 3, s"key-${i * 3}", Option.empty[String]))
      .toDF("id", "name", "unset").write.parquet(dir)
    Landing.sidecars(spark, dir, (Nil, Seq("id", "name", "unset")))
    val f = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = BloomSidecar.read(f, dir).get
    val (idT, idB) = m("id")
    val (nmT, nmB) = m("name")
    assert(idT === "long" && nmT === "string")
    // the contract: NO false negatives, ever
    (0L until 5000L).foreach { i =>
      assert(BloomSidecar.mightContain(idT, idB, (i * 3).toString))
      assert(BloomSidecar.mightContain(nmT, nmB, s"key-${i * 3}"))
    }
    // absent values answer false at ~the configured fpp
    val falsePos = (0L until 5000L).count(i =>
      BloomSidecar.mightContain(idT, idB, (i * 3 + 1).toString))
    assert(falsePos < 250, s"fpp blew past any plausible bound: $falsePos")
    // unparseable probe on a long column keeps (never a wrong skip)
    assert(BloomSidecar.mightContain(idT, idB, "not-a-number"))
    // a column with no non-null value gets an empty filter: no equality
    // probe can match it
    val (unT, unB) = m("unset")
    assert(!BloomSidecar.mightContain(unT, unB, "key-3"))
  }

  test("a corrupt sidecar reads as None — the directory stays kept") {
    import spark.implicits._
    val dir = tmp() + "/d1"
    (0L until 10L).map(i => Tuple1(i)).toDF("id").write.parquet(dir)
    Landing.sidecars(spark, dir, (Nil, Seq("id")))
    val f = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = f.create(new Path(dir, "_bloom"), true)
    out.write("garbage".getBytes); out.close()
    assert(BloomSidecar.read(f, dir).isEmpty)
  }

  test("maintenance carries the bloom like min/max: a fold's rewritten " +
      "directory re-answers point probes for survivors only") {
    import spark.implicits._
    val root = tmp() + "/tbl"
    val d0 = s"$root/data/b0"
    (0L until 1000L).map(i => (i, i)).toDF("id", "v").write.parquet(d0)
    Landing.sidecars(spark, d0, (Seq("id"), Seq("id")))
    Manifest.commit(spark, root, d0)
    MergeOnRead.deleteWhere(spark, root, "id", col("id") < 100,
      s"$root/data")
    MergeOnRead.fold(spark, root, "id", s"$root/data")
    val folded = Manifest.committed(spark, root)
    assert(folded.size === 1 && folded.head != d0)
    val f = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = BloomSidecar.read(f, folded.head)
    assert(m.exists(_.contains("id")),
      "the fold must carry the bloom sidecar onto the rewritten dir")
    val (t, bf) = m.get("id")
    (100L until 1000L).foreach(i =>
      assert(BloomSidecar.mightContain(t, bf, i.toString)))
  }
}

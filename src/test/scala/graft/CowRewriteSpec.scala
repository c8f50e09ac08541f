package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins Cow.rewrite's contract now that the per-directory rewrites
  * submit CONCURRENTLY: the returned replacement list keeps hit order,
  * every directory's rows pass through the transform exactly once,
  * staging names stay keyed by (prefix, baseVersion, index), sidecars
  * carry (also into an emptied directory), and a failed rewrite
  * rethrows only after its siblings landed, leaving orphans the staging
  * sweep reclaims. A concurrency bug (lost write, order swap, shared
  * mutable state) trips the row or order assertions.
  */
class CowRewriteSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  private def fsOf(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("concurrent rewrite preserves hit order, rows, and sidecars") {
    import spark.implicits._
    val base = System.getProperty("java.io.tmpdir") + "/graft_cowrw"
    fsOf(base).delete(new Path(base), true)
    val nDirs = 9
    val hit = (0 until nDirs).map { i =>
      val d = s"$base/src-$i"
      (i * 100 until i * 100 + 10).map(k => (k.toLong, s"v$k"))
        .toDF("k", "v").coalesce(1).write.parquet(d)
      SkipStats.write(spark, d, Seq("k"))
      d
    }
    val out = Cow.rewrite(spark, Landing.plan(spark, base), hit,
      s"$base/stage", "cow", 7, df => df.filter(col("k") % 2 === 0))
    assert(out == (0 until nDirs).map(i => s"$base/stage/cow-v7-$i"),
      "replacements must come back in hit order with versioned names")
    out.zipWithIndex.foreach { case (d, i) =>
      val ks = spark.read.parquet(d).select("k")
        .as[Long].collect().sorted.toSeq
      assert(ks == (i * 100 until i * 100 + 10).map(_.toLong)
        .filter(_ % 2 == 0),
        s"dir $i must hold exactly its own transformed rows")
      assert(SkipStats.readAll(fsOf(d), d).isDefined,
        s"dir $i must carry its skip-stats sidecar")
    }
  }

  test("a rewrite that empties a bloom-carrying directory carries " +
      "empty filters") {
    import spark.implicits._
    val base = System.getProperty("java.io.tmpdir") + "/graft_cowempty"
    fsOf(base).delete(new Path(base), true)
    val d = s"$base/src"
    (0L until 10L).map(k => (k, s"v$k")).toDF("k", "v")
      .coalesce(1).write.parquet(d)
    Landing.sidecars(spark, d, (Nil, Seq("k", "v")))
    val Seq(out) = Cow.rewrite(spark, Landing.plan(spark, base), Seq(d),
      s"$base/stage", "cow", 1, _.filter(lit(false)))
    assert(spark.read.parquet(out).count() == 0)
    val blooms = BloomSidecar.read(fsOf(out), out)
      .getOrElse(fail("the emptied directory must carry its bloom sidecar"))
    assert(blooms.keySet == Set("k", "v"))
    val (kt, kb) = blooms("k")
    val (vt, vb) = blooms("v")
    assert(!BloomSidecar.mightContain(kt, kb, "3") &&
      !BloomSidecar.mightContain(vt, vb, "v3"),
      "an empty directory's filters reject every probe")
  }

  test("a failed rewrite rethrows after its siblings land; the staging " +
      "sweep deletes exactly their outputs") {
    import spark.implicits._
    val base = System.getProperty("java.io.tmpdir") + "/graft_cowfail"
    fsOf(base).delete(new Path(base), true)
    val (root, stage) = (s"$base/tbl", s"$base/stage")
    val src = (0 until 4).map { i =>
      val d = s"$base/data/src-$i"
      (i * 10 until i * 10 + 10).map(k => (k.toLong, s"v$k"))
        .toDF("k", "v").coalesce(1).write.parquet(d)
      d
    }
    src.foreach(Manifest.commit(spark, root, _))
    // a committed rewrite output already lives under the staging root
    val kept = Cow.rewrite(spark, Landing.plan(spark, root), src.take(1),
      stage, "cow", 1, identity)
    Manifest.rewrite(spark, root, kept ++ src.tail)
    val live = Manifest.entries(spark, root)
    val boom = new IllegalStateException("transform failed")
    val thrown = intercept[IllegalStateException] {
      Cow.rewrite(spark, Landing.plan(spark, root), src.tail, stage,
        "cow", 2, df =>
        if (df.inputFiles.exists(_.contains("/src-2/"))) throw boom
        else { Thread.sleep(300); df })
    }
    assert(thrown eq boom, "the transform's own exception rethrows")
    // hit index 1 (src-2) failed before writing; 0 and 2 are siblings
    val siblings = Seq(0, 2).map(i => s"$stage/cow-v2-$i")
    siblings.foreach { d =>
      assert(fsOf(d).exists(new Path(d, "_SUCCESS")),
        s"sibling $d must have landed before the rethrow")
    }
    assert(!fsOf(stage).exists(new Path(s"$stage/cow-v2-1")))
    assert(Manifest.entries(spark, root) == live, "nothing committed")
    val swept = Manifest.sweepAllOrphans(spark, root, Seq(stage),
      graceMs = 0)
    assert(swept == siblings.map(d => new Path(d).toUri.getPath).sorted,
      "the sweep reclaims exactly the siblings' outputs")
    assert(kept.forall(d => fsOf(d).exists(new Path(d))),
      "a committed staging directory survives the sweep")
    assert(Manifest.snapshot(spark, root).count() == 40)
  }
}

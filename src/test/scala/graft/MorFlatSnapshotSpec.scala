package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{Manifest, MergeOnRead}

/** [[MergeOnRead.snapshot]]'s one merge form — every epoch group read
  * tagged with its epoch, one epoch-conditioned anti-join against a
  * (key, max tombstone rank) frame — pinned on the shapes that once had
  * forms of their own:
  *
  *  - the full op mix (base data + two overlapping scoped updates + a
  *    later unscoped tombstone) returns the expected rows at every
  *    version, at head and time-traveled;
  *  - a drift-evolved table (late column in a newer morins directory)
  *    surfaces the late column, null-filled for the rows written before
  *    it (unionByName allowMissingColumns semantics).
  */
class MorFlatSnapshotSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRoot(tag: String): String = {
    val root = System.getProperty("java.io.tmpdir") + s"/graft_$tag"
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new Path(root), true)
    root
  }

  private def seed(root: String, n: Long): Unit = {
    (0L until n).map(i => (i, i * 10)).toDF("k", "v")
      .write.parquet(s"$root/data/b0")
    Manifest.commit(spark, root, s"$root/data/b0")
  }

  private def rowsOf(root: String, version: Option[Int] = None)
      : Seq[(Long, Long)] =
    MergeOnRead.snapshot(spark, root, "k", version)
      .select(col("k"), col("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("base + two overlapping scoped updates + an unscoped tombstone " +
      "read the expected rows at every version") {
    val root = freshRoot("flat_snap_mix")
    seed(root, 60)
    def upd(keys: Seq[Long], bump: Long): Unit = {
      val rows = MergeOnRead.snapshot(spark, root, "k")
        .filter(col("k").isin(keys: _*))
        .withColumn("v", col("v") + bump)
      MergeOnRead.updateRows(spark, root, "k",
        rows.select(col("k")), rows, s"$root/data")
    }
    upd(Seq(1L, 2L, 3L), 1000)        // epoch 1
    upd(Seq(3L, 4L), 100000)          // epoch 2, overlaps key 3
    // unscoped tombstone AFTER the scoped ones — hides the named keys
    // at EVERY epoch, including the epoch-2 rewrites
    MergeOnRead.deleteKeys(spark, root, "k",
      Seq(2L, 4L, 7L).toDF("k"), s"$root/data")
    val base = (0L until 60L).map(i => i -> i * 10).toMap
    val v1 = base ++ Seq(1L -> 1010L, 2L -> 1020L, 3L -> 1030L)
    val v2 = v1 ++ Seq(3L -> 101030L, 4L -> 100040L)
    val v3 = v2 -- Seq(2L, 4L, 7L)
    val expected = Seq(base, v1, v2, v3)
    val versions = Manifest.versions(spark, root)
    assert(versions.size == expected.size)
    for ((v, want) <- versions.zip(expected) :+ (versions.last, v3)) {
      assert(rowsOf(root, Some(v)) == want.toSeq.sorted, s"version $v")
    }
    assert(rowsOf(root) == v3.toSeq.sorted, "head")
    val head = rowsOf(root).toMap
    assert(!head.contains(2L) && !head.contains(4L) && !head.contains(7L),
      "the unscoped tombstone must hide its keys at every epoch")
    assert(head(3L) == 101030L,
      "overlapping scoped updates must compose (second planned from " +
        "the first's merged snapshot)")
    assert(head(1L) == 1010L && head.size == 57)
  }

  test("a drift-evolved table (late column in a newer morins dir) " +
      "surfaces the late column, null-filled for older rows") {
    val root = freshRoot("flat_snap_drift")
    seed(root, 10)
    // epoch-1 update whose rewritten rows carry a LATE column
    val rows = MergeOnRead.snapshot(spark, root, "k")
      .filter(col("k") < 3).withColumn("v", col("v") + 1000)
      .withColumn("late", lit("x"))
    MergeOnRead.updateRows(spark, root, "k",
      rows.select(col("k")), rows, s"$root/data")
    val snap = MergeOnRead.snapshot(spark, root, "k")
    assert(snap.columns.contains("late"),
      "the drift column must surface through the merge")
    val byK = snap.collect()
      .map(r => r.getLong(r.fieldIndex("k")) ->
        Option(r.get(r.fieldIndex("late")))).toMap
    assert(byK(1L).contains("x") && byK(5L).isEmpty,
      "late column fills null for pre-drift rows (unionByName " +
        "allowMissingColumns semantics)")
    assert(byK.toSeq.sortBy(_._1) == (0L until 10L).map(k =>
      k -> (if (k < 3) Some("x") else None)))
  }
}

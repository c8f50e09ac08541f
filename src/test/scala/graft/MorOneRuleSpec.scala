package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{ChangeFeed, Manifest, Merge, MergeOnRead, RowDelete, SkipStats}

/** The merge-on-read rule — a row of a directory at epoch `de` is hidden
  * iff a live tombstone naming its key ranks above `de` — holds for
  * every reader and every rewrite of a table carrying a MoR UPDATE's
  * epoch-scoped tombstone. Each case reads a 10-row table `(k, v = 10k)`
  * after [[MergeOnRead.updateRows]] raised some keys by 1000:
  *
  *  - the change feed's insert side keeps the update's own re-inserted
  *    rows (its scoped tombstone does not hide them);
  *  - copy-on-write rewrites ([[Merge.upsert]], [[RowDelete]]) keep a
  *    rewritten `morins` directory and a rewritten scoped tombstone at
  *    their source's epoch, so the other updated keys stay visible;
  *  - [[SkipStats.scan]] merges scoped tombstones like the snapshot
  *    instead of refusing them.
  */
class MorOneRuleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRoot(tag: String): String = {
    val root = System.getProperty("java.io.tmpdir") + s"/graft_$tag"
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new Path(root), true)
    (0L until 10L).map(k => (k, k * 10)).toDF("k", "v")
      .write.parquet(s"$root/data/b0")
    Manifest.commit(spark, root, s"$root/data/b0")
    root
  }

  /** Raise `keys` by 1000 through the write-cheap MoR UPDATE. */
  private def bump(root: String, keys: Long*): Unit = {
    val rows = MergeOnRead.snapshot(spark, root, "k")
      .filter(col("k").isin(keys: _*)).withColumn("v", col("v") + 1000)
    assert(MergeOnRead.updateRows(spark, root, "k", rows.select("k"), rows,
      s"$root/data").nonEmpty)
  }

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq.sorted

  private def expected(changed: (Long, Long)*): Seq[(Long, Long)] =
    ((0L until 10L).map(k => k -> k * 10).toMap ++ changed).toSeq.sorted

  test("changesBetween over a MoR UPDATE carries the update's inserts") {
    val root = freshRoot("one_rule_feed")
    bump(root, 1L, 2L)
    val feed = ChangeFeed.changesBetween(spark, root, "k", 1, 2)
      .select("k", "v", "_op").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq.sorted
    assert(feed == Seq((1L, 10L, "D"), (1L, 1010L, "I"),
      (2L, 20L, "D"), (2L, 1020L, "I")))
  }

  test("Merge.upsert keeps the other keys an UPDATE rewrote") {
    val root = freshRoot("one_rule_upsert")
    bump(root, 1L, 2L, 3L)
    Merge.upsert(spark, root, "k", Seq((3L, 9999L)).toDF("k", "v"),
      s"$root/data")
    assert(rows(MergeOnRead.snapshot(spark, root, "k")) ==
      expected(1L -> 1010L, 2L -> 1020L, 3L -> 9999L))
  }

  test("RowDelete.deleteWhere keeps the other keys an UPDATE rewrote") {
    val root = freshRoot("one_rule_cow_delete")
    bump(root, 1L, 2L, 3L)
    RowDelete.deleteWhere(spark, root, col("k") === 3L, s"$root/data")
    assert(rows(MergeOnRead.snapshot(spark, root, "k")) ==
      expected(1L -> 1010L, 2L -> 1020L).filterNot(_._1 == 3L))
  }

  test("SkipStats.scan merges an epoch-scoped tombstone like snapshot") {
    val root = freshRoot("one_rule_skipstats")
    bump(root, 1L)
    val scanned = SkipStats.scan(spark, root, "k", 0L, 5L,
      morKey = Some("k"))
    assert(rows(scanned) ==
      rows(MergeOnRead.snapshot(spark, root, "k").filter(col("k") <= 5L)))
    assert(rows(scanned) == expected(1L -> 1010L).filter(_._1 <= 5L))
  }
}

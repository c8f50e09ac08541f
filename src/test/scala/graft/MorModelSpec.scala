package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{ChangeFeed, Manifest, Merge, MergeOnRead, RowDelete, SkipStats}
import graft.plans.MorAntiJoinStrategy

/** Every reader of a merge-on-read table agrees with an in-memory model
  * over random sequences of the table's mutations: MoR UPDATE
  * (epoch-scoped tombstone + re-insert), MoR DELETE (unscoped
  * tombstone), copy-on-write DELETE, upsert and fold. After each step
  * the merged snapshot, the DSv2 read (key-collecting reader filter),
  * the same read past the broadcast cap (the [[MorAntiJoinStrategy]]
  * anti-join), and the stats-pruned scan must each equal the model; the
  * change feed over the step, applied to the previous snapshot, must
  * give the new one. Deterministic seeds drive the generators directly,
  * as in [[KernelPropertySpec]].
  */
class MorModelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private sealed trait Op
  private case class Update(keys: Seq[Long], bump: Long) extends Op
  private case class Delete(keys: Seq[Long]) extends Op
  private case class CowDelete(key: Long) extends Op
  private case class Upsert(rows: Seq[(Long, Long)]) extends Op
  private case object Fold extends Op

  private val key = Gen.chooseNum(0L, 5L)
  private val keys = Gen.nonEmptyListOf(key).map(_.distinct.sorted)
  private val update: Gen[Op] =
    Gen.zip(keys, Gen.chooseNum(1L, 9L)).map { case (ks, b) =>
      Update(ks, b * 1000) }
  private val op: Gen[Op] = Gen.frequency(
    3 -> update,
    2 -> keys.map(Delete(_)),
    2 -> key.map(CowDelete(_)),
    2 -> Gen.nonEmptyListOf(Gen.zip(key, Gen.chooseNum(100L, 999L)))
      .map(rs => Upsert(rs.toMap.toSeq.sorted)),
    1 -> Gen.const(Fold))
  // each sequence opens with a MoR UPDATE, so the steps after it meet a
  // live epoch-scoped tombstone and a `morins` directory
  private val ops: Gen[List[Op]] =
    Gen.zip(update, Gen.listOfN(3, op)).map { case (u, rest) => u :: rest }
  private val params = Gen.Parameters.default.withSize(3)

  private type Model = Map[Long, Long]

  private def sorted(df: DataFrame): Seq[(Long, Long)] =
    df.select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq.sorted

  private def withCap[T](cap: String)(body: => T): T = {
    spark.conf.set("spark.graft.mor.maxBroadcastKeys", cap)
    try body finally spark.conf.unset("spark.graft.mor.maxBroadcastKeys")
  }

  private def unscopedLive(root: String): Boolean =
    Manifest.entries(spark, root).exists(t =>
      MergeOnRead.isTombstone(t) && MergeOnRead.tombEpoch(t).isEmpty)

  /** Apply `o` to the table and return the model after it. */
  private def step(root: String, m: Model, o: Op): Model = {
    val stage = s"$root/data"
    o match {
      case Update(ks, bump) =>
        val rows = MergeOnRead.snapshot(spark, root, "k")
          .filter(col("k").isin(ks: _*)).withColumn("v", col("v") + bump)
        if (unscopedLive(root)) {
          // an unscoped tombstone outranks the update's re-inserts
          intercept[IllegalArgumentException](MergeOnRead.updateRows(
            spark, root, "k", rows.select("k"), rows, stage))
          m
        } else {
          MergeOnRead.updateRows(spark, root, "k", rows.select("k"), rows,
            stage)
          m ++ ks.flatMap(k => m.get(k).map(v => k -> (v + bump)))
        }
      case Delete(ks) =>
        MergeOnRead.deleteKeys(spark, root, "k", ks.toDF("k"), stage)
        m -- ks
      case CowDelete(k) =>
        RowDelete.deleteWhere(spark, root, col("k") === k, stage)
        m - k
      case Upsert(rs) =>
        Merge.upsert(spark, root, "k", rs.toDF("k", "v"), stage)
        m ++ rs
      case Fold =>
        MergeOnRead.fold(spark, root, "k", stage)
        m
    }
  }

  private def check(root: String, m: Model, ctx: String): Unit = {
    val want = m.toSeq.sorted
    def dsv2 = spark.read.format("graft").option("morKey", "k").load(root)
    assert(sorted(MergeOnRead.snapshot(spark, root, "k")) == want,
      s"snapshot $ctx")
    assert(sorted(dsv2) == want, s"DSv2 read $ctx")
    assert(withCap("0")(sorted(dsv2)) == want, s"over-cap DSv2 read $ctx")
    assert(sorted(SkipStats.scan(spark, root, "k", 0L, 100L,
      morKey = Some("k"))) == want, s"SkipStats.scan $ctx")
  }

  /** The feed from `a` to `b` applied to snapshot `a`: minus its `D`
    * rows, plus its `I` rows (multiset).
    */
  private def replay(root: String, a: Int, b: Int): Seq[(Long, Long)] = {
    val feed = ChangeFeed.changesBetween(spark, root, "k", a, b)
      .select("k", "v", "_op").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val before = sorted(MergeOnRead.snapshot(spark, root, "k", Some(a)))
    val dels = feed.filter(_._3 == "D").map(r => (r._1, r._2)).toSeq
    val ins = feed.filter(_._3 == "I").map(r => (r._1, r._2)).toSeq
    (before.diff(dels) ++ ins).sorted
  }

  test("snapshot, DSv2 reads, SkipStats.scan and the change feed agree " +
      "with a model over random MoR/CoW mutation sequences") {
    MorAntiJoinStrategy.install(spark)
    for (seed <- 1L to 3L) {
      val seq = ops.pureApply(params, Seed(seed))
      info(s"seed $seed: ${seq.mkString(", ")}")
      val root = System.getProperty("java.io.tmpdir") +
        s"/graft_mor_model_$seed"
      new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(new Path(root), true)
      (0L until 5L).map(k => (k, k * 10)).toDF("k", "v")
        .write.parquet(s"$root/data/b0")
      Manifest.commit(spark, root, s"$root/data/b0")
      var m: Model = (0L until 5L).map(k => k -> k * 10).toMap
      check(root, m, s"seed $seed at start")
      seq.zipWithIndex.foreach { case (o, i) =>
        val ctx = s"seed $seed after step $i ($o) of $seq"
        val before = Manifest.versions(spark, root).last
        m = step(root, m, o)
        check(root, m, ctx)
        val after = Manifest.versions(spark, root).last
        if (after != before)
          assert(replay(root, before, after) == m.toSeq.sorted,
            s"changesBetween($before, $after) replayed, $ctx")
      }
    }
  }
}

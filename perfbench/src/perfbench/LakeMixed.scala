package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.{count, expr, lit, max, min}

import graft.io.{Manifest, SkipStats}

/** One lineitem-like row. Quantities are whole numbers and prices whole
  * cents, so every sum the reads take is exact.
  */
final case class LRow(l_id: Long, l_orderkey: Long, l_partkey: Long,
    l_quantity: Double, l_extendedprice: Double, l_discount: Double,
    l_shipdate: java.sql.Date, l_returnflag: String)

/** lake_mixed: SQL against two tables of the `lake` catalog, one
  * merge-on-read (MoR, with a merge key) and one copy-on-write (CoW),
  * each loaded with lineitem-like rows spread over many directories. A
  * round issues, in fixed proportion, inserts, MoR update, delete and
  * fold, CoW scoped compaction, delete and MERGE, point reads by key
  * (skip-stats pruning) and range reads on the ship date (min/max
  * pruning), two declared queries of the engine (see [[Queries]]), and a
  * rollback of both tables to their tagged base version and expire.
  * Every round ends with the rows, live directories and
  * retained versions it started with, and every read is compared with an
  * in-memory model of the table.
  */
final class LakeMixed(spark: SparkSession, seed: Long) extends Workload {
  import LakeMixed._

  private var mor: String = _
  private var cow: String = _
  private var wh: String = _
  private var round = 0
  private val checksBuf = mutable.ArrayBuffer.empty[Check]
  /** Live transient rows, keyed by id, per table. */
  private val overlay = Map("mor" -> mutable.Map.empty[Long, LRow],
    "cow" -> mutable.Map.empty[Long, LRow])
  private val base = Base(seed)
  /** Rows, live directories and versions per table at each round end. */
  private val boundaries = mutable.ArrayBuffer.empty[Map[String, Long]]
  private var userRows = 0L
  private var matchedRows = 0L
  /** The tagged version of each table that every round rolls back to. */
  private val baseVersion = mutable.Map.empty[String, Int]
  private val queries = new Queries(spark, seed)

  val warmPasses = 1

  def setup(d: String): Unit = {
    val tag = d.split('/').last
    wh = spark.conf.get("spark.sql.catalog.lake.root")
    mor = s"mor_$tag"
    cow = s"cow_$tag"
    val fs = new Path(wh).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val baseRows = rows(spark, seed, 0, Rows)
      .withColumn("bucket", expr(s"l_id * $Dirs div $Rows"))
    // skip stats of every directory from one grouped aggregation
    val stats = baseRows.groupBy("bucket").agg(count(lit(1)),
      min("l_id").cast("string"), max("l_id").cast("string"),
      min("l_shipdate").cast("string"), max("l_shipdate").cast("string"))
      .collect().map(r => r.getLong(0) -> r).toMap
    for ((k, props) <- Seq("mor" -> ", 'morKey'='l_id'", "cow" -> "")) {
      val t = name(k)
      spark.sql(s"""CREATE TABLE lake.$t (l_id BIGINT, l_orderkey BIGINT,
        l_partkey BIGINT, l_quantity DOUBLE, l_extendedprice DOUBLE,
        l_discount DOUBLE, l_shipdate DATE, l_returnflag STRING)
        TBLPROPERTIES('statsCols'='l_id,l_shipdate'$props)""")
      // bulk load: one directory per id range (and so per date range),
      // written by one job, with stats installed from the aggregation
      // above, committed as one version
      val root = s"$wh/$t"
      val staged = s"$root/data/_base"
      baseRows.write.partitionBy("bucket").parquet(staged)
      val dirs = (0 until Dirs).map { b =>
        val dir = f"$root/data/base-$b%03d"
        fs.rename(new Path(s"$staged/bucket=$b"), new Path(dir))
        val r = stats(b.toLong)
        SkipStats.install(spark, dir, r.getLong(1), Seq(
          "l_id" -> SkipStats.ColStats("long",
            Some((r.getString(2), r.getString(3)))),
          "l_shipdate" -> SkipStats.ColStats("date",
            Some((r.getString(4), r.getString(5))))),
          Map("l_id" -> r.getLong(1), "l_shipdate" -> r.getLong(1)))
        dir
      }
      fs.delete(new Path(staged), true)
      baseVersion(k) = Manifest.commitAll(spark, root, dirs)
      spark.sql(s"CALL lake.tag('$t', 'base', ${baseVersion(k)})")
      // first touch
      spark.sql(s"SELECT count(*) FROM lake.$t").collect()
    }
    queries.setup(s"$d/queries")
    overlay.values.foreach(_.clear())
    round = 0
  }

  private def src(view: String, lo: Long, hi: Long): Unit =
    rows(spark, seed, lo, hi).createOrReplaceTempView(view)

  private def sql(q: String): Array[Row] =
    spark.sql(q).collect()

  private def pointRead(run: OpRunner, table: String, id: Long): Unit = {
    var got: Seq[String] = Nil
    val op = run("read_point", 1) {
      got = sql(s"""SELECT l_id, l_quantity,
        CAST(round(l_extendedprice * 100) AS BIGINT), l_shipdate
        FROM lake.${name(table)} WHERE l_id = $id""")
        .map(r => s"${r.getLong(0)}|${r.getDouble(1)}|${r.getLong(2)}|" +
          s"${r.getDate(3)}").toSeq
    }
    val exp = expectedRow(table, id).map(r => s"${r.l_id}|${r.l_quantity}|" +
      s"${cents(r)}|${r.l_shipdate}").toSeq
    matchedRows += exp.size
    if (op.ok) checksBuf += Check(s"r$round.point.$table.$id",
      exp.mkString(";"), got.mkString(";"))
  }

  private def rangeRead(run: OpRunner, table: String, dayLo: Int,
      dayHi: Int): Unit = {
    var got = ""
    val (dLo, dHi) = (day(dayLo), day(dayHi))
    val op = run("read_range", 1) {
      val r = sql(s"""SELECT count(*), CAST(sum(l_quantity) AS BIGINT),
        sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        FROM lake.${name(table)}
        WHERE l_shipdate BETWEEN DATE'$dLo' AND DATE'$dHi'""")(0)
      got = s"${r.getLong(0)}|${if (r.isNullAt(1)) 0 else r.getLong(1)}|" +
        s"${if (r.isNullAt(2)) 0 else r.getLong(2)}"
    }
    val (n, q, c) = expectedRange(table, dayLo, dayHi)
    matchedRows += n
    if (op.ok) checksBuf += Check(s"r$round.range.$table.$dayLo-$dayHi",
      s"$n|$q|$c", got)
  }

  private def name(table: String) = if (table == "mor") mor else cow

  private def expectedRow(table: String, id: Long): Option[LRow] =
    if (id < Rows) Some(base.rows(id.toInt)) else overlay(table).get(id)

  private def expectedRange(table: String, lo: Int, hi: Int)
      : (Long, Long, Long) = {
    val (n, q, c) = base.range(lo, hi)
    val extra = overlay(table).values.filter(r => {
      val d = r.l_shipdate.toLocalDate.toEpochDay.toInt
      d >= lo && d <= hi
    })
    (n + extra.size, q + extra.map(_.l_quantity.toLong).sum,
      c + extra.map(cents).sum)
  }

  private def insert(run: OpRunner, table: String, lo: Long, hi: Long)
      : Unit = {
    src("lake_src", lo, hi)
    userRows += hi - lo
    run("insert", 1) {
      sql(s"INSERT INTO lake.${name(table)} SELECT * FROM lake_src")
    }
    (lo until hi).foreach(i => overlay(table)(i) = row(seed, i))
  }

  def pass(run: OpRunner): Unit = {
    // every round issues the same statements, keys and literals (the
    // seed picks them): Spark inlines literals into the code it generates,
    // so fresh ones would recompile in every measured round what the
    // warm-up round compiled. The rollback at the end of a round makes
    // reusing the transient ids safe.
    val rnd = new scala.util.Random(seed)
    val lo = TransientBase
    val (m0, m1) = (lo, lo + Batch)
    val (c0, c1, c2) = (lo + 2 * Batch, lo + 3 * Batch, lo + 4 * Batch)
    def baseKey() = rnd.nextInt(Rows).toLong
    def transientKey(a: Long, b: Long) = a + rnd.nextInt((b - a).toInt)
    def baseRange() = {
      val d = Day0 + rnd.nextInt(BaseDays - RangeDays)
      (d, d + RangeDays)
    }
    // the transient rows' days sit after the base rows' days
    val lateRange = (Day0 + BaseDays - RangeDays / 2,
      Day0 + BaseDays + TransientDays)

    // merge-on-read table
    insert(run, "mor", m0, m1)
    val half = m0 + Batch / 2
    userRows += Batch / 2
    run("update_mor", 1) {
      sql(s"""UPDATE lake.$mor SET l_quantity = l_quantity + 1
        WHERE l_id >= $m0 AND l_id < $half""")
    }
    (m0 until half).foreach { i =>
      val r = overlay("mor")(i)
      overlay("mor")(i) = r.copy(l_quantity = r.l_quantity + 1)
    }
    rangeRead(run, "mor", lateRange._1, lateRange._2)
    run("delete_mor", 1) {
      sql(s"DELETE FROM lake.$mor WHERE l_id >= $m0 AND l_id < $m1")
    }
    overlay("mor").clear()
    run("fold_mor", 1) { sql(s"CALL lake.fold('$mor', 'l_id')") }
    pointRead(run, "mor", baseKey())

    // copy-on-write table
    insert(run, "cow", c0, c1)
    insert(run, "cow", c1, c2)
    run("compact_cow", 1) {
      sql(s"CALL lake.compact('$cow', 'l_id', '$c0', '${c2 - 1}')")
    }
    pointRead(run, "cow", transientKey(c0, c2))
    run("delete_cow", 1) {
      sql(s"DELETE FROM lake.$cow WHERE l_id >= $c0 AND l_id < $c1")
    }
    (c0 until c1).foreach(overlay("cow").remove)
    val (a, b) = baseRange()
    rangeRead(run, "cow", a, b)
    src("lake_msrc", c1, c2)
    run("merge_cow", 1) {
      sql(s"""MERGE INTO lake.$cow t USING lake_msrc s ON t.l_id = s.l_id
        WHEN MATCHED THEN DELETE""")
    }
    overlay("cow").clear()

    queries.pass(run)

    // the rewrites above leave emptied directories live; rolling back to
    // the tagged base version restores the base layout, so that every
    // round starts from the same directories, and expire keeps the same
    // versions (the tagged one is exempt)
    for (t <- Seq("mor", "cow")) {
      run("rollback", 1) {
        sql(s"CALL lake.rollback('${name(t)}', ${baseVersion(t)})")
      }
      run("expire", 1) {
        sql(s"CALL lake.expire('${name(t)}', $KeepVersions)")
      }
    }

    round += 1
    run.untimed { boundaries += boundary() }
  }

  private def boundary(): Map[String, Long] = Seq("mor", "cow").flatMap { t =>
    val root = s"$wh/${name(t)}"
    Seq(s"$t.rows" -> sql(s"SELECT count(*) FROM lake.${name(t)}")(0)
        .getLong(0),
      s"$t.live_dirs" -> Manifest.committed(spark, root).size.toLong,
      s"$t.versions" -> Manifest.versions(spark, root).size.toLong)
  }.toMap

  def checks(): Seq[Check] = {
    // state neutrality: every round boundary matches the first one
    val neutral = boundaries.toSeq.drop(1).zipWithIndex.flatMap {
      case (b, i) => b.toSeq.sorted.map { case (k, v) =>
        Check(s"boundary${i + 1}.$k", boundaries.head(k).toString,
          v.toString) }
    } ++ boundaries.headOption.toSeq.flatMap(b => Seq("mor", "cow").map(t =>
      Check(s"boundary0.$t.rows", Rows.toString, b(s"$t.rows").toString)))
    val out = checksBuf.toSeq ++ queries.checks() ++ neutral
    checksBuf.clear()
    out
  }

  override def beginTrace(): Unit = {
    userRows = 0L
    matchedRows = 0L
  }

  override def extraRecord(traced: Boolean): Map[String, Any] =
    if (!traced) Map("lake" -> Map("boundaries" -> boundaries.toSeq))
    else {
      val fs = new Path(wh).getFileSystem(spark.sparkContext
        .hadoopConfiguration)
      def bytes(p: String): Long = fs.getContentSummary(new Path(p)).getLength
      val roots = Seq(mor, cow).map(t => s"$wh/$t")
      val total = roots.map(bytes).sum
      val live = roots.flatMap(r => Manifest.committed(spark, r)).map(bytes)
        .sum
      val last = boundaries.last
      Map("lake_trace" -> Map(
        "user_rows" -> userRows, "matched_rows" -> matchedRows,
        "bytes_per_row" -> live.toDouble / (2 * Rows),
        "space_amp" -> total.toDouble / live,
        "live_dirs" -> (last("mor.live_dirs") + last("cow.live_dirs")),
        "manifest_versions" -> (last("mor.versions") + last("cow.versions"))))
    }
}

object LakeMixed {
  val Rows = 30000
  val Dirs = 8
  val Batch = 1000
  val KeepVersions = 2
  val TransientBase = 1000000000L
  val Day0 = java.time.LocalDate.of(1995, 1, 1).toEpochDay.toInt
  val BaseDays = 1440
  val TransientDays = 30
  val RangeDays = 20

  def day(d: Int): java.sql.Date =
    java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d))

  def rows(spark: SparkSession, seed: Long, lo: Long, hi: Long)
      : org.apache.spark.sql.Dataset[LRow] =
    spark.range(lo, hi, 1, Settings.Cores)
      .map(i => row(seed, i))(Encoders.product[LRow])

  def cents(r: LRow): Long = math.round(r.l_extendedprice * 100)

  /** Row `i`, a pure function of the seed. Base rows (i < Rows) are
    * ordered by ship date; transient rows take the days after the last.
    */
  def row(seed: Long, i: Long): LRow = {
    val r = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + i)
    val d =
      if (i < Rows) Day0 + (i * BaseDays / Rows).toInt
      else Day0 + BaseDays + (i % TransientDays).toInt
    LRow(i, i / 4, r.nextInt(20000), 1 + r.nextInt(50),
      r.nextLong(100L, 10000000L) / 100.0, r.nextInt(11) / 100.0, day(d),
      Seq("A", "N", "R")(r.nextInt(3)))
  }

  /** The base rows and prefix sums over them (they are ordered by day). */
  final case class Base(seed: Long) {
    val rows: Array[LRow] = Array.tabulate(Rows)(i => row(seed, i))
    private val days = rows.map(_.l_shipdate.toLocalDate.toEpochDay.toInt)
    private val q = rows.scanLeft(0L)(_ + _.l_quantity.toLong)
    private val c = rows.scanLeft(0L)(_ + cents(_))

    /** (count, sum quantity, sum cents) of base rows with day in [lo, hi]. */
    def range(lo: Int, hi: Int): (Long, Long, Long) = {
      val a = lowerBound(lo)
      val b = lowerBound(hi + 1)
      ((b - a).toLong, q(b) - q(a), c(b) - c(a))
    }

    private def lowerBound(d: Int): Int = {
      var (l, h) = (0, days.length)
      while (l < h) { val m = (l + h) >>> 1; if (days(m) < d) l = m + 1 else h = m }
      l
    }
  }
}

package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{LogicalWriteInfo,
  PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The sidecars a write observes equal, byte for byte, those a re-read
  * of the landed directory computes ([[Landing.sidecars]]): over every
  * supported type, a null-only column, zero rows, a directory with no
  * parquet file, and a DSv2 task attempt that aborts before its retry
  * commits.
  */
class ObservedStatsSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  private def fresh(tag: String): String = {
    val d = System.getProperty("java.io.tmpdir") + s"/graft_observed_$tag"
    fs.delete(new Path(d), true)
    d
  }

  private def fs = new Path("/")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def bytes(d: String, name: String): Seq[Byte] = {
    val in = fs.open(new Path(d, name))
    try org.apache.commons.io.IOUtils.toByteArray(in).toSeq
    finally in.close()
  }

  private def body(d: String): String =
    new String(bytes(d, SkipStats.StatsFile).toArray, "UTF-8")

  private val schema = StructType(Seq(
    StructField("b", ByteType), StructField("sh", ShortType),
    StructField("i", IntegerType), StructField("l", LongType),
    StructField("f", FloatType), StructField("db", DoubleType),
    StructField("dec", DecimalType(12, 3)), StructField("s", StringType),
    StructField("dt", DateType), StructField("ts", TimestampType),
    StructField("nul", LongType), StructField("nan", DoubleType)))
  // sorted, the order Landing installs them in
  private val statsCols = schema.fieldNames.toSeq.sorted
  private val bloomCols = Seq("l", "nul", "s")

  /** Rows over every supported type: NaN and the infinities among the
    * doubles, a column with nothing but NaN, one with nothing but null.
    */
  private def rows(n: Int): DataFrame = {
    val data = (0 until n).map { i =>
      Row(i.toByte, (i * 3 - 40).toShort, i * 1000 - 7, i.toLong * -91 + 5,
        if (i % 5 == 0) Float.NaN else i / 3.0f,
        i % 7 match {
          case 0 => Double.NaN
          case 1 => Double.PositiveInfinity
          case 2 => Double.NegativeInfinity
          case _ => i * 1.25e-3
        },
        new java.math.BigDecimal(s"${i * 17 - 300}.${i % 1000}"),
        if (i % 4 == 0) null else s"ü-$i-${"z" * (i % 3)}",
        java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1)
          .plusDays(i * 11L)),
        new java.sql.Timestamp(1600000000000L + i * 3600123L),
        null, Double.NaN)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 3), schema)
  }

  /** Assert `dir`'s installed sidecars equal a re-read's. */
  private def matchesReread(dir: String): Unit = {
    val (stats, bloom) = (body(dir), bytes(dir, "_bloom"))
    Landing.sidecars(spark, dir, (statsCols, bloomCols))
    assert(body(dir) === stats, s"stats of $dir")
    assert(bytes(dir, "_bloom") === bloom, s"blooms of $dir")
  }

  private def table(tag: String): String = {
    val root = fresh(tag)
    graft.io.dsv2.GraftTableProps.write(spark, root, Map(
      "statscols" -> statsCols.mkString(","),
      "bloomcols" -> bloomCols.mkString(",")))
    root
  }

  private def landed(root: String, before: Seq[String]): String =
    Manifest.committed(spark, root).filterNot(before.toSet).loneElement

  private implicit class Lone(xs: Seq[String]) {
    def loneElement: String = { assert(xs.size === 1, xs); xs.head }
  }

  test("a V1 write (the bridge for a new table) observes the re-read's " +
      "bytes, with rows and with none") {
    for ((n, tag) <- Seq(200 -> "v1", 0 -> "v1empty")) {
      val root = table(tag)
      rows(n).write.format("graft").save(root)
      val dir = landed(root, Nil)
      assert(SkipStats.readCount(fs, dir) === Some(n.toLong))
      matchesReread(dir)
    }
  }

  test("a DSv2 append over several tasks observes the re-read's bytes, " +
      "with rows and with none") {
    val root = table("dsv2")
    rows(10).write.format("graft").save(root)
    for (n <- Seq(300, 0)) {
      val before = Manifest.committed(spark, root)
      rows(n).write.format("graft").mode("append").save(root)
      val dir = landed(root, before)
      assert(SkipStats.readCount(fs, dir) === Some(n.toLong))
      matchesReread(dir)
    }
  }

  test("a directory whose DSv2 tasks wrote no parquet file lands a " +
      "schema file and the sidecars of zero observed rows") {
    val root = table("nofile")
    val dir = s"$root/data/w-empty"
    fs.mkdirs(new Path(dir))
    val plan = Landing.plan(spark, root)
    Landing.prepare(spark, plan, dir, Some(graft.io.dsv2.ObservingWrites
      .observed(spark, schema, plan.observed(schema), Nil)), Some(schema))
    assert(SkipStats.readCount(fs, dir) === Some(0L))
    matchesReread(dir)
  }

  test("an aborted task attempt's statistics do not count; its retry's " +
      "do") {
    import spark.implicits._
    val root = fresh("retry")
    graft.io.dsv2.GraftTableProps.write(spark, root,
      Map("statscols" -> "k,s"))
    Seq((0L, "a")).toDF("k", "s").write.format("graft").save(root)
    val before = Manifest.committed(spark, root)
    val info = new LogicalWriteInfo {
      override def queryId: String = "retry"
      override def schema: StructType =
        Seq((0L, "a")).toDF("k", "s").schema
      override def options: CaseInsensitiveStringMap =
        CaseInsensitiveStringMap.empty()
    }
    val batch = new graft.io.dsv2.GraftV2Write(spark, root, info,
      replacing = false).toBatch
    val factory = batch.createBatchWriterFactory(new PhysicalWriteInfo {
      override def numPartitions: Int = 1
    })
    // the task runs on an executor: its first attempt writes an outlier
    // and aborts, the second writes the partition's true rows
    val msgs: Array[WriterCommitMessage] =
      spark.sparkContext.parallelize(Seq(0), 1).map { _ =>
        def row(k: Long, s: String) =
          InternalRow(k, UTF8String.fromString(s))
        val failed = factory.createWriter(0, 100L)
        (1L to 5L).foreach(k => failed.write(row(k, "b")))
        failed.write(row(999999L, "zz"))
        failed.abort()
        failed.close()
        val retry = factory.createWriter(0, 101L)
        (1L to 5L).foreach(k => retry.write(row(k, "b")))
        val m = retry.commit()
        retry.close()
        m
      }.collect()
    batch.commit(msgs)
    val dir = landed(root, before)
    assert(spark.read.parquet(dir).count() === 5L)
    assert(SkipStats.readCount(fs, dir) === Some(5L))
    assert(SkipStats.read(fs, dir).get("k").bounds === Some(("1", "5")))
    val stats = body(dir)
    SkipStats.write(spark, dir, Seq("k", "s"))
    assert(body(dir) === stats)
  }
}

package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{Constraints, Manifest}

/** DECLARED constraints (`CALL lake.constrain` / `ALTER TABLE SET
  * TBLPROPERTIES('constraint.…')`): persisted once on the table,
  * enforced on every write path without the writer opting in — the
  * Delta `ADD CONSTRAINT` discipline on top of round-7's per-call
  * [[Constraints.commitChecked]].
  */
class DeclaredConstraintSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def wh(tag: String): String = {
    val w = System.getProperty("java.io.tmpdir") + s"/graft_dc_$tag"
    new Path(w).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new Path(w), true)
    spark.conf.set(s"spark.sql.catalog.dc$tag",
      "graft.io.dsv2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.dc$tag.root", w)
    w
  }

  private def violation(t: Throwable): Boolean = t != null &&
    (t.isInstanceOf[Constraints.ConstraintViolationException] ||
      violation(t.getCause))

  test("declare validates existing data; violating INSERT refuses on " +
      "the catalog path with no version burned; valid INSERT lands") {
    val w = wh("sql")
    spark.sql("CREATE TABLE dcsql.t (id BIGINT, cents BIGINT) " +
      "USING graft")
    spark.sql("INSERT INTO dcsql.t VALUES (1, 10), (2, 20)")
    spark.sql("CALL dcsql.constrain('t', 'positive_cents', 'cents > 0')")
    // declaring over data that violates refuses
    val e0 = intercept[Exception](spark.sql(
      "CALL dcsql.constrain('t', 'small', 'cents < 15')").collect())
    assert(violation(e0), s"got $e0")
    val vBefore = Manifest.versions(spark, s"$w/t").last
    val e1 = intercept[Exception](spark.sql(
      "INSERT INTO dcsql.t VALUES (3, -5)"))
    assert(violation(e1), s"got $e1")
    assert(Manifest.versions(spark, s"$w/t").last === vBefore,
      "a rejected batch must not burn a version")
    // NULL passes (SQL CHECK: UNKNOWN is not a violation)
    spark.sql("INSERT INTO dcsql.t VALUES (3, NULL), (4, 40)")
    assert(spark.sql("SELECT count(*) FROM dcsql.t")
      .collect()(0).getLong(0) === 4)
    // dropping the constraint re-admits
    spark.sql("CALL dcsql.drop_constraint('t', 'positive_cents')")
    spark.sql("INSERT INTO dcsql.t VALUES (5, -50)")
    assert(spark.sql("SELECT count(*) FROM dcsql.t")
      .collect()(0).getLong(0) === 5)
  }

  test("ALTER TABLE SET TBLPROPERTIES declares (with existing-data " +
      "validation); UNSET drops; DROP COLUMN refuses on a " +
      "constrained column") {
    wh("ddl")
    spark.sql("CREATE TABLE dcddl.t (id BIGINT, v BIGINT) USING graft")
    spark.sql("INSERT INTO dcddl.t VALUES (1, 5)")
    spark.sql("ALTER TABLE dcddl.t SET TBLPROPERTIES" +
      "('constraint.v_pos' = 'v >= 0')")
    val e = intercept[Exception](spark.sql(
      "INSERT INTO dcddl.t VALUES (2, -1)"))
    assert(violation(e), s"got $e")
    val e2 = intercept[Exception](spark.sql(
      "ALTER TABLE dcddl.t SET TBLPROPERTIES" +
        "('constraint.v_big' = 'v > 100')").collect())
    assert(violation(e2), s"got $e2")
    val e3 = intercept[Exception](spark.sql(
      "ALTER TABLE dcddl.t DROP COLUMN v"))
    assert(Option(e3.getMessage).exists(_.contains("constraint")) ||
      Option(e3.getCause).flatMap(c => Option(c.getMessage))
        .exists(_.contains("constraint")), s"got $e3")
    spark.sql("ALTER TABLE dcddl.t UNSET TBLPROPERTIES" +
      "('constraint.v_pos')")
    spark.sql("INSERT INTO dcddl.t VALUES (2, -1)")
    assert(spark.sql("SELECT count(*) FROM dcddl.t")
      .collect()(0).getLong(0) === 2)
  }

  test("enforcement covers the V1 path, the partitioned insert, and " +
      "CTAS") {
    val w = wh("paths")
    // V1 path: df.write.format("graft")
    val root = s"$w/v1t"
    Seq((1L, 10L)).toDF("id", "cents").write.format("graft").save(root)
    Constraints.declare(spark, root, "pos", "cents > 0")
    val e1 = intercept[Exception](
      Seq((2L, -1L)).toDF("id", "cents").write.format("graft")
        .mode("append").save(root))
    assert(violation(e1), s"got $e1")
    Seq((2L, 2L)).toDF("id", "cents").write.format("graft")
      .mode("append").save(root)
    assert(spark.read.format("graft").load(root).count() === 2)
    // partitioned table
    spark.sql("CREATE TABLE dcpaths.pt (id BIGINT, b BIGINT, " +
      "cents BIGINT) USING graft PARTITIONED BY (b)")
    spark.sql("CALL dcpaths.constrain('pt', 'pos', 'cents > 0')")
    val e2 = intercept[Exception](spark.sql(
      "INSERT INTO dcpaths.pt VALUES (1, 1, 5), (2, 2, -5)"))
    assert(violation(e2), s"got $e2")
    assert(Manifest.versions(spark, s"$w/pt").last === 1)
    spark.sql("INSERT INTO dcpaths.pt VALUES (1, 1, 5), (2, 2, 5)")
    assert(spark.sql("SELECT count(*) FROM dcpaths.pt")
      .collect()(0).getLong(0) === 2)
    // CTAS with a violating result aborts with no committed table
    val e3 = intercept[Exception](spark.sql(
      "CREATE TABLE dcpaths.bad USING graft TBLPROPERTIES" +
        "('constraint.pos' = 'x > 0') AS SELECT -1L AS x"))
    assert(violation(e3), s"got $e3")
    assert(Manifest.versions(spark, s"$w/bad").isEmpty)
    spark.sql("CREATE TABLE dcpaths.good USING graft TBLPROPERTIES" +
      "('constraint.pos' = 'x > 0') AS SELECT 1L AS x")
    val e4 = intercept[Exception](spark.sql(
      "INSERT INTO dcpaths.good VALUES (-3)"))
    assert(violation(e4), s"got $e4")
  }

  test("DML rewrites are constrained too: an UPDATE that would " +
      "produce violating rows refuses") {
    val w = wh("dml")
    spark.sql("CREATE TABLE dcdml.t (id BIGINT, cents BIGINT) " +
      "USING graft")
    spark.sql("INSERT INTO dcdml.t VALUES (1, 10), (2, 1)")
    spark.sql("CALL dcdml.constrain('t', 'pos', 'cents > 0')")
    val e = intercept[Exception](spark.sql(
      "UPDATE dcdml.t SET cents = cents - 5 WHERE id = 2"))
    assert(violation(e), s"got $e")
    // the refused rewrite must not have replaced anything
    assert(spark.sql("SELECT sum(cents) FROM dcdml.t")
      .collect()(0).getLong(0) === 11)
    spark.sql("UPDATE dcdml.t SET cents = cents + 5 WHERE id = 2")
    assert(spark.sql("SELECT sum(cents) FROM dcdml.t")
      .collect()(0).getLong(0) === 16)
    // create + insert + the one successful update — the refused
    // rewrite burned nothing
    assert(Manifest.versions(spark, s"$w/t").size === 3)
  }

  test("a merge-on-read UPDATE is constrained like the copy-on-write " +
      "one: a violating update refuses and burns no version") {
    val w = wh("mor")
    spark.sql("CREATE TABLE dcmor.t (id BIGINT, cents BIGINT) " +
      "USING graft TBLPROPERTIES('morKey'='id')")
    spark.sql("INSERT INTO dcmor.t VALUES (1, 10), (2, 1)")
    spark.sql("CALL dcmor.constrain('t', 'pos', 'cents > 0')")
    val vBefore = Manifest.versions(spark, s"$w/t").last
    val e = intercept[Exception](spark.sql(
      "UPDATE dcmor.t SET cents = cents - 5 WHERE id = 2"))
    assert(violation(e), s"got $e")
    assert(Manifest.versions(spark, s"$w/t").last === vBefore,
      "a rejected update must not burn a version")
    assert(spark.sql("SELECT cents FROM dcmor.t WHERE id = 2")
      .collect()(0).getLong(0) === 1L)
    spark.sql("UPDATE dcmor.t SET cents = cents + 5 WHERE id = 2")
    assert(spark.sql("SELECT sum(cents) FROM dcmor.t")
      .collect()(0).getLong(0) === 16L)
    assert(Manifest.committed(spark, s"$w/t")
      .exists(graft.io.MergeOnRead.isTombstone),
      "the accepted update took the merge-on-read path")
  }

  test("a quarantined ingest meets the table's declared constraints " +
      "and sidecars before either table commits") {
    val w = wh("quar")
    val (root, qroot) = (s"$w/t", s"$w/q")
    spark.sql("CREATE TABLE dcquar.t (id BIGINT, cents BIGINT) " +
      "USING graft TBLPROPERTIES('statsCols'='id')")
    spark.sql("CALL dcquar.constrain('t', 'small', 'id < 100')")
    val route = Seq("pos" -> (col("cents") > 0))
    def ingest(rows: Seq[(Long, Long)], name: String) =
      Constraints.commitQuarantined(spark, root, qroot,
        rows.toDF("id", "cents"), s"$root/data/$name",
        s"$qroot/data/$name", route)
    val e = intercept[Exception](
      ingest(Seq((2L, 5L), (3L, -1L), (500L, 1L)), "b1"))
    assert(violation(e), s"got $e")
    assert(Manifest.versions(spark, root).last === 1 &&
      Manifest.versions(spark, qroot).isEmpty,
      "a refused ingest changes neither table")
    val (_, qv) = ingest(Seq((2L, 5L), (3L, -1L)), "b2")
    assert(qv.nonEmpty)
    assert(spark.sql("SELECT id FROM dcquar.t").collect()
      .map(_.getLong(0)).toSeq === Seq(2L))
    val f = new Path(root).getFileSystem(spark.sparkContext
      .hadoopConfiguration)
    assert(graft.io.SkipStats.read(f, s"$root/data/b2")
      .exists(_.contains("id")), "the clean rows carry the table's stats")
  }

  test("a streamed batch into a constrained table is refused whole") {
    val w = wh("stream")
    spark.sql("CREATE TABLE dcstream.t (id BIGINT, cents BIGINT) " +
      "USING graft")
    spark.sql("CALL dcstream.constrain('t', 'pos', 'cents > 0')")
    val src = s"$w/src"
    Seq((4L, 3L), (5L, -7L)).toDF("id", "cents").coalesce(1)
      .write.parquet(src)
    val q = spark.readStream.schema(spark.read.parquet(src).schema)
      .parquet(src)
      .writeStream.format("graft")
      .option("path", s"$w/t")
      .option("checkpointLocation", s"$w/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val e = intercept[Exception](q.awaitTermination())
    assert(violation(e), s"got $e")
    assert(Manifest.versions(spark, s"$w/t").last === 1,
      "the refused batch must not commit")
    assert(spark.sql("SELECT count(*) FROM dcstream.t")
      .collect()(0).getLong(0) === 0L)
  }
}

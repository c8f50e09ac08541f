package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{Manifest, MergeOnRead, SkipStats}

/** The plain-SQL surface of the lakehouse: [[graft.io.dsv2.GraftCatalog]]
  * maps identifiers to manifest roots under a warehouse dir, with
  * `VERSION AS OF` (number or tag) and `TIMESTAMP AS OF` riding Spark's
  * native time-travel SQL; the read-only DDL contract refuses loudly.
  */
class Dsv2CatalogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val wh: String = {
    val wh = java.nio.file.Files
      .createTempDirectory("graft-cat").toString
    spark.conf.set("spark.sql.catalog.lake",
      "graft.io.dsv2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.lake.root", wh)
    import spark.implicits._
    val root = s"$wh/events"
    def batch(lo: Long, hi: Long) =
      (lo until hi).map(i => (i, i % 7)).toDF("id", "grp")
    batch(0, 100).write.parquet(s"$root/data/b1")
    SkipStats.write(spark, s"$root/data/b1", Seq("id"))
    val v1 = Manifest.commit(spark, root, s"$root/data/b1")
    batch(100, 200).write.parquet(s"$root/data/b2")
    SkipStats.write(spark, s"$root/data/b2", Seq("id"))
    Manifest.commit(spark, root, s"$root/data/b2")
    Manifest.tag(spark, root, "first", v1)
    wh
  }

  test("SQL reads latest, VERSION AS OF number and tag, TIMESTAMP AS OF") {
    wh
    assert(spark.sql("SELECT count(*) n FROM lake.events")
      .collect()(0).getLong(0) === 200L)
    assert(spark.sql("SELECT count(*) n FROM lake.events VERSION AS OF 1")
      .collect()(0).getLong(0) === 100L)
    assert(spark.sql(
      "SELECT count(*) n FROM lake.events VERSION AS OF 'first'")
      .collect()(0).getLong(0) === 100L)
    val now = new java.sql.Timestamp(System.currentTimeMillis() + 2000)
    assert(spark.sql(
      s"SELECT count(*) n FROM lake.events TIMESTAMP AS OF '$now'")
      .collect()(0).getLong(0) === 200L)
  }

  test("SQL filters prune committed directories at planning") {
    wh
    val df = spark.sql("SELECT id FROM lake.events WHERE id < 50")
    assert(df.count() === 50L)
    df.queryExecution.executedPlan // plan it
    val desc = df.queryExecution.executedPlan.toString
    assert(desc.contains("skippedDirs=1"),
      s"the b2 directory must be pruned at planning:\n$desc")
  }

  test("a static IN filter prunes committed directories at planning") {
    wh
    val df = spark.sql(
      "SELECT id FROM lake.events WHERE id IN (7, 42, 93)")
    assert(df.count() === 3L)
    assert(df.queryExecution.executedPlan.toString
      .contains("skippedDirs=1"),
      "all three IN values live in b1 — b2 must be pruned at planning:" +
        s"\n${df.queryExecution.executedPlan}")
    // values spanning both dirs prune nothing (and stay correct)
    val both = spark.sql(
      "SELECT id FROM lake.events WHERE id IN (7, 142)")
    assert(both.count() === 2L)
    assert(both.queryExecution.executedPlan.toString
      .contains("skippedDirs=0"))
  }

  test("SHOW TABLES lists manifest roots; unsupported DDL " +
      "(ALTER COLUMN TYPE) refuses loudly") {
    wh
    val tables = spark.sql("SHOW TABLES IN lake").collect()
      .map(_.getString(1))
    assert(tables.contains("events"))
    def unsupported(t: Throwable): Boolean =
      t != null && (t.isInstanceOf[UnsupportedOperationException] ||
        t.isInstanceOf[IllegalArgumentException] ||
        unsupported(t.getCause))
    assert(unsupported(intercept[Exception](spark.sql(
      "ALTER TABLE lake.events ALTER COLUMN grp TYPE STRING"))),
      "type changes must refuse (physical parquet is immutable)")
  }

  test("CREATE TABLE commits an empty version 1 honoring " +
      "TBLPROPERTIES; INSERT appends with the persisted statsCols " +
      "discipline; morKey property takes MoR deletes from day one") {
    wh
    spark.sql("""CREATE TABLE lake.ddlcreate (id BIGINT, v BIGINT)
      TBLPROPERTIES('statsCols'='id', 'morKey'='id')""")
    val root = s"$wh/ddlcreate"
    assert(Manifest.versions(spark, root) === Seq(1))
    assert(spark.sql("SELECT count(*) n FROM lake.ddlcreate")
      .collect()(0).getLong(0) === 0L)
    assert(spark.sql("SELECT * FROM lake.ddlcreate").schema
      .fieldNames.toSeq === Seq("id", "v"))
    spark.sql("INSERT INTO lake.ddlcreate " +
      "SELECT id, id FROM range(0, 100)")
    spark.sql("INSERT INTO lake.ddlcreate " +
      "SELECT id, id FROM range(100, 200)")
    // the persisted statsCols property must have written sidecars for
    // BOTH inserts — a filtered read prunes the non-matching directory
    val pruned = spark.sql("SELECT id FROM lake.ddlcreate WHERE id < 50")
    assert(pruned.count() === 50L)
    assert(pruned.queryExecution.executedPlan.toString
      .contains("skippedDirs=1"),
      "the persisted statsCols property must make INSERTs prunable:\n" +
        pruned.queryExecution.executedPlan)
    // the morKey property routes DELETE through merge-on-read
    spark.sql("DELETE FROM lake.ddlcreate WHERE id % 10 = 3")
    assert(Manifest.entries(spark, root).count(MergeOnRead.isTombstone)
      === 1, "morKey property must take the MoR delete path")
    assert(spark.sql("SELECT count(*) n FROM lake.ddlcreate")
      .collect()(0).getLong(0) === 180L)
    // second create refuses; IF NOT EXISTS is a no-op
    intercept[Exception](spark.sql(
      "CREATE TABLE lake.ddlcreate (x BIGINT)"))
    spark.sql("CREATE TABLE IF NOT EXISTS lake.ddlcreate (x BIGINT)")
    assert(spark.sql("SELECT * FROM lake.ddlcreate").schema
      .fieldNames.toSeq === Seq("id", "v"),
      "IF NOT EXISTS must not touch the existing table")
    // unknown properties refuse instead of silently dropping intent
    val bad = intercept[Exception](spark.sql(
      "CREATE TABLE lake.ddlbadprop (x BIGINT) " +
        "TBLPROPERTIES('zorderCols'='x')"))
    def mentions(t: Throwable): Boolean = t != null &&
      (Option(t.getMessage).exists(_.contains("unknown table propert"))
        || mentions(t.getCause))
    assert(mentions(bad), s"unknown property must refuse, got $bad")
  }

  test("CTAS lands atomically as VERSION 1 with the statsCols " +
      "sidecar; CREATE OR REPLACE AS SELECT is a replacing commit " +
      "with time travel") {
    wh
    spark.sql("""CREATE TABLE lake.ddlctas
      TBLPROPERTIES('statsCols'='id')
      AS SELECT id, id % 7 AS grp FROM range(0, 300)""")
    val root = s"$wh/ddlctas"
    assert(Manifest.versions(spark, root) === Seq(1),
      "CTAS must be ONE staged commit, not create-then-append")
    assert(spark.sql("SELECT count(*) n, sum(id) s FROM lake.ddlctas")
      .collect()(0).toSeq === Seq(300L, (0L until 300L).sum))
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = Manifest.committed(spark, root).head
    assert(graft.io.SkipStats.read(f, dir).exists(_.contains("id")),
      "the CTAS directory must carry the statsCols sidecar")
    spark.sql("""CREATE OR REPLACE TABLE lake.ddlctas
      AS SELECT id, id * 2 AS dbl FROM range(0, 50)""")
    assert(Manifest.versions(spark, root) === Seq(1, 2),
      "RTAS must be a replacing commit, not an rm -rf")
    assert(spark.sql("SELECT count(*) n FROM lake.ddlctas")
      .collect()(0).getLong(0) === 50L)
    assert(spark.sql("SELECT count(*) n FROM lake.ddlctas VERSION AS OF 1")
      .collect()(0).getLong(0) === 300L,
      "the pre-replace version must still time-travel")
    // CTAS over an existing table refuses (no IF NOT EXISTS)
    intercept[Exception](spark.sql(
      "CREATE TABLE lake.ddlctas AS SELECT 1 AS one"))
  }

  test("ALTER TABLE RENAME COLUMN is one metadata commit — same data " +
      "directories in every version, head reads the new name, time " +
      "travel reads the old one; writes after a rename stay physical") {
    wh
    spark.sql("""CREATE TABLE lake.ddlrename
      TBLPROPERTIES('statsCols'='id')
      AS SELECT id, id % 5 AS grp FROM range(0, 200)""")
    val root = s"$wh/ddlrename"
    val dirsBefore = Manifest.committed(spark, root)
    spark.sql("ALTER TABLE lake.ddlrename RENAME COLUMN grp TO bucket")
    assert(Manifest.versions(spark, root) === Seq(1, 2))
    val dirsAfter = Manifest.committed(spark, root)
      .filterNot(graft.io.ColumnMapping.isMapping)
    assert(dirsAfter === dirsBefore,
      "a rename must not rewrite a single data directory")
    assert(spark.sql("SELECT * FROM lake.ddlrename").schema
      .fieldNames.toSeq === Seq("id", "bucket"))
    assert(spark.sql(
      "SELECT sum(bucket) s FROM lake.ddlrename WHERE id < 100")
      .collect()(0).getLong(0) === (0L until 100L).map(_ % 5).sum)
    assert(spark.sql("SELECT * FROM lake.ddlrename VERSION AS OF 1")
      .schema.fieldNames.toSeq === Seq("id", "grp"),
      "time travel must read the schema of its era")
    // a write AFTER the rename lands under the frozen physical names,
    // so the one global mapping stays valid for every directory
    spark.sql("INSERT INTO lake.ddlrename " +
      "SELECT id, id % 5 FROM range(200, 300)")
    assert(spark.sql("SELECT count(*) n FROM lake.ddlrename")
      .collect()(0).getLong(0) === 300L)
    assert(spark.sql(
      "SELECT sum(bucket) s FROM lake.ddlrename")
      .collect()(0).getLong(0) === (0L until 300L).map(_ % 5).sum,
      "post-rename inserts must read back under the logical name")
    assert(spark.sql(
      "SELECT count(*) n FROM lake.ddlrename WHERE bucket = 3")
      .collect()(0).getLong(0) === 60L,
      "filters on the renamed column must translate to the physical " +
        "parquet name")
    // rename chains compose; renaming onto an existing name refuses
    spark.sql("ALTER TABLE lake.ddlrename RENAME COLUMN bucket TO b2")
    assert(spark.sql("SELECT sum(b2) s FROM lake.ddlrename")
      .collect()(0).getLong(0) === (0L until 300L).map(_ % 5).sum)
    intercept[Exception](spark.sql(
      "ALTER TABLE lake.ddlrename RENAME COLUMN b2 TO id"))
  }

  test("ALTER TABLE ADD COLUMN is one empty-directory commit; " +
      "pre-evolution rows read null; SET TBLPROPERTIES edits the " +
      "persisted write defaults") {
    wh
    spark.sql("CREATE TABLE lake.ddladd AS " +
      "SELECT id FROM range(0, 50)")
    val root = s"$wh/ddladd"
    spark.sql("ALTER TABLE lake.ddladd ADD COLUMN score BIGINT")
    assert(Manifest.versions(spark, root) === Seq(1, 2))
    assert(spark.sql("SELECT * FROM lake.ddladd").schema
      .fieldNames.toSeq === Seq("id", "score"))
    assert(spark.sql(
      "SELECT count(*) n FROM lake.ddladd WHERE score IS NULL")
      .collect()(0).getLong(0) === 50L,
      "every pre-evolution row must read the new column as null")
    spark.sql("INSERT INTO lake.ddladd SELECT id, id * 10 " +
      "FROM range(50, 60)")
    assert(spark.sql("SELECT sum(score) s FROM lake.ddladd")
      .collect()(0).getLong(0) === (50L until 60L).map(_ * 10).sum)
    // duplicate add refuses
    intercept[Exception](spark.sql(
      "ALTER TABLE lake.ddladd ADD COLUMN score BIGINT"))
    // properties edit persists as the write default
    spark.sql(
      "ALTER TABLE lake.ddladd SET TBLPROPERTIES('statsCols'='id')")
    spark.sql("INSERT INTO lake.ddladd SELECT id, id FROM range(100, 110)")
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lastDir = Manifest.committed(spark, root)
      .filterNot(graft.io.ColumnMapping.isMapping).last
    assert(graft.io.SkipStats.read(f, lastDir).exists(_.contains("id")),
      "SET TBLPROPERTIES('statsCols') must govern later INSERTs")
    intercept[Exception](spark.sql(
      "ALTER TABLE lake.ddladd SET TBLPROPERTIES('bogus'='x')"))
  }

  test("DROP TABLE removes the root; a source with registered shallow " +
      "clones refuses; dropping the clone deregisters it") {
    import spark.implicits._
    wh
    spark.sql("CREATE TABLE lake.ddldrop AS " +
      "SELECT id FROM range(0, 40)")
    val srcRoot = s"$wh/ddldrop"
    Manifest.shallowClone(spark, srcRoot, s"$wh/ddldropclone")
    // the source refuses while the clone still reads its directories
    val e = intercept[Exception](spark.sql("DROP TABLE lake.ddldrop"))
    def refusal(t: Throwable): Boolean = t != null &&
      (Option(t.getMessage).exists(_.contains("registered shallow"))
        || refusal(t.getCause))
    assert(refusal(e), s"DROP under a live clone must refuse, got $e")
    // dropping the CLONE deregisters it from the source's chain…
    assert(spark.sql("SELECT count(*) n FROM lake.ddldropclone")
      .collect()(0).getLong(0) === 40L)
    spark.sql("DROP TABLE lake.ddldropclone")
    assert(Manifest.registeredClones(spark, srcRoot).isEmpty,
      "dropping a clone must release its source registrations")
    // …after which the source drops clean
    spark.sql("DROP TABLE lake.ddldrop")
    assert(spark.sql("SHOW TABLES IN lake").collect()
      .map(_.getString(1)).forall(t => t != "ddldrop" &&
        t != "ddldropclone"))
    assert(!new java.io.File(srcRoot).exists(),
      "DROP must remove the manifest root on disk")
  }

  test("COUNT/MIN/MAX push to parquet footers; MoR tables refuse the " +
      "shortcut") {
    wh
    // footer aggregation rides Spark's own switch for the parquet scan
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try testAggPushdown()
    finally spark.conf.set("spark.sql.parquet.aggregatePushdown", "false")
  }

  private def testAggPushdown(): Unit = {
    // complete pushdown: the scan's delegate answers from footers
    val cnt = spark.sql("SELECT count(*) AS n FROM lake.events")
    assert(cnt.collect()(0).getLong(0) === 200L)
    assert(cnt.queryExecution.executedPlan.toString
      .contains("pushedAggregate=true"),
      "count(*) must be answered from parquet footers")
    val mm = spark.sql("SELECT min(id) AS a, max(id) AS b FROM lake.events")
    assert(mm.collect()(0).toSeq === Seq(0L, 199L))
    assert(mm.queryExecution.executedPlan.toString
      .contains("pushedAggregate=true"))
    // a filtered count cannot completely push (footers don't filter):
    // the answer must still be exact
    val fc = spark.sql("SELECT count(*) AS n FROM lake.events WHERE id < 50")
    assert(fc.collect()(0).getLong(0) === 50L)
    // a tombstoned table must NOT answer from footers (they still count
    // deleted rows) — built below in the mor test's root if present;
    // covered by pushAggregation's tombDirs guard + the morKey read
    val morRoot = s"$wh/aggmor"
    import spark.implicits._
    (0L until 30L).map(i => (i, i)).toDF("id", "v")
      .write.parquet(s"$morRoot/data/b1")
    Manifest.commit(spark, morRoot, s"$morRoot/data/b1")
    MergeOnRead.deleteWhere(spark, morRoot, "id",
      col("id") < 10, s"$morRoot/data")
    val morCnt = spark.read.format("graft").option("morKey", "id")
      .load(morRoot).groupBy().count()
    assert(morCnt.collect()(0).getLong(0) === 20L,
      "a MoR count must reflect deletes, never the raw footers")
    assert(!morCnt.queryExecution.executedPlan.toString
      .contains("pushedAggregate=true"))
  }

  test("LIMIT pushdown banks sidecar counts; unknown counts and " +
      "tombstones fail safe") {
    wh
    import spark.implicits._
    // banked: b1's sidecar count (100) covers LIMIT 40 — b2 is never
    // planned (partial pushdown: Spark's own limit re-cuts on top)
    val q = spark.sql(
      "SELECT count(*) AS n FROM (SELECT * FROM lake.events LIMIT 40) t")
    assert(q.collect()(0).getLong(0) === 40L)
    assert(q.queryExecution.executedPlan.toString.contains("limitDirs=1"),
      s"b2 must never be planned:\n${q.queryExecution.executedPlan}")
    // a limit past every banked count keeps everything, answer exact
    val all = spark.sql("SELECT count(*) AS n FROM " +
      "(SELECT * FROM lake.events LIMIT 1000) t")
    assert(all.collect()(0).getLong(0) === 200L)
    assert(all.queryExecution.executedPlan.toString
      .contains("limitDirs=0"))
    // unknown counts bank NOTHING: dirs without sidecars all stay
    val plain = s"$wh/limplain"
    (0L until 60L).map(i => (i, i)).toDF("id", "v")
      .write.parquet(s"$plain/data/b1")
    Manifest.commit(spark, plain, s"$plain/data/b1")
    (60L until 120L).map(i => (i, i)).toDF("id", "v")
      .write.parquet(s"$plain/data/b2")
    Manifest.commit(spark, plain, s"$plain/data/b2")
    val lp = spark.read.format("graft").load(plain).limit(90)
    assert(lp.collect().length === 90)
    assert(lp.queryExecution.executedPlan.toString
      .contains("limitDirs=0"))
    // a tombstoned table REFUSES the pushdown — its read drops rows,
    // so banked raw counts would overshoot what the scan returns
    val morRoot = s"$wh/limmor"
    (0L until 50L).map(i => (i, i)).toDF("id", "v")
      .write.parquet(s"$morRoot/data/b1")
    SkipStats.write(spark, s"$morRoot/data/b1", Seq("id"))
    Manifest.commit(spark, morRoot, s"$morRoot/data/b1")
    MergeOnRead.deleteWhere(spark, morRoot, "id", col("id") < 30,
      s"$morRoot/data")
    val mor = spark.read.format("graft").option("morKey", "id")
      .load(morRoot).limit(25)
    assert(mor.count() === 20L,
      "the merged read has 20 survivors; LIMIT 25 must see them all")
    assert(!mor.queryExecution.executedPlan.toString
      .contains("limitDirs="),
      "a tombstoned version must never push the limit")
  }

  test("TopN pushdown drops only provably-after directories; a nulled " +
      "directory under NULLS FIRST stays") {
    wh
    import spark.implicits._
    // lake.events: b1 holds ids 0..99, b2 holds 100..199, both
    // sidecar'd — ascending top-40 banks b1 and never plans b2
    val t = spark.sql(
      "SELECT id FROM lake.events ORDER BY id LIMIT 40")
    assert(t.collect().map(_.getLong(0)).toSeq === (0L until 40L))
    assert(t.queryExecution.executedPlan.toString.contains("topNDirs=1"),
      s"b2 must never be planned:\n${t.queryExecution.executedPlan}")
    // a table whose sort-back directory CONTAINS NULLS: under the
    // default ASC NULLS FIRST those nulls sort to the FRONT — the
    // directory must be kept even though its bounds sort after the
    // banked witness; under NULLS LAST it may drop
    val root = s"$wh/topnnull"
    (0L until 100L).map(i => (Some(i), i)).toDF("id", "v")
      .write.parquet(s"$root/data/b1")
    SkipStats.write(spark, s"$root/data/b1", Seq("id"))
    Manifest.commit(spark, root, s"$root/data/b1")
    ((200L until 260L).map(i => (Some(i), i)) ++
      (0L until 10L).map(i => (None: Option[Long], 900L + i)))
      .toDF("id", "v").write.parquet(s"$root/data/b2")
    SkipStats.write(spark, s"$root/data/b2", Seq("id"))
    Manifest.commit(spark, root, s"$root/data/b2")
    val df = spark.read.format("graft").load(root)
    val nf = df.orderBy(col("id").asc_nulls_first).limit(50)
    val got = nf.collect()
    assert(got.take(10).forall(_.isNullAt(0)),
      "NULLS FIRST: b2's null rows must lead the top-k")
    assert(nf.queryExecution.executedPlan.toString.contains("topNDirs=0"),
      "a nulled directory must never drop under NULLS FIRST:\n" +
        nf.queryExecution.executedPlan)
    val nl = df.orderBy(col("id").asc_nulls_last).limit(50)
    assert(nl.collect().map(_.getLong(0)).toSeq === (0L until 50L))
    assert(nl.queryExecution.executedPlan.toString.contains("topNDirs=1"),
      "NULLS LAST: b2 (values after the witness, nulls last) must " +
        s"drop:\n${nl.queryExecution.executedPlan}")
    // DESC (default NULLS LAST): b2's non-null rows bank the limit,
    // b1 sorts entirely after them
    val dn = df.orderBy(col("id").desc).limit(30)
    assert(dn.collect().map(_.getLong(0)).toSeq ===
      (259L to 230L by -1L))
    assert(dn.queryExecution.executedPlan.toString.contains("topNDirs=1"),
      s"DESC: b1 must never be planned:\n${dn.queryExecution.executedPlan}")
  }

  test("TRUNCATE TABLE commits one empty replacing version; time " +
      "travel keeps the rows") {
    wh
    import spark.implicits._
    val root = s"$wh/trunc"
    (0L until 80L).map(i => (i, i % 3)).toDF("id", "grp")
      .write.parquet(s"$root/data/b1")
    Manifest.commit(spark, root, s"$root/data/b1")
    spark.sql("TRUNCATE TABLE lake.trunc")
    assert(spark.sql("SELECT count(*) n FROM lake.trunc")
      .collect()(0).getLong(0) === 0L)
    assert(spark.sql("SELECT count(*) n FROM lake.trunc VERSION AS OF 1")
      .collect()(0).getLong(0) === 80L,
      "the pre-truncate version must stay time-travelable")
    spark.sql("INSERT INTO lake.trunc " +
      "SELECT CAST(7 AS BIGINT) AS id, CAST(1 AS BIGINT) AS grp")
    assert(spark.sql("SELECT id FROM lake.trunc")
      .collect().map(_.getLong(0)).toSeq === Seq(7L),
      "INSERT after TRUNCATE must append from the truncated head")
    assert(Manifest.versions(spark, root).size === 3)
  }

  test("CALL clone (shallow guards the source; deep decouples) and " +
      "CALL sweep reclaims orphans") {
    wh
    import spark.implicits._
    val src = s"$wh/clsrc"
    (0L until 40L).map(i => (i, i)).toDF("id", "v")
      .write.parquet(s"$src/data/b1")
    Manifest.commit(spark, src, s"$src/data/b1")
    // shallow: O(1) fork, source DROP refuses while registered
    spark.sql("CALL lake.clone('clsrc', 'clshallow', 'shallow', 0)")
    assert(spark.sql("SELECT count(*) n FROM lake.clshallow")
      .collect()(0).getLong(0) === 40L)
    assert(scala.util.Try(spark.sql("DROP TABLE lake.clsrc")).isFailure,
      "a registered shallow clone must block DROP of its source")
    // deep: fully decoupled — source can be dropped afterwards
    spark.sql("CALL lake.clone('clsrc', 'cldeep', 'deep', 0)")
    spark.sql("DROP TABLE lake.clshallow")
    spark.sql("DROP TABLE lake.clsrc")
    assert(spark.sql("SELECT count(*) n FROM lake.cldeep")
      .collect()(0).getLong(0) === 40L,
      "a deep clone must survive its source's drop")
    // sweep: a landed-but-never-committed directory reclaims; the
    // committed one stays
    val orphan = s"$wh/cldeep/data/orphan-x"
    (0L until 5L).map(i => (i, i)).toDF("id", "v").write.parquet(orphan)
    val swept = spark.sql("CALL lake.sweep('cldeep', 0)").collect()
    assert(swept.map(_.getString(0)).exists(_.endsWith("orphan-x")),
      s"the orphan must sweep: ${swept.mkString(", ")}")
    assert(spark.sql("SELECT count(*) n FROM lake.cldeep")
      .collect()(0).getLong(0) === 40L,
      "committed data must survive the sweep")
  }

  test("CALL procedures run the maintenance verbs: history, tag, " +
      "compact, fold, expire") {
    import spark.implicits._
    val root = s"$wh/maint"
    def batch(lo: Long, hi: Long) =
      (lo until hi).map(i => (i, i)).toDF("id", "v")
    batch(0, 100).write.format("graft").save(root)
    batch(100, 200).write.format("graft")
      .mode(org.apache.spark.sql.SaveMode.Append).save(root)
    // history shows two appends
    val hist = spark.sql("CALL lake.history('maint')").collect()
    assert(hist.map(r => (r.getInt(0), r.getString(2))).toSeq ===
      Seq((1, "append"), (2, "append")))
    // tag v1, advance, expire keeps the tagged version
    spark.sql("CALL lake.tag('maint', 'keepme', 1)")
    // compact: many small files -> one replacing commit
    val c = spark.sql("CALL lake.compact('maint')").collect()(0)
    assert(c.getInt(2) <= c.getInt(1),
      "compaction must not grow the file count")
    assert(spark.sql("SELECT count(*) n FROM lake.maint")
      .collect()(0).getLong(0) === 200L)
    // MoR delete then CALL fold
    MergeOnRead.deleteWhere(spark, root, "id",
      org.apache.spark.sql.functions.col("id") < 10, s"$root/data")
    val f = spark.sql("CALL lake.fold('maint', 'id')").collect()
    assert(f.nonEmpty, "fold must rewrite the tombstoned table")
    assert(spark.sql("SELECT count(*) n FROM lake.maint")
      .collect()(0).getLong(0) === 190L)
    // expire: the tagged v1 survives any keepLast window
    spark.sql("CALL lake.expire('maint', 1)").collect()
    assert(spark.sql(
      "SELECT count(*) n FROM lake.maint VERSION AS OF 'keepme'")
      .collect()(0).getLong(0) === 100L)
    spark.sql("CALL lake.drop_tag('maint', 'keepme')")
    val gone = intercept[Exception](spark.sql(
      "SELECT count(*) FROM lake.maint VERSION AS OF 'keepme'").collect())
    assert(gone != null)
  }

  test("an unscoped CALL compact keeps the table's stats and blooms on " +
      "the compacted directory") {
    wh
    spark.sql("CREATE TABLE lake.ucompact (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES('statsCols'='id', 'bloomCols'='id')")
    spark.sql("INSERT INTO lake.ucompact SELECT id, id FROM range(0, 50)")
    spark.sql("INSERT INTO lake.ucompact SELECT id, id FROM range(50, 100)")
    spark.sql("CALL lake.compact('ucompact')").collect()
    val root = s"$wh/ucompact"
    val Seq(d) = Manifest.committed(spark, root)
    assert(d.contains("/compact-v"), s"got $d")
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(SkipStats.read(f, d).exists(_.contains("id")),
      s"$d must keep its skip-stats sidecar")
    assert(graft.io.BloomSidecar.readKeys(f, d).exists(_.contains("id")),
      s"$d must keep its bloom sidecar")
    val pruned = spark.sql("SELECT id FROM lake.ucompact WHERE id < 50")
    assert(pruned.count() === 50L)
  }

  test("a recorded mor key auto-merges plain SQL reads of a " +
      "tombstoned table") {
    import spark.implicits._
    val root = s"$wh/autmor"
    (0L until 40L).map(i => (i, i)).toDF("id", "v")
      .write.parquet(s"$root/data/b1")
    Manifest.commit(spark, root, s"$root/data/b1")
    spark.sql("CALL lake.set_mor_key('autmor', 'id')")
    MergeOnRead.deleteWhere(spark, root, "id",
      col("id") < 15, s"$root/data")
    // no morKey option, no fold — the table knows its own merge key
    assert(spark.sql("SELECT count(*) n FROM lake.autmor")
      .collect()(0).getLong(0) === 25L)
    assert(spark.read.format("graft").load(root).count() === 25L)
    // re-recording must refuse; drop + set is the deliberate path
    val dup = intercept[Exception](
      spark.sql("CALL lake.set_mor_key('autmor', 'v')").collect())
    assert(dup != null)
    spark.sql("CALL lake.drop_mor_key('autmor')")
    spark.sql("CALL lake.set_mor_key('autmor', 'id')")
  }

  test("an all-digit tag resolves through VERSION AS OF when no such " +
      "version exists; a live version number wins the collision") {
    wh
    val root = s"$wh/events"
    Manifest.tag(spark, root, "2024", 1)
    // no version 2024 exists — the literal falls back to the tag
    assert(spark.sql(
      "SELECT count(*) n FROM lake.events VERSION AS OF '2024'")
      .collect()(0).getLong(0) === 100L)
    // a live version number keeps priority over a same-named tag
    Manifest.tag(spark, root, "2", 1)
    assert(spark.sql(
      "SELECT count(*) n FROM lake.events VERSION AS OF '2'")
      .collect()(0).getLong(0) === 200L,
      "a literal matching a LIVE version must resolve as the version")
    Manifest.dropTag(spark, root, "2024")
    Manifest.dropTag(spark, root, "2")
  }

  test("a caller-supplied read schema is validated against the " +
      "snapshot, not silently replaced") {
    wh
    val root = s"$wh/events"
    val good = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("grp",
        org.apache.spark.sql.types.LongType)))
    assert(spark.read.format("graft").schema(good).load(root)
      .count() === 200L)
    val bad = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.StringType)))
    val e = intercept[Exception](
      spark.read.format("graft").schema(bad).load(root).count())
    def mismatch(t: Throwable): Boolean =
      t != null && (Option(t.getMessage)
        .exists(_.contains("does not match")) || mismatch(t.getCause))
    assert(mismatch(e), s"schema mismatch must fail loudly, got $e")
  }

  test("a sink replay after a compaction folded its batch out of the " +
      "latest list does not re-commit the batch") {
    import spark.implicits._
    val root = s"$wh/sinkreplay"
    val sink = new graft.io.dsv2.GraftStreamSink(Map("path" -> root))
    def batch(lo: Long, hi: Long) =
      (lo until hi).map(i => (i, i)).toDF("id", "v")
    sink.addBatch(0, batch(0, 10))
    sink.addBatch(1, batch(10, 20))
    // compaction: one folded dir REPLACES both batch dirs — batch-1's
    // directory is no longer in the latest list
    spark.read.parquet(s"$root/data/batch-000000000",
        s"$root/data/batch-000000001")
      .coalesce(1).write.parquet(s"$root/data/folded")
    Manifest.rewrite(spark, root, Seq(s"$root/data/folded"))
    val versionsBefore = Manifest.versions(spark, root)
    // a restarted query replays batch 1: the full-history membership
    // check must recognize it as already committed and do nothing
    sink.addBatch(1, batch(10, 20))
    assert(Manifest.versions(spark, root) === versionsBefore,
      "the replay must not add a commit")
    assert(spark.read.format("graft").load(root).count() === 20L,
      "the folded table must not gain duplicate rows")
  }

  test("INSERT INTO appends one commit; INSERT OVERWRITE replaces; " +
      "old versions still time-travel") {
    import spark.implicits._
    val root = s"$wh/dmlins"
    (0L until 10L).map(i => (i, i % 7)).toDF("id", "grp")
      .write.format("graft").save(root)
    spark.sql("INSERT INTO lake.dmlins VALUES (100, 1), (101, 2)")
    assert(spark.sql("SELECT count(*) n FROM lake.dmlins")
      .collect()(0).getLong(0) === 12L)
    assert(Manifest.versions(spark, root) === Seq(1, 2))
    spark.sql("INSERT OVERWRITE lake.dmlins VALUES (7, 7)")
    assert(spark.sql("SELECT count(*) n FROM lake.dmlins")
      .collect()(0).getLong(0) === 1L)
    assert(Manifest.versions(spark, root) === Seq(1, 2, 3),
      "the overwrite must be a replacing commit, not an rm -rf")
    assert(spark.sql("SELECT count(*) n FROM lake.dmlins VERSION AS OF 2")
      .collect()(0).getLong(0) === 12L)
  }

  test("SQL DELETE without a mor key plans copy-on-write: a replacing " +
      "commit, old versions still time-travel") {
    import spark.implicits._
    val root = s"$wh/dmlcow"
    (0L until 100L).map(i => (i, i % 7)).toDF("id", "grp")
      .write.format("graft").save(root)
    spark.sql("DELETE FROM lake.dmlcow WHERE id >= 50")
    assert(spark.sql("SELECT count(*) n FROM lake.dmlcow")
      .collect()(0).getLong(0) === 50L)
    assert(spark.sql("SELECT sum(id) s FROM lake.dmlcow")
      .collect()(0).getLong(0) === (0L until 50L).sum)
    // one replacing commit; the pre-delete version still reads
    assert(Manifest.versions(spark, root) === Seq(1, 2))
    assert(spark.sql(
      "SELECT count(*) n FROM lake.dmlcow VERSION AS OF 1")
      .collect()(0).getLong(0) === 100L)
    assert(!Manifest.entries(spark, root).exists(MergeOnRead.isTombstone),
      "copy-on-write must not write tombstones")
  }

  test("a selective SQL DELETE rewrites ONLY the directories containing " +
      "matches — the runtime group filter carries the rest verbatim") {
    import spark.implicits._
    val root = s"$wh/dmlsurgical"
    // two committed directories with disjoint key ranges
    (0L until 100L).map(i => (i, i)).toDF("id", "v")
      .write.parquet(s"$root/data/b1")
    graft.io.SkipStats.write(spark, s"$root/data/b1", Seq("id"))
    Manifest.commit(spark, root, s"$root/data/b1")
    (100L until 200L).map(i => (i, i)).toDF("id", "v")
      .write.parquet(s"$root/data/b2")
    graft.io.SkipStats.write(spark, s"$root/data/b2", Seq("id"))
    Manifest.commit(spark, root, s"$root/data/b2")
    spark.sql("DELETE FROM lake.dmlsurgical WHERE id BETWEEN 150 AND 169")
    val entries = Manifest.committed(spark, root)
    assert(entries.contains(s"$root/data/b1"),
      s"the untouched directory must carry VERBATIM, got $entries")
    assert(!entries.contains(s"$root/data/b2"),
      s"the matched directory must be replaced, got $entries")
    assert(entries.size === 2,
      s"carried b1 + one rewritten directory, got $entries")
    assert(spark.sql("SELECT count(*) n FROM lake.dmlsurgical")
      .collect()(0).getLong(0) === 180L)
    assert(spark.sql("SELECT sum(id) s FROM lake.dmlsurgical")
      .collect()(0).getLong(0) ===
        (0L until 200L).filterNot(i => i >= 150 && i <= 169).sum)
    // time travel still reads the pre-delete snapshot
    assert(spark.sql(
      "SELECT count(*) n FROM lake.dmlsurgical VERSION AS OF 2")
      .collect()(0).getLong(0) === 200L)
  }

  test("a DML rewrite carries the table's skip-stats discipline: the " +
      "rewritten directory gets sidecars over the replaced dirs' " +
      "columns; a delete-everything rewrite stays readable") {
    import spark.implicits._
    val root = s"$wh/dmlstats"
    for ((lo, hi, tag) <- Seq((0L, 100L, "b1"), (100L, 200L, "b2"))) {
      (lo until hi).map(i => (i, i)).toDF("id", "v")
        .write.parquet(s"$root/data/$tag")
      graft.io.SkipStats.write(spark, s"$root/data/$tag", Seq("id"))
      Manifest.commit(spark, root, s"$root/data/$tag")
    }
    spark.sql("DELETE FROM lake.dmlstats WHERE id BETWEEN 150 AND 159")
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rewritten = Manifest.committed(spark, root)
      .filterNot(_ == s"$root/data/b1")
    assert(rewritten.size === 1)
    val stats = graft.io.SkipStats.read(f, rewritten.head)
    assert(stats.exists(_.contains("id")),
      s"the rewritten dir must carry the replaced dirs' sidecar " +
        s"columns, got $stats")
    // and the carried sidecar must actually prune the next read
    val pruned = spark.read.format("graft").load(root)
      .filter(col("id") < 50)
    pruned.collect()
    assert(pruned.queryExecution.executedPlan.toString
      .contains("skippedDirs=1"),
      "the rewritten dir's sidecar must prune at planning")
    // delete EVERYTHING in one dir: the rewrite has zero survivors but
    // the table must stay readable at full schema
    spark.sql("DELETE FROM lake.dmlstats WHERE id >= 100")
    assert(spark.sql("SELECT count(*) n FROM lake.dmlstats")
      .collect()(0).getLong(0) === 100L)
    spark.sql("DELETE FROM lake.dmlstats WHERE id >= 0") // all of it
    assert(spark.sql("SELECT count(*) n FROM lake.dmlstats")
      .collect()(0).getLong(0) === 0L)
    assert(spark.sql("SELECT * FROM lake.dmlstats").schema
      .fieldNames.toSeq === Seq("id", "v"),
      "an emptied table must keep its schema readable")
  }

  test("the _dir metadata column is selectable and names each row's " +
      "committed directory") {
    import spark.implicits._
    val root = s"$wh/dmldircol"
    (0L until 10L).map(i => (i, i)).toDF("id", "v")
      .write.parquet(s"$root/data/b1")
    Manifest.commit(spark, root, s"$root/data/b1")
    (10L until 30L).map(i => (i, i)).toDF("id", "v")
      .write.parquet(s"$root/data/b2")
    Manifest.commit(spark, root, s"$root/data/b2")
    val byDir = spark.sql(
      "SELECT _dir, count(*) n FROM lake.dmldircol GROUP BY _dir")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(byDir === Map(s"$root/data/b1" -> 10L,
      s"$root/data/b2" -> 20L))
  }

  test("SQL DELETE with a recorded mor key plans merge-on-read: one " +
      "appending tombstone commit, data untouched; no-match deletes " +
      "commit nothing") {
    import spark.implicits._
    val root = s"$wh/dmlmor"
    (0L until 100L).map(i => (i, i % 7)).toDF("id", "grp")
      .write.format("graft").save(root)
    spark.sql("CALL lake.set_mor_key('dmlmor', 'id')")
    val dataDirsBefore = Manifest.entries(spark, root)
    spark.sql("DELETE FROM lake.dmlmor WHERE id % 10 = 3")
    val entries = Manifest.entries(spark, root)
    assert(entries.count(MergeOnRead.isTombstone) === 1,
      s"the delete must commit exactly one tombstone dir: $entries")
    assert(entries.filterNot(MergeOnRead.isTombstone) === dataDirsBefore,
      "a merge-on-read delete must leave every data directory in place")
    assert(spark.sql("SELECT count(*) n FROM lake.dmlmor")
      .collect()(0).getLong(0) === 90L)
    val versions = Manifest.versions(spark, root)
    spark.sql("DELETE FROM lake.dmlmor WHERE id = -1")
    assert(Manifest.versions(spark, root) === versions,
      "a DELETE matching nothing must not commit")
    // fold ends the deferral; the answer is unchanged
    MergeOnRead.fold(spark, root, "id", s"$root/data")
    assert(spark.sql("SELECT count(*) n FROM lake.dmlmor")
      .collect()(0).getLong(0) === 90L)
  }

  test("SQL UPDATE and MERGE INTO plan copy-on-write; MERGE on a " +
      "tombstoned table folds its live tombstones") {
    import spark.implicits._
    val root = s"$wh/dmlmerge"
    (0L until 60L).map(i => (i, i)).toDF("id", "v")
      .write.format("graft").save(root)
    spark.sql("UPDATE lake.dmlmerge SET v = v * 10 WHERE id < 5")
    assert(spark.sql(
      "SELECT sum(v) s FROM lake.dmlmerge WHERE id < 5")
      .collect()(0).getLong(0) === (0L until 5L).map(_ * 10).sum)
    assert(spark.sql("SELECT count(*) n FROM lake.dmlmerge")
      .collect()(0).getLong(0) === 60L)
    // tombstone some rows through the Scala API, then MERGE over the
    // merged view — the replacing rewrite must fold the tombstones
    spark.sql("CALL lake.set_mor_key('dmlmerge', 'id')")
    MergeOnRead.deleteWhere(spark, root, "id",
      col("id").between(50, 59), s"$root/data")
    (40L until 55L).map(i => (i, i * 1000)).toDF("id", "v")
      .createOrReplaceTempView("dml_src")
    spark.sql("""MERGE INTO lake.dmlmerge t USING dml_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    // 0..39 untouched (0..4 updated earlier), 40..49 matched->updated,
    // 50..54 were tombstoned so they arrive as INSERTS, 55..59 gone
    assert(spark.sql("SELECT count(*) n FROM lake.dmlmerge")
      .collect()(0).getLong(0) === 55L)
    assert(spark.sql(
      "SELECT sum(v) s FROM lake.dmlmerge WHERE id >= 40")
      .collect()(0).getLong(0) === (40L until 55L).map(_ * 1000).sum)
    assert(!Manifest.entries(spark, root).exists(MergeOnRead.isTombstone),
      "the replacing MERGE commit must fold live tombstones")
  }

  test("conditional MERGE edges: duplicate source join keys refuse " +
      "with the cardinality violation (never nondeterministic " +
      "results); clause conditions see both sides; an unmatched " +
      "MERGE commits no version") {
    import spark.implicits._
    val root = s"$wh/mergeedges"
    (0L until 20L).map(i => (i, i)).toDF("id", "v")
      .write.format("graft").save(root)
    // a source carrying the same key twice makes "which row updates"
    // undefined — ANSI MERGE requires the refusal
    Seq((5L, 1L), (5L, 2L)).toDF("id", "v")
      .createOrReplaceTempView("medup_src")
    val e = intercept[Exception](spark.sql(
      """MERGE INTO lake.mergeedges t USING medup_src s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *"""))
    def m(t: Throwable): Boolean = t != null &&
      (Option(t.getMessage).exists(msg =>
        msg.contains("MERGE_CARDINALITY_VIOLATION") ||
          msg.contains("multiple source rows")) || m(t.getCause))
    assert(m(e), s"expected the cardinality violation, got $e")
    assert(Manifest.versions(spark, root) === Seq(1),
      "the refused MERGE must commit nothing")
    // clause conditions referencing BOTH sides plan and evaluate
    Seq((3L, 1000L), (4L, 1L)).toDF("id", "v")
      .createOrReplaceTempView("mcond_src")
    spark.sql(
      """MERGE INTO lake.mergeedges t USING mcond_src s ON t.id = s.id
        WHEN MATCHED AND s.v > t.v THEN UPDATE SET v = s.v + t.v
        WHEN MATCHED THEN DELETE""")
    val got = spark.sql("SELECT id, v FROM lake.mergeedges ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.contains((3L, 1003L)), "s.v > t.v must update")
    assert(!got.exists(_._1 == 4L), "the losing matched row deletes")
    // a MERGE matching nothing (no clause fires) burns no version
    val vBefore = Manifest.versions(spark, root)
    Seq((99999L, 0L)).toDF("id", "v")
      .createOrReplaceTempView("mnone_src")
    spark.sql(
      """MERGE INTO lake.mergeedges t USING mnone_src s ON t.id = s.id
        WHEN MATCHED THEN DELETE""")
    assert(Manifest.versions(spark, root) === vBefore,
      "an all-miss MERGE must commit no version")
  }

  test("a selective dim join runtime-prunes fact directories through " +
      "the sidecars (V2 dynamic pruning), and the scan reports real " +
      "size statistics") {
    import spark.implicits._
    val root = s"$wh/dppfact"
    for (b <- 0 until 4) {
      val d = s"$root/data/b$b"
      (b * 100L until (b + 1) * 100L).map(i => (i, i % 13))
        .toDF("k", "v").write.parquet(d)
      graft.io.SkipStats.write(spark, d, Seq("k"))
      Manifest.commit(spark, root, d)
    }
    // the scan must report its true (small) size, not a default guess
    val factScan = spark.read.format("graft").load(root)
      .queryExecution.optimizedPlan.stats
    assert(factScan.sizeInBytes > 0 &&
      factScan.sizeInBytes < 10L * 1024 * 1024,
      s"the scan must report real file-backed size, got " +
        s"${factScan.sizeInBytes}")
    // the pruning side needs a SELECTIVE predicate (on a non-local
    // relation — a local one folds the filter away) for Spark's
    // dynamic pruning heuristic to consider the filter worth pushing
    ((0L until 400L by 7).map(k => (k, if (k == 7 || k == 42) 1 else 0)))
      .toDF("k", "sel").write.mode("overwrite")
      .parquet(s"$wh/dpp_dim_pq")
    spark.read.parquet(s"$wh/dpp_dim_pq")
      .createOrReplaceTempView("dpp_dim")
    val joined = spark.sql(
      """SELECT f.k, f.v FROM lake.dppfact f
         JOIN dpp_dim d ON f.k = d.k WHERE d.sel = 1""")
    val rows = joined.collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq === Seq(7L, 42L))
    // the fact scan must have read ONLY the matching directory's rows
    // (both keys live in b0) — the runtime IN filter pruned b1..b3
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    def scans(p: SparkPlan): Seq[org.apache.spark.sql.execution
        .datasources.v2.BatchScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case b: org.apache.spark.sql.execution.datasources.v2
          .BatchScanExec => Seq(b)
      case other => other.children.flatMap(scans)
    }
    val factNode = scans(joined.queryExecution.executedPlan)
      .find(_.toString.contains("dppfact"))
    assert(factNode.nonEmpty, "fact BatchScan not found")
    assert(factNode.get.runtimeFilters.nonEmpty,
      "the join must push a runtime filter into the fact scan")
    val read = factNode.get.metrics("numOutputRows").value
    assert(read === 100L,
      s"runtime pruning must read only the matching directory " +
        s"(100 rows), read $read")
  }

  test("schema drift across committed directories resolves to the " +
      "UNION with null-fill; incompatible type drift refuses") {
    import spark.implicits._
    val root = s"$wh/drift"
    (0L until 5L).map(i => (i, i)).toDF("id", "v")
      .write.parquet(s"$root/data/b1")
    Manifest.commit(spark, root, s"$root/data/b1")
    (5L until 10L).map(i => (i, i, i * 2)).toDF("id", "v", "w")
      .write.parquet(s"$root/data/b2")
    Manifest.commit(spark, root, s"$root/data/b2")
    val df = spark.read.format("graft").load(root)
    assert(df.schema.fieldNames.toSeq === Seq("id", "v", "w"),
      s"the read must expose the UNION schema, got ${df.schema}")
    assert(df.count() === 10L)
    assert(df.filter(col("w").isNull).count() === 5L,
      "pre-evolution rows read the new column as null")
    assert(spark.sql(
      "SELECT sum(w) s FROM lake.drift").collect()(0).getLong(0) ===
        (5L until 10L).map(_ * 2).sum)
    // incompatible TYPE drift refuses loudly
    val bad = s"$wh/driftbad"
    (0L until 3L).map(i => (i, i)).toDF("id", "v")
      .write.parquet(s"$bad/data/b1")
    Manifest.commit(spark, bad, s"$bad/data/b1")
    (3L until 6L).map(i => (i, s"s$i")).toDF("id", "v")
      .write.parquet(s"$bad/data/b2")
    Manifest.commit(spark, bad, s"$bad/data/b2")
    val e = intercept[Exception](
      spark.read.format("graft").load(bad).count())
    def drift(t: Throwable): Boolean = t != null &&
      (Option(t.getMessage).exists(_.contains("schema drift")) ||
        drift(t.getCause))
    assert(drift(e), s"type drift must refuse loudly, got $e")
  }

  test("CALL layout reports per-directory kind, files, bytes, and " +
      "sidecar columns") {
    import spark.implicits._
    val root = s"$wh/layoutt"
    (0L until 20L).map(i => (i, i)).toDF("id", "v")
      .write.parquet(s"$root/data/b1")
    graft.io.SkipStats.write(spark, s"$root/data/b1", Seq("id", "v"))
    Manifest.commit(spark, root, s"$root/data/b1")
    MergeOnRead.deleteWhere(spark, root, "id",
      col("id") < 3, s"$root/data")
    val rows = spark.sql("CALL lake.layout('layoutt')").collect()
      .map(r => (r.getString(0).split("/").last, r.getString(1),
        r.getInt(2), r.getLong(3), r.getString(4), r.getLong(5)))
    assert(rows.length === 2)
    val data = rows.find(_._2 == "data").get
    assert(data._1 === "b1" && data._3 > 0 && data._4 > 0 &&
      data._5 === "id,v")
    assert(data._6 === 20L,
      "the sidecar's exact row count must surface metadata-only")
    val tomb = rows.find(_._2 == "tombstones").get
    assert(tomb._3 > 0 && tomb._5 === "" && tomb._6 === -1L)
  }

  test("a live-tombstone table refuses a plain SQL read until folded") {
    import spark.implicits._
    val root = s"$wh/mor"
    (0L until 50L).map(i => (i, i)).toDF("id", "v")
      .write.parquet(s"$root/data/b1")
    Manifest.commit(spark, root, s"$root/data/b1")
    MergeOnRead.deleteWhere(spark, root, "id",
      col("id") < 10, s"$root/data")
    val e = intercept[Exception](
      spark.sql("SELECT count(*) FROM lake.mor").collect())
    def tombstoned(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains("tombstones"))
        || tombstoned(t.getCause))
    assert(tombstoned(e))
    MergeOnRead.fold(spark, root, "id", s"$root/data")
    assert(spark.sql("SELECT count(*) n FROM lake.mor")
      .collect()(0).getLong(0) === 40L)
  }

  test("a CoW DELETE matching nothing commits NO version (parity with " +
      "the MoR no-op contract)") {
    import spark.implicits._
    val root = s"$wh/dmlnoop"
    for ((lo, hi, tag) <- Seq((0L, 50L, "b1"), (50L, 100L, "b2"))) {
      (lo until hi).map(i => (i, i)).toDF("id", "v")
        .write.parquet(s"$root/data/$tag")
      graft.io.SkipStats.write(spark, s"$root/data/$tag", Seq("id"))
      Manifest.commit(spark, root, s"$root/data/$tag")
    }
    val versions = Manifest.versions(spark, root)
    val entries = Manifest.committed(spark, root)
    spark.sql("DELETE FROM lake.dmlnoop WHERE id = -1")
    assert(Manifest.versions(spark, root) === versions,
      "a CoW DELETE deleting nothing must not commit a version")
    assert(Manifest.committed(spark, root) === entries,
      "a no-op DELETE must not append an empty directory to the layout")
    assert(spark.sql("SELECT count(*) n FROM lake.dmlnoop")
      .collect()(0).getLong(0) === 100L)
  }

  test("a DATE join key never runtime-prunes (epoch-day literals don't " +
      "compare against ISO sidecar bounds) — rows survive intact") {
    import spark.implicits._
    val root = s"$wh/dppdate"
    // two directories split by month; sidecars cover the date column,
    // so the OLD code would advertise it for runtime pruning and then
    // compare the runtime literal "196xx" (epoch days) lexically
    // against "2023-xx-xx" bounds — wrongly pruning BOTH directories
    for ((mo, tag) <- Seq(("08", "b1"), ("09", "b2"))) {
      (1 to 20).map(d => (f"2023-$mo-$d%02d", d.toLong))
        .toDF("ds", "v").withColumn("day", col("ds").cast("date"))
        .select("day", "v")
        .write.parquet(s"$root/data/$tag")
      graft.io.SkipStats.write(spark, s"$root/data/$tag", Seq("day"))
      Manifest.commit(spark, root, s"$root/data/$tag")
    }
    Seq(("2023-09-03", 1), ("2023-09-07", 1), ("2023-08-05", 0))
      .toDF("ds", "sel").withColumn("day", col("ds").cast("date"))
      .select("day", "sel")
      .write.mode("overwrite").parquet(s"$wh/dppdate_dim_pq")
    spark.read.parquet(s"$wh/dppdate_dim_pq")
      .createOrReplaceTempView("dppdate_dim")
    val joined = spark.sql(
      """SELECT f.day, f.v FROM lake.dppdate f
         JOIN dppdate_dim d ON f.day = d.day WHERE d.sel = 1""")
    assert(joined.collect().map(_.getLong(1)).sorted.toSeq ===
      Seq(3L, 7L),
      "date-keyed rows must survive — a lexical epoch-day-vs-ISO " +
        "sidecar compare would silently drop them")
  }

  test("runtime pruning advertises the UNION of sidecar columns across " +
      "directories — one sidecar-less dir doesn't silence the rest") {
    import spark.implicits._
    val root = s"$wh/dppunion"
    for (b <- 0 until 4) {
      val d = s"$root/data/b$b"
      (b * 100L until (b + 1) * 100L).map(i => (i, i % 13))
        .toDF("k", "v").write.parquet(d)
      // b0 (the FIRST kept dir) carries no sidecar — a headOption
      // sample would advertise nothing and lose pruning for b1..b3
      if (b > 0) graft.io.SkipStats.write(spark, d, Seq("k"))
      Manifest.commit(spark, root, d)
    }
    ((0L until 400L by 7).map(k => (k, if (k == 105 || k == 140) 1 else 0)))
      .toDF("k", "sel").write.mode("overwrite")
      .parquet(s"$wh/dppunion_dim_pq")
    spark.read.parquet(s"$wh/dppunion_dim_pq")
      .createOrReplaceTempView("dppunion_dim")
    val joined = spark.sql(
      """SELECT f.k, f.v FROM lake.dppunion f
         JOIN dppunion_dim d ON f.k = d.k WHERE d.sel = 1""")
    assert(joined.collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(105L, 140L))
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    def scans(p: SparkPlan): Seq[org.apache.spark.sql.execution
        .datasources.v2.BatchScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case b: org.apache.spark.sql.execution.datasources.v2
          .BatchScanExec => Seq(b)
      case other => other.children.flatMap(scans)
    }
    val factNode = scans(joined.queryExecution.executedPlan)
      .find(_.toString.contains("dppunion"))
    assert(factNode.nonEmpty && factNode.get.runtimeFilters.nonEmpty,
      "the join must still push a runtime filter despite b0's missing " +
        "sidecar")
    val read = factNode.get.metrics("numOutputRows").value
    // b0 kept (no sidecar → never skip), b1 kept (contains both keys),
    // b2/b3 runtime-pruned
    assert(read === 200L,
      s"expected b0+b1 = 200 rows read (b2/b3 runtime-pruned), got $read")
  }

  test("runtime filtering advertises only columns the scan outputs: a " +
      "sidecar or partition column pruned from the scan never breaks " +
      "a join, a MERGE, or a partitioned MERGE") {
    import spark.implicits._
    wh
    (0L until 40L).map(i => (i, i % 5 * 10)).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$wh/rfout_src_pq")
    spark.read.parquet(s"$wh/rfout_src_pq")
      .createOrReplaceTempView("rfout_src")
    def load(t: String, ddl: String): Unit = {
      spark.sql(s"CREATE TABLE lake.$t (id BIGINT, v BIGINT) $ddl")
      spark.sql(s"INSERT INTO lake.$t SELECT id, id * 10 FROM range(0, 20)")
      spark.sql(s"INSERT INTO lake.$t SELECT id, id * 10 FROM range(20, 40)")
    }
    def ids(q: String): Seq[Long] =
      spark.sql(q).collect().map(_.getLong(0)).sorted.toSeq
    // a join reading only `id` from a table with stats on id AND v
    load("rfjoin", "TBLPROPERTIES('statsCols'='id,v')")
    assert(ids("""SELECT t.id FROM lake.rfjoin t
      JOIN (SELECT id FROM rfout_src WHERE v = 20) s ON t.id = s.id""") ===
      (2L until 40L by 5))
    // MERGE … UPDATE SET * with sidecars on the non-key column only
    load("rfmerge", "TBLPROPERTIES('statsCols'='v', 'bloomCols'='v')")
    spark.sql("""MERGE INTO lake.rfmerge t
      USING (SELECT id, v + 1 AS v FROM rfout_src WHERE id < 5) s
      ON t.id = s.id WHEN MATCHED THEN UPDATE SET *""")
    assert(ids("SELECT v FROM lake.rfmerge WHERE id < 5") ===
      Seq(1L, 11L, 21L, 31L, 41L))
    // MERGE … DELETE on a table partitioned by a non-key column
    spark.sql("CREATE TABLE lake.rfpart (id BIGINT, b BIGINT) " +
      "PARTITIONED BY (b)")
    spark.sql("INSERT INTO lake.rfpart SELECT id, id % 3 FROM range(0, 30)")
    spark.sql("""MERGE INTO lake.rfpart t
      USING (SELECT id FROM rfout_src WHERE id < 10) s
      ON t.id = s.id WHEN MATCHED THEN DELETE""")
    assert(ids("SELECT id FROM lake.rfpart") === (10L until 30L))
  }

  test("two-phase pruning: under the cap the static IN skips dirs at " +
      "planning; past the cap it fails OPEN; an empty dim yields zero " +
      "rows without scanning") {
    import spark.implicits._
    import graft.io.dsv2.TwoPhasePruning
    val root = s"$wh/twophase"
    for (b <- 0 until 4) {
      val d = s"$root/data/b$b"
      (b * 100L until (b + 1) * 100L).map(i => (i, i % 7))
        .toDF("k", "v").write.parquet(d)
      graft.io.SkipStats.write(spark, d, Seq("k"))
      Manifest.commit(spark, root, d)
    }
    val dim = Seq(105L, 140L).toDF("k")
    val pruned = TwoPhasePruning.prunedScan(spark, root, "k", dim)
    assert(pruned.count() === 2L)
    assert(pruned.queryExecution.executedPlan.toString
      .contains("skippedDirs=3"),
      "the static IN must prune the three non-matching dirs at " +
        s"planning:\n${pruned.queryExecution.executedPlan}")
    // past the cap: fail-open to the unfiltered scan, same join answer
    spark.conf.set("spark.graft.twoPhasePrune.maxKeys", "1")
    try {
      val open = TwoPhasePruning.prunedScan(spark, root, "k", dim)
      assert(open.count() === 400L,
        "past the cap the scan must stay unfiltered (fail-open)")
      assert(open.join(dim, "k").count() === 2L)
    } finally spark.conf.unset("spark.graft.twoPhasePrune.maxKeys")
    // an empty (or all-null) dim short-circuits to zero rows
    val none = TwoPhasePruning.prunedScan(spark, root, "k",
      Seq.empty[Long].toDF("k"))
    assert(none.count() === 0L)
    intercept[IllegalArgumentException](
      TwoPhasePruning.prunedScan(spark, root, "k",
        Seq((1L, 2L)).toDF("a", "b")))
  }

  test("CALL takedown appends one tombstone commit from a victim key " +
      "list; CALL compact_stats folds a distributive stats table and " +
      "refuses non-numeric columns") {
    import spark.implicits._
    wh
    val root = s"$wh/calltd"
    (0L until 50L).map(i => (i, i)).toDF("id", "v")
      .write.format("graft").save(root)
    spark.sql("CALL lake.set_mor_key('calltd', 'id')")
    val td = spark.sql("CALL lake.takedown('calltd', 'id', '3, 5, 7')")
      .collect()(0)
    assert(td.getInt(1) === 3)
    assert(Manifest.entries(spark, root).count(MergeOnRead.isTombstone)
      === 1, "takedown must be ONE appending tombstone commit")
    assert(spark.sql("SELECT count(*) n FROM lake.calltd")
      .collect()(0).getLong(0) === 47L)
    spark.sql("CALL lake.fold('calltd', 'id')")
    assert(spark.sql("SELECT count(*) n FROM lake.calltd")
      .collect()(0).getLong(0) === 47L,
      "the fold must not change what readers see")
    // string-keyed victims work too
    val sroot = s"$wh/calltds"
    (0L until 10L).map(i => (s"k$i", i)).toDF("name", "v")
      .write.format("graft").save(sroot)
    spark.sql("CALL lake.set_mor_key('calltds', 'name')")
    spark.sql("CALL lake.takedown('calltds', 'name', 'k2,k9')")
    assert(spark.sql("SELECT count(*) n FROM lake.calltds")
      .collect()(0).getLong(0) === 8L)
    // compact_stats: distributive fold to one row, totals unchanged
    val stroot = s"$wh/callstats"
    for (b <- 0 until 3) {
      Seq((10L * (b + 1), 100L * (b + 1))).toDF("nd", "tl")
        .write.parquet(s"$stroot/data/s$b")
      Manifest.commit(spark, stroot, s"$stroot/data/s$b")
    }
    val cs = spark.sql("CALL lake.compact_stats('callstats')")
      .collect()(0)
    assert(cs.getLong(1) === 3L && cs.getLong(2) === 1L)
    assert(spark.sql(
      "SELECT sum(nd) a, sum(tl) b FROM lake.callstats")
      .collect()(0).toSeq === Seq(60L, 600L))
    // non-numeric stats refuse (SUM is the only fold SQL can promise)
    val badroot = s"$wh/callstatsbad"
    Seq((1L, "x")).toDF("nd", "tag").write.format("graft").save(badroot)
    val e = intercept[Exception](
      spark.sql("CALL lake.compact_stats('callstatsbad')").collect())
    def distrib(t: Throwable): Boolean = t != null &&
      (Option(t.getMessage).exists(_.contains("not distributive")) ||
        distrib(t.getCause))
    assert(distrib(e), s"non-numeric stats must refuse, got $e")
  }

  test("RENAME TABLE carries the whole version history, tags, commit " +
      "instants, and sidecar pruning under the new name; a renamed " +
      "clone re-registers on its source") {
    import spark.implicits._
    wh
    val oldRoot = s"$wh/rensrc"
    for ((lo, hi, tag) <- Seq((0L, 50L, "b1"), (50L, 100L, "b2"))) {
      (lo until hi).map(i => (i, i)).toDF("id", "v")
        .write.parquet(s"$oldRoot/data/$tag")
      graft.io.SkipStats.write(spark, s"$oldRoot/data/$tag", Seq("id"))
      Manifest.commit(spark, oldRoot, s"$oldRoot/data/$tag")
    }
    Manifest.tag(spark, oldRoot, "first", 1)
    val instants = spark.sql("CALL lake.history('rensrc')")
      .collect().map(_.getLong(1))
    spark.sql("ALTER TABLE lake.rensrc RENAME TO lake.rendst")
    assert(!new java.io.File(oldRoot).exists())
    assert(spark.sql("SELECT count(*) n FROM lake.rendst")
      .collect()(0).getLong(0) === 100L)
    assert(spark.sql("SELECT count(*) n FROM lake.rendst VERSION AS OF 1")
      .collect()(0).getLong(0) === 50L, "time travel must survive")
    assert(spark.sql(
      "SELECT count(*) n FROM lake.rendst VERSION AS OF 'first'")
      .collect()(0).getLong(0) === 50L, "tags must survive")
    assert(spark.sql("CALL lake.history('rendst')")
      .collect().map(_.getLong(1)).toSeq === instants.toSeq,
      "commit instants (manifest mtimes) must survive the rewrite")
    val pruned = spark.sql("SELECT id FROM lake.rendst WHERE id < 25")
    pruned.collect()
    assert(pruned.queryExecution.executedPlan.toString
      .contains("skippedDirs=1"), "sidecar pruning must survive")
    // renaming under a registered clone refuses; renaming the CLONE
    // re-registers it on the source chain
    Manifest.shallowClone(spark, s"$wh/rendst", s"$wh/renclone")
    intercept[Exception](spark.sql(
      "ALTER TABLE lake.rendst RENAME TO lake.rendst2"))
    spark.sql("ALTER TABLE lake.renclone RENAME TO lake.renclone2")
    assert(Manifest.registeredClones(spark, s"$wh/rendst") ===
      Seq(s"$wh/renclone2"),
      "the renamed clone must re-register under its new root")
    assert(spark.sql("SELECT count(*) n FROM lake.renclone2")
      .collect()(0).getLong(0) === 100L,
      "the clone's source-owned directories must keep reading")
    spark.sql("DROP TABLE lake.renclone2")
    spark.sql("DROP TABLE lake.rendst")
  }

  test("CALL sidecar retrofits skip-stats and blooms onto committed " +
      "dirs without one; SHOW TBLPROPERTIES surfaces the persisted " +
      "defaults and recorded key") {
    import spark.implicits._
    wh
    val root = s"$wh/retrofit"
    for ((lo, hi, tag) <- Seq((0L, 80L, "b1"), (80L, 160L, "b2"))) {
      (lo until hi).map(i => (i, i)).toDF("id", "v")
        .write.parquet(s"$root/data/$tag")
      Manifest.commit(spark, root, s"$root/data/$tag")
    }
    val before = spark.sql(
      "SELECT id FROM lake.retrofit WHERE id < 40")
    before.collect()
    assert(before.queryExecution.executedPlan.toString
      .contains("skippedDirs=0"), "no sidecars yet — nothing prunes")
    val rows = spark.sql("CALL lake.sidecar('retrofit', 'id', 'id')")
      .collect()
    assert(rows.length === 2 && rows.forall(r =>
      r.getBoolean(1) && r.getBoolean(2)))
    val after = spark.sql("SELECT id FROM lake.retrofit WHERE id < 40")
    after.collect()
    assert(after.queryExecution.executedPlan.toString
      .contains("skippedDirs=1"),
      "the retrofit sidecars must prune the next plan")
    // idempotent: covered dirs are not rewritten
    assert(spark.sql("CALL lake.sidecar('retrofit', 'id', '')")
      .collect().forall(r => !r.getBoolean(1) && !r.getBoolean(2)))
    // properties surface
    spark.sql("ALTER TABLE lake.retrofit " +
      "SET TBLPROPERTIES('statsCols'='id')")
    spark.sql("CALL lake.set_mor_key('retrofit', 'id')")
    val props = spark.sql("SHOW TBLPROPERTIES lake.retrofit")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    // Spark strips reserved props (provider/location) from SHOW output
    assert(props.get("statscols").contains("id") &&
      props.get("morkey").contains("id") &&
      props.contains("version"), s"got $props")
  }

  test("the RUNTIME filter consults blooms: a dim join probing point " +
      "keys skips directories whose ranges straddle everything") {
    import spark.implicits._
    wh
    val root = s"$wh/dppbloom"
    spark.conf.set("spark.graft.bloomSidecar.fpp", "0.0001")
    try {
      // residue-class layout: every dir's [min,max] straddles every
      // probe — only the blooms can decide
      for (b <- 0 until 4) {
        val d = s"$root/data/b$b"
        (0L until 400L).filter(_ % 4 == b).map(i => (i, i % 13))
          .toDF("k", "v").write.parquet(d)
        graft.io.Landing.sidecars(spark, d, (Nil, Seq("k")))
        Manifest.commit(spark, root, d)
      }
    } finally spark.conf.unset("spark.graft.bloomSidecar.fpp")
    ((0L until 400L by 7).map(k => (k, if (k == 98 || k == 266) 1 else 0)))
      .toDF("k", "sel").write.mode("overwrite")
      .parquet(s"$wh/dppbloom_dim_pq")
    spark.read.parquet(s"$wh/dppbloom_dim_pq")
      .createOrReplaceTempView("dppbloom_dim")
    // both probe keys are residue 2 — only b2 may be read
    val joined = spark.sql(
      """SELECT f.k, f.v FROM lake.dppbloom f
         JOIN dppbloom_dim d ON f.k = d.k WHERE d.sel = 1""")
    assert(joined.collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(98L, 266L))
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    def scans(p: SparkPlan): Seq[org.apache.spark.sql.execution
        .datasources.v2.BatchScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case b: org.apache.spark.sql.execution.datasources.v2
          .BatchScanExec => Seq(b)
      case other => other.children.flatMap(scans)
    }
    val factNode = scans(joined.queryExecution.executedPlan)
      .find(_.toString.contains("dppbloom"))
    assert(factNode.nonEmpty && factNode.get.runtimeFilters.nonEmpty,
      "the dim join must push a runtime filter")
    assert(factNode.get.metrics("numOutputRows").value === 100L,
      "the runtime bloom consult must keep only the b2 directory")
  }

  test("a streamed ingest into a DDL-created table inherits the " +
      "persisted sidecar discipline — every microbatch directory is " +
      "born prunable without the query repeating options") {
    import spark.implicits._
    wh
    spark.sql("""CREATE TABLE lake.streamddl (id BIGINT, v BIGINT)
      TBLPROPERTIES('statsCols'='id', 'bloomCols'='id')""")
    val root = s"$wh/streamddl"
    val src = s"$wh/streamddl_src"
    // two source files → two microbatches with disjoint key ranges
    (0L until 100L).map(i => (i, i)).toDF("id", "v")
      .coalesce(1).write.parquet(s"$src/a")
    (100L until 200L).map(i => (i, i)).toDF("id", "v")
      .coalesce(1).write.parquet(s"$src/b")
    val schema = spark.read.parquet(s"$src/a").schema
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(s"$src/*")
      .writeStream.format("graft")
      .option("path", root)
      .option("checkpointLocation", s"$wh/streamddl_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batchDirs = Manifest.committed(spark, root)
      .filter(_.contains("/batch-"))
    assert(batchDirs.size === 2, s"got $batchDirs")
    batchDirs.foreach { d =>
      assert(graft.io.SkipStats.read(f, d).exists(_.contains("id")),
        s"$d must carry the persisted statsCols sidecar")
      assert(graft.io.BloomSidecar.readKeys(f, d).exists(_.contains("id")),
        s"$d must carry the persisted bloomCols sidecar")
    }
    val pruned = spark.sql(
      "SELECT id FROM lake.streamddl WHERE id < 50")
    assert(pruned.count() === 50L)
    assert(pruned.queryExecution.executedPlan.toString
      .contains("skippedDirs=1"),
      "the streamed batches must prune like any committed directory")
  }

  test("an all-digit tag past Int range resolves via the tag branch") {
    wh
    val root = s"$wh/events"
    Manifest.tag(spark, root, "20240101123059", 1)
    assert(spark.sql(
      "SELECT count(*) n FROM lake.events VERSION AS OF '20240101123059'")
      .collect()(0).getLong(0) === 100L)
  }

  test("a row-level rewrite on a TOMBSTONED table still carries the " +
      "skip-stats sidecar (tombstone dirs don't count against coverage)") {
    import spark.implicits._
    val root = s"$wh/dmlmorstats"
    for ((lo, hi, tag) <- Seq((0L, 100L, "b1"), (100L, 200L, "b2"))) {
      (lo until hi).map(i => (i, i)).toDF("id", "v")
        .write.parquet(s"$root/data/$tag")
      graft.io.SkipStats.write(spark, s"$root/data/$tag", Seq("id"))
      Manifest.commit(spark, root, s"$root/data/$tag")
    }
    spark.sql("CALL lake.set_mor_key('dmlmorstats', 'id')")
    MergeOnRead.deleteWhere(spark, root, "id",
      col("id").between(190, 199), s"$root/data")
    // UPDATE on a tombstoned table is the non-surgical whole-snapshot
    // rewrite; its replaced set includes the tombstone dir, which has
    // no sidecar — coverage must be judged over DATA dirs only
    spark.sql("UPDATE lake.dmlmorstats SET v = v + 1000 WHERE id < 10")
    val committed = Manifest.committed(spark, root)
    assert(committed.size === 1, s"whole-snapshot rewrite, got $committed")
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stats = graft.io.SkipStats.read(f, committed.head)
    assert(stats.exists(_.contains("id")),
      s"the rewritten dir must keep the table prunable, got $stats")
    assert(spark.sql("SELECT count(*) n FROM lake.dmlmorstats")
      .collect()(0).getLong(0) === 190L)
    assert(spark.sql(
      "SELECT sum(v) s FROM lake.dmlmorstats WHERE id < 10")
      .collect()(0).getLong(0) === (0L until 10L).map(_ + 1000).sum)
  }

  test("PARTITIONED BY details: leaves read stand-alone at full " +
      "schema, no shadow column leaks, overwrite replaces, " +
      "non-identity transforms refuse") {
    import spark.implicits._
    val root = s"$wh/parted"
    spark.sql("CREATE TABLE lake.parted (id BIGINT, grp STRING) " +
      "PARTITIONED BY (grp)")
    spark.sql("INSERT INTO lake.parted " +
      "SELECT id, CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END " +
      "FROM range(0, 100)")
    val leaves = Manifest.committed(spark, root).filter(_.contains("="))
    assert(leaves.size === 2, s"one leaf per grp value, got $leaves")
    // a committed leaf is a stand-alone readable directory carrying
    // the REAL partition column (the shadow stays in the dir name)
    val leaf = spark.read.parquet(leaves.head)
    assert(leaf.schema.fieldNames.toSeq === Seq("id", "grp"),
      s"leaf must carry the full schema, got ${leaf.schema}")
    assert(leaf.select("grp").distinct().count() === 1)
    val head = spark.sql("SELECT * FROM lake.parted")
    assert(head.schema.fieldNames.toSeq === Seq("id", "grp"))
    assert(head.count() === 100L)
    // equality on the partition column prunes at planning
    val pruned = spark.sql(
      "SELECT id FROM lake.parted WHERE grp = 'a'")
    pruned.collect()
    assert(pruned.queryExecution.executedPlan.toString
      .contains("skippedDirs="),
      s"partition probe must go through directory pruning")
    assert(pruned.count() === 50L)
    // INSERT OVERWRITE replaces the snapshot (time travel keeps v1)
    spark.sql("INSERT OVERWRITE lake.parted " +
      "SELECT id, 'c' FROM range(0, 10)")
    assert(spark.sql("SELECT count(*) n FROM lake.parted")
      .collect()(0).getLong(0) === 10L)
    assert(spark.sql(
      "SELECT count(*) n FROM lake.parted VERSION AS OF 2")
      .collect()(0).getLong(0) === 100L)
    // a non-identity transform refuses loudly
    val e = intercept[Exception](spark.sql(
      "CREATE TABLE lake.partedbad (id BIGINT, ts TIMESTAMP) " +
        "PARTITIONED BY (days(ts))"))
    def m(t: Throwable): Boolean = t != null &&
      (Option(t.getMessage).exists(_.contains("identity")) ||
        m(t.getCause))
    assert(m(e), s"days() transform must refuse, got $e")
  }

  test("a bloomCols-enabled partitioned INSERT runs a job count " +
      "INDEPENDENT of partition cardinality (one stats job + one " +
      "bloom job, never per-leaf) and the commit seeds every leaf's " +
      "annotations — zero per-leaf probes") {
    def insertJobs(parts: Int): Int = {
      val name = s"partbloom$parts"
      val root = s"$wh/$name"
      spark.sql(s"CREATE TABLE lake.$name (k BIGINT, p BIGINT) " +
        "PARTITIONED BY (p) TBLPROPERTIES(" +
        "'statsCols'='k', 'bloomCols'='k')")
      spark.sql(s"SELECT id AS k, id % $parts AS p FROM range(0, 2000)")
        .createOrReplaceTempView(s"src_$name")
      val jobs = SparkJobs.during(spark) {
        spark.sql(s"INSERT INTO lake.$name SELECT * FROM src_$name")
      }
      // the CREATE committed a schema-bearing empty dir; the INSERT's
      // partition leaves are the `=`-named ones
      val leaves = Manifest.committed(spark, root).filter(_.contains("="))
      assert(leaves.size === parts, s"one leaf per value, got $leaves")
      // every leaf's stats, bloom coverage, AND schema were seeded into
      // the committed manifest — the plan (and the next commit's carry)
      // does zero per-leaf IO
      val ann = Manifest.annotationsOf(spark, root)
      leaves.foreach { d =>
        assert(ann.stats.get(d).exists(_.isDefined),
          s"stats annotation must be seeded for $d")
        assert(ann.bloomCols.get(d).exists(_.exists(_.contains("k"))),
          s"bloom coverage must be seeded for $d")
        assert(ann.schemas.get(d).exists(_.isDefined),
          s"schema annotation must be seeded for $d")
        // and the sidecar files themselves landed (parallel installs)
        val f = new org.apache.hadoop.fs.Path(d).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        assert(SkipStats.read(f, d).exists(_.contains("k")))
        assert(graft.io.BloomSidecar.readKeys(f, d)
          .exists(_.contains("k")))
      }
      jobs
    }
    val j4 = insertJobs(4)
    val j16 = insertJobs(16)
    assert(j4 === j16,
      s"insert job count must not scale with partition values " +
        s"($j4 at 4 vs $j16 at 16 — a per-leaf job sneaked back in)")
    assert(j16 <= 8, s"bounded job count expected, got $j16")
  }

  test("scoped compact edges: live tombstones refuse (fold first), " +
      "partial scope args refuse, racing appends survive the partial " +
      "replace") {
    import spark.implicits._
    val root = s"$wh/scompact"
    for (b <- 1 to 3) {
      (b * 100L until b * 100L + 50L).map(i => (i, i)).toDF("id", "v")
        .repartition(3).write.parquet(s"$root/data/b$b")
      Manifest.commitWithStats(spark, root, s"$root/data/b$b", Seq("id"))
    }
    def refuses(sql: String, needle: String): Unit = {
      val e = intercept[Exception](spark.sql(sql).collect())
      def m(t: Throwable): Boolean = t != null &&
        (Option(t.getMessage).exists(_.contains(needle)) || m(t.getCause))
      assert(m(e), s"expected '$needle', got $e")
    }
    refuses("CALL lake.compact('scompact', where_col => 'id', " +
      "lo => '100')", "lo AND hi")
    spark.sql("CALL lake.set_mor_key('scompact', 'id')")
    spark.sql("DELETE FROM lake.scompact WHERE id = 210")
    refuses("CALL lake.compact('scompact', where_col => 'id', " +
      "lo => '100', hi => '250')", "fold before compacting")
    spark.sql("CALL lake.fold('scompact', 'id')")
    // race: an append lands between the compact's plan and its commit —
    // the PARTIAL replace must keep it (seam-injected, deterministic)
    (900L until 910L).map(i => (i, i)).toDF("id", "v")
      .write.parquet(s"$root/data/racer")
    var planted = false
    Manifest.betweenReadAndCreate = () => {
      if (!planted) { planted = true
        Manifest.commit(spark, root, s"$root/data/racer") }
    }
    try spark.sql("CALL lake.compact('scompact', where_col => 'id', " +
      "lo => '100', hi => '250')").collect()
    finally Manifest.betweenReadAndCreate = () => ()
    val entries = Manifest.committed(spark, root)
    assert(entries.contains(s"$root/data/racer"),
      s"the racing append must survive the partial replace, $entries")
    assert(spark.sql("SELECT count(*) n FROM lake.scompact")
      .collect()(0).getLong(0) === 159L,
      "149 surviving originals + 10 raced rows")
  }

  test("3-D zorder cluster: every single-column probe prunes " +
      "directories; zvalueN(2) matches zvalue8's layout; arity and " +
      "type edges refuse") {
    import spark.implicits._
    // layout identity: the N-D interleave at N=2 IS the magic-number
    // 2-D spread, so stored 2-D layouts and prefixesFor stay valid
    val pairs = Seq((0L, 0L), (255L, 255L), (1L, 2L), (170L, 85L),
      (200L, 13L)).toDF("x", "y")
    val zs = pairs.select(
      graft.io.ZOrder.zvalue8(col("x"), col("y")).as("a"),
      graft.io.ZOrder.zvalueN(Seq(col("x"), col("y"))).as("b"))
      .collect()
    zs.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    val root = s"$wh/z3d"
    // three independent dimensions mod primes (the io65 trick, 3-way)
    spark.sql("SELECT id, (id * 7919) % 1021 AS x, " +
      "(id * 104729) % 1021 AS y, (id * 31337) % 1021 AS z " +
      "FROM range(0, 40000)")
      .write.format("graft").save(root)
    spark.sql("CALL lake.cluster('z3d', 'x,y,z', 64, zorder => true)")
      .collect()
    assert(Manifest.committed(spark, root).size === 64)
    def skipped(sql: String): Int = {
      val q = spark.sql(sql)
      q.collect()
      "skippedDirs=(\\d+)".r
        .findFirstMatchIn(q.queryExecution.executedPlan.toString)
        .map(_.group(1).toInt).getOrElse(-1)
    }
    // 64 buckets over 6-bit z prefixes = 2 bits/dim = a 4x4x4 cell
    // grid; a <256 probe keeps one slab of 16 cells per dimension
    // floors carry a straddle margin: repartitionByRange samples its
    // boundaries, so boundary directories can union adjacent z-cells
    for (c <- Seq("x", "y", "z")) {
      val sk = skipped(s"SELECT * FROM lake.z3d WHERE $c < 256")
      assert(sk >= 24,
        s"the $c-only probe must prune on the 3-D layout, skipped $sk")
    }
    val skBox = skipped(
      "SELECT * FROM lake.z3d WHERE x < 256 AND y < 256 AND z < 256")
    assert(skBox >= 48, s"the 3-D box probe must prune hard, $skBox")
    // census identity through the re-layout
    assert(spark.sql("SELECT sum(x * 3 + y * 5 + z * 7) s " +
      "FROM lake.z3d").collect()(0).getLong(0) ===
      spark.sql("SELECT sum(x * 3 + y * 5 + z * 7) s " +
        "FROM lake.z3d VERSION AS OF 1").collect()(0).getLong(0))
    // edges: arity and type refuse loudly
    def refuses(sql: String, needle: String): Unit = {
      val e = intercept[Exception](spark.sql(sql).collect())
      def m(t: Throwable): Boolean = t != null &&
        (Option(t.getMessage).exists(_.contains(needle)) || m(t.getCause))
      assert(m(e), s"expected '$needle', got $e")
    }
    refuses("CALL lake.cluster('z3d', 'x', 4, zorder => true)",
      "2..8 sort_cols")
    // strings/dates/timestamps are SUPPORTED dimensions since io67
    // (range-id bucketization) — the type edge now refuses only on a
    // type with neither a numeric axis nor an ordering the range
    // partitioner serves (boolean here)
    val root2 = s"$wh/z3dbool"
    Seq((1L, true)).toDF("id", "b").write.format("graft").save(root2)
    refuses("CALL lake.cluster('z3dbool', 'id,b', 4, zorder => true)",
      "must be integral")
  }

  test("DROP COLUMN refusal edges: merge key, property-pinned " +
      "columns, live tombstones, unknown and last-visible columns") {
    import spark.implicits._
    val root = s"$wh/dropedges"
    (0L until 50L).map(i => (i, i, i * 2)).toDF("id", "v", "w")
      .write.parquet(s"$root/data/b1")
    Manifest.commit(spark, root, s"$root/data/b1")
    spark.sql("CALL lake.set_mor_key('dropedges', 'id')")
    def refuses(sql: String, needle: String): Unit = {
      val e = intercept[Exception](spark.sql(sql))
      def m(t: Throwable): Boolean = t != null &&
        (Option(t.getMessage).exists(_.contains(needle)) || m(t.getCause))
      assert(m(e), s"expected '$needle', got $e")
    }
    refuses("ALTER TABLE lake.dropedges DROP COLUMN id",
      "recorded merge key")
    spark.sql("ALTER TABLE lake.dropedges " +
      "SET TBLPROPERTIES('statsCols'='v')")
    refuses("ALTER TABLE lake.dropedges DROP COLUMN v",
      "pinned by table propert")
    // an unknown column is refused by Spark's own resolver first
    refuses("ALTER TABLE lake.dropedges DROP COLUMN nope",
      "cannot be resolved")
    MergeOnRead.deleteWhere(spark, root, "id",
      col("id") < 5, s"$root/data")
    refuses("ALTER TABLE lake.dropedges DROP COLUMN w",
      "tombstones are live")
    MergeOnRead.fold(spark, root, "id", s"$root/data")
    // the drop itself works once unpinned and folded
    spark.sql("ALTER TABLE lake.dropedges DROP COLUMN w")
    assert(spark.sql("SELECT * FROM lake.dropedges").schema
      .fieldNames.toSeq === Seq("id", "v"))
  }

  test("CALL rollback refuses while the head carries tombstones newer " +
      "than the target version — un-deleting must be explicit") {
    import spark.implicits._
    val root = s"$wh/rbtomb"
    (0L until 100L).map(i => (i, i)).toDF("id", "v")
      .write.parquet(s"$root/data/b1")
    Manifest.commit(spark, root, s"$root/data/b1")
    spark.sql("CALL lake.set_mor_key('rbtomb', 'id')")
    spark.sql("DELETE FROM lake.rbtomb WHERE id < 10")
    val e = intercept[Exception](
      spark.sql("CALL lake.rollback('rbtomb', 1)").collect())
    def m(t: Throwable): Boolean = t != null &&
      (Option(t.getMessage).exists(_.contains("un-delete")) ||
        m(t.getCause))
    assert(m(e), s"rollback over live tombstones must refuse, got $e")
    // after the fold the rollback works and restores the deleted rows
    spark.sql("CALL lake.fold('rbtomb', 'id')")
    spark.sql("CALL lake.rollback('rbtomb', 1)").collect()
    assert(spark.sql("SELECT count(*) n FROM lake.rbtomb")
      .collect()(0).getLong(0) === 100L)
    // RESTORE TIMESTAMP AS OF: a wall-clock instant resolves to the
    // latest version committed at or before it (manifest mtime), so a
    // far-future timestamp restores the current head state
    val now = System.currentTimeMillis() + 60000
    val r = spark.sql("CALL lake.rollback('rbtomb', " +
      s"timestamp_ms => ${now}L)").collect()
    assert(r.length === 1 &&
      spark.sql("SELECT count(*) n FROM lake.rbtomb")
        .collect()(0).getLong(0) === 100L)
    // exactly one of the two selectors
    val e2 = intercept[Exception](spark.sql(
      s"CALL lake.rollback('rbtomb', 1, ${now}L)").collect())
    def m2(t: Throwable): Boolean = t != null &&
      (Option(t.getMessage).exists(_.contains("exactly one")) ||
        m2(t.getCause))
    assert(m2(e2), s"both selectors must refuse, got $e2")
    val e3 = intercept[Exception](
      spark.sql("CALL lake.rollback('rbtomb')").collect())
    assert(m2(e3), s"neither selector must refuse, got $e3")
  }

  test("row-level DML and TRUNCATE work on a PARTITIONED table — the " +
      "V1-write capability only redirects batch INSERTs") {
    import spark.implicits._
    val root = s"$wh/parteddml"
    spark.sql("CREATE TABLE lake.parteddml (id BIGINT, grp STRING) " +
      "PARTITIONED BY (grp)")
    spark.sql("INSERT INTO lake.parteddml " +
      "SELECT id, CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END " +
      "FROM range(0, 100)")
    // CoW DELETE: the rewrite replaces matched leaves (flat output —
    // partition layout degrades on rewritten dirs, stats carry)
    spark.sql("DELETE FROM lake.parteddml WHERE id < 10")
    assert(spark.sql("SELECT count(*) n FROM lake.parteddml")
      .collect()(0).getLong(0) === 90L)
    spark.sql("UPDATE lake.parteddml SET grp = 'c' WHERE id = 50")
    assert(spark.sql(
      "SELECT grp FROM lake.parteddml WHERE id = 50")
      .collect()(0).getString(0) === "c")
    // a later INSERT still lands partition leaves
    spark.sql("INSERT INTO lake.parteddml SELECT id, 'd' " +
      "FROM range(1000, 1010)")
    assert(Manifest.committed(spark, root)
      .exists(_.contains("__gp_grp=d")),
      "post-DML INSERTs must keep the partition layout")
    spark.sql("TRUNCATE TABLE lake.parteddml")
    assert(spark.sql("SELECT count(*) n FROM lake.parteddml")
      .collect()(0).getLong(0) === 0L)
  }

  test("MoR UPDATE edges: a no-match update commits nothing; DELETE " +
      "after an update hides the updated row; a legacy tombstone " +
      "routes UPDATE back to copy-on-write") {
    import spark.implicits._
    val root = s"$wh/morupd"
    (0L until 100L).map(i => (i, i)).toDF("id", "v")
      .write.parquet(s"$root/data/b1")
    Manifest.commit(spark, root, s"$root/data/b1")
    spark.sql("CALL lake.set_mor_key('morupd', 'id')")
    // no-match: no version burned
    spark.sql("UPDATE lake.morupd SET v = 0 WHERE id = 99999")
    assert(Manifest.versions(spark, root) === Seq(1))
    // MoR update: one appending version, original dir untouched
    spark.sql("UPDATE lake.morupd SET v = v + 1000 WHERE id < 10")
    assert(Manifest.versions(spark, root) === Seq(1, 2))
    assert(Manifest.committed(spark, root).contains(s"$root/data/b1"))
    assert(spark.sql("SELECT sum(v) s FROM lake.morupd WHERE id < 10")
      .collect()(0).getLong(0) === (0L until 10L).map(_ + 1000).sum)
    assert(spark.sql("SELECT count(*) n FROM lake.morupd")
      .collect()(0).getLong(0) === 100L)
    // DELETE after the update: the (legacy, global) tombstone hides
    // the UPDATED row too — delete-after-update deletes the row
    spark.sql("DELETE FROM lake.morupd WHERE id = 3")
    assert(spark.sql("SELECT count(*) n FROM lake.morupd")
      .collect()(0).getLong(0) === 99L)
    assert(spark.sql(
      "SELECT count(*) n FROM lake.morupd WHERE id = 3")
      .collect()(0).getLong(0) === 0L)
    // with a LEGACY tombstone live, UPDATE routes back to the
    // copy-on-write rewrite (which folds it) — never a scoped commit
    // whose rows the legacy tombstone would hide
    spark.sql("UPDATE lake.morupd SET v = v + 1 WHERE id = 5")
    val entries = Manifest.committed(spark, root)
    assert(!entries.exists(MergeOnRead.isTombstone),
      s"the CoW rewrite must fold the tombstones, got $entries")
    assert(spark.sql("SELECT sum(v) s FROM lake.morupd WHERE id = 5")
      .collect()(0).getLong(0) === 5L + 1000L + 1L)
    assert(spark.sql("SELECT count(*) n FROM lake.morupd")
      .collect()(0).getLong(0) === 99L)
  }

  test("CALL sweep after CALL cluster keeps the clustered head — " +
      "entries referenced by path prefix survive the orphan sweep") {
    import spark.implicits._
    val root = s"$wh/clsweep"
    for ((lo, hi, tag) <- Seq((0L, 100L, "b1"), (100L, 200L, "b2"))) {
      (lo until hi).map(i => (i, i)).toDF("id", "v")
        .write.parquet(s"$root/data/$tag")
      Manifest.commit(spark, root, s"$root/data/$tag")
    }
    spark.sql("CALL lake.cluster('clsweep', 'id', 4)").collect()
    // the committed entries are gbucket=K SUBDIRS of data/cluster-v3 —
    // the parent is referenced by no manifest, only by prefix; a sweep
    // deleting it would destroy the table's entire committed head
    val swept = spark.sql("CALL lake.sweep('clsweep', 0)").collect()
    assert(swept.isEmpty,
      s"nothing is an orphan here, yet sweep deleted ${swept.mkString(", ")}")
    assert(spark.sql("SELECT count(*) n, sum(v) s FROM lake.clsweep")
      .collect()(0).toSeq === Seq(200L, (0L until 200L).sum),
      "the clustered head must survive the sweep")
    assert(spark.sql(
      "SELECT count(*) n FROM lake.clsweep VERSION AS OF 2")
      .collect()(0).getLong(0) === 200L,
      "time travel to the pre-cluster version must survive too")
  }

  test("CALL cluster on a drift-evolved table carries the late column " +
      "(mergeSchema union, never one footer's pick)") {
    import spark.implicits._
    val root = s"$wh/cldrift"
    (0L until 100L).map(i => (i, i)).toDF("id", "v")
      .write.parquet(s"$root/data/b1")
    Manifest.commit(spark, root, s"$root/data/b1")
    (100L until 200L).map(i => (i, i, i * 2)).toDF("id", "v", "w")
      .write.parquet(s"$root/data/b2")
    Manifest.commit(spark, root, s"$root/data/b2")
    spark.sql("CALL lake.cluster('cldrift', 'id', 2)").collect()
    val head = spark.sql("SELECT * FROM lake.cldrift")
    assert(head.schema.fieldNames.toSet === Set("id", "v", "w"),
      s"the rewrite must carry the UNION schema, got ${head.schema}")
    assert(head.count() === 200L)
    assert(spark.sql("SELECT sum(w) s FROM lake.cldrift")
      .collect()(0).getLong(0) === (100L until 200L).map(_ * 2).sum,
      "late-column values must survive the layout rewrite")
    assert(head.filter(col("w").isNull).count() === 100L,
      "pre-evolution rows still read the late column as null")
  }

  test("MERGE over a table carrying LIVE epoch tombstones merges " +
      "correctly — the group rewrite reads the merged snapshot and " +
      "its whole-snapshot replace FOLDS the tombstones (never a " +
      "silent wrong-rows merge)") {
    import spark.implicits._
    val root = s"$wh/mergemor"
    spark.sql("CREATE TABLE lake.mergemor (k BIGINT, v BIGINT)")
    (0L until 20L).map(i => (i, i * 10)).toDF("k", "v")
      .createOrReplaceTempView("mergemor_seed")
    spark.sql("INSERT INTO lake.mergemor SELECT * FROM mergemor_seed")
    spark.sql("CALL lake.set_mor_key('mergemor', 'k')")
    // MoR UPDATE → live epoch tombstone + morins pair
    spark.sql("UPDATE lake.mergemor SET v = v + 100 WHERE k < 5")
    assert(Manifest.entries(spark, root)
      .exists(graft.io.MergeOnRead.isTombstone),
      "the MoR update must leave a live tombstone")
    Seq((3L, 7L), (4L, 7L), (25L, 7L)).toDF("k", "d")
      .createOrReplaceTempView("mergemor_src")
    spark.sql("""MERGE INTO lake.mergemor t USING mergemor_src s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = t.v + s.d
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.d)""")
    assert(!Manifest.entries(spark, root)
      .exists(graft.io.MergeOnRead.isTombstone),
      "the MERGE's whole-snapshot replace must fold the tombstones")
    val got = spark.sql("SELECT k, v FROM lake.mergemor")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // k<5 updated +100 by the MoR update; 3 and 4 then +7 by the
    // MERGE; 25 inserted — the merge must have read the MERGED
    // snapshot, not the raw directories
    assert(got(3L) === 137L && got(4L) === 147L,
      s"MERGE must compose with the un-folded MoR update, got $got")
    assert(got(0L) === 100L && got(5L) === 50L && got(25L) === 7L)
    assert(got.size === 21)
  }
}

package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit, sum, when}

/** Write-time constraint enforcement for [[Manifest]] tables — the
  * Delta-invariants / SQL `CHECK` discipline: a batch that violates any
  * declared constraint is rejected WHOLE before it becomes visible, so
  * downstream readers never see a partially-bad commit and the bad batch
  * is debuggable at its source instead of three jobs later.
  *
  * Semantics are SQL CHECK: a row VIOLATES a constraint iff the
  * predicate evaluates to FALSE — UNKNOWN (NULL) passes, exactly like
  * `CHECK` in ANSI SQL and Delta invariants (`NOT NULL` is just the
  * predicate `col IS NOT NULL`, which is never UNKNOWN).
  *
  * Scale shape: the incoming DataFrame is written to the staging
  * directory FIRST (one pass over the source — it may be an expensive
  * upstream computation), then validated by re-reading the staged
  * parquet, where column pruning means the check scans ONLY the
  * constraint columns, and a violation deletes the staged directory and
  * raises before any manifest write. All declared constraints are
  * evaluated in ONE aggregate pass (a per-constraint conditional sum),
  * so the validation cost doesn't grow a scan per constraint; the
  * single collect is one row wide.
  */
object Constraints {

  /** One violated constraint: its name and how many rows failed it. */
  final case class Violation(name: String, rows: Long)

  final class ConstraintViolationException(val violations: Seq[Violation])
    extends IllegalArgumentException(
      "batch rejected: " + violations
        .map(v => s"${v.name} (${v.rows} rows)").mkString(", "))

  /** Count violating rows per constraint in one aggregate pass.
    * Empty input (or an empty constraint list) violates nothing.
    */
  def check(df: DataFrame, constraints: Seq[(String, Column)])
      : Seq[Violation] = {
    if (constraints.isEmpty) return Seq.empty
    val aggs = constraints.map { case (name, pred) =>
      sum(when(coalesce(pred, lit(true)) === false, 1L).otherwise(0L))
        .as(name)
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    constraints.zipWithIndex.collect {
      case ((name, _), i) if !row.isNullAt(i) && row.getLong(i) > 0 =>
        Violation(name, row.getLong(i))
    }
  }

  /** Stage `df` at `batchDir`, validate the staged parquet against the
    * constraints, and only then commit it into the table (through
    * [[Landing.prepare]], with `statsCols` as its explicit stats
    * columns). On violation the staged directory is deleted and a
    * [[ConstraintViolationException]] raises — the table's manifest is
    * untouched, so the failed ingest is invisible to every reader.
    * Returns the committed version.
    */
  def commitChecked(s: SparkSession, root: String, df: DataFrame,
      batchDir: String, constraints: Seq[(String, Column)],
      statsCols: Seq[String] = Nil,
      committer: Committer = FsCreateCommitter): Int = {
    val plan = Landing.plan(s, root, statsCols)
    val seen = Landing.observing(plan, df)(
      _.write.mode("overwrite").parquet(batchDir))
    enforceStaged(s, batchDir, constraints)
    Landing.prepare(s, plan, batchDir, Some(seen))
    // commitIfAbsent: a retried ingest whose predecessor crashed after
    // this directory's commit must not append it twice (the staged
    // overwrite above already absorbed a crash BEFORE the commit)
    Manifest.commitIfAbsent(s, root, batchDir, committer)
  }

  /** Row-level routing alternative to [[commitChecked]]'s batch-level
    * abort — the dead-letter pattern: clean rows commit into the table,
    * violating rows commit into a QUARANTINE table tagged with the
    * first (declaration-order) constraint they fail, so a mostly-good
    * batch isn't held hostage by a handful of corrupt rows and the
    * corrupt rows stay queryable for triage instead of vanishing into
    * a log line. Same CHECK semantics: a row routes to quarantine iff
    * some predicate is FALSE (UNKNOWN passes).
    *
    * Like [[commitChecked]], the (possibly expensive) source runs ONCE:
    * the tagged batch stages first, the clean/quarantine split re-reads
    * the staged parquet. An all-clean batch leaves the quarantine table
    * untouched — no empty directories, no burned versions. Returns
    * (table version, quarantine version if any rows routed).
    */
  def commitQuarantined(s: SparkSession, root: String,
      quarantineRoot: String, df: DataFrame, batchDir: String,
      quarantineDir: String, constraints: Seq[(String, Column)],
      committer: Committer = FsCreateCommitter): (Int, Option[Int]) = {
    require(constraints.nonEmpty, "no constraints to route on")
    // reserved tag column — silently overwriting a user column of the
    // same name would lose its data in BOTH tables (same guard as
    // RangeJoin's reserved column)
    require(!df.columns.contains("violation"),
      "input already has a 'violation' column — rename it before " +
        "commitQuarantined (reserved for the quarantine route tag)")
    val tag = constraints.reverse.foldLeft(lit(null).cast("string")) {
      case (acc, (name, pred)) =>
        when(coalesce(pred, lit(true)) === false, lit(name))
          .otherwise(acc)
    }
    val stagingDir = s"$batchDir.tagged"
    df.withColumn("violation", tag)
      .write.mode("overwrite").parquet(stagingDir)
    val staged = SchemaMemo.read(s, Seq(stagingDir))
    val (plan, qPlan) = (Landing.plan(s, root),
      Landing.plan(s, quarantineRoot))
    val seen = Landing.observing(plan,
      staged.filter(col("violation").isNull).drop("violation"))(
      _.write.mode("overwrite").parquet(batchDir))
    val nBad = staged.filter(col("violation").isNotNull).count()
    val qSeen = if (nBad == 0) None else Some(Landing.observing(qPlan,
      staged.filter(col("violation").isNotNull))(
      _.write.mode("overwrite").parquet(quarantineDir)))
    // both directories land before either commits, so a table's own
    // declared constraints refuse the ingest with neither table changed
    Landing.prepare(s, plan, batchDir, Some(seen))
    qSeen.foreach(q => Landing.prepare(s, qPlan, quarantineDir, Some(q)))
    // both commits idempotent per directory: an at-least-once retry of
    // the whole ingest re-overwrites the same dirs and re-commits as
    // no-ops — no duplicated rows in either table
    val qv = if (nBad > 0) Some(Manifest.commitIfAbsent(s,
      quarantineRoot, quarantineDir, committer)) else None
    val v = Manifest.commitIfAbsent(s, root, batchDir, committer)
    val sp = new org.apache.hadoop.fs.Path(stagingDir)
    sp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(sp, true)
    (v, qv)
  }

  // ── DECLARED constraints — persisted on the table, enforced on
  // every write path (Delta's `ALTER TABLE ADD CONSTRAINT`): declared
  // ONCE via `CALL lake.constrain(t, name, expr)` or `ALTER TABLE t
  // SET TBLPROPERTIES('constraint.<name>' = '<expr>')`, stored in the
  // `_table_props` sidecar as `constraint.<name> = <SQL expression>`,
  // and checked by [[Landing]], the step every new data directory
  // passes before its commit — the writer never has to opt in, which
  // is the entire point of a constraint. ──

  val PropPrefix = "constraint."

  /** The constraints declared in a table's properties, as (name,
    * predicate) in declaration (name) order. Expressions are parsed
    * fresh per operation — they are tiny, and staleness bugs from
    * caching across ALTERs would be silent.
    */
  def declared(props: Map[String, String]): Seq[(String, Column)] =
    props.toSeq.collect {
      case (k, v) if k.startsWith(PropPrefix) =>
        k.stripPrefix(PropPrefix) -> org.apache.spark.sql.functions
          .expr(v)
    }.sortBy(_._1)

  /** Validate an already-staged directory against `cs`: re-reads the
    * staged parquet (column pruning means the pass scans only the
    * constraint columns), and on violation DELETES the staged directory
    * and raises — the manifest is never touched, so a bad batch is
    * invisible to every reader. `colMap` renames physical→logical first
    * on column-mapped tables (the declared expressions speak logical
    * names).
    */
  def enforceStaged(s: SparkSession, dir: String,
      cs: Seq[(String, Column)],
      colMap: Map[String, String] = Map.empty): Unit = {
    if (cs.isEmpty) return
    val staged = colMap.foldLeft(SchemaMemo.read(s, Seq(dir))) {
      case (df, (p, l)) => df.withColumnRenamed(p, l)
    }
    val violations = check(staged, cs)
    if (violations.nonEmpty) {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      throw new ConstraintViolationException(violations)
    }
  }

  /** Declare a constraint: validates the EXISTING table (merged view
    * when a merge key is recorded — what readers see is what must
    * hold) in one aggregate pass, then persists the property. Refuses
    * an already-declared name (redefinition under writers is never
    * silent — drop first) and an expression that does not parse or
    * resolve against the table's columns.
    */
  def declare(s: SparkSession, root: String, name: String,
      expression: String): Unit = {
    require(name.nonEmpty && name.matches("[A-Za-z0-9_]+"),
      s"constraint name '$name' must be alphanumeric/underscore")
    val key = PropPrefix + name.toLowerCase
    val props = graft.io.dsv2.GraftTableProps.read(s, root)
    require(!props.contains(key),
      s"constraint '$name' already declared on $root as " +
        s"'${props(key)}' — CALL drop_constraint first (redefining " +
        "under writers is never silent)")
    val pred = org.apache.spark.sql.functions.expr(expression)
    val current = graft.io.dsv2.GraftMorKey.get(s, root) match {
      case Some(k) if Manifest.entries(s, root)
          .exists(MergeOnRead.isTombstone) =>
        MergeOnRead.snapshot(s, root, k)
      case _ => Manifest.snapshot(s, root)
    }
    // resolves the expression too: an unknown column fails here,
    // loudly, instead of on the next unsuspecting writer
    val bad = check(current, Seq(name -> pred))
    if (bad.nonEmpty) throw new ConstraintViolationException(bad)
    graft.io.dsv2.GraftTableProps.write(s, root, props + (key ->
      expression))
  }

  /** Drop a declared constraint; false when it never existed. */
  def drop(s: SparkSession, root: String, name: String): Boolean = {
    val key = PropPrefix + name.toLowerCase
    val props = graft.io.dsv2.GraftTableProps.read(s, root)
    if (!props.contains(key)) return false
    graft.io.dsv2.GraftTableProps.write(s, root, props - key)
    true
  }
}

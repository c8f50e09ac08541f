package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, Row,
  SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.io.dsv2.GraftTableProps

/** The one step every new DATA directory of a [[Manifest]] table takes
  * before its commit, whichever path wrote it (SQL writes and DML, the
  * V1 bridge, CTAS, the stream sink, copy-on-write rewrites, compaction,
  * clustering, the Scala ingest helpers). [[prepare]] gives it
  *  - a schema-only file when it holds no parquet file;
  *  - skip-stats over explicit ∪ the `statscols` property ∪ the stats
  *    columns of every directory it replaces, and blooms by the same
  *    rule with `bloomcols` — in physical names, cut to the columns it
  *    has at a type the sidecar supports;
  *  - the table's declared CHECK constraints (a violation deletes it
  *    and raises, so nothing commits).
  * The statistics behind the sidecars come from the write that made
  * the directory: a V1 write runs through [[observing]], a DSv2 write
  * through [[graft.io.dsv2.ObservingWrites]], and [[prepare]] installs
  * what they saw without a Spark job (each bloom column still takes one
  * job to build its filter). Only a directory the engine did not write
  * itself is re-read ([[sidecars]]).
  * "Replaced" = the data directories whose rows it rewrites (DML, fold,
  * compaction, clustering). Tombstones are key lists, not data, and
  * never land here; the commit kind stays with the caller.
  */
private[graft] object Landing {

  /** What one operation lands under: the table's properties, read once
    * per operation, the physical sidecar columns chosen so far, and a
    * column-mapped table's physical→logical map.
    */
  final case class Plan(props: Map[String, String],
      colMap: Map[String, String], stats: Set[String],
      bloom: Set[String]) {

    lazy val constraints: Seq[(String, Column)] =
      Constraints.declared(props)

    /** This plan plus the sidecar columns the `replaced` directories
      * carry (one small read per directory; tombstones carry none).
      */
    def carrying(s: SparkSession, replaced: Seq[String]): Plan = {
      val data = replaced.filterNot(MergeOnRead.isTombstone)
      if (data.isEmpty) this
      else {
        val f = new Path(data.head)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        copy(
          stats = stats ++ data.flatMap(d => SkipStats.read(f, d))
            .flatMap(_.keySet),
          bloom = bloom ++ data.flatMap(d => BloomSidecar.readKeys(f, d))
            .flatten)
      }
    }

    /** The (stats, bloom) columns a directory of `schema` (physical
      * names) gets: the plan's columns it has at a supported type.
      */
    def columns(schema: StructType): (Seq[String], Seq[String]) = {
      val types = schema.fields.map(f => f.name -> f.dataType).toMap
      def pick(cs: Set[String], ok: DataType => Boolean) =
        cs.toSeq.filter(c => types.get(c).exists(ok)).sorted
      (pick(stats, SkipStats.supportedType), pick(bloom, BloomSidecar.tag(_)
        .nonEmpty))
    }

    /** The columns a write of `schema` observes: every sidecar column,
      * since a bloom's size and emptiness come from its counts.
      */
    def observed(schema: StructType): Seq[String] = {
      val (stats, bloom) = columns(schema)
      (stats ++ bloom).distinct.sorted
    }
  }

  /** A comma-separated column list (an option or property value). */
  def csv(v: Option[String]): Seq[String] =
    v.toSeq.flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))

  /** Read the table's properties once and start a plan from the
    * explicit columns (logical names: a write option or a procedure
    * argument). `colMap` is the table's physical→logical rename map.
    */
  def plan(s: SparkSession, root: String, stats: Seq[String] = Nil,
      bloom: Seq[String] = Nil,
      colMap: Map[String, String] = Map.empty): Plan =
    planFrom(GraftTableProps.read(s, root), stats, bloom, colMap)

  /** [[plan]] from properties the operation already read. */
  def planFrom(props: Map[String, String], stats: Seq[String],
      bloom: Seq[String], colMap: Map[String, String]): Plan = {
    val l2p = colMap.map(_.swap)
    def phys(cs: Seq[String]) = cs.map(c => l2p.getOrElse(c, c)).toSet
    Plan(props, colMap, phys(stats ++ csv(props.get("statscols"))),
      phys(bloom ++ csv(props.get("bloomcols"))))
  }

  /** One zero-row parquet file carrying `schema` into `dir`. */
  def schemaFile(s: SparkSession, dir: String, schema: StructType): Unit =
    s.createDataFrame(s.sparkContext.emptyRDD[Row], schema)
      .coalesce(1).write.mode("append").parquet(dir)

  /** Run `write` on `df` with the statistics `plan` needs observed on
    * it, and return them for [[prepare]]: the aggregates ride the write's
    * own job.
    */
  def observing(plan: Plan, df: DataFrame)(write: DataFrame => Unit)
      : SkipStats.Observed = {
    val cols = plan.observed(df.schema)
    val aggs = SkipStats.aggregates(df.schema, cols)
    val o = Observation(s"graft-landing-${java.util.UUID.randomUUID()}")
    write(df.observe(o, aggs.head, aggs.tail: _*))
    SkipStats.observedFrom(df.schema, cols,
      Row.fromSeq(SkipStats.aggregateNames(cols.size).map(o.get)))
  }

  /** Make `dir` ready to commit under `plan` (see the object doc).
    * `seen` is what the write observed ([[observing]]); a directory the
    * engine did not write passes None and is re-read. `schema` is needed
    * only when the directory may hold no parquet file (a DSv2 write
    * whose tasks produced none); such a directory holds no rows, so no
    * constraint can fail on it.
    */
  def prepare(s: SparkSession, plan: Plan, dir: String,
      seen: Option[SkipStats.Observed],
      schema: Option[StructType] = None): Unit =
    SchemaMemo.schemaOf(s, dir) match {
      case Some(landed) =>
        enforce(s, plan, dir)
        land(s, dir, plan.columns(landed), seen)
      case None =>
        val empty = schema.getOrElse(throw new IllegalStateException(
          s"landed directory $dir holds no parquet file"))
        schemaFile(s, dir, empty)
        land(s, dir, plan.columns(empty), seen)
    }

  /** The declared-constraint step alone, for a staged tree whose
    * sidecars are built by the caller (the partitioned insert).
    */
  def enforce(s: SparkSession, plan: Plan, dir: String): Unit =
    Constraints.enforceStaged(s, dir, plan.constraints, plan.colMap)

  /** Compute and install sidecars over already-chosen physical
    * (stats, bloom) columns of a directory the engine did not write:
    * one job re-reads its aggregates, then one job per bloom column.
    */
  def sidecars(s: SparkSession, dir: String,
      cols: (Seq[String], Seq[String])): Unit = land(s, dir, cols, None)

  private def land(s: SparkSession, dir: String,
      cols: (Seq[String], Seq[String]),
      seen: Option[SkipStats.Observed]): Unit = {
    val (stats, bloom) = cols
    if (stats.nonEmpty || bloom.nonEmpty) {
      val got = seen.getOrElse(
        SkipStats.reread(s, dir, (stats ++ bloom).distinct))
      if (stats.nonEmpty) SkipStats.install(s, dir, got, stats)
      if (bloom.nonEmpty) BloomSidecar.write(s, dir, bloom, got.rows,
        bloom.map(c => c -> got.cols(c)._2).toMap)
    }
  }
}

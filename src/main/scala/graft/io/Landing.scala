package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, Row, SparkSession}
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

  /** Make `dir` ready to commit under `plan` (see the object doc).
    * `schema` is needed only when the directory may hold no parquet
    * file (a DSv2 write whose tasks produced none); such a directory
    * holds no rows, so its sidecars are rendered without a Spark job
    * and no constraint can fail on it.
    */
  def prepare(s: SparkSession, plan: Plan, dir: String,
      schema: Option[StructType] = None): Unit =
    SchemaMemo.schemaOf(s, dir) match {
      case Some(landed) =>
        enforce(s, plan, dir)
        sidecars(s, dir, plan.columns(landed))
      case None =>
        val empty = schema.getOrElse(throw new IllegalStateException(
          s"landed directory $dir holds no parquet file"))
        schemaFile(s, dir, empty)
        emptySidecars(s, dir, empty, plan.columns(empty))
    }

  /** The declared-constraint step alone, for a staged tree whose
    * sidecars are built by the caller (the partitioned insert).
    */
  def enforce(s: SparkSession, plan: Plan, dir: String): Unit =
    Constraints.enforceStaged(s, dir, plan.constraints, plan.colMap)

  /** Compute and install sidecars over already-chosen physical
    * (stats, bloom) columns: one stats job, one bloom job per column.
    */
  def sidecars(s: SparkSession, dir: String,
      cols: (Seq[String], Seq[String])): Unit = {
    if (cols._1.nonEmpty) SkipStats.write(s, dir, cols._1)
    if (cols._2.nonEmpty) BloomSidecar.write(s, dir, cols._2)
  }

  /** The sidecars [[sidecars]] would compute over zero rows — count 0,
    * no bounds, empty filters — installed without reading the data.
    */
  private def emptySidecars(s: SparkSession, dir: String,
      schema: StructType, cols: (Seq[String], Seq[String])): Unit = {
    val (stats, bloom) = cols
    if (stats.nonEmpty)
      SkipStats.install(s, dir, 0L, stats.map(c => c -> SkipStats.ColStats(
        SkipStats.typeTagOf(schema(c).dataType).get, None)),
        stats.map(_ -> 0L).toMap)
    if (bloom.nonEmpty) {
      val bytes = new java.io.ByteArrayOutputStream()
      org.apache.spark.util.sketch.BloomFilter
        .create(1024L, BloomSidecar.fpp(s)).writeTo(bytes)
      BloomSidecar.install(s, dir, bloom.map(c =>
        (c, BloomSidecar.tag(schema(c).dataType).get, bytes.toByteArray)))
    }
  }
}

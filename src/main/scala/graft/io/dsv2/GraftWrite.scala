package graft.io.dsv2

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.connector.distributions.{Distribution,
  Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder}
import org.apache.spark.sql.connector.write.{BatchWrite, LogicalWriteInfo,
  PhysicalWriteInfo, RequiresDistributionAndOrdering, SupportsTruncate,
  Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetWrite
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType,
  StructType, UserDefinedType}

import graft.io.{GraftPar, Landing, Manifest, SkipStats}

/** WRITE paths for `format("graft")`.
  *
  * EXISTING tables write through DataSourceV2 ([[GraftTable]] implements
  * `SupportsWrite`; see [[GraftWriteBuilder]]): `df.write.mode("append")`
  * plans as `AppendData`, `mode("overwrite")` as truncate-and-write —
  * both landing in ONE manifest commit, with optional
  * distribution/ordering hints. NEW tables (no committed version yet)
  * resolve to [[GraftMissingTable]], which lacks `SupportsWrite`, so
  * `DataFrameWriter.save` falls back to the V1
  * [[CreatableRelationProvider]] below — which runs the identical
  * commit protocol and also serves `errorifexists`/`ignore` modes.
  * Every mode maps to a manifest-protocol commit, so a plain `df.write`
  * producer gets the same snapshot isolation, atomicity, and
  * time-travelability as the Scala API — and the battle-tested
  * vectorized parquet writer does the data IO in both paths.
  *
  *  - `append`    → write a fresh data directory, then ONE appending
  *                  [[Manifest.commit]]; readers never see a partial
  *                  batch (an uncommitted directory is an orphan).
  *  - `overwrite` → fresh directory + ONE replacing [[Manifest.rewrite]]
  *                  — old versions still time-travel (this is Delta's
  *                  `overwrite`, not an rm -rf).
  *  - `errorifexists` (default) → commit version 0 of a NEW table;
  *                  refuses an existing one.
  *  - `ignore`    → no-op when the table exists.
  *
  * Options `statsCols`/`bloomCols` add sidecar columns to the table's
  * own ([[Landing.prepare]]), so skip-pruning works from the first
  * version — the t25 ingest discipline, available to SQL users. The
  * data directory is named `data/w{version-attempt}-{uuid}`:
  * unique per write, so concurrent appenders race only on the manifest
  * commit (which is the protocol's job to arbitrate), never on files.
  */
trait GraftWriteSupport extends CreatableRelationProvider {

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val s = sqlContext.sparkSession
    val root = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft write requires a path (the manifest table root)"))
    val exists = scala.util.Try(Manifest.versions(s, root))
      .toOption.exists(_.nonEmpty)
    def csvParam(k: String): Seq[String] =
      Landing.csv(parameters.get(k.toLowerCase).orElse(parameters.get(k)))
    def writeAndCommit(replacing: Boolean): Unit = {
      val dir = s"$root/data/w-" + java.util.UUID.randomUUID().toString
      val plan = Landing.plan(s, root, csvParam("statsCols"),
        csvParam("bloomCols"))
      val seen = Landing.observing(plan, data)(_.write.parquet(dir))
      Landing.prepare(s, plan, dir, Some(seen))
      if (replacing) Manifest.rewrite(s, root, Seq(dir))
      else Manifest.commit(s, root, dir)
    }
    mode match {
      case SaveMode.Append => writeAndCommit(replacing = false)
      case SaveMode.Overwrite => writeAndCommit(replacing = exists)
      case SaveMode.ErrorIfExists =>
        if (exists) throw new IllegalArgumentException(
          s"manifest table already exists at $root (use append/overwrite)")
        writeAndCommit(replacing = false)
      case SaveMode.Ignore => if (!exists) writeAndCommit(replacing = false)
    }
    new BaseRelation {
      override def sqlContext: SQLContext = s.sqlContext
      override def schema: StructType = data.schema
    }
  }
}

/** DSv2 write builder for an EXISTING manifest table: the physical file
  * IO delegates to Spark's own [[ParquetWrite]] (vectorized writer, task
  * commit protocol) pointed at a FRESH `data/w-{uuid}` directory, and the
  * driver-side `BatchWrite.commit` — which Spark calls exactly once,
  * after every task committed — appends or replaces that directory as
  * ONE manifest commit. Readers never see a partial write (an
  * uncommitted directory is an orphan; `abort` leaves only orphans for
  * the sweep), concurrent appenders race only on the manifest commit.
  *
  * Write options:
  *  - `statsCols`/`bloomCols` — comma-separated sidecar columns added
  *    to the table's own BEFORE the commit ([[Landing.prepare]]), so
  *    the new files are prunable from the moment they are visible.
  *  - `sortBy` — comma-separated; advertised to Spark as the write's
  *    required distribution (range-partitioned) AND in-partition
  *    ordering via [[RequiresDistributionAndOrdering]], so rows land
  *    range-clustered — tight per-file min/max for the skip-stats the
  *    sidecar records (pair with `statsCols` on the same columns).
  *
  * `SaveMode.Overwrite` arrives as [[SupportsTruncate.truncate]] and
  * becomes a REPLACING commit ([[Manifest.rewrite]]) — old versions
  * still time-travel; it is never an rm -rf.
  */
class GraftWriteBuilder(s: SparkSession, root: String,
    info: LogicalWriteInfo, colMap: Map[String, String] = Map.empty)
  extends WriteBuilder with SupportsTruncate {

  private var replacing = false

  override def truncate(): WriteBuilder = { replacing = true; this }

  override def build(): Write = {
    val props = GraftTableProps.read(s, root)
    val pcols = Landing.csv(props.get("partitioncols"))
    if (pcols.isEmpty) new GraftV2Write(s, root, info, replacing,
      colMap = colMap)
    else {
      // partitioned table: one dynamic partitioned write job straight
      // from the DataFrame via the DSv2→V1 write bridge
      def opt(key: String) = Landing.csv(Option(info.options.get(key)))
      val landing = Landing.planFrom(props, opt("statsCols"),
        opt("bloomCols"), colMap)
      val wasReplacing = replacing
      val l2p = colMap.map(_.swap)
      def phys(c: String) = l2p.getOrElse(c, c)
      new org.apache.spark.sql.connector.write.V1Write {
        override def toInsertableRelation
            : org.apache.spark.sql.sources.InsertableRelation =
          (data: DataFrame, overwrite: Boolean) => {
            val physData = colMap.foldLeft(data) {
              case (df, (p, l)) => df.withColumnRenamed(l, p)
            }
            GraftPartitionedWrite.insert(s, root, physData,
              pcols.map(phys), landing,
              replacing = wasReplacing || overwrite)
          }
        override def description(): String =
          s"GraftPartitionedWrite root=$root " +
            s"partitionCols=${pcols.mkString("+")}"
      }
    }
  }
}

class GraftV2Write(s: SparkSession, root: String,
    logicalInfo: LogicalWriteInfo, replacing: Boolean,
    fromRowOp: Boolean = false,
    opState: Option[GraftRowOpState] = None,
    colMap: Map[String, String] = Map.empty) extends Write
  with RequiresDistributionAndOrdering {

  // ── column mapping (ALTER TABLE RENAME COLUMN): physical parquet
  // names are FROZEN at first write — a write to a mapped table lands
  // files under the ORIGINAL physical names (rows are positional, only
  // the schema handed to the parquet delegate changes), so one global
  // physical→logical mapping stays valid across every directory ──
  private val l2p: Map[String, String] = colMap.map(_.swap)
  private def physName(c: String): String = l2p.getOrElse(c, c)
  private val info: LogicalWriteInfo =
    if (colMap.isEmpty) logicalInfo
    else new LogicalWriteInfo {
      override def queryId: String = logicalInfo.queryId
      override def schema: StructType = StructType(
        logicalInfo.schema.map(f => f.copy(name = physName(f.name))))
      override def options: org.apache.spark.sql.util
          .CaseInsensitiveStringMap = logicalInfo.options
    }

  // the table's persisted properties (CREATE TABLE TBLPROPERTIES,
  // GraftTableProps), read once for the whole write: statsCols/sortBy
  // declared once at creation govern every later INSERT; a write
  // option adds sidecar columns and overrides sortBy
  private def opt(key: String) = Option(info.options.get(key))

  private val landing = Landing.plan(s, root,
    Landing.csv(opt("statsCols")), Landing.csv(opt("bloomCols")), colMap)
  private val sortBy =
    Landing.csv(opt("sortBy").orElse(landing.props.get("sortby")))

  private val dir =
    s"$root/data/w-" + java.util.UUID.randomUUID().toString

  // parquet's own type support, mirrored (scalars + nested, recursively;
  // interval/variant-style non-storable types refuse)
  private def parquetSupports(dt: DataType): Boolean = dt match {
    case st: StructType => st.fields.forall(f => parquetSupports(f.dataType))
    case ArrayType(et, _) => parquetSupports(et)
    case MapType(k, v, _) => parquetSupports(k) && parquetSupports(v)
    case udt: UserDefinedType[_] => parquetSupports(udt.sqlType)
    case _: org.apache.spark.sql.types.CalendarIntervalType => false
    case _: org.apache.spark.sql.types.NullType => false
    case _ => true
  }

  private val delegate =
    ParquetWrite(Seq(dir), "parquet", parquetSupports, info)

  override def requiredDistribution(): Distribution =
    if (sortBy.isEmpty) Distributions.unspecified()
    else Distributions.ordered(requiredOrdering())

  override def requiredOrdering(): Array[SortOrder] =
    sortBy.map(c => Expressions.sort(Expressions.column(c),
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
      .toArray

  override def description(): String =
    s"GraftWrite root=$root dir=$dir replacing=$replacing " +
      s"statsCols=${landing.stats.toSeq.sorted.mkString("+")} " +
      s"sortBy=${sortBy.mkString("+")}"

  override def toBatch: BatchWrite = new BatchWrite {
    private val db = delegate.toBatch

    // a DML rewrite carries the sidecar columns of the directories it
    // replaces (a takedown must not leave an unprunable hole); the
    // runtime group filter has narrowed them by the time the tasks
    // start, and the tasks observe the columns this plan lands
    private lazy val plan = landing.carrying(s,
      if (!fromRowOp) Nil
      else opState.flatMap(_.replacedDirs).getOrElse(
        scala.util.Try(Manifest.committed(s, root)).getOrElse(Nil)))
    private lazy val observed = plan.observed(info.schema())

    override def createBatchWriterFactory(pinfo: PhysicalWriteInfo) = {
      val inner = new ObservingWrites.Factory(
        db.createBatchWriterFactory(pinfo), info.schema(), observed)
      // a group-based row-level rewrite (SQL DELETE/UPDATE/MERGE) hands
      // the writer rows prefixed with the __row_operation marker when
      // the operation declares no metadata attributes (Spark applies
      // its row projection only alongside a metadata projection) —
      // strip it so the parquet writer sees exactly the data schema
      if (fromRowOp) new MarkerStrippingFactory(inner, info.schema())
      else inner
    }

    // the file commit protocol coordinates its own task commits
    override def useCommitCoordinator(): Boolean = db.useCommitCoordinator()

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      // finalize task files into the fresh dir
      db.commit(messages.map(ObservingWrites.inner))
      // a CoW DML whose runtime group filter matched NOTHING is a
      // no-op: the filtered scan returned zero rows by construction
      // (zero kept partitions), so committing would append an empty
      // directory and mutate the table version for a DELETE that
      // deleted nothing — match the MoR path, which commits nothing on
      // no match. A task may still have eagerly created a zero-row
      // parquet file; the uncommitted dir stays an orphan for the
      // sweep, like an abort.
      if (fromRowOp &&
          opState.flatMap(_.replacedDirs).exists(_.isEmpty)) return
      Landing.prepare(s, plan, dir, Some(ObservingWrites.observed(s,
        info.schema(), observed, messages.toSeq)), Some(info.schema()))
      opState.flatMap(_.replacedDirs) match {
        // runtime-group-filtered row op: replace exactly the matched
        // directories; everything else carries verbatim
        case Some(replaced) =>
          Manifest.replaceDirs(s, root, replaced.toSet, Seq(dir))
        case None =>
          if (replacing) Manifest.rewrite(s, root, Seq(dir))
          else Manifest.commit(s, root, dir)
      }
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      // the dir stays an orphan for the sweep
      db.abort(messages.map(ObservingWrites.inner))

    override def toString: String = description()
  }
}

/** PARTITIONED-table write path (`CREATE TABLE … PARTITIONED BY`):
  * every INSERT/overwrite lands ONE DIRECTORY PER PARTITION VALUE and
  * commits them all as one manifest version, each leaf carrying
  * constant-bound skip-stats on the partition columns — so an equality
  * filter prunes whole directories at PLANNING (the manifest-native
  * form of hive listing-level pruning: pruned directories are never
  * even listed, and the stats ride the manifest annotations at zero
  * planning IO).
  *
  * The write partitions on a SHADOW COPY of each partition column
  * (`__gp_<col>`): `partitionBy` consumes its column (hive layout
  * drops it from the files), but a committed manifest entry must be a
  * stand-alone readable directory — the copy keeps the real column in
  * every file while the shadow names the directories. Reading a leaf
  * directly never resurfaces the shadow (partition discovery looks
  * below the root path, not at it).
  *
  * Executed through the DSv2 V1-write fallback
  * ([[org.apache.spark.sql.connector.write.V1Write]]): the dynamic
  * partitioned write is one Spark job straight from the query's
  * DataFrame — no flat landing + re-split double IO on the ingest hot
  * path. Row-level DML rewrites stay flat (their sidecar carry keeps
  * the pruning); `CALL lake.cluster` re-layouts freely (partition
  * evolution).
  */
object GraftPartitionedWrite {

  /** The most filter bytes the grouped bloom build collects to the
    * driver before it falls back to per-leaf jobs.
    */
  val BloomMaxCollectBytes: Long = 512L * 1024 * 1024

  private def shadow(c: String) = "__gp_" + c

  /** The partition-value leaf directories under a staged partitioned
    * write (depth = partition column count; `=` in the name marks the
    * hive-style level).
    */
  private[dsv2] def leafDataDirs(f: org.apache.hadoop.fs.FileSystem,
      p: Path): Seq[String] = {
    val st = f.listStatus(p).toSeq
    val subs = st.filter(x => x.isDirectory &&
      x.getPath.getName.contains("="))
    if (subs.isEmpty) {
      if (st.exists(x => x.isFile &&
          x.getPath.getName.endsWith(".parquet")))
        Seq(p.toUri.getPath)
      else Seq.empty
    } else subs.flatMap(x => leafDataDirs(f, x.getPath))
  }

  /** Land `data` partition-split and commit every leaf as ONE version
    * (append, or replacing for overwrite). Column names arrive
    * PHYSICAL (the caller translates a mapped table's logical names).
    * `plan` chooses the sidecar columns and runs the declared
    * constraints; the sidecars themselves come from the grouped
    * one-job builds below, with the partition columns always stats.
    */
  def insert(s: SparkSession, root: String, data: DataFrame,
      partitionCols: Seq[String], plan: Landing.Plan,
      replacing: Boolean): Unit = {
    val stage = s"$root/data/w-" + java.util.UUID.randomUUID().toString
    val withShadow = partitionCols.foldLeft(data)((df, c) =>
      df.withColumn(shadow(c), org.apache.spark.sql.functions.col(c)))
    withShadow.write.partitionBy(partitionCols.map(shadow): _*)
      .parquet(stage)
    val f = new Path(stage)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val leaves = leafDataDirs(f, new Path(stage)).sorted
    if (leaves.isEmpty) {
      // a zero-row append commits nothing (the DML no-op contract); a
      // zero-row overwrite still must empty the table at full schema
      if (replacing) Manifest.rewrite(s, root,
        Seq(GraftDdl.writeEmptyDir(s, root, data.schema)))
      return
    }
    // declared CHECK constraints: one column-pruned pass over the
    // staged tree BEFORE any sidecar work — a violating batch deletes
    // the stage and raises with the manifest untouched
    Landing.enforce(s, plan, stage)
    val (statsCols, bloomCols) = plan.columns(data.schema)
    val sc = (statsCols ++ partitionCols).distinct
    val (statBodies, counts) = installLeafStats(s, leaves, sc)
    val bloomed: Map[String, Seq[String]] =
      if (bloomCols.isEmpty) Map.empty
      else installLeafBlooms(s, leaves, bloomCols,
        counts.values.foldLeft(1024L)(math.max))
    // SEED the commit's annotations from what this writer already
    // holds: each covered leaf's stats body, its bloom coverage, and
    // the insert's shared schema (ONE footer probe, every leaf carries
    // the same columns by construction) — so the commit itself does
    // zero per-leaf probes. A leaf that fell back keeps the probe path.
    val schemaJson = Manifest.inferDirSchema(s, leaves.head).map(_.json)
    val seed: Map[(String, String), String] = leaves.flatMap { d =>
      statBodies.get(d).map(b => Manifest.seedStats(d, b)).toSeq ++
        // seed coverage from the columns whose filter actually landed
        // in the leaf's sidecar, never the requested set (an all-null
        // column within a leaf produces no grouped-agg filter)
        bloomed.get(d).filter(_.nonEmpty)
          .map(cs => Manifest.seedBloom(d, cs)).toSeq ++
        schemaJson.map(j => Manifest.seedSchema(d, j)).toSeq
    }.toMap
    if (replacing) Manifest.rewrite(s, root, leaves, seedAnn = seed)
    else Manifest.commitAll(s, root, leaves, seedAnn = seed)
  }

  /** Every leaf's skip-stats from ONE grouped aggregation (grouping on
    * each row's source directory) — a per-leaf [[SkipStats.write]]
    * would be one driver-sequential Spark job per partition value,
    * which at high partition cardinality is the planning-metadata
    * bottleneck all over again on the WRITE side. It groups
    * [[SkipStats.aggregates]], so the bytes are `SkipStats.write`'s; a
    * leaf the path normalization failed to match falls back to the
    * per-directory job — never an unprunable hole.
    */
  private def installLeafStats(s: SparkSession, leaves: Seq[String],
      cols: Seq[String]): (Map[String, String], Map[String, Long]) = {
    val rendered = SkipStats.rereadEach(s, leaves, cols).toSeq.map {
      case (d, seen) => (d, SkipStats.render(seen, cols), seen.rows)
    }
    // parallel file installs: the sidecars were all computed by the ONE
    // grouped job above; landing them is latency-bound small IO (one
    // create round trip each — minutes at 1024 partition values on an
    // object store if sequential)
    GraftPar.all(rendered.toSeq.map { case (d, body, _) =>
      () => SkipStats.installRendered(s, d, body)
    })
    leaves.filterNot(rendered.map(_._1).toSet)
      .foreach(d => Landing.sidecars(s, d, (cols, Nil)))
    (rendered.map(t => t._1 -> t._2).toMap,
      rendered.map(t => t._1 -> t._3).toMap)
  }

  /** Every leaf's BLOOM sidecar from ONE grouped aggregation
    * ([[graft.expressions.SidecarBloomAgg]] keyed on the same `__gdir`
    * expression as the stats job) — the per-leaf `df.stat.bloomFilter`
    * loop was one driver-sequential Spark job per partition value, the
    * exact pattern [[installLeafStats]] kills for min/max. The shared
    * filter capacity is the LARGEST leaf's row count (group buffers
    * must be bit-compatible; small leaves just get a lower fpp), so
    * driver memory for the collected filters is bounded up front —
    * when the estimate exceeds [[BloomMaxCollectBytes]] (512 MB) the
    * whole build falls back to the per-leaf jobs,
    * as does any leaf the path normalization failed to match. Returns
    * each leaf's INSTALLED coverage — the columns whose filter
    * actually landed in its sidecar — so the commit seeds annotations
    * that never advertise coverage the sidecar lacks.
    */
  private def installLeafBlooms(s: SparkSession, leaves: Seq[String],
      cols: Seq[String], expectedItems: Long)
      : Map[String, Seq[String]] = {
    import org.apache.spark.sql.functions._
    import graft.io.BloomSidecar
    val fpp = BloomSidecar.fpp(s)
    // optimal bit count computed ARITHMETICALLY (the same
    // m = -n·ln(p)/ln(2)² every bloom implementation optimizes to) —
    // materializing a filter just to measure it would allocate the
    // full bit array (gigabytes at 10⁹ rows) inside the very guard
    // meant to cap driver memory
    val bitsPer = math.ceil(-expectedItems.toDouble * math.log(fpp) /
      (math.log(2) * math.log(2))).toLong
    if (bitsPer / 8 * leaves.size.toLong * cols.size >
        BloomMaxCollectBytes) {
      leaves.foreach(d => Landing.sidecars(s, d, (Nil, cols)))
      return leaves.map(_ -> cols).toMap
    }
    val df0 = graft.io.SchemaMemo.read(s, leaves)
    val typed = cols.map { c =>
      c -> BloomSidecar.tag(df0.schema(c).dataType).getOrElse(
        throw new IllegalArgumentException(
          s"no bloom-sidecar support for column $c of type " +
            df0.schema(c).dataType))
    }
    graft.expressions.LongArrayOps.register(s) // idempotent
    val df = df0.withColumn("__gdir",
      expr("regexp_extract(input_file_name(), '^(.*)/[^/]+$', 1)"))
    val aggs = typed.map { case (c, _) =>
      call_function("graft_sidecar_bloom_agg", col(c),
        lit(expectedItems), lit(fpp)).as(s"__bf_$c")
    }
    val rows = df.groupBy(col("__gdir")).agg(aggs.head, aggs.tail: _*)
      .collect()
    val leafSet = leaves.toSet
    val covered = rows.flatMap { r =>
      val d = new Path(r.getString(0)).toUri.getPath
      if (!leafSet.contains(d)) None
      else {
        val filters = typed.zipWithIndex.flatMap { case ((c, t), i) =>
          Option(r.get(1 + i))
            .map(b => (c, t, b.asInstanceOf[Array[Byte]]))
        }
        Some((d, filters))
      }
    }
    GraftPar.all(covered.toSeq.map { case (d, filters) =>
      () => BloomSidecar.install(s, d, filters)
    })
    // coverage per leaf = the columns whose filter actually LANDED:
    // the grouped agg emits no filter for a column all-null within a
    // leaf, and an annotation claiming the full requested set would
    // advertise coverage the sidecar lacks (consults fail open, so
    // correctness held, but the all-null leaf lost its point-probe
    // prune); fallback leaves go through the per-leaf build, which
    // installs every requested column (empty filters included)
    val done: Map[String, Seq[String]] =
      covered.map(t => t._1 -> t._2.map(_._1).toSeq).toMap
    val fallback = leaves.filterNot(done.contains)
    fallback.foreach(d => Landing.sidecars(s, d, (Nil, cols)))
    done ++ fallback.map(_ -> cols)
  }
}

/** Strips the leading `__row_operation` marker a group-based row-level
  * rewrite carries into the writer (see [[GraftV2Write]]): rows arriving
  * with one extra leading field are projected down to the data schema;
  * rows already at the data arity pass through untouched.
  */
class MarkerStrippingFactory(
    inner: org.apache.spark.sql.connector.write.DataWriterFactory,
    dataSchema: StructType)
  extends org.apache.spark.sql.connector.write.DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[
        org.apache.spark.sql.catalyst.InternalRow] = {
    val d = inner.createWriter(partitionId, taskId)
    new org.apache.spark.sql.connector.write.DataWriter[
        org.apache.spark.sql.catalyst.InternalRow] {
      private val proj = org.apache.spark.sql.catalyst.ProjectingInternalRow(
        dataSchema, (1 to dataSchema.length).toIndexedSeq)
      override def write(
          row: org.apache.spark.sql.catalyst.InternalRow): Unit =
        if (row.numFields == dataSchema.length) d.write(row)
        else { proj.project(row); d.write(proj) }
      override def commit(): WriterCommitMessage = d.commit()
      override def abort(): Unit = d.abort()
      override def close(): Unit = d.close()
    }
  }
}

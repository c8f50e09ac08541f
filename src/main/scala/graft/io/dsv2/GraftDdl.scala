package graft.io.dsv2

import java.nio.charset.StandardCharsets
import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{StagedTable, SupportsWrite,
  Table, TableCapability}
import org.apache.spark.sql.connector.write.{BatchWrite, LogicalWriteInfo,
  PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.StructType

import graft.io.{Landing, Manifest, SkipStats}

/** SQL DDL support for [[GraftCatalog]] — table creation, CTAS staging,
  * and the persisted table-properties sidecar.
  *
  * Reference UX bar: Delta/Iceberg SQL table lifecycle (`CREATE TABLE`,
  * `CREATE TABLE AS SELECT`, `CREATE OR REPLACE`, `DROP TABLE`) over a
  * storage-is-the-truth manifest table — no metastore to drift.
  */
object GraftDdl {

  /** Recognized `TBLPROPERTIES` keys. `statsCols`/`sortBy` persist to
    * the props sidecar and become DEFAULTS for every future write
    * ([[GraftV2Write]] consults them), so the create-time pruning
    * discipline survives INSERTs that don't repeat the option;
    * `morKey` records the merge key exactly like
    * `CALL lake.set_mor_key`; `partitionCols` is recorded by
    * `CREATE TABLE … PARTITIONED BY` and makes every later
    * INSERT/overwrite land per-partition-value directories
    * ([[GraftPartitionedWrite]]).
    */
  val knownProps: Set[String] =
    Set("statscols", "sortby", "morkey", "bloomcols", "partitioncols")

  /** Spark adds bookkeeping entries (`provider`, `owner`, `location`,
    * `comment`, ...) to the properties map; anything else unknown
    * refuses loudly rather than silently dropping a user intent.
    */
  private val sparkManaged: Set[String] =
    Set("provider", "owner", "location", "comment", "external")

  def vetProperties(properties: util.Map[String, String])
      : Map[String, String] = {
    val props = properties.asScala.toMap
    val unknown = props.keys
      .filterNot(k => knownProps.contains(k.toLowerCase) ||
        sparkManaged.contains(k.toLowerCase) ||
        k.toLowerCase.startsWith("option.") ||
        k.toLowerCase.startsWith(graft.io.Constraints.PropPrefix))
    require(unknown.isEmpty,
      s"unknown table properties ${unknown.toSeq.sorted.mkString(", ")} " +
        s"(supported: ${knownProps.toSeq.sorted.mkString(", ")}, " +
        "constraint.<name>)")
    props.filter { case (k, _) => knownProps.contains(k.toLowerCase) ||
        k.toLowerCase.startsWith(graft.io.Constraints.PropPrefix) }
      .map { case (k, v) => k.toLowerCase -> v }
  }

  /** `PARTITIONED BY` vetting: IDENTITY transforms on top-level
    * columns of sidecar-supported types become the recorded
    * `partitionCols` — every later INSERT/CTAS lands one committed
    * directory PER PARTITION VALUE, each carrying constant-bound
    * skip-stats, so an equality filter prunes whole directories at
    * planning (the manifest-native equivalent of hive listing-level
    * pruning). Bucket/temporal transforms are refused — that layout is
    * `CALL lake.cluster`'s job (clustered range buckets express them
    * better on this engine), and silently approximating a transform
    * would mislead every reader of the partition spec.
    */
  def vetPartitioning(schema: StructType,
      partitions: Array[org.apache.spark.sql.connector.expressions
        .Transform]): Seq[String] =
    partitions.toSeq.map {
      case id if id.name == "identity" && id.references.length == 1 &&
          id.references()(0).fieldNames.length == 1 =>
        val c = id.references()(0).fieldNames()(0)
        val field = schema.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"PARTITIONED BY ($c): no such column"))
        require(SkipStats.supportedType(field.dataType),
          s"PARTITIONED BY ($c): type ${field.dataType.simpleString} " +
            "cannot carry the per-directory stats partition pruning " +
            "rides on (integral, string, date)")
        c
      case other =>
        throw new IllegalArgumentException(
          s"PARTITIONED BY transform '$other' is not supported — " +
            "identity column partitioning only; bucket/temporal " +
            "layouts are TBLPROPERTIES('sortBy'=…) + CALL lake.cluster")
    }

  /** Apply create-time properties: morKey via the recorded-key file,
    * statsCols/sortBy via the props sidecar (read back as write-time
    * defaults). Called once per create, BEFORE the first commit.
    */
  def applyProperties(s: SparkSession, root: String,
      props: Map[String, String]): Unit = {
    props.get("morkey").foreach { k =>
      GraftMorKey.get(s, root) match {
        case Some(existing) => require(existing == k,
          s"mor key already recorded as '$existing' on $root — " +
            "changing the merge key under readers is never silent")
        case None => GraftMorKey.set(s, root, k)
      }
    }
    val persisted = props.view.filterKeys(_ != "morkey").toMap
    if (persisted.nonEmpty) GraftTableProps.write(s, root, persisted)
  }

  /** One empty schema-bearing parquet directory — what a plain
    * `CREATE TABLE` commits as version 1, so the new table reads as
    * zero rows at full schema and INSERTs append from version 2.
    */
  def writeEmptyDir(s: SparkSession, root: String,
      schema: StructType): String = {
    val dir = s"$root/data/w-" + java.util.UUID.randomUUID().toString
    Landing.schemaFile(s, dir, schema)
    dir
  }
}

/** Persisted table properties — `root/_table_props`, sorted `k=v`
  * lines. Written at CREATE, consulted by [[GraftV2Write]] so
  * `statsCols`/`sortBy` declared once at creation govern every later
  * INSERT/append without each writer re-passing options (Delta's
  * table-property semantics).
  */
object GraftTableProps {
  private def path(root: String) = new Path(root, "_table_props")

  def read(s: SparkSession, root: String): Map[String, String] = {
    val f = path(root).getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!f.exists(path(root))) Map.empty
    else {
      val in = f.open(path(root))
      val text =
        try new String(org.apache.commons.io.IOUtils.toByteArray(in),
          StandardCharsets.UTF_8)
        finally in.close()
      text.linesIterator.filter(_.contains('=')).map { l =>
        val i = l.indexOf('=')
        l.substring(0, i) -> l.substring(i + 1)
      }.toMap
    }
  }

  def write(s: SparkSession, root: String,
      props: Map[String, String]): Unit = {
    val f = path(root).getFileSystem(s.sparkContext.hadoopConfiguration)
    val body = props.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k=$v" }.mkString("", "\n", "\n")
    val out = f.create(path(root), true)
    try out.write(body.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }
}

/** Staged table for atomic CTAS / REPLACE TABLE AS SELECT: Spark writes
  * the query result through [[newWriteBuilder]] (fresh `data/w-{uuid}`
  * directory, stock parquet writer), and ONLY `commitStagedChanges`
  * makes it visible — one manifest commit, so a CTAS lands as VERSION 1
  * (not a create-then-append two-version ledger) and a failed query
  * leaves nothing but an orphan directory for the sweep. RTAS commits a
  * REPLACING version over the old table — old versions still
  * time-travel.
  */
class GraftStagedTable(s: SparkSession, root: String,
    tableSchema: StructType, props: Map[String, String],
    replaceExisting: Boolean) extends StagedTable with SupportsWrite {

  /** The directory the write committed, with what it observed. */
  @volatile private var written: Option[(String, SkipStats.Observed)] =
    None
  private val landing = Landing.planFrom(props, Nil, Nil, Map.empty)

  override def name(): String = s"graft.`$root`@<staged>"

  override def schema(): StructType = tableSchema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsTruncate {
      // RTAS arrives as overwrite-by-true; the replace semantics are
      // already the staged commit's (Manifest.rewrite), so truncate is
      // the same single-directory write
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write {
        private val dir =
          s"$root/data/w-" + java.util.UUID.randomUUID().toString

        private val delegate = org.apache.spark.sql.execution.datasources
          .v2.parquet.ParquetWrite(Seq(dir), "parquet", _ => true, info)

        override def toBatch: BatchWrite = new BatchWrite {
          private val db = delegate.toBatch
          private val observed = landing.observed(info.schema())
          override def createBatchWriterFactory(p: PhysicalWriteInfo) =
            new ObservingWrites.Factory(db.createBatchWriterFactory(p),
              info.schema(), observed)
          override def useCommitCoordinator(): Boolean =
            db.useCommitCoordinator()
          override def commit(messages: Array[WriterCommitMessage])
              : Unit = {
            // files final; manifest commit is staged
            db.commit(messages.map(ObservingWrites.inner))
            written = Some((dir, ObservingWrites.observed(s,
              info.schema(), observed, messages.toSeq)))
          }
          override def abort(messages: Array[WriterCommitMessage]): Unit =
            db.abort(messages.map(ObservingWrites.inner))
        }
      }
    }

  override def commitStagedChanges(): Unit = {
    GraftDdl.applyProperties(s, root, props)
    // an all-filtered CTAS wrote no directory; Landing gives the fresh
    // one a schema-bearing file and the sidecars of zero rows
    val (dir, seen) = written.getOrElse((
      s"$root/data/w-" + java.util.UUID.randomUUID().toString,
      ObservingWrites.observed(s, tableSchema,
        landing.observed(tableSchema), Nil)))
    val partitionCols = Landing.csv(props.get("partitioncols"))
    if (partitionCols.nonEmpty &&
        graft.io.SchemaMemo.schemaOf(s, dir).nonEmpty) {
      // partitioned CTAS: split the staged result per partition value
      // and commit the leaves as the table's first (or replacing)
      // version — one extra pass over the CTAS result, once; the flat
      // staging dir stays an orphan for the sweep
      GraftPartitionedWrite.insert(s, root,
        graft.io.SchemaMemo.read(s, Seq(dir)), partitionCols, landing,
        replacing = replaceExisting)
      return
    }
    // CREATE TABLE ... TBLPROPERTIES('constraint.x' = ...) AS SELECT:
    // the CTAS result is the constraint's first subject — a violating
    // result aborts with nothing committed (props alone don't make a
    // table; the next CTAS overwrites them)
    Landing.prepare(s, landing, dir, Some(seen), Some(tableSchema))
    if (replaceExisting) Manifest.rewrite(s, root, Seq(dir))
    else Manifest.commit(s, root, dir)
  }

  override def abortStagedChanges(): Unit = ()
  // the written directory, if any, stays an orphan for the sweep
}

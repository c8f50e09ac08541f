package graft.io.dsv2

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table,
  TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition,
  PartitionReader, PartitionReaderFactory, Scan, ScanBuilder,
  SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.sources.{And, DataSourceRegister, EqualTo,
  Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{DataType, LongType, StringType,
  StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.io.{Manifest, MergeOnRead, SkipStats}

/** DataSourceV2 READ path for manifest tables — what makes the lakehouse
  * ([[graft.io.Manifest]] versioned commits, [[graft.io.SkipStats]]
  * sidecars, [[graft.io.MergeOnRead]] tombstones) consumable from plain
  * `spark.read` / `spark.sql`, not only the Scala API:
  *
  * {{{
  *   spark.read.format("graft").load(root)                    // latest
  *   spark.read.format("graft").option("versionAsOf", 3)      // time travel
  *   spark.read.format("graft").option("timestampAsOf", ms)   // AS OF instant
  *   spark.read.format("graft").option("tag", "v1.0")         // named ref
  *   spark.read.format("graft").option("morKey", "doc_id")    // live tombstones
  *   spark.sql("SELECT ... FROM graft.`/path/to/root`")       // SQL-on-file
  * }}}
  *
  * The three table semantics ride the standard V2 planning hooks:
  *
  *  - **Version resolution at table load** — the snapshot is pinned when
  *    the table is resolved, so one query never mixes versions no matter
  *    what commits land mid-plan.
  *  - **Skip-stats pruning AT PLANNING** — pushed filters translate to
  *    [[SkipStats.ColRange]] conjunctions and prune whole committed
  *    directories BEFORE the parquet scan is planned: the pruned
  *    directories never enter the file index, so they are absent from
  *    `planInputPartitions`, not filtered after the fact ([[GraftScan]]
  *    records kept/skipped for the plan, `LayoutSpec` pins it). Filters
  *    are also forwarded to the parquet reader (row-group pruning) and
  *    ALL are reported residual — directory stats are conservative,
  *    Spark re-applies every predicate, so pruning can never change an
  *    answer.
  *  - **MoR tombstone merging** — a version with live tombstone entries
  *    reads as data-minus-tombstoned-keys: the key set (bounded by
  *    accumulated deletes — the MoR contract) is collected once at
  *    planning and each partition reader drops matching rows. Tables
  *    with live tombstones REQUIRE the `morKey` option (same fail-loud
  *    contract as [[SkipStats.scanRanges]]); the merge costs the
  *    vectorized read path only while tombstones are live — a fold
  *    restores it.
  *
  * The scan itself delegates to Spark's parquet DSv2 machinery over the
  * kept directories, so column pruning, row-group pushdown, and the
  * vectorized reader are exactly the stock parquet path.
  */
class GraftDataSource extends TableProvider with DataSourceRegister
  with GraftWriteSupport with GraftStreamSinkSupport {

  override def shortName(): String = "graft"

  override def supportsExternalMetadata(): Boolean = true

  private def root(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty,
      "graft source requires a path (the manifest table root)")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftTable.resolve(SparkSession.active, root(options), options).schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val t = GraftTable.resolve(SparkSession.active, root(options), options)
    // a caller-supplied schema (spark.read.schema / readStream.schema)
    // is validated against the resolved snapshot, never silently
    // replaced by it — honoring supportsExternalMetadata()'s promise
    // loudly instead of surfacing as a downstream analysis error
    if (schema != null && t.schema().nonEmpty &&
        !(schema.fieldNames.sameElements(t.schema().fieldNames) &&
          DataType.equalsStructurally(schema, t.schema(),
            ignoreNullability = true)))
      throw new IllegalArgumentException(
        s"user-specified schema does not match ${t.name()}: given " +
          s"${schema.simpleString}, table has ${t.schema().simpleString}")
    t
  }
}

object GraftTable {
  /** Test seam: observes every per-directory FOOTER probe resolve falls
    * back to when the manifest carries no schema annotation (the io59
    * gate pins zero on an annotated table). No-op in production.
    */
  private[graft] var onSchemaProbe: String => Unit = _ => ()

  /** Schema-JSON parse memo: a uniform 10⁴–10⁵-directory table
    * annotates every directory with the SAME schema json, and parsing
    * it per directory was the dominant resolve cost at 16384 dirs
    * (~300 ms of identical `DataType.fromJson` calls — PLANPROBE r16).
    * Keyed by the json text itself; distinct schemas per process are
    * few, and the guard clears a pathological accumulation. Sharing
    * one StructType instance across directories also makes the
    * uniform-schema check below reference-fast.
    */
  private val schemaJsonCache =
    scala.collection.concurrent.TrieMap.empty[String, Option[StructType]]

  private def parseSchemaJson(j: String): Option[StructType] = {
    if (schemaJsonCache.size > 1024) schemaJsonCache.clear()
    schemaJsonCache.getOrElseUpdate(j, scala.util.Try(
      DataType.fromJson(j).asInstanceOf[StructType]).toOption)
  }

  /** Resolve the pinned version + entry partition once per table load.
    * A root with NO committed version resolves to a schemaless stub
    * that refuses to scan — it must not throw here, because
    * `DataFrameWriter.save` resolves the table BEFORE deciding the
    * write path, and creating a new table via `df.write` is legal
    * (the stub lacks `SupportsWrite`, so Spark falls back to the V1
    * write — [[GraftWriteSupport]] — which runs the commit protocol).
    */
  def resolve(s: SparkSession, root: String,
      options: CaseInsensitiveStringMap): Table = {
    val version: Int =
      if (options.containsKey("versionAsOf"))
        options.get("versionAsOf").toInt
      else if (options.containsKey("timestampAsOf"))
        Manifest.versionAt(s, root, options.get("timestampAsOf").toLong)
          .getOrElse(throw new IllegalArgumentException(
            s"no version of $root existed at " +
              options.get("timestampAsOf")))
      else if (options.containsKey("tag")) {
        val t = Manifest.tags(s, root)
        val name = options.get("tag")
        require(t.contains(name),
          s"no tag '$name' on $root (have ${t.keys.toSeq.sorted})")
        t(name)
      } else {
        val vs = Manifest.versions(s, root)
        if (vs.isEmpty) return new GraftMissingTable(root)
        vs.last
      }
    // ONE manifest read yields the entries AND the per-directory
    // annotations (stats/bloom/schema) the whole plan runs on — the
    // O(1)-metadata planning contract (see Manifest.DirAnnotations)
    val (allEntries, ann) =
      Manifest.entriesWithAnnotations(s, root, Some(version))
    val (tombs, rest) = allEntries.partition(MergeOnRead.isTombstone)
    // column-mapping entries (ALTER TABLE RENAME COLUMN) are metadata
    // directories, never parquet data; ≤1 per version by construction
    val (mapDirs, data) = rest.partition(graft.io.ColumnMapping.isMapping)
    require(mapDirs.size <= 1,
      s"version $version of $root pins ${mapDirs.size} mapping dirs")
    val fullMap: Map[String, String] =
      if (mapDirs.isEmpty) Map.empty
      else graft.io.ColumnMapping.mapping(s, root, Some(version))
    // renames advertise a different LOGICAL name; dropped columns
    // (empty logical — ALTER TABLE DROP COLUMN) are projected out of
    // the advertised schema entirely, physical parquet untouched
    val colMap = graft.io.ColumnMapping.renames(fullMap)
    val droppedPhys = graft.io.ColumnMapping.dropped(fullMap)
    require(data.nonEmpty, s"version $version of $root has no data entries")
    // reader option wins; otherwise the table's own recorded merge key
    // (CALL set_mor_key / GraftMorKey.set — the Iceberg move of keeping
    // the equality-delete key in table metadata, so plain SQL reads of
    // a tombstoned table auto-merge instead of failing)
    val morKey = Option(options.get("morKey"))
      .orElse(GraftMorKey.get(s, root))
    // drift-aware schema resolution: each committed directory is ONE
    // write job, so a per-dir schema is enough to detect schema
    // drift (bounded by the dir count, not the file count). Since the
    // annotated-manifest format the schema comes from the commit-time
    // `#ann:schema` capture — zero per-directory IO; pre-format
    // manifests and un-annotatable dirs (hive sublayouts) fall back to
    // the footer probe. Uniform dirs take the fast path; drifted dirs
    // resolve to the UNION in first-seen order — a file lacking a
    // later column reads it as null (Delta's evolved-read semantics) —
    // and an incompatible TYPE drift refuses loudly instead of
    // silently coercing.
    val dirSchemas = data.map { d =>
      ann.schemas.get(d).flatten
        .flatMap(parseSchemaJson)
        .getOrElse {
          GraftTable.onSchemaProbe(d)
          graft.io.SchemaMemo.schemaOf(s, d)
            .getOrElse(s.read.parquet(d).schema)
        }
    }
    val inferred =
      // reference check first: the parse memo hands every directory of
      // a uniform table the SAME StructType instance, so the common
      // case skips 10⁴ structural equality walks
      if (dirSchemas.forall(_ eq dirSchemas.head) ||
          dirSchemas.distinct.size == 1) dirSchemas.head
      else dirSchemas.reduce { (a, b) =>
        val known = a.fieldNames.toSet
        b.foreach { f =>
          a.find(_.name == f.name).foreach { g =>
            require(g.dataType == f.dataType,
              s"schema drift on $root: column '${f.name}' is " +
                s"${g.dataType.simpleString} in one directory and " +
                s"${f.dataType.simpleString} in another — migrate or " +
                "fold before reading")
          }
        }
        StructType(a.fields.map(_.copy(nullable = true)) ++
          b.filterNot(f => known.contains(f.name))
            .map(_.copy(nullable = true)))
      }
    morKey.filter(_ => tombs.nonEmpty).foreach { k =>
      require(inferred.fieldNames.contains(k),
        s"morKey '$k' is not a column of $root (${inferred.fieldNames
          .mkString(", ")})")
    }
    // apply the version's column mapping: parquet keeps its PHYSICAL
    // names forever, the table advertises the LOGICAL ones — a rename
    // is one metadata commit, never a rewrite (Delta column mapping);
    // dropped physical columns leave the schema the same way
    val visible =
      if (droppedPhys.isEmpty) inferred
      else StructType(inferred.filterNot(f => droppedPhys.contains(f.name)))
    val logical =
      if (colMap.isEmpty) visible
      else StructType(visible.map(f =>
        f.copy(name = colMap.getOrElse(f.name, f.name))))
    // a recorded merge key is a row IDENTITY (Iceberg's identifier
    // field): advertise it required — non-null by contract, and Spark's
    // delta-based DELETE refuses nullable row IDs
    val schema = morKey match {
      case Some(k) if logical.fieldNames.contains(k) =>
        StructType(logical.map(f =>
          if (f.name == k) f.copy(nullable = false) else f))
      case _ => logical
    }
    // change-feed mode: the table advertises schema+CDC metadata and
    // exactly the MICRO_BATCH_READ capability — batch CDC is
    // table_changes(...)'s job (its joins don't fit a file scan), and
    // the missing BATCH_READ makes a batch read fail loudly instead of
    // silently returning non-change rows
    if (Option(options.get("readChangeFeed")).exists(_.toBoolean)) {
      require(colMap.isEmpty,
        s"change feed over a column-mapped table is not supported — " +
          s"compact ($root) to re-physicalize the renamed columns first")
      return new GraftCdcTable(s, root,
        StructType(schema.map(f => f.copy(nullable = true))), options)
    }
    new GraftTable(s, root, version, schema, data, tombs, morKey, colMap,
      new graft.io.DirStatsProvider(s, root, Some(version), Some(ann)))
  }
}

/** The table's recorded merge key — `root/_morkey`, one column name,
  * create-if-absent (immutable like a tag; re-recording must be a
  * deliberate drop + set, not a silent flip that changes what every
  * reader merges on).
  */
object GraftMorKey {
  private def path(root: String) = new Path(root, "_morkey")

  def get(s: SparkSession, root: String): Option[String] = {
    val f = path(root).getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!f.exists(path(root))) None
    else {
      val in = f.open(path(root))
      try Some(new String(
        org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8).trim)
      finally in.close()
    }
  }

  def set(s: SparkSession, root: String, key: String): Unit = {
    val f = path(root).getFileSystem(s.sparkContext.hadoopConfiguration)
    require(graft.io.FsCreateCommitter.createIfAbsent(f, path(root),
        key.getBytes(java.nio.charset.StandardCharsets.UTF_8)),
      s"mor key already recorded on $root (drop it first — " +
        "changing the merge key under readers is never silent)")
  }

  def drop(s: SparkSession, root: String): Boolean =
    path(root).getFileSystem(s.sparkContext.hadoopConfiguration)
      .delete(path(root), false)
}

/** Placeholder for a root with no committed version: schemaless, scans
  * refuse loudly, and — crucially — no `SupportsWrite`, so `df.write`
  * against a fresh root falls back to the V1 commit-protocol write.
  */
class GraftMissingTable(root: String) extends Table {
  override def name(): String = s"graft.`$root`@<uncommitted>"
  override def schema(): StructType = new StructType()
  override def capabilities(): util.Set[TableCapability] =
    util.Collections.emptySet()
}

/** The one metadata column: `_dir`, the committed directory a row lives
  * in — the GROUP identity of this engine's copy-on-write surgery (what
  * `_file` is to Iceberg). Selectable as `SELECT _dir, * FROM t`, and
  * the runtime group filter for SQL row-level DML keys on it.
  */
object GraftDirColumn
  extends org.apache.spark.sql.connector.catalog.MetadataColumn {
  override def name(): String = "_dir"
  override def dataType(): DataType = StringType
  override def isNullable: Boolean = true
}

class GraftTable(s: SparkSession, root: String, version: Int,
    tableSchema: StructType, dataDirs: Seq[String], tombDirs: Seq[String],
    morKey: Option[String], colMap: Map[String, String] = Map.empty,
    provider: graft.io.DirStatsProvider = null)
  extends Table with SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
  with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
  with org.apache.spark.sql.connector.catalog.TruncatableTable {

  /** SQL `TRUNCATE TABLE`: ONE replacing commit that swaps every data
    * and tombstone directory for a single empty schema-bearing one —
    * no file is deleted (time travel to the pre-truncate version keeps
    * working; `expire` owns physical reclamation, clone-aware), and a
    * column-mapped table keeps its mapping directory: the empty dir is
    * written under PHYSICAL names like every other write, so the
    * logical schema survives. Races with concurrent commits fail loud
    * ([[Manifest.replaceDirs]]'s conflict detection), never silently
    * drop someone else's landed rows.
    */
  override def truncateTable(): Boolean = {
    val l2p = colMap.map(_.swap)
    val pSchema = StructType(tableSchema.map(f =>
      f.copy(name = l2p.getOrElse(f.name, f.name), nullable = true)))
    val empty = GraftDdl.writeEmptyDir(s, root, pSchema)
    Manifest.replaceDirs(s, root,
      remove = (dataDirs ++ tombDirs).toSet, add = Seq(empty))
    true
  }

  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(GraftDirColumn)

  override def name(): String = s"graft.`$root`@v$version"

  override def schema(): StructType = tableSchema

  /** `SHOW TBLPROPERTIES` surface: the persisted write defaults
    * ([[GraftTableProps]]), the recorded merge key, and the pinned
    * version — the same facts `CALL lake.layout` exposes per
    * directory, here as table-level metadata.
    */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    GraftTableProps.read(s, root).foreach { case (k, v) => m.put(k, v) }
    morKey.foreach(m.put("morkey", _))
    m.put("version", version.toString)
    m.put("provider", "graft")
    m
  }

  private lazy val partitioned: Boolean =
    GraftTableProps.read(s, root).get("partitioncols")
      .exists(_.trim.nonEmpty)

  override def capabilities(): util.Set[TableCapability] =
    // Spark dispatches writes on the CAPABILITY (declaring
    // V1_BATCH_WRITE makes every batch write expect a V1Write), so a
    // partitioned table declares exactly the V1 bridge (one dynamic
    // partitioned job per INSERT) and a flat table exactly the pure
    // V2 write
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      if (partitioned) TableCapability.V1_BATCH_WRITE
      else TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new GraftWriteBuilder(s, root, info, colMap)

  /** SQL DML (`DELETE FROM` / `UPDATE` / `MERGE INTO`) — see
    * [[GraftRowLevelBuilder]] for the CoW-vs-MoR mode rule.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    new GraftRowLevelBuilder(s, root, version, tableSchema, dataDirs,
      tombDirs, morKey, info, colMap)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = {
    // the fail-loud contract lives HERE, not at resolve: a WRITE to a
    // tombstoned table is legal (producers don't merge), a read is not
    require(tombDirs.isEmpty || morKey.nonEmpty,
      s"version $version of $root has live tombstones — pass the " +
        "morKey option so the scan merges them (or fold first)")
    new GraftScanBuilder(s, root, version, tableSchema, dataDirs,
      tombDirs, morKey, options, colMap = colMap,
      statsProvider = Option(provider))
  }
}

class GraftScanBuilder(s: SparkSession, root: String, version: Int,
    tableSchema: StructType, dataDirs: Seq[String], tombDirs: Seq[String],
    morKey: Option[String], options: CaseInsensitiveStringMap,
    opState: Option[GraftRowOpState] = None, rowOp: Boolean = false,
    colMap: Map[String, String] = Map.empty,
    statsProvider: Option[graft.io.DirStatsProvider] = None)
  extends ScanBuilder with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
  with org.apache.spark.sql.connector.read.SupportsPushDownLimit
  with org.apache.spark.sql.connector.read.SupportsPushDownTopN {

  // every per-directory stats/bloom fact the plan consults comes from
  // here: the resolve-time manifest annotations when threaded through,
  // one self-built provider otherwise — at most ONE sidecar open per
  // directory per plan, zero on an annotated manifest
  private lazy val dirStats: graft.io.DirStatsProvider =
    statsProvider.getOrElse(
      new graft.io.DirStatsProvider(s, root, Some(version)))

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = tableSchema
  private var aggPushed: Boolean = false
  private var dirRequested: Boolean = false
  private var limitPushed: Option[Int] = None
  // (logical sort column, descending, nulls-first, k)
  private var topNPushed: Option[(String, Boolean, Boolean, Int)] = None

  // ── column-mapping translation (ALTER TABLE RENAME COLUMN): the
  // table advertises LOGICAL names, parquet + sidecars keep PHYSICAL
  // ones; everything crossing the delegate/stats boundary translates ──
  private val l2p: Map[String, String] = colMap.map(_.swap)
  private def phys(c: String): String = l2p.getOrElse(c, c)
  private def physSchema(st: StructType): StructType =
    if (colMap.isEmpty) st
    else StructType(st.map(f => f.copy(name = phys(f.name))))

  /** Rename the columns a pushed filter references logical→physical for
    * the parquet delegate; shapes the translator doesn't know are
    * DROPPED from the delegate's set — they were residual anyway (all
    * filters re-apply above the scan), this only costs row-group
    * pruning on exotic shapes over renamed tables.
    */
  private def physFilter(f: Filter): Option[Filter] = f match {
    case EqualTo(c, v) => Some(EqualTo(phys(c), v))
    case GreaterThan(c, v) => Some(GreaterThan(phys(c), v))
    case GreaterThanOrEqual(c, v) => Some(GreaterThanOrEqual(phys(c), v))
    case LessThan(c, v) => Some(LessThan(phys(c), v))
    case LessThanOrEqual(c, v) => Some(LessThanOrEqual(phys(c), v))
    case org.apache.spark.sql.sources.In(c, vs) =>
      Some(org.apache.spark.sql.sources.In(phys(c), vs))
    case org.apache.spark.sql.sources.IsNull(c) =>
      Some(org.apache.spark.sql.sources.IsNull(phys(c)))
    case org.apache.spark.sql.sources.IsNotNull(c) =>
      Some(org.apache.spark.sql.sources.IsNotNull(phys(c)))
    case And(l, r) =>
      for (pl <- physFilter(l); pr <- physFilter(r)) yield And(pl, pr)
    case _ => None
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    // ALL filters stay residual: directory stats are conservative
    // (missing sidecars keep, bounds are inclusive), so Spark must
    // re-apply every predicate — pruning is IO-only, never semantic
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // the _dir METADATA column never reaches the parquet delegate —
    // the scan appends it per row from the partition's directory tag
    dirRequested = requiredSchema.fieldNames.contains("_dir")
    required =
      if (!dirRequested) requiredSchema
      else StructType(requiredSchema.filterNot(_.name == "_dir"))
  }

  /** Pushed filters → skip-stats range conjunctions. Conservative by
    * construction: only shapes the sidecars can decide become ranges
    * (integral equality/bounds, string equality); strict bounds loosen
    * to inclusive; everything else prunes nothing.
    */
  private def toRanges(filters: Seq[Filter]): Seq[SkipStats.ColRange] = {
    val longMin = Long.MinValue.toString
    val longMax = Long.MaxValue.toString
    def integral(c: String): Boolean =
      tableSchema.find(_.name == c).exists(f =>
        f.dataType == LongType ||
          f.dataType == org.apache.spark.sql.types.IntegerType ||
          f.dataType == org.apache.spark.sql.types.ShortType ||
          f.dataType == org.apache.spark.sql.types.ByteType)
    def isString(c: String): Boolean =
      tableSchema.find(_.name == c).exists(_.dataType == StringType)
    def num(v: Any): Option[String] = v match {
      case i: Int => Some(i.toString)
      case l: Long => Some(l.toString)
      case sh: Short => Some(sh.toString)
      case b: Byte => Some(b.toString)
      case _ => None
    }
    def str(v: Any): Option[String] = v match {
      case st: String => Some(st)
      case u: UTF8String => Some(u.toString)
      case _ => None
    }
    // timestamp probes compare as EPOCH MICROS — the stats storage
    // normalization (SkipStats.statExpr): absolute, timezone-free,
    // numerically ordered under the "long" tag
    def isTimestamp(c: String): Boolean =
      tableSchema.find(_.name == c)
        .exists(_.dataType == org.apache.spark.sql.types.TimestampType)
    def tsMicros(v: Any): Option[String] = v match {
      case t: java.sql.Timestamp => Some(org.apache.spark.sql.catalyst
        .util.DateTimeUtils.fromJavaTimestamp(t).toString)
      case i: java.time.Instant => Some(org.apache.spark.sql.catalyst
        .util.DateTimeUtils.instantToMicros(i).toString)
      case _ => None
    }
    // date probes compare lexically against the sidecars' ISO strings
    // (chronological for CE years); a probe that doesn't render
    // `yyyy-…` (BC dates reverse lexically) prunes nothing
    def isDate(c: String): Boolean =
      tableSchema.find(_.name == c)
        .exists(_.dataType == org.apache.spark.sql.types.DateType)
    def dateStr(v: Any): Option[String] = (v match {
      case d: java.sql.Date => Some(d.toString)
      case d: java.time.LocalDate => Some(d.toString)
      case _ => None
    }).filter(_.matches("^\\d{4}-.*"))
    // one renderer per supported column type; open ends use the
    // sidecar ±∞ sentinels (a lexical "max string" stand-in would
    // wrongly skip directories holding values above it)
    def render(c: String, v: Any): Option[String] =
      if (integral(c)) num(v)
      else if (isString(c)) str(v)
      else if (isTimestamp(c)) tsMicros(v)
      else if (isDate(c)) dateStr(v)
      else None
    def rangeable(c: String): Boolean =
      integral(c) || isString(c) || isTimestamp(c) || isDate(c)
    def lo(c: String): String = if (integral(c)) longMin
      else if (isTimestamp(c)) longMin else SkipStats.NegInf
    def hi(c: String): String = if (integral(c)) longMax
      else if (isTimestamp(c)) longMax else SkipStats.PosInf
    filters.flatMap {
      case And(l, r) => toRanges(Seq(l, r))
      case EqualTo(c, v) if rangeable(c) =>
        render(c, v).map(x => SkipStats.ColRange(c, x, x)).toSeq
      case GreaterThanOrEqual(c, v) if rangeable(c) =>
        render(c, v).map(x => SkipStats.ColRange(c, x, hi(c))).toSeq
      case GreaterThan(c, v) if rangeable(c) =>
        render(c, v).map(x => SkipStats.ColRange(c, x, hi(c))).toSeq
      case LessThanOrEqual(c, v) if rangeable(c) =>
        render(c, v).map(x => SkipStats.ColRange(c, lo(c), x)).toSeq
      case LessThan(c, v) if rangeable(c) =>
        render(c, v).map(x => SkipStats.ColRange(c, lo(c), x)).toSeq
      case _ => Seq.empty
    }
  }

  /** Pushed IN filters → (column, value set) DISJUNCTIONS the sidecars
    * can decide: a directory survives an IN iff SOME value overlaps its
    * range. Shapes the sidecars can't decide prune nothing.
    */
  private def toInSets(filters: Seq[Filter]): Seq[(String, Seq[String])] = {
    def integral(c: String): Boolean =
      tableSchema.find(_.name == c).exists(f =>
        f.dataType == LongType ||
          f.dataType == org.apache.spark.sql.types.IntegerType ||
          f.dataType == org.apache.spark.sql.types.ShortType ||
          f.dataType == org.apache.spark.sql.types.ByteType)
    def isString(c: String): Boolean =
      tableSchema.find(_.name == c).exists(_.dataType == StringType)
    def render(v: Any): Option[String] = v match {
      case i: Int => Some(i.toString)
      case l: Long => Some(l.toString)
      case sh: Short => Some(sh.toString)
      case b: Byte => Some(b.toString)
      case st: String => Some(st)
      case u: UTF8String => Some(u.toString)
      case _ => None
    }
    filters.flatMap {
      case And(l, r) => toInSets(Seq(l, r))
      case org.apache.spark.sql.sources.In(c, vs)
          if (integral(c) || isString(c)) && vs.nonEmpty =>
        val rendered = vs.toSeq.filter(_ != null).map(render)
        // a null member or unrenderable value makes the set undecidable
        if (rendered.forall(_.isDefined) && rendered.nonEmpty &&
            !vs.contains(null))
          Seq((c, rendered.flatten))
        else Seq.empty
      case _ => Seq.empty
    }
  }

  /** POINT predicates (equality + IN) as rendered value sets — what the
    * [[graft.io.BloomSidecar]] can decide. Distinct from `toRanges`:
    * a high-cardinality key's min/max straddles most probes, but its
    * bloom answers each value with no false negatives.
    */
  private def toPoints(filters: Seq[Filter]): Seq[(String, Seq[String])] = {
    def supported(c: String): Boolean =
      tableSchema.find(_.name == c).exists(f =>
        f.dataType == LongType ||
          f.dataType == org.apache.spark.sql.types.IntegerType ||
          f.dataType == org.apache.spark.sql.types.ShortType ||
          f.dataType == org.apache.spark.sql.types.ByteType ||
          f.dataType == StringType)
    def render(v: Any): Option[String] = v match {
      case i: Int => Some(i.toString)
      case l: Long => Some(l.toString)
      case sh: Short => Some(sh.toString)
      case b: Byte => Some(b.toString)
      case st: String => Some(st)
      case u: UTF8String => Some(u.toString)
      case _ => None
    }
    filters.flatMap {
      case And(l, r) => toPoints(Seq(l, r))
      case EqualTo(c, v) if supported(c) =>
        render(v).map(x => (c, Seq(x))).toSeq
      case _ => Seq.empty
    } ++ toInSets(filters)
  }

  // ── directory pruning + the delegate parquet builder, memoized: the
  // aggregate-pushdown hook needs the delegate BEFORE build(), and by
  // the time Spark pushes aggregates the filters are final ──
  private lazy val pruning: (Seq[String], Seq[String]) = {
    // a NON-surgical row-level rewrite (tombstoned table: whole-snapshot
    // replace) must read EVERY directory — Spark pushes the command
    // condition for GROUP skipping, but here the replacement group is
    // the whole snapshot, so pruning a directory the condition misses
    // would silently drop its rows from the rewrite
    val ranges =
      if (rowOp && opState.isEmpty) Seq.empty else toRanges(pushed.toSeq)
    val inSets =
      if (rowOp && opState.isEmpty) Seq.empty else toInSets(pushed.toSeq)
    val points =
      if (rowOp && opState.isEmpty) Seq.empty else toPoints(pushed.toSeq)
    if (ranges.isEmpty && inSets.isEmpty && points.isEmpty)
      (dataDirs, Seq.empty[String])
    else {
      // physical names resolve once per conjunct, not once per
      // (directory × conjunct)
      val physRanges = ranges.map(r => (phys(r.c), r.lo, r.hi))
      val physInSets = inSets.map { case (c, vals) => (phys(c), vals) }
      val physPoints = points.map { case (c, vals) => (phys(c), vals) }
      def keep(d: String): Boolean = {
        // sidecar keys are PHYSICAL names — translate before matching
        val cs = dirStats.cols(d)
        // bloom sidecars decide POINT probes the ranges must keep; a
        // missing bloom (or column) keeps — IO-only, never semantic
        // (the provider loads only the probed column's filter bytes)
        physRanges.forall { case (c, lo, hi) => cs.flatMap(_.get(c))
          .forall(x => SkipStats.colOverlaps(x, lo, hi)) } &&
          physInSets.forall { case (c, vals) => cs.flatMap(_.get(c))
            .forall(x => vals.exists(v => SkipStats.colOverlaps(x, v, v)))
          } &&
          physPoints.forall { case (c, vals) =>
            dirStats.bloom(d, c) match {
              case None => true
              case Some((t, bf)) => vals.exists(v =>
                graft.io.BloomSidecar.mightContain(t, bf, v))
            }
          }
      }
      // the walk is pure memo lookups + compares, ~µs per directory —
      // but a 10⁴–10⁵-directory table pays it on every plan, so spread
      // it across cores (the provider's maps are lock-free TrieMaps;
      // the Iceberg answer is the same: planning parallelized over
      // manifests). Small tables stay sequential — pool dispatch would
      // cost more than it saves.
      if (dataDirs.size < 2048) dataDirs.partition(keep)
      else {
        val flags = new Array[Boolean](dataDirs.size)
        val dirsArr = dataDirs.toIndexedSeq
        java.util.stream.IntStream.range(0, dirsArr.size).parallel()
          .forEach(i => flags(i) = keep(dirsArr(i)))
        val kept = Seq.newBuilder[String]
        val skip = Seq.newBuilder[String]
        var i = 0
        while (i < dirsArr.size) {
          (if (flags(i)) kept else skip) += dirsArr(i); i += 1
        }
        (kept.result(), skip.result())
      }
    }
  }

  /** PARTIAL limit pushdown: bank whole directories until their
    * sidecars' EXACT row counts cover the limit, then stop — a
    * `LIMIT 100` sample of a 100 TB table lists and plans ONE
    * directory, not the table. Spark's own limit stays on top
    * ([[isPartiallyPushed]] = true), so over-returning is always
    * re-cut; a directory with no readable count banks nothing
    * (fail-open: kept, and the walk keeps going). Fail-closed where
    * banked counts could overshoot the rows the scan actually
    * returns: a tombstoned version drops rows at read time, and a
    * row-level operation must read every kept group.
    */
  override def pushLimit(limit: Int): Boolean = {
    // pushed.nonEmpty is defense in depth: every filter here is
    // residual, so Spark never pushes a limit past one today — but the
    // banked counts assume UNFILTERED rows, and that assumption must
    // be enforced where it lives, not in the planner's changelog
    if (rowOp || tombDirs.nonEmpty || aggPushed || topNPushed.isDefined ||
        pushed.nonEmpty || limit <= 0) false
    else { limitPushed = Some(limit); true }
  }

  override def isPartiallyPushed(): Boolean = true

  /** PARTIAL top-k pushdown (`ORDER BY c LIMIT k` — "the newest 100
    * events of a 100 TB time-ordered table"): directories whose
    * sidecar BOUNDS prove they sort entirely AFTER k already-banked
    * rows are never planned. Spark's sort + limit stay on top
    * (partial semantics), so the scan only ever over-returns. The
    * certificate per dropped directory d: a fixed witness set of KEPT
    * directories, jointly holding ≥ k credited rows, every one
    * sorting ≤ every row of d. Nulls are load-bearing: under NULLS
    * FIRST a directory's nulls sort to the FRONT, so d must be
    * provably null-free in the sort column (the sidecar's `nonnull`
    * extension) and witnesses credit their FULL row count; under
    * NULLS LAST witnesses credit only non-null rows and d's own nulls
    * are irrelevant. Anything unknown — missing sidecar, missing
    * column, unparseable bound, pre-extension sidecar — keeps the
    * directory and credits nothing. Single sort key, integral/date
    * columns only (exact numeric compare; ISO date strings order
    * chronologically); tombstoned/row-op scans refuse like
    * [[pushLimit]].
    */
  override def pushTopN(orders: Array[
      org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference,
      NullOrdering, SortDirection}
    // pushed.nonEmpty: same defense as pushLimit — witness credits
    // count a directory's WHOLE rows, which a row filter would break
    if (rowOp || tombDirs.nonEmpty || aggPushed || limit <= 0 ||
        limitPushed.isDefined || pushed.nonEmpty ||
        orders.length != 1) return false
    val o = orders(0)
    val colName = o.expression() match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        r.fieldNames()(0)
      case _ => return false
    }
    // StringType here is the DEFAULT (UTF8_BINARY) collation case
    // object only — a collated string column is a different DataType
    // instance and refuses, because the sidecar certificate compares
    // bytewise (Spark's own default string sort order)
    val sortable = tableSchema.find(_.name == colName).exists(f =>
      f.dataType == LongType ||
        f.dataType == org.apache.spark.sql.types.IntegerType ||
        f.dataType == org.apache.spark.sql.types.ShortType ||
        f.dataType == org.apache.spark.sql.types.ByteType ||
        f.dataType == org.apache.spark.sql.types.DateType ||
        f.dataType == StringType)
    if (!sortable) return false
    topNPushed = Some((colName,
      o.direction() == SortDirection.DESCENDING,
      o.nullOrdering() == NullOrdering.NULLS_FIRST, limit))
    true
  }

  /** Top-k truncation over the statically-kept directories: (scan
    * dirs, dirs the certificate dropped). See [[pushTopN]].
    */
  private lazy val topNed: (Seq[String], Seq[String]) = topNPushed match {
    case None => (pruning._1, Seq.empty)
    case Some((c, desc, nullsFirst, k)) =>
      val pc = phys(c)
      // sort-key space is decided by the TABLE schema, not per-sidecar
      // tags (a corrupt sidecar disagreeing on type degrades to
      // "unknown — keep", never to a cross-type compare): exact
      // decimal for numeric/date bounds, UTF8String bytewise for
      // default-collation strings (Spark's own string sort order).
      // DESC flips via the ORDERING, never by negating values — which
      // is what admits non-negatable key types at all.
      val isStringKey = tableSchema.find(_.name == c)
        .exists(_.dataType == StringType)
      def numKey(tag: String, v: String): Option[BigDecimal] = tag match {
        case "long" | "double" => scala.util.Try(BigDecimal(v)).toOption
        case "date" => scala.util.Try(
          BigDecimal(java.time.LocalDate.parse(v).toEpochDay)).toOption
        case _ => None
      }
      def strKey(tag: String, v: String): Option[UTF8String] =
        if (tag == "string") Some(UTF8String.fromString(v)) else None

      final case class Fact[T](dir: String, slo: T, shi: T,
        cnt: Option[Long], nonNull: Option[Long])

      def plan[T](keyOf: (String, String) => Option[T])(
          implicit rawOrd: Ordering[T]): (Seq[String], Seq[String]) = {
        val ord: Ordering[T] = if (desc) rawOrd.reverse else rawOrd
        val (known, unknown) = pruning._1.map { d =>
          // ONE provider consult (annotation or one memoized sidecar
          // open) yields all three facts — bounds, count, non-null
          val sc = dirStats.sidecar(d)
          val ent = sc.flatMap(_.cols).flatMap(_.get(pc))
          val cnt = sc.flatMap(_.count)
          val nn = sc.map(_.nonNull).getOrElse(Map.empty).get(pc)
          val fact = ent.flatMap { cs =>
            cs.bounds.flatMap { case (mn, mx) =>
              for (a <- keyOf(cs.tpe, mn); b <- keyOf(cs.tpe, mx)) yield {
                val (lo, hi) = if (ord.lteq(a, b)) (a, b) else (b, a)
                Fact(d, lo, hi, cnt, nn)
              }
            }
          }
          (d, fact, ent, cnt)
        }.partition(_._2.isDefined)
        // all-null dirs under NULLS FIRST sort wholly to the front:
        // always kept, and their full counts are valid witness credit
        var banked: Long = unknown.collect {
          case (_, _, Some(cs), Some(n))
              if cs.bounds.isEmpty && nullsFirst => n
        }.sum
        var creditBound: Option[T] = None
        val keep = Seq.newBuilder[String]
        val drop = Seq.newBuilder[String]
        unknown.foreach { u => keep += u._1 }
        known.map(_._2.get).sortBy(_.shi)(ord).foreach { d =>
          val nullFree = (d.cnt, d.nonNull) match {
            case (Some(a), Some(b)) => a == b
            case _ => false
          }
          val afterWitness = creditBound.exists(b => ord.lteq(b, d.slo))
          if (banked >= k && afterWitness && (!nullsFirst || nullFree))
            drop += d.dir
          else {
            keep += d.dir
            if (banked < k) {
              val credit =
                if (nullsFirst) d.cnt.getOrElse(0L)
                else d.nonNull.getOrElse(0L)
              if (credit > 0) {
                banked += credit
                creditBound = Some(creditBound.fold(d.shi)(b =>
                  if (ord.gteq(b, d.shi)) b else d.shi))
              }
            }
          }
        }
        // preserve the manifest's directory order for the kept set
        val keepSet = keep.result().toSet
        (pruning._1.filter(keepSet), drop.result())
      }

      if (isStringKey) {
        implicit val u8: Ordering[UTF8String] =
          (a: UTF8String, b: UTF8String) => a.compareTo(b)
        plan[UTF8String](strKey)
      } else plan[BigDecimal](numKey)
  }

  /** Limit-truncated (scan dirs, dirs the limit dropped). Identity
    * when no limit was pushed.
    */
  private lazy val limited: (Seq[String], Seq[String]) = {
    val (kept, _) = pruning
    limitPushed match {
      case Some(l) =>
        var banked = 0L
        var done = false
        val keep = Seq.newBuilder[String]
        val drop = Seq.newBuilder[String]
        kept.foreach { d =>
          if (done) drop += d
          else {
            keep += d
            banked += dirStats.count(d).getOrElse(0L)
            if (banked >= l) done = true
          }
        }
        (keep.result(), drop.result())
      case None => (kept, Seq.empty)
    }
  }

  // limit and top-k are mutually exclusive pushes (Spark plans one or
  // the other); whichever fired owns the scan's directory list
  private lazy val narrowed: (Seq[String], Seq[String]) =
    if (topNPushed.isDefined) topNed else limited

  private lazy val delegate: ParquetScanBuilder = {
    val kept = narrowed._1
    val scanDirs = if (kept.nonEmpty) kept else dataDirs.take(1)
    // the delegate lives in PHYSICAL-name space: files keep the names
    // they were written with; the logical rename is applied above
    val pTable = physSchema(tableSchema)
    val index = new InMemoryFileIndex(s, scanDirs.map(new Path(_)),
      Map.empty[String, String], Some(pTable),
      org.apache.spark.sql.execution.datasources.NoopCache,
      None, None)
    val b = ParquetScanBuilder(s, index, pTable, pTable,
      new CaseInsensitiveStringMap(util.Collections.emptyMap()))
    // a row-level op's scan must return ALL rows of the kept groups
    // (Spark pushes the command CONDITION for group skipping only) —
    // letting parquet row-group/page-index pruning apply it would
    // silently drop the non-matching rows a CoW rewrite has to carry.
    // Directory pruning above already banks the group-skip IO win.
    if (!rowOp) b.pushDataFilters(
      if (colMap.isEmpty) pushed else pushed.flatMap(physFilter))
    b
  }

  /** Aggregate pushdown (COUNT/MIN/MAX answered from parquet footers —
    * a metadata-only corpus census at 100 TB): forwarded to the parquet
    * delegate, but ONLY on tombstone-free versions — a MoR table's
    * footers still count deleted rows, and an everything-pruned scan
    * has no delegate rows to aggregate.
    */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean =
    tombDirs.isEmpty && colMap.isEmpty && pruning._1.nonEmpty &&
      delegate.supportCompletePushDown(agg)

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean = {
    // a column-mapped table's aggregation references LOGICAL names the
    // parquet footers don't know — no footer shortcut (a compaction
    // re-physicalizes and restores it)
    if (tombDirs.nonEmpty || colMap.nonEmpty || pruning._1.isEmpty)
      return false
    aggPushed = delegate.pushAggregation(agg)
    aggPushed
  }

  override def build(): Scan = {
    val (prunedKept, skipped) = pruning
    val (kept, limitDropped) = narrowed
    require(limitDropped.isEmpty || prunedKept.nonEmpty, "unreachable")
    // ── the merge-on-read rule's key side (bounded by accumulated
    // deletes): ONE collect of key → highest tombstone rank
    // ([[graft.io.MergeOnRead.tombRanks]]; unscoped tombstones rank
    // Long.MaxValue), which the reader factory compares against each
    // partition's directory epoch.
    //
    // The CAP: the reader-factory filter ships the map in every task
    // closure and materializes it on the DRIVER, so it is only the
    // right physical strategy while accumulated deletes stay small.
    // Raw tombstone ROW counts (parquet footers, metadata-only,
    // memoized) upper-bound the distinct keys; past
    // `spark.graft.mor.maxBroadcastKeys` nothing is collected — the
    // scan is marked over-cap and [[graft.plans.MorAntiJoinStrategy]]
    // (installed with every graft catalog) re-plans it as a
    // distributed anti-join against the tombstone parquet, correct at
    // any delete volume. A session without the strategy fails loudly
    // at planInputPartitions instead of silently OOMing the driver. ──
    val tombRows =
      if (tombDirs.isEmpty) 0L
      else graft.io.Manifest.dirRowCount(s, tombDirs)
    val overCap =
      tombRows > graft.io.MergeOnRead.maxBroadcastKeys(s)
    val tombKeys = if (tombDirs.isEmpty) None else {
      val key = morKey.get
      val keyType = tableSchema(key).dataType
      val ranks = new util.HashMap[Any, java.lang.Long]()
      if (!overCap) {
        val rows = graft.io.MergeOnRead.tombRanks(s, tombDirs, key)
          .collect()
        val keyOf: org.apache.spark.sql.Row => Any = keyType match {
          case LongType => _.getLong(0)
          case StringType => r => UTF8String.fromString(r.getString(0))
          case other => throw new IllegalArgumentException(
            s"morKey '$key' must be bigint or string, got $other")
        }
        rows.foreach(r => ranks.put(keyOf(r), r.getLong(1)))
      }
      Some((key, keyType, ranks))
    }
    // the delegate must READ the key column even when the query didn't
    // ask for it; the extra column rides the advertised readSchema
    // (Spark projects it away above the scan)
    val delegateRequired = tombKeys match {
      case Some((key, _, _)) if !required.fieldNames.contains(key) =>
        StructType(required.fields :+ tableSchema(key))
      case _ => required
    }
    // a pushed aggregation owns the delegate's read schema; pruning to
    // the table columns would clobber the aggregate output
    if (!aggPushed) delegate.pruneColumns(physSchema(delegateRequired))
    val parquetScan = delegate.build()
    new GraftScan(parquetScan, root, version, kept, skipped,
      allPruned = kept.isEmpty && !aggPushed, tombKeys, s, tableSchema,
      delegateRequired, options, dirRequested, dataDirs, opState, rowOp,
      colMap, limitDropped = limitDropped,
      limitMode = limitPushed.isDefined || topNPushed.isDefined,
      topNMode = topNPushed.isDefined,
      overCapTombs = overCap, tombDirs = tombDirs)(dirStats)
  }
}

/** The planned scan: a thin veneer over the stock [[ParquetScan]] that
  * (a) carries the kept/skipped directory record into the physical plan
  * (what `LayoutSpec` pins), (b) returns zero partitions when every
  * directory was pruned, (c) swaps in the tombstone-filtering reader
  * factory when the version carries live deletes, (d) appends the
  * `_dir` metadata column per row when requested (partitions are
  * repacked per directory so the tag is partition-constant), and (e)
  * for a row-level operation's scan, accepts Spark's RUNTIME group
  * filter on `_dir` — restricting the read to the directories that
  * contain matching rows AND recording them in the shared
  * [[GraftRowOpState]] so the operation's write replaces exactly those
  * (the copy-on-write surgery; untouched directories carry verbatim).
  */
object GraftScan {
  /** The largest runtime IN-list a scan prunes directories with. */
  val RuntimePruneMaxValues = 65536
}

case class GraftScan(delegate: org.apache.spark.sql.execution.datasources
      .v2.parquet.ParquetScan,
    root: String, version: Int, keptDirs: Seq[String],
    skippedDirs: Seq[String], allPruned: Boolean,
    tombKeys: Option[(String, DataType, util.HashMap[Any, java.lang.Long])],
    session: SparkSession, tableSchema: StructType,
    requiredSchema: StructType, options: CaseInsensitiveStringMap,
    dirRequested: Boolean = false, allDataDirs: Seq[String] = Seq.empty,
    opState: Option[GraftRowOpState] = None, rowOp: Boolean = false,
    colMap: Map[String, String] = Map.empty,
    limitDropped: Seq[String] = Seq.empty, limitMode: Boolean = false,
    topNMode: Boolean = false, overCapTombs: Boolean = false,
    tombDirs: Seq[String] = Seq.empty)(
    // second parameter list: per-plan derived state, not part of the
    // scan's case-class identity (the stats provider is a cache)
    val dirStats: graft.io.DirStatsProvider)
  extends Scan with Batch
  with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
  with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  /** PRUNING-AWARE size/row statistics, forwarded from the parquet
    * delegate (whose file index covers only the KEPT directories) — so
    * a small manifest table, or a big one a selective filter prunes to
    * a sliver, plans as the BROADCAST side of its joins instead of
    * defaulting to the worst case.
    */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    if (allPruned) new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(0L)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(0L)
    }
    else delegate.estimateStatistics()

  // set by Spark's runtime group filter (row-level ops only)
  @volatile private var runtimeDirs: Option[Set[String]] = None

  // the delegate reads PHYSICAL column names; the advertised schema is
  // the LOGICAL one (same positions/types — rows line up positionally)
  private def logicalize(st: StructType): StructType =
    if (colMap.isEmpty) st
    else StructType(st.map(f =>
      f.copy(name = colMap.getOrElse(f.name, f.name))))

  override def readSchema(): StructType =
    if (!dirRequested) logicalize(delegate.readSchema())
    else StructType(logicalize(delegate.readSchema()).fields :+
      org.apache.spark.sql.types.StructField("_dir", StringType,
        nullable = true))

  override def toBatch: Batch = this

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(colMap.isEmpty,
      s"streaming a column-mapped table is not supported — compact " +
        s"($root) to re-physicalize the renamed columns first")
    new GraftMicroBatchStream(session, root, tableSchema,
      requiredSchema, options)
  }

  /** Columns whose RUNTIME literals render (via `toString`) in the
    * same lexical space the sidecars compare in — integral and string
    * only, exactly the static `toRanges`/`toInSets` restriction. A
    * DateType join key arrives from Spark's runtime filter as an
    * epoch-day Int (e.g. "19600") while the sidecar stores ISO dates:
    * comparing those lexically would WRONGLY prune directories that do
    * contain matches, so dates (and any other rendered type) are never
    * advertised for runtime pruning.
    */
  private def runtimePrunable(c: String): Boolean =
    tableSchema.find(_.name == c).exists(f =>
      f.dataType == LongType ||
        f.dataType == org.apache.spark.sql.types.IntegerType ||
        f.dataType == org.apache.spark.sql.types.ShortType ||
        f.dataType == org.apache.spark.sql.types.ByteType ||
        f.dataType == StringType)

  /** Runtime filtering attributes: a row-level operation's scan
    * advertises `_dir` (the GROUP filter); an ordinary scan advertises
    * the columns its directories carry SKIP-STATS for, so Spark's
    * dynamic partition pruning over V2 (a selective dim join) prunes
    * whole directories at RUNTIME with the same sidecar rule the
    * static path uses at planning. Under-applying is always safe —
    * runtime filters are IO reduction, the join re-filters rows.
    * The advertised set is the UNION of sidecar keys across kept
    * directories (a single fold-output dir without a sidecar must not
    * silence pruning for the rest), restricted to the types whose
    * runtime literal rendering the sidecars can compare and to the
    * columns this scan outputs — Spark resolves every advertised name
    * against the scan's output, and fails the query on one that column
    * pruning removed.
    */
  // memoized: Spark probes filterAttributes once per candidate join
  // during planning — the sidecar sweep (manifest annotations, or at
  // most one small read per dir; bloom KEYS only, never the filters
  // themselves) must run once per scan
  private lazy val advertisedColumns: Array[
      org.apache.spark.sql.connector.expressions.NamedReference] = {
    // sidecar keys are physical — advertise their LOGICAL names;
    // bloom-covered columns prune point probes even without ranges
    val output = readSchema().fieldNames.toSet
    (keptDirs.iterator.flatMap(d => dirStats.cols(d))
        .flatMap(_.keySet) ++
      keptDirs.iterator.flatMap(d => dirStats.bloomKeys(d)))
      .toSet[String]
      .map(p => colMap.getOrElse(p, p))
      .filter(c => output(c) && runtimePrunable(c))
      .toArray.sorted.map(
        org.apache.spark.sql.connector.expressions.Expressions.column)
  }

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (opState.isDefined)
      Array(org.apache.spark.sql.connector.expressions.Expressions
        .column("_dir"))
    else if (rowOp)
      // a NON-surgical row-level rewrite replaces the whole snapshot:
      // advertising data columns here would let Spark's runtime filter
      // (built from the DML condition) prune directories out of the
      // survivor scan — dropping their rows from the rewrite. Advertise
      // nothing; the surgical path prunes through `_dir` above.
      Array.empty
    else if (limitMode)
      // a LIMIT-pushed scan returns an ARBITRARY prefix of the table;
      // a runtime join filter removing rows BELOW the limit would
      // change which rows fill the limit's slots (fewer distinct rows
      // reach the join than the un-filtered prefix would supply) —
      // never compose the two
      Array.empty
    else advertisedColumns

  override def filter(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit = opState match {
    case Some(state) =>
      val dirs = predicates.flatMap(dirValues).reduceOption(_ intersect _)
      dirs.foreach { vals =>
        runtimeDirs = Some(vals)
        // replaced groups = directories that CONTAIN matches — derived
        // from the runtime values against the FULL dir list, not the
        // statically-pruned one (a dir whose every row matches the
        // DELETE condition is skip-stats-pruned from this survivor
        // scan, yet must still be REPLACED for its rows to disappear)
        state.replacedDirs = Some(allDataDirs.filter(vals))
      }
    case None =>
      // defense in depth for the non-surgical row-op scan (see
      // filterAttributes) and the LIMIT-pushed scan (see
      // filterAttributes: a runtime filter under a limit changes which
      // rows fill its slots): never prune either scan's read
      if (rowOp || limitMode) return
      // data-column runtime pruning: keep a dir iff, for EVERY runtime
      // IN/= predicate, some value overlaps the dir's sidecar range
      // (missing sidecar/column → keep; stats only ever skip IO).
      // A huge runtime key set stops paying for the dirs × values
      // overlap sweep — skip pruning past the cap, never wrong.
      val cap = GraftScan.RuntimePruneMaxValues
      val colVals: Seq[(String, Set[String])] =
        predicates.toSeq.flatMap(colValues).filter(_._2.size <= cap)
      if (colVals.isEmpty) return
      val l2p = colMap.map(_.swap)
      val kept = keptDirs.filter { d =>
        val stats = dirStats.cols(d)
        colVals.forall { case (c, vals) =>
          val pc = l2p.getOrElse(c, c)
          val cs = stats.flatMap(_.get(pc))
          val bl = dirStats.bloom(d, pc)
          if (cs.isEmpty && bl.isEmpty) true
          else vals.exists { v =>
            cs.forall(x => SkipStats.colOverlaps(x, v, v)) &&
              bl.forall { case (t, bf) =>
                graft.io.BloomSidecar.mightContain(t, bf, v) }
          }
        }
      }
      runtimeDirs = Some(kept.toSet)
  }

  /** IN/EQUAL predicates on a runtime-PRUNABLE data column →
    * (column, values); anything else ignored. The type guard repeats
    * [[runtimePrunable]] as defense in depth: even if Spark hands a
    * predicate on a column we never advertised, a non-integral/string
    * literal rendering must not reach the lexical sidecar compare.
    */
  private def colValues(p: org.apache.spark.sql.connector.expressions
      .filter.Predicate): Option[(String, Set[String])] = {
    import org.apache.spark.sql.connector.expressions.{Expression,
      NamedReference, Literal => VLiteral}
    def refName(e: Expression): Option[String] = e match {
      case f: NamedReference if f.fieldNames.length == 1 =>
        Some(f.fieldNames()(0)).filter(runtimePrunable)
      case _ => None
    }
    def str(e: Expression): Option[String] = e match {
      case l: VLiteral[_] => Option(l.value).map(_.toString)
      case _ => None
    }
    p.name() match {
      case "IN" if p.children().nonEmpty =>
        refName(p.children()(0)).flatMap { c =>
          val vals = p.children().drop(1).flatMap(str)
          if (vals.length == p.children().length - 1) Some((c, vals.toSet))
          else None
        }
      case "=" if p.children().length == 2 =>
        for (c <- refName(p.children()(0)); v <- str(p.children()(1)))
          yield (c, Set(v))
      case _ => None
    }
  }

  /** IN/EQUAL predicates on `_dir` → the directory value set; anything
    * else → None (ignored: the scan stays unfiltered and the write
    * falls back to replacing the whole snapshot — never wrong, only
    * less surgical).
    */
  private def dirValues(p: org.apache.spark.sql.connector.expressions
      .filter.Predicate): Option[Set[String]] = {
    import org.apache.spark.sql.connector.expressions.{Expression,
      NamedReference, Literal => VLiteral}
    def isDirRef(e: Expression): Boolean = e match {
      case f: NamedReference => f.fieldNames.sameElements(Array("_dir"))
      case _ => false
    }
    def str(e: Expression): Option[String] = e match {
      case l: VLiteral[_] => Option(l.value).map(_.toString)
      case _ => None
    }
    p.name() match {
      case "IN" if p.children().nonEmpty && isDirRef(p.children()(0)) =>
        val vals = p.children().drop(1).flatMap(str)
        if (vals.length == p.children().length - 1) Some(vals.toSet)
        else None
      case "=" if p.children().length == 2 &&
          isDirRef(p.children()(0)) =>
        str(p.children()(1)).map(Set(_))
      case _ => None
    }
  }

  private def scanDirs: Seq[String] = runtimeDirs match {
    case Some(vals) => keptDirs.filter(vals)
    case None => keptDirs
  }

  /** Attribute a file to its committed directory (longest prefix;
    * scheme-insensitive — the file index reports `file:/…`, manifest
    * entries are plain paths).
    */
  private def dirOf(path: String): Option[String] = {
    def strip(x: String): String =
      if (x.startsWith("file:")) x.stripPrefix("file:") else x
    val p = strip(path)
    allDataDirs.filter(d => p.startsWith(strip(d) + "/"))
      .sortBy(-_.length).headOption
  }

  /** The over-cap refusal (see the builder's cap comment): reaching
    * the physical scan with `overCapTombs` means no
    * [[graft.plans.MorAntiJoinStrategy]] intercepted the plan — the
    * reader-filter would have collected an unbounded key set on the
    * driver, so refuse loudly instead of silently OOMing.
    */
  private def refuseOverCap(): Nothing = throw new IllegalStateException(
    s"version $version of $root carries more accumulated tombstone " +
      s"key rows than spark.graft.mor.maxBroadcastKeys — the " +
      "driver-side key-collect merge is refused at this size. Read " +
      "through a session with the graft planner strategy installed " +
      "(any graft catalog / GraftExtensions session has it: the scan " +
      "re-plans as a distributed anti-join), CALL fold to retire the " +
      "tombstones, or raise the cap deliberately.")

  override def planInputPartitions(): Array[InputPartition] = {
    if (overCapTombs) refuseOverCap()
    if (allPruned || (runtimeDirs.isDefined && scanDirs.isEmpty))
      return Array.empty
    val base = delegate.toBatch.planInputPartitions()
    if (!dirRequested && runtimeDirs.isEmpty && !epochScoped)
      return base
    // repack the delegate's partitions PER DIRECTORY: drop files the
    // runtime filter excluded, and give every partition a constant
    // directory tag — the _dir column's source, and (scoped
    // tombstones) the epoch the per-partition merge keys off
    import org.apache.spark.sql.execution.datasources.FilePartition
    val files = base.collect { case fp: FilePartition => fp.files }.flatten
    val wanted = scanDirs.toSet
    val byDir = files.groupBy(f => dirOf(f.toPath.toString))
      .collect { case (Some(d), fs) if wanted.contains(d) => (d, fs) }
    val tag = dirRequested || epochScoped
    byDir.toArray.sortBy(_._1).flatMap { case (d, fs) =>
      FilePartition.getFilePartitions(session, fs.toSeq,
        session.sessionState.conf.filesMaxPartitionBytes)
        .map(fp =>
          if (tag) DirTaggedPartition(d, fp): InputPartition
          else fp: InputPartition)
    }
  }

  /** An epoch-scoped tombstone is live, so the merge needs each
    * partition's directory epoch: partitions are tagged. Untagged, every
    * partition reads as epoch 0 — exact while all tombstones are
    * unscoped, since those outrank every epoch.
    */
  private def epochScoped: Boolean =
    tombDirs.exists(graft.io.MergeOnRead.tombEpoch(_).isDefined)

  override def createReaderFactory(): PartitionReaderFactory = {
    if (overCapTombs) refuseOverCap()
    val inner = delegate.toBatch.createReaderFactory()
    val mid =
      if (dirRequested) new DirAppendingReaderFactory(inner) else inner
    tombKeys match {
      case None => mid
      case Some((key, keyType, ranks)) =>
        new TombstoneFilteringReaderFactory(mid,
          delegate.readSchema().fieldIndex(key), keyType, ranks,
          innerTakesTag = dirRequested)
    }
  }

  override def description(): String =
    s"GraftScan root=$root version=$version " +
      s"keptDirs=${keptDirs.size} skippedDirs=${skippedDirs.size} " +
      s"mor=${tombKeys.nonEmpty} " +
      s"pushedAggregate=${delegate.pushedAggregate.nonEmpty}" +
      (if (opState.isDefined) " rowOp=true" else "") +
      (if (topNMode) s" topNDirs=${limitDropped.size}"
       else if (limitMode) s" limitDirs=${limitDropped.size}" else "")
}

/** A file partition plus the committed directory its files belong to —
  * the per-partition-constant source of the `_dir` metadata column.
  */
case class DirTaggedPartition(dir: String,
    inner: InputPartition) extends InputPartition

/** Appends the partition's directory tag as a trailing string column on
  * every row (the `_dir` metadata column). Row-based by necessity, like
  * the tombstone merge.
  */
class DirAppendingReaderFactory(inner: PartitionReaderFactory)
  extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean =
    false

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val tagged = partition.asInstanceOf[DirTaggedPartition]
    val delegate = inner.createReader(tagged.inner)
    val dirVal = UTF8String.fromString(tagged.dir)
    new PartitionReader[InternalRow] {
      private val joined =
        new org.apache.spark.sql.catalyst.expressions.JoinedRow
      private val dirRow =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](dirVal))
      override def next(): Boolean = delegate.next()
      override def get(): InternalRow = joined(delegate.get(), dirRow)
      override def close(): Unit = delegate.close()
    }
  }
}

/** The merge-on-read rule per row ([[graft.io.MergeOnRead]]): drops a
  * row whose key's highest live tombstone rank `te` (`ranks`; an
  * unscoped tombstone ranks Long.MaxValue) outranks its directory's
  * epoch `de` — taken from a [[DirTaggedPartition]], 0 for an untagged
  * one. So an update's own `morins-<e>` rows survive its
  * `tombstones-e<e>` while every older copy of the key is hidden.
  * Row-based by necessity (a filtered ColumnarBatch would need
  * rebuilding); the cost lasts only until the table folds its
  * tombstones. `innerTakesTag` = the inner chain itself consumes the
  * tag (the `_dir`-appending factory).
  */
class TombstoneFilteringReaderFactory(inner: PartitionReaderFactory,
    keyIndex: Int, keyType: DataType,
    ranks: util.HashMap[Any, java.lang.Long], innerTakesTag: Boolean)
  extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean =
    false

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val (de, own) = partition match {
      case t: DirTaggedPartition =>
        (graft.io.MergeOnRead.dirEpoch(t.dir),
          if (innerTakesTag) t else t.inner)
      case p => (0L, p)
    }
    val delegate = inner.createReader(own)
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean = {
        while (delegate.next()) {
          val r = delegate.get()
          val te = ranks.get(r.get(keyIndex, keyType))
          if (te == null || te <= de) { current = r; return true }
        }
        false
      }
      override def get(): InternalRow = current
      override def close(): Unit = delegate.close()
    }
  }
}

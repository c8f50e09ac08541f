package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets

/** Directory-granular column statistics for [[Manifest]] tables — the
  * scan-planning half of what Iceberg manifests / Delta add-file stats
  * provide: each immutable data directory carries a tiny min/max
  * sidecar, and a range query prunes whole directories BEFORE the scan
  * is planned. Parquet already skips row groups inside an opened file;
  * this layer keeps the 100 TB table's irrelevant directories out of
  * file listing and task planning entirely, which is what makes a
  * selective query's cost ∝ matching data instead of ∝ table file
  * count.
  *
  * The sidecar (`_graft_stats`) lives INSIDE the data directory it
  * describes: the directory is immutable and the underscore prefix
  * makes every Spark/Hadoop file lister ignore it, so the stats travel
  * with the directory through commit, carry, vacuum, and time travel
  * with no extra protocol — and a directory without a sidecar (a fold
  * rewrite, a foreign writer) is conservatively KEPT by pruning, never
  * wrongly skipped. The engine's own writes observe the [[aggregates]]
  * while they write ([[Landing.observing]], [[graft.io.dsv2.ObservingWrites]])
  * and [[Landing.prepare]] [[install]]s them before the commit, with no
  * Spark job; [[write]] computes the same aggregates by re-reading a
  * directory written outside the engine. Readers use [[scan]].
  */
object SkipStats {

  val StatsFile = "_graft_stats"
  private val Header = "graft-stats-v1"

  /** Test seam: observes every ACTUAL sidecar-file open (the io59 gate
    * pins that a manifest-annotated plan performs zero of them). No-op
    * in production.
    */
  private[graft] var onSidecarOpen: String => Unit = _ => ()

  private def enc(v: String): String =
    URLEncoder.encode(v, StandardCharsets.UTF_8)
  private def dec(v: String): String =
    URLDecoder.decode(v, StandardCharsets.UTF_8)

  /** One column's sidecar entry: stored type tag, min and max rendered
    * as strings (absent for an all-null or empty column — a range query
    * on such a directory matches nothing).
    */
  final case class ColStats(tpe: String, bounds: Option[(String, String)]) {
    // parsed-once numeric bounds for the hot pruning compare: a
    // 16384-directory pruning walk re-parsing each bound into
    // BigDecimal per (directory, conjunct) was a measurable slice of
    // planning (PLANPROBE r16). Longs take an exact primitive path;
    // anything else (doubles with points/exponents, NaN/Inf) falls to
    // the original BigDecimal compare. Lazy vals stay out of the case
    // class's equality, and parsed sidecars are themselves memoized,
    // so each bound parses once per process.
    private[SkipStats] lazy val loLong: Option[Long] =
      bounds.flatMap(b => b._1.toLongOption)
    private[SkipStats] lazy val hiLong: Option[Long] =
      bounds.flatMap(b => b._2.toLongOption)
  }

  /** The WHOLE sidecar from one parse — row count, per-column bounds,
    * per-column non-null counts. `cols` is None when any column line is
    * malformed (the poison-to-kept rule of [[read]]); `count` and
    * `nonNull` degrade independently, preserving each accessor's
    * original tolerance. One open + one parse serves every consumer —
    * the planner must never pay three filesystem round trips for three
    * facts living in the same tiny file.
    */
  final case class Sidecar(count: Option[Long],
      cols: Option[Map[String, ColStats]], nonNull: Map[String, Long])

  /** Whether a column of this type can carry skip-stats — the filter
    * [[Landing]] applies to every chosen column, and the check DDL
    * runs on a partition column.
    */
  def supportedType(dt: DataType): Boolean = typeTag(dt).nonEmpty

  private def typeTag(dt: DataType): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some("long")
    case FloatType | DoubleType => Some("double")
    case _: DecimalType => Some("double")
    case StringType => Some("string")
    case DateType => Some("date")
    // timestamps are stored as EPOCH MICROS under the "long" tag (see
    // statExpr) — a string rendering would drag session-timezone and
    // fraction-trimming traps into the lexical compare; micros are
    // absolute and numerically ordered
    case TimestampType => Some("long")
    case _ => None
  }

  /** The expression whose min/max a column's stats store — identity
    * for every type except timestamp, which normalizes to epoch micros
    * (matching its "long" [[typeTag]]); every stats writer (the
    * per-directory [[write]], the grouped one-job build, fixtures)
    * must aggregate THIS, so bounds and consults always compare in the
    * same space.
    */
  private[graft] def statExpr(c: String, dt: DataType)
      : org.apache.spark.sql.Column = dt match {
    case TimestampType => org.apache.spark.sql.functions.unix_micros(col(c))
    case _ => col(c)
  }

  /** Open-bound sentinels for [[ColRange]]: a one-sided predicate
    * (`c >= lo` with no upper bound) renders its missing side as one
    * of these, and [[overlaps]] treats them as ±∞ for EVERY stored
    * type — a lexical "max string" stand-in would wrongly skip
    * directories holding values above it.
    */
  val NegInf: String = "\u0000__graft_neg_inf"
  val PosInf: String = "\u0000__graft_pos_inf"

  /** A directory's statistics as its writer saw them: the row count
    * and, per column, its bounds and non-null count — what a sidecar
    * over any subset of [[cols]] holds.
    */
  final case class Observed(rows: Long, cols: Map[String, (ColStats, Long)])

  /** The stored type tag of `schema`'s column `c`; unsupported types
    * are rejected.
    */
  private[graft] def tagOf(schema: StructType, c: String): String = {
    val dt = schema(c).dataType
    typeTag(dt).getOrElse(throw new IllegalArgumentException(
      s"no skip-stats support for column $c of type $dt"))
  }

  /** The aggregates a sidecar over `cols` of a frame of `schema` holds,
    * in order: the row count, then per column the min and max of
    * [[statExpr]] cast to string and the non-null count. Every stats
    * writer aggregates these — the re-read in [[write]], an observed
    * write ([[Landing.observing]]) and the grouped one-job build — and
    * [[observedFrom]] reads them back. Columns with unsupported types
    * are rejected: silently writing no stats would look identical to a
    * skippable column.
    */
  private[graft] def aggregates(schema: StructType, cols: Seq[String])
      : Seq[org.apache.spark.sql.Column] = {
    val named = aggregateNames(cols.size)
    (count(lit(1)) +: cols.flatMap { c =>
      tagOf(schema, c)
      val e = statExpr(c, schema(c).dataType)
      Seq(min(e).cast("string"), max(e).cast("string"), count(col(c)))
    }).zip(named).map { case (a, n) => a.as(n) }
  }

  /** The output names of [[aggregates]] over `n` columns. */
  private[graft] def aggregateNames(n: Int): Seq[String] =
    "_graft_rows" +: (0 until n).flatMap(i =>
      Seq(s"_graft_min$i", s"_graft_max$i", s"_graft_nn$i"))

  /** The [[Observed]] statistics in `row`, whose fields from `offset`
    * on are [[aggregates]]`(schema, cols)`.
    */
  private[graft] def observedFrom(schema: StructType, cols: Seq[String],
      row: org.apache.spark.sql.Row, offset: Int = 0): Observed =
    Observed(row.getLong(offset), cols.zipWithIndex.map { case (c, i) =>
      val at = offset + 1 + 3 * i
      val (mn, mx) = (row.getString(at), row.getString(at + 1))
      val bounds = if (mn != null && mx != null) Some((mn, mx)) else None
      c -> ((ColStats(tagOf(schema, c), bounds), row.getLong(at + 2)))
    }.toMap)

  /** [[aggregates]] over a directory's rows by re-reading it — for a
    * directory the engine did not write itself (a retrofit, a caller's
    * own directory, a fixture).
    */
  def reread(s: SparkSession, dataDir: String, cols: Seq[String])
      : Observed = {
    val df = SchemaMemo.read(s, Seq(dataDir))
    val aggs = aggregates(df.schema, cols)
    observedFrom(df.schema, cols, df.agg(aggs.head, aggs.tail: _*).head())
  }

  /** [[reread]] for many directories in ONE grouped aggregation
    * (grouping on each row's source directory) — the partitioned
    * insert's and clustering's leaves. A directory the path
    * normalization failed to match is absent from the result.
    */
  def rereadEach(s: SparkSession, dirs: Seq[String], cols: Seq[String])
      : Map[String, Observed] = {
    val df = SchemaMemo.read(s, dirs)
    val aggs = aggregates(df.schema, cols)
    val wanted = dirs.toSet
    df.groupBy(regexp_extract(input_file_name(), "^(.*)/[^/]+$", 1))
      .agg(aggs.head, aggs.tail: _*)
      .collect() // one row per directory — bounded by `dirs` itself
      .map(r => new Path(r.getString(0)).toUri.getPath ->
        observedFrom(df.schema, cols, r, offset = 1))
      .filter(t => wanted(t._1)).toMap
  }

  /** Compute min/max for `cols` over the directory's rows by re-reading
    * it ([[reread]]) and install the sidecar. Call after writing
    * `dataDir`, before committing it.
    */
  def write(s: SparkSession, dataDir: String, cols: Seq[String]): Unit =
    install(s, dataDir, reread(s, dataDir, cols), cols)

  /** Install the sidecar over `cols` from statistics already observed. */
  def install(s: SparkSession, dataDir: String, seen: Observed,
      cols: Seq[String]): Unit =
    installRendered(s, dataDir, render(seen, cols))

  /** The sidecar body over `cols` of `seen`. */
  private[graft] def render(seen: Observed, cols: Seq[String]): String =
    render(seen.rows, cols.map(c => c -> seen.cols(c)._1),
      cols.map(c => c -> seen.cols(c)._2).toMap)

  /** Install a sidecar from ALREADY-COMPUTED statistics — the bulk
    * path for fixtures and foreign writers whose stats fall out of one
    * grouped aggregation over many directories at once (256 [[write]]
    * calls would be 256 Spark jobs; 256 `install` calls are 256 tiny
    * local file writes). The rendered bytes are identical to
    * [[write]]'s; callers are responsible for the values being the
    * directory's true aggregates — a wrong bound here is a wrong skip.
    */
  def install(s: SparkSession, dataDir: String, rowCount: Long,
      cols: Seq[(String, ColStats)],
      nonNull: Map[String, Long]): Unit =
    installRendered(s, dataDir, render(rowCount, cols, nonNull))

  /** The exact sidecar file body [[install]] writes — exposed so a
    * bulk writer (partitioned insert) can SEED manifest annotations
    * with the same bytes it installs, making the commit itself zero
    * per-directory probes (see [[Manifest.annotationLines]]'s carry
    * rule: a seeded line is never re-probed).
    */
  private[graft] def render(rowCount: Long,
      cols: Seq[(String, ColStats)],
      nonNull: Map[String, Long]): String = {
    val lines = new StringBuilder(Header).append('\n')
      .append("count\t").append(rowCount).append('\n')
    cols.foreach { case (c, cs) =>
      lines.append("col\t").append(enc(c)).append('\t').append(cs.tpe)
      cs.bounds.foreach { case (mn, mx) =>
        lines.append('\t').append(enc(mn)).append('\t').append(enc(mx))
      }
      lines.append('\n')
    }
    // per-column NON-NULL counts on their own line kind: readers of the
    // original format collect only `col\t` lines, so the extension is
    // invisible to them, and a pre-extension sidecar simply has no
    // `nonnull\t` lines — [[readNonNull]] returns empty and every
    // consumer fails open (TopN pushdown keeps the directory / credits
    // nothing). Null ordering is SEMANTIC for top-k: a directory with
    // nulls in the sort column sorts rows to the FRONT under
    // NULLS FIRST, so only a provably zero-null directory may drop.
    cols.foreach { case (c, _) =>
      nonNull.get(c).foreach { n =>
        lines.append("nonnull\t").append(enc(c)).append('\t')
          .append(n).append('\n')
      }
    }
    lines.append("end\n")
    lines.toString
  }

  /** Land an already-[[render]]ed body as the directory's sidecar file
    * — one small create, no Spark job (the parallel-install half of
    * the one-job partitioned-write stats build).
    */
  private[graft] def installRendered(s: SparkSession, dataDir: String,
      body: String): Unit = {
    val f = new Path(dataDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val out = f.create(new Path(dataDir, StatsFile), true)
    try out.write(body.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The sidecar file's raw UTF-8 body, or None when absent — the ONE
    * open on the read path (everything else parses these bytes). Open
    * directly and catch the miss: an `exists` probe before every open
    * would double the metadata round trips for the common present case.
    */
  def readBodyRaw(f: FileSystem, dataDir: String): Option[String] = {
    val p = new Path(dataDir, StatsFile)
    try {
      val in = f.open(p)
      onSidecarOpen(dataDir)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** Parse a sidecar body. None when the header or `end` terminator is
    * missing (truncated/foreign file). A malformed `col` line poisons
    * `cols` to None — one bad directory must degrade to "kept", never
    * make every scan of the table throw; `count` and `nonnull` lines
    * degrade independently (their original per-accessor tolerance).
    */
  def parse(body: String): Option[Sidecar] = {
    val lines = body.split("\n", -1)
    if (lines.headOption.forall(_ != Header) || !lines.contains("end"))
      return None
    val content = lines.takeWhile(_ != "end")
    val colParsed = content.collect {
      case l if l.startsWith("col\t") =>
        l.split("\t", -1) match {
          case Array(_, c, t) => Some(dec(c) -> ColStats(t, None))
          case Array(_, c, t, mn, mx) =>
            Some(dec(c) -> ColStats(t, Some((dec(mn), dec(mx)))))
          case _ => None
        }
    }
    val cols =
      if (colParsed.exists(_.isEmpty)) None else Some(colParsed.flatten.toMap)
    val cnt = content.collectFirst {
      case l if l.startsWith("count\t") =>
        scala.util.Try(l.split("\t", -1)(1).toLong).toOption
    }.flatten
    val nonNull = content.iterator
      .filter(_.startsWith("nonnull\t"))
      .flatMap { l =>
        l.split("\t", -1) match {
          case Array(_, c, n) =>
            scala.util.Try(dec(c) -> n.toLong).toOption
          case _ => None
        }
      }.toMap
    Some(Sidecar(cnt, cols, nonNull))
  }

  /** The whole sidecar in ONE open + ONE parse. None when the file is
    * missing or not a sidecar.
    */
  def readAll(f: FileSystem, dataDir: String): Option[Sidecar] =
    readBodyRaw(f, dataDir).flatMap(parse)

  /** The directory's sidecar, if present and complete. A missing or
    * truncated sidecar reads as None — the caller must keep the
    * directory (correctness never depends on stats existing).
    */
  def read(f: FileSystem, dataDir: String): Option[Map[String, ColStats]] =
    readAll(f, dataDir).flatMap(_.cols)

  /** Per-column NON-NULL counts from the sidecar's `nonnull` extension
    * lines. Empty for a pre-extension or unreadable sidecar — callers
    * must treat an absent column as UNKNOWN nullability (fail open:
    * keep the directory, credit no rows), never as zero nulls.
    */
  def readNonNull(f: FileSystem, dataDir: String): Map[String, Long] =
    readAll(f, dataDir).map(_.nonNull).getOrElse(Map.empty)

  /** The directory's EXACT row count from its sidecar — written by
    * every [[write]] since v1 alongside the column bounds. This is the
    * planning currency of LIMIT pushdown (bank whole directories until
    * the limit is covered, then stop listing the rest of a 100 TB
    * table) — same fail-open contract as [[read]]: a missing, foreign,
    * or malformed sidecar reads as None and the caller must treat the
    * directory's count as unknown, never skip it.
    */
  def readCount(f: FileSystem, dataDir: String): Option[Long] =
    readAll(f, dataDir).flatMap(_.count)

  /** Public overlap test for external pruning drivers (the DSv2 read
    * path prunes directories at planning with the same rule).
    */
  def colOverlaps(cs: ColStats, lo: String, hi: String): Boolean =
    overlaps(cs, lo, hi)

  private def overlaps(cs: ColStats, lo: String, hi: String): Boolean =
    cs.bounds match {
      case None => false // no values at all — nothing in range
      case Some((mn, mx)) => cs.tpe match {
        case "long" | "double" =>
          // exact primitive fast path when every operand is integral
          // (the dominant case: long columns probed with long bounds)
          val fast = for {
            mnL <- cs.loLong; mxL <- cs.hiLong
            hiOk <- if (hi == PosInf) Some(true)
              else hi.toLongOption.map(mnL <= _)
            loOk <- if (lo == NegInf) Some(true)
              else lo.toLongOption.map(mxL >= _)
          } yield hiOk && loOk
          fast.getOrElse {
            // NaN/Infinity bounds (a double column containing them)
            // are not decimal-parseable: degrade to KEEP — stats may
            // only ever skip work, never break a query
            scala.util.Try(
              (hi == PosInf || BigDecimal(mn) <= BigDecimal(hi)) &&
                (lo == NegInf || BigDecimal(mx) >= BigDecimal(lo)))
              .getOrElse(true)
          }
        case _ => (hi == PosInf || mn <= hi) && (lo == NegInf || mx >= lo)
      }
    }

  /** One conjunct of a pruning predicate: `lo <= c <= hi`, bounds
    * rendered as strings and compared in the column's stored type.
    */
  final case class ColRange(c: String, lo: String, hi: String)

  /** Split a version's data directories into (kept, skipped) for a
    * range query `lo <= c <= hi` (bounds rendered as strings, compared
    * in the column's stored type). Directories without a readable
    * sidecar or without stats for `c` are kept. Tombstone entries
    * ([[MergeOnRead]]) are always kept — they are not data.
    */
  def prunedDirs(s: SparkSession, root: String, c: String, lo: String,
      hi: String, version: Option[Int] = None): (Seq[String], Seq[String]) =
    prunedDirs(s, root, Seq(ColRange(c, lo, hi)), version)

  /** CONJUNCTION pruning — the production predicate shape
    * ("lang = 'en' AND date BETWEEN …"): a directory survives only if
    * EVERY range overlaps its stats, so the skipped set is the UNION
    * of what each conjunct would skip alone (per-column min/max
    * sidecars carry no cross-column correlation — the Iceberg/Delta
    * add-file-stats semantics exactly). A conjunct whose column has no
    * readable stats in a directory cannot prune that directory.
    */
  def prunedDirs(s: SparkSession, root: String, ranges: Seq[ColRange],
      version: Option[Int]): (Seq[String], Seq[String]) = {
    require(ranges.nonEmpty, "empty range conjunction")
    // one manifest read serves the entries AND (format permitting) every
    // directory's stats; per-dir sidecar opens only as a fallback
    val (entries, ann) = Manifest.entriesWithAnnotations(s, root, version)
    val provider = new DirStatsProvider(s, root, version, Some(ann))
    entries.partition { d =>
      MergeOnRead.isTombstone(d) || {
        val stats = provider.cols(d)
        ranges.forall(r => stats.flatMap(_.get(r.c))
          .forall(cs => overlaps(cs, r.lo, r.hi)))
      }
    }
  }

  /** The range query itself: scan only the directories whose stats
    * overlap `[lo, hi]`, then apply the row-level filter. Result is
    * row-identical to filtering the full snapshot — pruning is an IO
    * optimization, never a semantic one. On a table carrying live
    * [[MergeOnRead]] tombstones the deletes must still be merged:
    * pass the table's `morKey` and the pruned scan merges them through
    * [[MergeOnRead.merged]], the rule [[MergeOnRead.snapshot]] applies;
    * calling without it on such a table fails loudly rather than
    * resurrecting deleted rows.
    */
  def scan(s: SparkSession, root: String, c: String, lo: Long,
      hi: Long, version: Option[Int] = None,
      morKey: Option[String] = None): DataFrame =
    scanRanges(s, root, Seq(ColRange(c, lo.toString, hi.toString)),
      version, morKey)

  /** [[scan]] for a CONJUNCTION of ranges: scan only the directories
    * every range overlaps, then apply the full row-level conjunction
    * (each bound cast to its column's type, so the filter both stays
    * exact at block boundaries and reaches the parquet reader as a
    * pushed filter per conjunct).
    */
  def scanRanges(s: SparkSession, root: String, ranges: Seq[ColRange],
      version: Option[Int] = None,
      morKey: Option[String] = None): DataFrame = {
    val (kept, _) = prunedDirs(s, root, ranges, version)
    val (tombs, data) = kept.partition(MergeOnRead.isTombstone)
    require(tombs.isEmpty || morKey.nonEmpty,
      s"table at $root has live tombstones — pass morKey so the " +
        "pruned scan merges them (or fold first)")
    val df =
      if (data.isEmpty) {
        // everything pruned: an empty frame with the DATA schema —
        // never let a key-only tombstone dir decide the schema
        val allData = Manifest.entries(s, root, version)
          .filterNot(MergeOnRead.isTombstone)
        require(allData.nonEmpty, s"table at $root has no data entries")
        SchemaMemo.read(s, allData).limit(0)
      }
      else morKey.fold(SchemaMemo.read(s, data))(
        MergeOnRead.merged(s, data, tombs, _))
    df.filter(ranges.map { r =>
      val dt = df.schema(r.c).dataType
      col(r.c).between(lit(r.lo).cast(dt), lit(r.hi).cast(dt))
    }.reduce(_ && _))
  }
}

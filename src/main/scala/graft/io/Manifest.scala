package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.charset.StandardCharsets

/** Manifest-pointer table commits — the object-store-safe sibling of
  * [[WriteAuditPublish]]'s rename publish, and the core of how modern
  * table formats (Iceberg/Delta) commit: data files are immutable and
  * UNREFERENCED until a new, versioned manifest lists them. A reader
  * resolves the highest manifest version once and scans exactly the
  * files that version lists, so it sees a consistent snapshot no matter
  * what producers are writing concurrently; an orphan directory that
  * never made a manifest simply does not exist to readers.
  *
  * Commit = create `manifest-v%06d` with overwrite=false. The
  * create-fails-if-exists semantics double as optimistic concurrency:
  * two producers racing to commit version N+1 cannot both win; the
  * loser catches the exists-failure, re-reads, and retries on N+2
  * (bounded, then fails loudly).
  *
  * ATOMICITY SCOPE — the detect-the-race guarantee holds only where
  * `create(overwrite=false)` is an atomic create-if-absent: HDFS (the
  * NameNode enforces it in one namespace op). RawLocalFileSystem and
  * S3A implement it as check-then-create (s3a exposes no conditional
  * PUT), so two committers racing within the check window can BOTH
  * "win" the same version and one list is silently lost — on those
  * stores this primitive requires a single committer (the gate runs
  * one) or external coordination; a production object-store deployment
  * swaps a conditional-PUT (If-None-Match) client in through the
  * [[Committer]] seam without touching the protocol. Old manifests are
  * never modified, so every historical version stays readable — time
  * travel is just "resolve version v instead of latest".
  */
/** The single operation the commit protocol's optimistic concurrency
  * rests on: create `target` containing `body` iff no file exists there.
  * Pluggable so the store-appropriate atomic primitive drops in without
  * touching the protocol — [[FsCreateCommitter]] uses the filesystem's
  * `create(overwrite=false)` (atomic on HDFS, check-then-create on
  * local/S3A); an object-store deployment substitutes a conditional-PUT
  * (If-None-Match) client with the same contract.
  *
  * Contract: return true iff THIS call durably created the complete
  * file (won the version slot); return false iff the slot was already
  * taken (lost the race — the caller re-reads and retries). A failure
  * AFTER claiming the slot must not leave a partial file installed as a
  * real version: implementations delete their own partial file and
  * rethrow (a reader catching the delete-race sees a missing
  * terminator, never silent truncation).
  */
trait Committer {
  def createIfAbsent(f: FileSystem, target: Path, body: Array[Byte]): Boolean
}

/** `create(overwrite=false)` committer — see [[Manifest]]'s atomicity
  * scope for where that call is genuinely atomic.
  */
object FsCreateCommitter extends Committer {
  override def createIfAbsent(f: FileSystem, target: Path,
      body: Array[Byte]): Boolean = {
    val scheme = Option(target.toUri.getScheme).getOrElse(f.getScheme)
    if (scheme == "file") return createIfAbsentLocal(target, body)
    // Only the CREATE call may be read as "lost the race" — after a
    // successful create, a write/close failure means OUR file is the
    // (partial) one at `target`; treating that as a race would install
    // a corrupt manifest as a real version.
    val created =
      try Some(f.create(target, false))
      catch {
        case e: java.io.IOException =>
          val lostRace = e.isInstanceOf[
            org.apache.hadoop.fs.FileAlreadyExistsException] ||
            f.exists(target)
          if (!lostRace) throw e
          None
      }
    created match {
      case Some(out) =>
        try {
          try out.write(body)
          finally out.close()
        } catch {
          case e: Throwable =>
            try f.delete(target, false)
            catch { case scala.util.control.NonFatal(_) => () }
            throw e
        }
        true
      case None => false
    }
  }

  /** Local filesystem: hadoop's `create(overwrite=false)` is
    * CHECK-THEN-CREATE (RawLocalFileSystem), so two racing committers
    * can both pass the check and the slower TRUNCATES the winner's
    * file — a silently lost commit (surfaced as a rare data hole by a
    * concurrent-ingest gate). `java.nio.Files.createFile` is O_EXCL —
    * exactly one claimant ever wins the slot; the body lands after the
    * claim, which the completeness terminator already makes safe (a
    * reader of the claimed-but-unwritten file sees an incomplete
    * manifest and retries, never partial state).
    */
  private def createIfAbsentLocal(target: Path,
      body: Array[Byte]): Boolean = {
    val p = java.nio.file.Paths.get(target.toUri.getPath)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    val claimed =
      try { java.nio.file.Files.createFile(p); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    if (!claimed) return false
    try java.nio.file.Files.write(p, body)
    catch {
      case e: Throwable =>
        try java.nio.file.Files.deleteIfExists(p)
        catch { case scala.util.control.NonFatal(_) => () }
        throw e
    }
    true
  }
}

object Manifest {
  private val Name = "manifest-v(\\d{6})".r

  /** Test seam: observes every actual manifest-file read (the io59 gate
    * pins that planning a 256-directory table is O(1) manifest reads,
    * not O(directories) sidecar reads). No-op in production.
    */
  private[graft] var onManifestRead: String => Unit = _ => ()

  private def enc(v: String): String =
    java.net.URLEncoder.encode(v, StandardCharsets.UTF_8)
  private def dec(v: String): String =
    java.net.URLDecoder.decode(v, StandardCharsets.UTF_8)

  /** Per-directory PLANNING ANNOTATIONS embedded in a manifest version
    * as `#ann:` lines (skipped by the entry reader — `#`-prefixed lines
    * are never directory entries): the directory's skip-stats sidecar
    * body, its bloom-covered column names, and its parquet schema JSON,
    * captured AT COMMIT TIME. This is what makes query planning O(1)
    * metadata reads instead of O(directories) — the scan planner gets
    * every per-directory fact from the one manifest read it already
    * does (the Iceberg manifest-stats / Delta checkpoint idea), and
    * only falls back to per-directory sidecar/footer probes for
    * pre-format manifests or directories whose annotation is EMPTY
    * (no sidecar existed when committed — a later `CALL lake.sidecar`
    * retrofit must still be honored, so empty re-probes at plan time,
    * memoized per plan).
    *
    * Maps: key present = the commit recorded knowledge for that
    * directory; value None = "probed, absent at commit".
    */
  final case class DirAnnotations(
      stats: Map[String, Option[String]],
      bloomCols: Map[String, Option[Seq[String]]],
      schemas: Map[String, Option[String]])

  object DirAnnotations {
    val empty: DirAnnotations =
      DirAnnotations(Map.empty, Map.empty, Map.empty)
  }

  /** Commit-contention retry bound: each retry re-reads state, so only
    * sustained contention (or a version-file leak) can exhaust it —
    * better to fail loudly than spin.
    */
  private val MaxCommitAttempts = 32

  /** Test seam: runs between the version read and the create attempt so
    * a spec can interleave a competing commit deterministically (the
    * race window is otherwise untestable from outside). No-op in
    * production.
    */
  private[graft] var betweenReadAndCreate: () => Unit = () => ()

  private def fs(s: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(s.sparkContext.hadoopConfiguration)

  /** All committed versions, ascending. */
  def versions(s: SparkSession, root: String): Seq[Int] =
    versionsOf(fs(s, root), root)

  private def versionsOf(f: FileSystem, root: String): Seq[Int] = {
    val p = new Path(root)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.map(_.getPath.getName).collect {
      case Name(v) => v.toInt
    }.sorted
  }

  private def manifestPath(root: String, v: Int): Path =
    new Path(root, f"manifest-v$v%06d")

  /** Completeness terminator: `create(overwrite=false)` claims the
    * version atomically (on HDFS) but the file is VISIBLE while the list
    * is still being written — a reader or racing committer scanning that
    * window would otherwise act on a truncated list (the racer would
    * rebase the next version on it, silently dropping directories). The
    * terminator turns that silent loss into a loud, typed failure:
    * every reader validates it and an in-flight/corrupt manifest raises
    * instead of returning partial state.
    */
  private val Terminator = "#graft-manifest-complete"

  /** Optional per-version OPERATION marker (`#op:<name>`, Delta's
    * `commitInfo.operation`): a replacing commit that preserves the
    * table's logical content (compaction, clustering, fold — pure
    * re-layouts) declares itself, so change-data capture ([[Cdc]]) can
    * skip it outright instead of diffing two whole snapshots to prove
    * nothing changed, and a CDC STREAM can keep consuming through
    * maintenance instead of failing on every replacing commit.
    * Readers of pre-marker manifests see None — CDC then takes the
    * conservative snapshot-diff path, never a wrong answer.
    */
  private val OpPrefix = "#op:"

  /** Thrown when a manifest exists but lacks the completeness
    * terminator — in-flight (being written right now) or corrupt
    * (writer died mid-write).
    */
  final class IncompleteManifestException(p: Path)
    extends java.io.IOException(
      s"manifest $p is incomplete (in-flight or corrupt)")

  /** Every body line of a manifest (entries + `#ann:` annotations),
    * terminator validated and stripped — the ONE read a plan needs.
    */
  private def readAllLines(f: FileSystem, p: Path): Seq[String] = {
    val in = f.open(p)
    onManifestRead(p.toString)
    val lines =
      try new String(org.apache.commons.io.IOUtils.toByteArray(in),
        StandardCharsets.UTF_8).split("\n").toSeq.filter(_.nonEmpty)
      finally in.close()
    if (!lines.lastOption.contains(Terminator))
      throw new IncompleteManifestException(p)
    lines.dropRight(1)
  }

  /** The version's DIRECTORY entries — `#`-prefixed lines (annotations,
    * terminator) are metadata, never entries.
    */
  private def readList(f: FileSystem, p: Path): Seq[String] =
    readAllLines(f, p).filterNot(_.startsWith("#"))

  private def parseAnnotations(lines: Seq[String]): DirAnnotations = {
    val stats = Map.newBuilder[String, Option[String]]
    val blooms = Map.newBuilder[String, Option[Seq[String]]]
    val schemas = Map.newBuilder[String, Option[String]]
    lines.iterator.filter(_.startsWith("#ann:")).foreach { l =>
      // a malformed annotation line degrades to "not annotated" for its
      // directory (plan-time fallback probes), never to a failed read
      scala.util.Try {
        val a = l.split("\t", 3)
        val d = dec(a(1))
        val v = if (a.length == 3 && a(2).nonEmpty) Some(a(2)) else None
        a(0) match {
          case "#ann:stats" => stats += d -> v.map(dec)
          case "#ann:bloom" =>
            blooms += d -> v.map(_.split(",", -1).toSeq.map(dec))
          case "#ann:schema" => schemas += d -> v.map(dec)
          case _ => ()
        }
      }
    }
    DirAnnotations(stats.result(), blooms.result(), schemas.result())
  }

  /** The annotations a version pins (latest when unspecified); empty
    * for a pre-format manifest.
    */
  def annotationsOf(s: SparkSession, root: String,
      version: Option[Int] = None): DirAnnotations = {
    val vs = versions(s, root)
    require(vs.nonEmpty, s"no committed manifest under $root")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"unknown manifest version $v (have $vs)")
    parseAnnotations(readAllLines(fs(s, root), manifestPath(root, v)))
  }

  /** Entries AND annotations from ONE manifest read — what
    * [[graft.io.dsv2.GraftTable.resolve]] plans from.
    */
  /** Parsed-manifest memo. A manifest file is written exactly once and
    * never rewritten (the commit protocol's atomicity primitive), so
    * its parsed form is immutable — and re-parsing it per plan was the
    * dominant planning cost on a 16384-directory table (~150 ms of
    * line splitting/decoding per resolve, PLANPROBE r16). Keyed by
    * (root, version); bounded (clear past 16 tables' worth) because
    * one entry for a 10⁴-directory table is a few MB. The version
    * LIST is never cached — only immutable per-version content —
    * so concurrent commits and expiration stay visible. This is the
    * snapshot-state caching every manifest-format engine does
    * (Delta's Snapshot, Iceberg's manifest cache).
    */
  private val parsedManifestCache = scala.collection.concurrent.TrieMap
    .empty[(String, Int, Long, Long), (Seq[String], DirAnnotations)]

  def entriesWithAnnotations(s: SparkSession, root: String,
      version: Option[Int] = None): (Seq[String], DirAnnotations) = {
    val vs = versions(s, root)
    require(vs.nonEmpty, s"no committed manifest under $root")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"unknown manifest version $v (have $vs)")
    val f = fs(s, root)
    val p = manifestPath(root, v)
    // the key carries the file's (mtime, length) so a table DROPPED and
    // re-created at the same path (same version numbers, different
    // content) can never serve stale state — one status call, orders
    // of magnitude under the parse it saves
    val st = f.getFileStatus(p)
    if (parsedManifestCache.size > 64) parsedManifestCache.clear()
    parsedManifestCache.getOrElseUpdate(
      (root, v, st.getModificationTime, st.getLen), {
        val lines = readAllLines(f, p)
        (lines.filterNot(_.startsWith("#")), parseAnnotations(lines))
      })
  }

  /** One directory's parquet schema, inferred from ONE file's footer —
    * the commit-time capture that saves resolve a per-directory footer
    * probe. None for non-parquet entries (mapping dirs, catalog pins)
    * and for hive-layout directories (subdirectories imply partition
    * columns one footer cannot see — resolve's full probe handles
    * those).
    */
  private[graft] def inferDirSchema(s: SparkSession, d: String)
      : Option[org.apache.spark.sql.types.StructType] =
    // driver-side footer read, memoized — the previous
    // ParquetFileFormat.inferSchema ran a one-task Spark JOB per
    // directory at every commit (8+ per lifecycle gate); the converted
    // schema is identical (inference samples the same single footer)
    SchemaMemo.schemaOf(s, d)

  // committed directories are immutable, so a once-read row count
  // never goes stale — memoized for the JVM's lifetime (a dir path +
  // one Long per entry; bounded by directories ever planned)
  private val dirRowMemo =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  /** Exact row count of a committed parquet directory's files, from
    * the parquet FOOTERS on the driver — no Spark job, no data read.
    * The cheap upper-bound check gating the MoR read strategy
    * ([[MergeOnRead]]'s broadcast-vs-anti-join decision and the DSv2
    * scan's key-collect cap) consults this: raw tombstone rows
    * upper-bound the distinct key count. Unreadable files count 0
    * (fail-open: the caller treats a low count as "small", and the
    * subsequent real read surfaces the corruption loudly).
    */
  private[graft] def dirRowCount(s: SparkSession, dirs: Seq[String])
      : Long = {
    val conf = s.sparkContext.hadoopConfiguration
    dirs.map { d =>
      dirRowMemo.getOrElseUpdate(d, try {
        val p = new Path(d)
        val f = p.getFileSystem(conf)
        f.listStatus(p)
          .filter(x => x.isFile && x.getPath.getName.endsWith(".parquet"))
          .map { x =>
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile
                .fromStatus(x, conf))
            try r.getRecordCount finally r.close()
          }.sum
      } catch { case scala.util.control.NonFatal(_) => 0L })
    }.sum
  }

  /** Compose the annotation lines for a commit: carry the previous
    * version's line per (kind, directory) verbatim — directories are
    * immutable, so recorded knowledge never goes stale — and probe ONLY
    * directories with no previous line (the new ones), keeping the
    * commit's metadata cost O(new directories). An EMPTY previous
    * annotation (sidecar absent at its commit) is carried too: the
    * plan-time fallback re-probes those, so a retrofit is honored
    * without per-commit re-probing of every statless directory.
    */
  private def annotationLines(s: SparkSession, dirs: Seq[String],
      prevAnn: Map[(String, String), String],
      refresh: Boolean): Seq[String] = {
    val conf = s.sparkContext.hadoopConfiguration
    dirs.flatMap { d =>
      def prev(kind: String): Option[String] =
        if (refresh) None else prevAnn.get((kind, d))
      lazy val fd = new Path(d).getFileSystem(conf)
      val statsLine = prev("#ann:stats").getOrElse(
        "#ann:stats\t" + enc(d) + "\t" +
          SkipStats.readBodyRaw(fd, d).map(enc).getOrElse(""))
      val bloomLine = prev("#ann:bloom").getOrElse(
        "#ann:bloom\t" + enc(d) + "\t" +
          BloomSidecar.readKeys(fd, d)
            .map(_.toSeq.sorted.map(enc).mkString(",")).getOrElse(""))
      val schemaLine = prev("#ann:schema").getOrElse(
        "#ann:schema\t" + enc(d) + "\t" +
          inferDirSchema(s, d).map(sch => enc(sch.json)).getOrElse(""))
      Seq(statsLine, bloomLine, schemaLine)
    }
  }

  // ── annotation SEEDING for bulk writers ──────────────────────────
  // A partitioned insert lands hundreds of leaf directories in one
  // commit; without seeds, the commit loop would probe EACH new leaf
  // (sidecar read + bloom-keys read + footer schema probe — 3×P
  // sequential driver IOs). The writer already HOLDS every leaf's
  // stats body, bloom column set, and shared schema, so it hands them
  // to the commit as pre-composed `#ann:` lines, and [[annotationLines]]
  // carries them verbatim — the commit's metadata cost drops to O(1)
  // in partition count, the write-side twin of the read-side
  // stats-in-manifest fix.

  /** Seed entry for a directory's stats annotation (`body` = the exact
    * sidecar file body, [[SkipStats.render]]'s output).
    */
  private[graft] def seedStats(d: String, body: String)
      : ((String, String), String) =
    (("#ann:stats", d), "#ann:stats\t" + enc(d) + "\t" + enc(body))

  /** Seed entry for a directory's bloom-coverage annotation. */
  private[graft] def seedBloom(d: String, cols: Seq[String])
      : ((String, String), String) =
    (("#ann:bloom", d), "#ann:bloom\t" + enc(d) + "\t" +
      cols.sorted.map(enc).mkString(","))

  /** Seed entry for a directory's parquet-schema annotation. */
  private[graft] def seedSchema(d: String, schemaJson: String)
      : ((String, String), String) =
    (("#ann:schema", d), "#ann:schema\t" + enc(d) + "\t" + enc(schemaJson))

  /** Re-derive EVERY directory's annotations from its current sidecars
    * and commit the same entry list as a new version — the "stats
    * commit" a retrofit (`CALL lake.sidecar`) runs so later plans read
    * the fresh sidecars from the manifest instead of per-directory
    * fallback probes. One probe pass over the table, once.
    */
  def refreshAnnotations(s: SparkSession, root: String,
      committer: Committer = FsCreateCommitter): Int =
    commitLoop(s, root, committer, refreshAnn = true)(
      (_, prevList) => prevList)

  /** The latest version's directory list (empty before any commit) —
    * what an exactly-once producer consults to skip a replayed batch.
    */
  def committed(s: SparkSession, root: String): Seq[String] =
    versions(s, root).lastOption
      .map(v => readList(fs(s, root), manifestPath(root, v)))
      .getOrElse(Seq.empty)

  /** Whether `dir` appears in ANY retained version's list — the replay
    * guard for producers whose batch may have been folded OUT of the
    * latest list by a compaction that ran between its commit and the
    * replay ([[committed]] alone would miss it and re-commit a
    * duplicate). Scans newest-first (a replayed batch is usually in a
    * recent version) and tolerates expired/corrupt old manifests; a
    * batch older than the retention horizon is beyond what any
    * checkpoint replays.
    */
  def everCommitted(s: SparkSession, root: String, dir: String): Boolean = {
    val f = fs(s, root)
    versionsOf(f, root).reverseIterator.exists { v =>
      scala.util.Try(readList(f, manifestPath(root, v)))
        .getOrElse(Seq.empty).contains(dir)
    }
  }

  /** The directory list a specific version pins (latest when
    * unspecified) — the raw entries, for readers that interpret entry
    * conventions themselves (e.g. [[MergeOnRead]] tombstones).
    */
  def entries(s: SparkSession, root: String,
      version: Option[Int] = None): Seq[String] = {
    val vs = versions(s, root)
    require(vs.nonEmpty, s"no committed manifest under $root")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"unknown manifest version $v (have $vs)")
    readList(fs(s, root), manifestPath(root, v))
  }

  /** Attempt create-if-absent commits until one wins or the bound runs
    * out. `content` maps (previous versions, previous entry list) to
    * the new entry list, re-derived from the freshly re-read state each
    * attempt — an appending commit must fold the race winner's list in,
    * not replay its own stale read. The loop itself owns the BODY:
    * entries plus per-directory annotations (previous lines carried
    * verbatim, new directories probed once — see [[annotationLines]]).
    */
  /** A version's raw `#ann:` lines keyed by (kind, directory) — the
    * carry/seed currency of [[commitLoop]] (lines re-emitted verbatim,
    * never re-probed). Used to seed a CLONE's first commit from its
    * source so cloning stays one manifest write, not a per-directory
    * probe pass.
    */
  private def rawAnnotationsOf(f: FileSystem, p: Path)
      : Map[(String, String), String] =
    readAllLines(f, p).filter(_.startsWith("#ann:")).flatMap { l =>
      scala.util.Try {
        val a = l.split("\t", 3)
        (a(0), dec(a(1))) -> l
      }.toOption
    }.toMap

  private def commitLoop(s: SparkSession, root: String,
      committer: Committer, refreshAnn: Boolean = false,
      seedAnn: Map[(String, String), String] = Map.empty,
      needsPrev: Boolean = true, op: String = "")
      (content: (Seq[Int], Seq[String]) => Seq[String]): Int = {
    val f = fs(s, root)
    var attempts = 0
    while (attempts < MaxCommitAttempts) {
      attempts += 1
      val prev = versionsOf(f, root)
      val next = prev.lastOption.getOrElse(0) + 1
      val target = manifestPath(root, next)
      // Derive the body BEFORE claiming the slot: a racer's in-flight or
      // just-deleted previous manifest surfaces here as
      // IncompleteManifest / FileNotFound — both mean "the version list
      // moved under us", which is a retry, never a failed commit and
      // never a silent rebase on partial state.
      val body =
        try {
          // a REPLACING commit does not depend on the previous list —
          // it must stay committable over a corrupt/in-flight latest
          // manifest (the annotation carry degrades to a re-probe)
          val prevLines =
            if (needsPrev) prev.lastOption
              .map(v => readAllLines(f, manifestPath(root, v)))
              .getOrElse(Seq.empty)
            else prev.lastOption.map { v =>
              try readAllLines(f, manifestPath(root, v))
              catch {
                case _: IncompleteManifestException |
                     _: java.io.FileNotFoundException => Seq.empty[String]
              }
            }.getOrElse(Seq.empty)
          val prevList = prevLines.filterNot(_.startsWith("#"))
          val dirs = content(prev, prevList)
          val prevAnn: Map[(String, String), String] = seedAnn ++
            prevLines.filter(_.startsWith("#ann:")).flatMap { l =>
              scala.util.Try {
                val a = l.split("\t", 3)
                (a(0), dec(a(1))) -> l
              }.toOption
            }.toMap
          (dirs ++ annotationLines(s, dirs, prevAnn, refreshAnn) ++
            (if (op.nonEmpty) Seq(OpPrefix + op) else Seq.empty))
            .mkString("\n") + "\n" + Terminator
        } catch {
          case _: IncompleteManifestException |
               _: java.io.FileNotFoundException =>
            Thread.sleep(10); "" // re-read on the next loop pass
        }
      if (body.nonEmpty) {
        betweenReadAndCreate()
        if (committer.createIfAbsent(f, target,
            body.getBytes(StandardCharsets.UTF_8)))
          return next
        // else: lost the race — loop re-reads, retries the next slot
      }
    }
    throw new IllegalStateException(
      s"manifest commit under $root lost $MaxCommitAttempts races — " +
        "sustained contention or a stuck version file")
  }

  /** Commit `batchDir` into the table: next manifest = previous list +
    * the new directory, written create-if-absent via `committer` (the
    * optimistic-concurrency point — see the atomicity scope above).
    * Loses of the race re-read the winner's list and retry at the next
    * version. Returns the committed version.
    */
  def commit(s: SparkSession, root: String, batchDir: String,
      committer: Committer = FsCreateCommitter): Int =
    commitLoop(s, root, committer)(
      (_, prevList) => prevList :+ batchDir)

  /** Appending commit of SEVERAL directories as ONE version — the
    * partitioned-write shape ([[graft.io.dsv2.GraftPartitionedWrite]]):
    * one INSERT lands one directory per partition value, and readers
    * must see all of them or none.
    */
  def commitAll(s: SparkSession, root: String, batchDirs: Seq[String],
      committer: Committer = FsCreateCommitter,
      seedAnn: Map[(String, String), String] = Map.empty): Int = {
    require(batchDirs.nonEmpty, "commitAll needs at least one directory")
    commitLoop(s, root, committer, seedAnn = seedAnn)(
      (_, prevList) => prevList ++ batchDirs)
  }

  /** [[commitAll]] with a CONFLICT GUARD evaluated against the freshly
    * re-read previous list INSIDE the optimistic loop — every retry
    * after a lost create race re-validates, so a conflicting commit
    * that landed mid-flight is detected no matter which attempt sees
    * it (the [[replaceDirs]] discipline, for appending commits whose
    * VALIDITY depends on what else is in the table — e.g. an
    * epoch-scoped MoR update that must not share its epoch with an
    * overlapping racer). The guard throws to refuse; the exception
    * propagates to the caller, which re-plans against the new head.
    */
  def commitAllGuarded(s: SparkSession, root: String,
      batchDirs: Seq[String], guard: Seq[String] => Unit,
      committer: Committer = FsCreateCommitter): Int = {
    require(batchDirs.nonEmpty, "commitAll needs at least one directory")
    commitLoop(s, root, committer) { (_, prevList) =>
      guard(prevList)
      prevList ++ batchDirs
    }
  }

  /** Appending commit that lands the directory through
    * [[Landing.prepare]] FIRST, with `statsCols` as its explicit
    * [[SkipStats]] columns — the ingest-time discipline that keeps a
    * table built by streaming (st8's foreachBatch) or by incremental
    * index commits (t25 postings, s14 IVF lists) prunable from its very
    * first batch, instead of unprunable until some later maintenance
    * pass. The caller wrote the directory, so its stats come from one
    * re-read of it ([[Landing.sidecars]]). Sidecar before manifest: a committed directory therefore always has its
    * stats; a crash in between leaves an uncommitted orphan whose
    * sidecar dies with it, exactly like its data.
    */
  def commitWithStats(s: SparkSession, root: String, batchDir: String,
      statsCols: Seq[String],
      committer: Committer = FsCreateCommitter): Int = {
    Landing.prepare(s, Landing.plan(s, root, statsCols), batchDir, None)
    commit(s, root, batchDir, committer)
  }

  private final case class AlreadyListed(v: Int)
    extends RuntimeException with scala.util.control.NoStackTrace

  /** Appending commit that is IDEMPOTENT per directory: if a fresh read
    * of the latest list already contains `batchDir` — a racing or
    * replayed committer landed it first — no new version is created and
    * the current latest version is returned. The re-check runs inside
    * the commit loop's re-read, so a loser of the create race never
    * appends the same entry twice (the duplicate would be READ twice by
    * every snapshot — silent row duplication). This is the commit for
    * at-least-once producers whose unit of work is the directory itself
    * (e.g. [[ChangeFeed.sync]]'s version-named sync output).
    */
  def commitIfAbsent(s: SparkSession, root: String, batchDir: String,
      committer: Committer = FsCreateCommitter): Int =
    try commitLoop(s, root, committer) { (prev, prevList) =>
      if (prevList.contains(batchDir)) throw AlreadyListed(prev.last)
      prevList :+ batchDir
    } catch { case AlreadyListed(v) => v }

  /** Remove ORPHAN directories — the reclaim path for the one artifact
    * the commit protocol deliberately produces: a writer that crashed
    * after landing its directory but before committing leaves data that
    * no manifest references (invisible to every reader, re-done by the
    * retry) and that [[expire]] can never touch (expire reclaims only
    * directories DEAD VERSIONS referenced). Sweeps the immediate
    * children of `dataRoot` that appear in NO version's entry list —
    * live or historical — and are older than `graceMs` (the guard for
    * a writer mid-landing RIGHT NOW whose commit hasn't happened yet;
    * size it to the longest plausible write+commit gap). The default is
    * a conservative hour — the unsafe "sweep immediately" choice (which
    * would delete a directory a concurrent writer just landed but has
    * not yet committed) must be asked for explicitly with `graceMs = 0`.
    * Returns the deleted directories.
    */
  def sweepOrphans(s: SparkSession, root: String, dataRoot: String,
      graceMs: Long = 3600000L): Seq[String] = {
    val f = fs(s, root)
    val referenced: Set[String] = (versions(s, root)
      .flatMap(v => readList(f, manifestPath(root, v))) ++
      cloneReferencedDirs(s, root))
      .map(e => new Path(e).toUri.getPath).toSet
    // a manifest entry may be a SUBDIRECTORY of a data-root child (a
    // clustering rewrite commits `cluster-vN/gbucket=K`; a partitioned
    // write commits `w-uuid/p=V`): the child is then referenced BY
    // PREFIX and deleting it would take the committed entries with it.
    // Sorted + binary search keeps the check O(children × log refs).
    val sortedRefs = referenced.toArray.sorted
    def referencedUnder(child: String): Boolean = {
      val prefix = child + "/"
      val i = java.util.Arrays.binarySearch(
        sortedRefs.asInstanceOf[Array[AnyRef]], prefix)
      val at = if (i >= 0) i else -i - 1
      at < sortedRefs.length && sortedRefs(at).startsWith(prefix)
    }
    val cutoff = System.currentTimeMillis() - graceMs
    val rootPath = new Path(dataRoot)
    if (!f.exists(rootPath)) return Seq.empty
    f.listStatus(rootPath).toSeq
      .filter { st =>
        val cp = st.getPath.toUri.getPath
        st.isDirectory && !referenced.contains(cp) &&
          !referencedUnder(cp) && st.getModificationTime < cutoff
      }
      .map { st => f.delete(st.getPath, true); st.getPath.toUri.getPath }
      .sorted
  }

  /** [[sweepOrphans]] over EVERY root a table's writers land data under
    * — the convenience that closes the crashed-MAINTENANCE gap: ingest
    * orphans live under the table's data root, but a [[Cow]]/[[Merge]]/
    * [[RowDelete]] rewrite that crashed between landing its `cow-v*` /
    * `merge-v*` output and the replacing commit leaves its orphan under
    * the caller's STAGING root, which a data-root-only sweep never
    * visits. Committed rewrites are referenced by their version like any
    * entry, so a staging sweep deletes only the crashed ones. Pass every
    * root the table's operators stage under; the same grace applies to
    * each.
    */
  def sweepAllOrphans(s: SparkSession, root: String,
      dataRoots: Seq[String], graceMs: Long = 3600000L): Seq[String] =
    dataRoots.distinct.flatMap(d => sweepOrphans(s, root, d, graceMs))
      .sorted

  /** REPLACING commit — the maintenance primitive (compaction, clustering
    * rewrite): the next manifest lists exactly `dirs`, not the previous
    * list plus them. Old versions keep reading the old files, so a
    * rewrite never disturbs a reader mid-query and stays time-travelable.
    */
  def rewrite(s: SparkSession, root: String, dirs: Seq[String],
      committer: Committer = FsCreateCommitter,
      seedAnn: Map[(String, String), String] = Map.empty,
      op: String = ""): Int =
    commitLoop(s, root, committer, seedAnn = seedAnn,
      needsPrev = false, op = op)((_, _) => dirs)

  /** The operation marker version `v` was committed with, None for
    * commits that declared none (every append, every pre-marker
    * manifest, and any replacing commit that actually changes rows).
    */
  def opOf(s: SparkSession, root: String, v: Int): Option[String] =
    readAllLines(fs(s, root), manifestPath(root, v))
      .find(_.startsWith(OpPrefix)).map(_.stripPrefix(OpPrefix))

  /** ROLLBACK commit — republish version `v`'s directory list as a new
    * REPLACING version (Delta RESTORE): nothing is deleted, every
    * intermediate version still time-travels, and the restored head's
    * annotations are SEEDED from version `v`'s own manifest so the
    * restore is one manifest write, not a per-directory re-probe.
    * Semantic guards (un-deleting newer tombstones) belong to the
    * caller — this is the commit primitive.
    */
  def rollbackTo(s: SparkSession, root: String, v: Int,
      committer: Committer = FsCreateCommitter): Int = {
    val target = entries(s, root, Some(v))
    val seed = scala.util.Try(
      rawAnnotationsOf(fs(s, root), manifestPath(root, v)))
      .getOrElse(Map.empty[(String, String), String])
    commitLoop(s, root, committer, seedAnn = seed,
      needsPrev = false)((_, _) => target)
  }

  /** PARTIAL replacing commit — the surgical copy-on-write primitive: the
    * next manifest is the freshly re-read latest list MINUS `remove`
    * PLUS `add`, so a row-level rewrite replaces only the directories it
    * actually touched while concurrent appends racing this commit keep
    * their entries (the rebase [[rewrite]] deliberately does not do —
    * a full rewrite claims the whole table, a partial one claims only
    * its groups).
    *
    * CONFLICT DETECTION: every `remove` entry must still be in the
    * latest list. A missing one means a concurrent REPLACING commit
    * (compaction, fold, another rewrite) consumed this op's input
    * groups mid-flight — committing anyway would both RESURRECT the
    * rows this op removed (the replacer's output still carries them)
    * and duplicate its survivors. That is a serializability conflict,
    * so it refuses loudly and the CALLER retries against the new
    * snapshot (Delta/Iceberg's optimistic concurrency answer).
    */
  final class ConcurrentRewriteException(root: String, gone: Set[String])
    extends RuntimeException(
      s"concurrent rewrite on $root: ${gone.size} input director" +
        s"(ies) of this row-level operation were replaced mid-flight " +
        s"(${gone.take(3).mkString(", ")}…) — retry against the new " +
        "snapshot")

  def replaceDirs(s: SparkSession, root: String, remove: Set[String],
      add: Seq[String], committer: Committer = FsCreateCommitter,
      op: String = ""): Int =
    commitLoop(s, root, committer, op = op) { (_, prevList) =>
      val gone = remove -- prevList.toSet
      if (gone.nonEmpty) throw new ConcurrentRewriteException(root, gone)
      prevList.filterNot(remove) ++ add
    }

  /** Snapshot EXPIRATION (vacuum) — the retention maintenance every
    * manifest table needs: time travel keeps every version readable,
    * which also keeps every superseded data directory on disk forever.
    * `expire` drops all but the last `keepLast` versions and deletes
    * the data directories ONLY they referenced — a directory survives
    * while ANY surviving version lists it, so rewrites that carried
    * files forward never lose data. Surviving versions are untouched
    * (expiration never edits a manifest file, it removes whole
    * superseded versions), so readers pinned to them are safe; readers
    * pinned to an expired version fail fast on resolve, the standard
    * retention contract. Returns the expired version numbers.
    *
    * Robustness: a DEAD version whose manifest lacks the terminator (a
    * writer died mid-write and the slot was later superseded) is treated
    * as referencing no directories and its manifest file is deleted —
    * the one reclaim path such an artifact has. A LIVE version must stay
    * readable, so a corrupt live manifest still fails the vacuum loudly
    * (run [[repair]] first if it is the stuck latest). Crash window:
    * data directories are deleted BEFORE their version's manifest file,
    * so a crash in between leaves a still-listed version whose snapshot
    * fails deep in the parquet read rather than at resolve; re-running
    * expire heals it (the reverse order would instead strand
    * unreferenced data directories no later run could ever reclaim).
    */
  def expire(s: SparkSession, root: String, keepLast: Int,
      force: Boolean = false): Seq[Int] = {
    require(keepLast >= 1, "must keep at least the latest version")
    val f = fs(s, root)
    val vs = versionsOf(f, root)
    // tagged versions are retention-exempt: a named ref means "someone
    // depends on exactly this state" (the Iceberg tag contract), so it
    // and its data outlive any keepLast window until the tag is dropped
    val tagged = tags(s, root).values.toSet
    val (dead, live) = {
      val (d, l) = vs.splitAt(math.max(vs.size - keepLast, 0))
      (d.filterNot(tagged), l ++ d.filter(tagged))
    }
    val keepDirs = live.flatMap(v => readList(f, manifestPath(root, v)))
      .toSet
    val deadDirs: Map[Int, Seq[String]] = dead.map { v =>
      v -> (try readList(f, manifestPath(root, v))
        catch { case _: IncompleteManifestException => Seq.empty[String] })
    }.toMap
    // Clone protection: a registered shallow clone references this
    // table's data directories through ITS OWN manifests, which this
    // expire cannot see through keepDirs — deleting them is silent data
    // loss on the clone's read path. Refuse loudly while any would-be-
    // deleted directory is still listed by a live registered clone;
    // `force = true` is the explicit deep-copied-or-I-accept-the-loss
    // override.
    if (!force) {
      val wouldDelete = deadDirs.values.flatten.toSet -- keepDirs
      if (wouldDelete.nonEmpty) registeredClones(s, root).foreach { c =>
        val refs = cloneDirsOf(s, c).toSet
        val clash = wouldDelete.intersect(refs)
        require(clash.isEmpty,
          s"refusing to expire $root: directories " +
            s"${clash.toSeq.sorted.mkString(", ")} are still referenced " +
            s"by registered clone $c — dropClone it (or deep-copy and " +
            "force=true)")
      }
    }
    dead.foreach { v =>
      deadDirs(v).filterNot(keepDirs)
        .foreach(d => f.delete(new Path(d), true))
      f.delete(manifestPath(root, v), false)
    }
    dead
  }

  /** Repair a table wedged by a terminator-less LATEST manifest — the
    * writer-died-mid-write artifact that otherwise blocks every
    * subsequent commit (each attempt's `content(prev)` read of the
    * latest list throws until [[MaxCommitAttempts]] exhausts). The file
    * is deleted only once older than `graceMs`, so a healthy in-flight
    * writer inside the grace window is left alone; the freed slot is
    * then re-claimable by the next commit. Returns the removed version,
    * or None if the latest manifest is complete, missing, or too young.
    */
  def repair(s: SparkSession, root: String,
      graceMs: Long = 60000L): Option[Int] = {
    val f = fs(s, root)
    versionsOf(f, root).lastOption.flatMap { v =>
      val p = manifestPath(root, v)
      val stuck =
        try { readList(f, p); false }
        catch {
          case _: IncompleteManifestException => true
          case _: java.io.FileNotFoundException => false // already gone
        }
      val expired = stuck && (System.currentTimeMillis() -
        f.getFileStatus(p).getModificationTime) >= graceMs
      if (expired && f.delete(p, false)) Some(v) else None
    }
  }

  /** The snapshot a manifest version pins (latest when unspecified):
    * one DataFrame over exactly the committed directories. Reads via
    * [[SchemaMemo.readMerged]]: when every committed dir agrees on the
    * schema (the overwhelmingly common case) this is the job-free
    * explicit-schema read; on an ADD COLUMN-evolved table whose dirs
    * genuinely differ it degrades to a real mergeSchema read instead
    * of silently clipping late columns to the first dir's footer.
    */
  def snapshot(s: SparkSession, root: String,
      version: Option[Int] = None): DataFrame =
    SchemaMemo.readMerged(s, entries(s, root, version))

  /** One table version's history entry: what the commit did, expressed
    * as directory-set deltas against its predecessor.
    */
  final case class HistoryEntry(version: Int, commitMs: Long,
      nDirs: Int, added: Seq[String], removed: Seq[String],
      op: Option[String] = None) {
    /** A replacing commit both adds and removes; an append only adds. */
    def kind: String =
      if (removed.nonEmpty) "replace"
      else if (added.nonEmpty) "append" else "noop"
  }

  /** The table's commit history, oldest first — `DESCRIBE HISTORY` for
    * manifest tables: per version, its commit instant (the manifest
    * file's mtime — written exactly once), directory count, and the
    * added/removed directory deltas vs the previous version, from
    * which appends, replacing maintenance (compaction, COW deletes,
    * folds), and no-ops are distinguishable. Cost: one manifest read
    * per LIVE version — metadata only, independent of data size.
    * Expired versions are gone from disk and so from history, the
    * standard retention trade.
    */
  def history(s: SparkSession, root: String): Seq[HistoryEntry] = {
    val f = fs(s, root)
    var prev = Set.empty[String]
    versionsOf(f, root).map { v =>
      val p = manifestPath(root, v)
      val lines = readAllLines(f, p)
      val dirs = lines.filterNot(_.startsWith("#"))
      val cur = dirs.toSet
      val e = HistoryEntry(v, f.getFileStatus(p).getModificationTime,
        dirs.size, dirs.filterNot(prev), prev.diff(cur).toSeq.sorted,
        lines.find(_.startsWith(OpPrefix)).map(_.stripPrefix(OpPrefix)))
      prev = cur
      e
    }
  }

  /** TIMESTAMP-based time travel (Delta `TIMESTAMP AS OF`): the latest
    * version whose manifest file was committed at or before `tsMillis`,
    * by the manifest's filesystem mtime — the commit instant itself,
    * since a manifest is written exactly once (create-if-absent, never
    * rewritten). None before the first commit. Resolution is one
    * metadata listing; combine with [[snapshot]] via [[snapshotAt]].
    *
    * Caveat shared with every mtime-based AS OF (Delta included): the
    * clock is the storage system's, so sub-second orderings and clock
    * skew across writers resolve by whatever the store recorded, and a
    * version already reclaimed by [[expire]] is not resolvable.
    */
  /** One version's commit instant (manifest mtime — written exactly
    * once, so the mtime IS the commit time): the bounded-range
    * accessor [[Cdc]] stamps `_commit_timestamp` from, where
    * [[history]] would read every live version.
    */
  def commitTimeOf(s: SparkSession, root: String, v: Int): Long =
    fs(s, root).getFileStatus(manifestPath(root, v))
      .getModificationTime

  def versionAt(s: SparkSession, root: String, tsMillis: Long)
      : Option[Int] = {
    val f = fs(s, root)
    versionsOf(f, root)
      .filter(v => f.getFileStatus(manifestPath(root, v))
        .getModificationTime <= tsMillis)
      .lastOption
  }

  /** The snapshot as of a wall-clock instant — [[versionAt]] composed
    * with [[snapshot]]; fails loudly when nothing was committed yet.
    */
  def snapshotAt(s: SparkSession, root: String, tsMillis: Long)
      : DataFrame = {
    val v = versionAt(s, root, tsMillis).getOrElse(
      throw new IllegalArgumentException(
        s"no version of $root existed at $tsMillis"))
    snapshot(s, root, Some(v))
  }

  /** ZERO-COPY shallow clone (Delta `CLONE`'s shallow form): `dstRoot`
    * becomes a new table whose version 1 lists exactly the directories
    * the source version pins — no data moves, the clone is one manifest
    * write regardless of table size, which is what makes "branch a
    * 100 TB table for an experiment" an O(1) operation. From then on
    * the tables diverge freely: commits/rewrites/deletes on either side
    * never touch the other's manifest, and a copy-on-write mutation on
    * the clone rewrites only ITS affected directories, leaving the
    * shared ones for the source.
    *
    * Sharing caveat (same as Delta shallow clones): the clone
    * REFERENCES the source's data directories, so [[expire]] on the
    * source could delete directories the clone still lists — a manifest
    * table knows only its own references. ENFORCED here: the clone is
    * registered on the source (`_clones/` marker, written BEFORE the
    * clone's first manifest so a crash can only leave a harmless stale
    * marker, never an unprotected clone), source [[expire]] refuses
    * loudly while a registered clone still lists a would-be-deleted
    * directory, and source-side [[sweepOrphans]] spares clone-referenced
    * directories. [[dropClone]] deregisters once the clone is dropped
    * or deep-copied.
    *
    * Refuses a non-empty destination: cloning ONTO a live table would
    * orphan its history silently — that's [[rewrite]]'s explicit job.
    */
  def shallowClone(s: SparkSession, srcRoot: String, dstRoot: String,
      version: Option[Int] = None,
      committer: Committer = FsCreateCommitter): Int = {
    val dirs = entries(s, srcRoot, version)
    require(versionsOf(fs(s, dstRoot), dstRoot).isEmpty,
      s"refusing to clone onto non-empty table $dstRoot")
    // CHAINED clones: when srcRoot is itself a shallow clone, the dirs
    // being copied belong to ITS sources' data roots — registering the
    // new clone only on srcRoot would leave it unprotected the moment
    // the intermediate clone is dropped and deregistered (the exact
    // data-loss mode the registry exists to prevent). Register on every
    // root in the chain, and record the full source set on the clone so
    // a further clone of IT can do the same.
    val chain = (srcRoot +: cloneSources(s, srcRoot)).distinct
    chain.foreach(r => registerClone(s, r, dstRoot, committer))
    chain.foreach(r => recordCloneSource(s, dstRoot, r, committer))
    // seed the clone's annotations from the source manifest: the clone
    // must stay ONE manifest write at any table size, never a
    // per-directory sidecar probe pass
    val f = fs(s, srcRoot)
    val srcV = version.getOrElse(versions(s, srcRoot).last)
    val seed = scala.util.Try(
      rawAnnotationsOf(f, manifestPath(srcRoot, srcV)))
      .getOrElse(Map.empty[(String, String), String])
    commitLoop(s, dstRoot, committer, seedAnn = seed)((_, _) => dirs)
  }

  /** DEEP clone — the environment-promotion copy: the version's data
    * directories are physically copied under `dstDataRoot` and the
    * clone commits a fresh manifest listing ONLY the copies, so the
    * result is fully independent of the source — no `_clones/`
    * registration, no retention coupling: the source can be expired,
    * vacuumed, or deleted outright and the clone still reads. Cost is
    * one copy pass ∝ data (what "deep" means — [[shallowClone]] is the
    * O(1) form when coupling is acceptable). Directory copies land
    * under `dstDataRoot/<basename>`; refuses a non-empty destination
    * table and colliding basenames (two source entries with one name
    * would silently merge).
    */
  def deepClone(s: SparkSession, srcRoot: String, dstRoot: String,
      dstDataRoot: String, version: Option[Int] = None,
      committer: Committer = FsCreateCommitter): Int = {
    val dirs = entries(s, srcRoot, version)
    require(versionsOf(fs(s, dstRoot), dstRoot).isEmpty,
      s"refusing to deep-clone onto non-empty table $dstRoot")
    val names = dirs.map(d => new Path(d).getName)
    require(names.distinct.size == names.size,
      s"source entries have colliding basenames: $names")
    val conf = s.sparkContext.hadoopConfiguration
    val copies = dirs.map { d =>
      val src = new Path(d)
      val dst = new Path(dstDataRoot, src.getName)
      val sf = src.getFileSystem(conf)
      val df = dst.getFileSystem(conf)
      require(!df.exists(dst), s"deep-clone target $dst already exists")
      org.apache.hadoop.fs.FileUtil.copy(sf, src, df, dst,
        false /* keep source */, conf)
      dst.toString
    }
    // carry the source's annotations REKEYED to the copied paths (the
    // copies' sidecars are byte-identical, so the recorded knowledge
    // transfers) — no per-directory re-probe at the clone commit
    val copyOf: Map[String, String] = dirs.zip(copies).toMap
    val srcV = version.getOrElse(versions(s, srcRoot).last)
    val seed = scala.util.Try(
      rawAnnotationsOf(fs(s, srcRoot), manifestPath(srcRoot, srcV)))
      .getOrElse(Map.empty[(String, String), String])
      .flatMap { case ((kind, d), line) =>
        copyOf.get(d).map { nd =>
          val a = line.split("\t", 3)
          (kind, nd) -> (kind + "\t" + enc(nd) +
            (if (a.length == 3) "\t" + a(2) else ""))
        }
      }
    commitLoop(s, dstRoot, committer, seedAnn = seed)((_, _) => copies)
  }

  // ── Version tags — named refs that retention respects ────────────

  private def tagPath(root: String, name: String): Path = {
    require(name.matches("[A-Za-z0-9._-]{1,64}"),
      s"tag name must be [A-Za-z0-9._-]{1,64}, got '$name'")
    new Path(new Path(root, "_tags"), name)
  }

  /** Tag a committed version with an immutable name ("prod",
    * "training-run-7") — the audit-and-reproducibility ref: [[expire]]
    * keeps tagged versions and their data alive past any keepLast
    * window until [[dropTag]]. Create-if-absent: re-tagging an
    * existing name refuses (tags are immutable; drop it first).
    */
  def tag(s: SparkSession, root: String, name: String, version: Int,
      committer: Committer = FsCreateCommitter): Unit = {
    val vs = versions(s, root)
    require(vs.contains(version),
      s"cannot tag unknown version $version (have $vs)")
    require(committer.createIfAbsent(fs(s, root), tagPath(root, name),
        version.toString.getBytes(StandardCharsets.UTF_8)),
      s"tag '$name' already exists on $root — tags are immutable, " +
        "dropTag it first")
  }

  /** All tags on the table: name → version. */
  def tags(s: SparkSession, root: String): Map[String, Int] = {
    val f = fs(s, root)
    val dir = new Path(root, "_tags")
    if (!f.exists(dir)) Map.empty
    else f.listStatus(dir).map { st =>
      val in = f.open(st.getPath)
      val v = try new String(
        org.apache.commons.io.IOUtils.toByteArray(in),
        StandardCharsets.UTF_8).trim.toInt
      finally in.close()
      st.getPath.getName -> v
    }.toMap
  }

  /** Resolve a tag to its snapshot. */
  def snapshotOfTag(s: SparkSession, root: String, name: String)
      : DataFrame = {
    val t = tags(s, root)
    require(t.contains(name),
      s"no tag '$name' on $root (have ${t.keys.toSeq.sorted})")
    snapshot(s, root, Some(t(name)))
  }

  /** Drop a tag — the version rejoins the ordinary retention pool. */
  def dropTag(s: SparkSession, root: String, name: String): Boolean =
    fs(s, root).delete(tagPath(root, name), false)

  // ── Clone registry — what makes shallow clones retention-safe ────

  private def cloneMarker(srcRoot: String, dstRoot: String): Path =
    new Path(new Path(srcRoot, "_clones"),
      java.util.Base64.getUrlEncoder.withoutPadding
        .encodeToString(dstRoot.getBytes(StandardCharsets.UTF_8)))

  /** Record on the SOURCE that `dstRoot` shallow-clones it — one
    * create-if-absent marker under `srcRoot/_clones/` (the filename is
    * the url-base64 of the clone root, the body the readable path).
    * Idempotent; [[shallowClone]] calls it automatically.
    */
  def registerClone(s: SparkSession, srcRoot: String, dstRoot: String,
      committer: Committer = FsCreateCommitter): Unit =
    committer.createIfAbsent(fs(s, srcRoot),
      cloneMarker(srcRoot, dstRoot),
      dstRoot.getBytes(StandardCharsets.UTF_8))

  /** The clone roots registered on `srcRoot`. Markers are dropped by
    * [[dropClone]]; a marker whose clone table has no committed version
    * (a crashed [[shallowClone]]) is reported too — it protects nothing
    * (no manifests → no referenced dirs) but stays visible for cleanup.
    */
  def registeredClones(s: SparkSession, srcRoot: String): Seq[String] = {
    val f = fs(s, srcRoot)
    val dir = new Path(srcRoot, "_clones")
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.filter(_.isFile)
      .map(st => new String(
        java.util.Base64.getUrlDecoder.decode(st.getPath.getName),
        StandardCharsets.UTF_8))
      .sorted
  }

  /** Deregister a clone — one marker delete. The clone TABLE is not
    * touched (it may have been deep-copied and live on); after this,
    * source [[expire]]/[[sweepOrphans]] stop protecting the directories
    * it references. Returns whether a registration was removed. A
    * CHAINED clone is registered on every root in its source chain —
    * use [[dropCloneEverywhere]] to release all of them at once.
    */
  def dropClone(s: SparkSession, srcRoot: String, dstRoot: String)
      : Boolean =
    fs(s, srcRoot).delete(cloneMarker(srcRoot, dstRoot), false)

  /** Deregister `dstRoot` from EVERY root its `_clone_sources/` registry
    * names (the whole chain for a clone-of-a-clone), removing the
    * reverse markers too. Returns the roots a registration was actually
    * removed from.
    */
  def dropCloneEverywhere(s: SparkSession, dstRoot: String)
      : Seq[String] = {
    val f = fs(s, dstRoot)
    cloneSources(s, dstRoot).filter { r =>
      val dropped = dropClone(s, r, dstRoot)
      f.delete(cloneSourceMarker(dstRoot, r), false)
      dropped
    }
  }

  private def cloneSourceMarker(dstRoot: String, srcRoot: String): Path =
    new Path(new Path(dstRoot, "_clone_sources"),
      java.util.Base64.getUrlEncoder.withoutPadding
        .encodeToString(srcRoot.getBytes(StandardCharsets.UTF_8)))

  /** The roots `dstRoot`'s data directories may belong to — its direct
    * clone source plus that source's own recorded sources (written by
    * [[shallowClone]]; empty for a table that is not a clone). This is
    * the set the clone must stay registered on for retention safety.
    */
  def cloneSources(s: SparkSession, dstRoot: String): Seq[String] = {
    val f = fs(s, dstRoot)
    val dir = new Path(dstRoot, "_clone_sources")
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.filter(_.isFile)
      .map(st => new String(
        java.util.Base64.getUrlDecoder.decode(st.getPath.getName),
        StandardCharsets.UTF_8))
      .sorted
  }

  private def recordCloneSource(s: SparkSession, dstRoot: String,
      srcRoot: String, committer: Committer): Unit =
    committer.createIfAbsent(fs(s, dstRoot),
      cloneSourceMarker(dstRoot, srcRoot),
      srcRoot.getBytes(StandardCharsets.UTF_8))

  /** Every data directory any registered clone of `srcRoot` still
    * references, across ALL of the clone's live versions — the set
    * source-side retention must not reclaim.
    */
  private def cloneReferencedDirs(s: SparkSession, srcRoot: String)
      : Seq[String] =
    registeredClones(s, srcRoot).flatMap(c => cloneDirsOf(s, c))

  private def cloneDirsOf(s: SparkSession, cloneRoot: String)
      : Seq[String] = {
    val cf = fs(s, cloneRoot)
    versionsOf(cf, cloneRoot).flatMap { v =>
      try readList(cf, manifestPath(cloneRoot, v))
      catch { case _: IncompleteManifestException => Seq.empty[String] }
    }
  }

  /** RENAME the table root — one filesystem rename plus an in-place
    * path rewrite of every manifest's OWN-root-prefixed entries, so
    * the whole version history (time travel, tags, sidecars, the
    * tombstone/mapping dirs) survives under the new name. Each
    * manifest's mtime is restored after the rewrite — `versionAt`
    * keeps answering with the original commit instants. Entries NOT
    * under the old root (a shallow clone's source-owned directories)
    * carry verbatim; a clone's own `_clone_sources` registry moves
    * intact (its entries name the SOURCES), and the SOURCE-side
    * registration markers — which encode the clone's old root — are
    * re-registered under the new one so retention protection never
    * lapses. Callers must guard the other direction (a table with
    * REGISTERED clones of its own must refuse: the clones' manifests
    * hold its absolute paths). Single-operator maintenance scope,
    * like every rewrite here.
    */
  def renameRoot(s: SparkSession, oldRoot: String, newRoot: String)
      : Unit = {
    val f = fs(s, oldRoot)
    require(f.exists(new Path(oldRoot)), s"no table at $oldRoot")
    require(!f.exists(new Path(newRoot)),
      s"target $newRoot already exists")
    f.mkdirs(new Path(newRoot).getParent)
    require(f.rename(new Path(oldRoot), new Path(newRoot)),
      s"filesystem rename $oldRoot -> $newRoot failed")
    val oldPrefix = oldRoot.stripSuffix("/")
    val newPrefix = newRoot.stripSuffix("/")
    def subst(e: String): String =
      if (e == oldPrefix) newPrefix
      else if (e.startsWith(oldPrefix + "/")) {
        // catalog pins are `dir@version`; data entries are plain
        // dirs — prefix replacement is right for both
        newPrefix + e.substring(oldPrefix.length)
      } else e
    versionsOf(f, newRoot).foreach { v =>
      val p = manifestPath(newRoot, v)
      val st = f.getFileStatus(p)
      // a crashed commit's incomplete manifest is an invisible
      // version — leave its bytes alone and move on
      val lines =
        try Some(readAllLines(f, p))
        catch { case _: IncompleteManifestException => None }
      // annotations key on the directory path too — carry them under
      // the new name, values (stats/schema bodies) verbatim
      val rewritten = lines.map(_.map { l =>
        if (l.startsWith("#ann:")) {
          val a = l.split("\t", 3)
          if (a.length < 2) l
          else {
            val d = dec(a(1))
            val nd = subst(d)
            if (nd == d) l
            else a(0) + "\t" + enc(nd) +
              (if (a.length == 3) "\t" + a(2) else "")
          }
        } else subst(l)
      })
      if (lines.isDefined && rewritten != lines) {
        val body = rewritten.get.mkString("\n") + "\n" + Terminator
        val out = f.create(p, true)
        try out.write(body.getBytes(StandardCharsets.UTF_8))
        finally out.close()
        // versionAt resolves through manifest mtimes — restore them
        f.setTimes(p, st.getModificationTime, -1)
      }
    }
    // a clone re-registers under its new name on every source in its
    // chain, releasing the stale old-name markers
    cloneSources(s, newRoot).foreach { src =>
      dropClone(s, src, oldRoot)
      registerClone(s, src, newRoot, FsCreateCommitter)
    }
  }
}

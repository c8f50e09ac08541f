package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MERGE-ON-READ row-level DELETE on a [[Manifest]] table — the
  * write-cheap half of the delete trade-off, the Iceberg-v2 /
  * Delta-deletion-vector shape. Where [[RowDelete]] (copy-on-write) pays
  * write IO proportional to every directory containing a match,
  * merge-on-read commits only a TOMBSTONE directory holding the matched
  * keys — an APPENDING commit of keys-only size — and defers the cost to
  * readers, who anti-join the (broadcast-sized) tombstone set on every
  * snapshot. [[fold]] is the maintenance step that ends the deferral:
  * it applies the accumulated tombstones copy-on-write and commits a
  * REPLACING version with no tombstone entries, returning the read path
  * to zero overhead. The cycle — cheap deletes accumulate, maintenance
  * folds them in — is how a 100 TB table absorbs a steady takedown
  * stream without rewriting data on every request.
  *
  * Tombstone entries live in the ordinary manifest list, marked by a
  * basename convention, so commit/race/expire semantics are inherited
  * unchanged: vacuum reclaims superseded tombstone dirs exactly like
  * data dirs, and time travel to a pre-delete version reads everything.
  * Plain [[Manifest.snapshot]] is NOT meaning-preserving on a table with
  * live tombstones (inherent to merge-on-read — readers must merge);
  * use [[snapshot]] here, which is a drop-in replacement on tables
  * without tombstones.
  */
object MergeOnRead {

  val TombstonePrefix = "tombstones-"

  /** MoR-UPDATE rewritten-rows directories: `morins-<epoch>-<uuid>`. */
  val InsertPrefix = "morins-"

  /** The entry's basename WITHOUT a hadoop Path round-trip: entry
    * classification runs once per directory per plan, and Path's URI
    * parse was a measurable slice of 10⁴-directory planning
    * (PLANPROBE r16). Entries are committed directory paths — no
    * trailing slash by construction.
    */
  private[graft] def nameOf(entry: String): String = {
    val i = entry.lastIndexOf('/')
    if (i < 0) entry else entry.substring(i + 1)
  }

  def isTombstone(entry: String): Boolean =
    nameOf(entry).startsWith(TombstonePrefix)

  // ── EPOCH scoping — what makes a write-cheap UPDATE expressible as
  // tombstone + re-insert (the deletion-vector shape). THE RULE, which
  // every reader and rewrite applies through [[merged]]: a row of a
  // data directory at epoch `de` ([[dirEpoch]]) is hidden iff a live
  // tombstone naming its key has rank `te > de` ([[tombRank]]). An
  // update's epoch-scoped tombstone (`tombstones-e<N>-…`, te = N) hides
  // a key's rows ONLY in directories of a lower epoch; its own
  // rewritten rows land in a `morins-<N>-…` directory AT that epoch
  // and stay visible, while a LATER update hides them in turn. An
  // unscoped tombstone — what every MoR DELETE ([[deleteKeys]]) writes
  // — has te = Long.MaxValue and hides its keys at every epoch.
  // Ordinary directories are epoch 0. Rewrites keep their source's
  // epoch ([[epochName]]), so a rewritten row stays exactly as visible
  // as the row it copies. ──

  private val InsertEpoch = (InsertPrefix + "(\\d+)-.*").r
  private val TombEpoch = (TombstonePrefix + "e(\\d+)-.*").r

  /** The epoch a DATA directory was written at (0 for ordinary dirs). */
  def dirEpoch(entry: String): Long = nameOf(entry) match {
    case InsertEpoch(e) => e.toLong
    case _ => 0L
  }

  /** A tombstone's scope epoch: Some(e) hides keys only in directories
    * with epoch < e; None (unscoped — every MoR DELETE's) hides them
    * everywhere.
    */
  def tombEpoch(entry: String): Option[Long] =
    nameOf(entry) match {
      case TombEpoch(e) => Some(e.toLong)
      case _ => None
    }

  /** The rank `te` a tombstone hides below: its scope epoch, or
    * Long.MaxValue for an unscoped tombstone.
    */
  private[graft] def tombRank(entry: String): Long =
    tombEpoch(entry).getOrElse(Long.MaxValue)

  /** The basename a rewrite of `src` lands under: `name`, marked with
    * `src`'s kind and epoch — `tombstones-[e<N>-]name` for a tombstone,
    * `morins-<N>-name` for a data directory of epoch N > 0, `name`
    * otherwise — so the rewrite hides and is hidden exactly like its
    * source.
    */
  private[graft] def epochName(src: String, name: String): String =
    if (isTombstone(src))
      TombstonePrefix + tombEpoch(src).fold("")(e => s"e$e-") + name
    else dirEpoch(src) match {
      case 0L => name
      case e => s"$InsertPrefix$e-$name"
    }

  /** The next free epoch for a scoped commit: above every epoch any
    * live entry carries.
    */
  def nextEpoch(entries: Seq[String]): Long =
    (entries.map(dirEpoch) ++ entries.flatMap(tombEpoch))
      .foldLeft(0L)(math.max) + 1

  /** Thrown when an epoch-scoped UPDATE detects, inside its commit
    * loop, a concurrent update that landed at the same-or-higher epoch
    * TOUCHING THE SAME KEYS. Committing anyway would leave both
    * `morins` copies of the shared keys visible (neither epoch-N
    * tombstone hides epoch-N directories — the rule that keeps an
    * update's own re-inserts alive), silently duplicating rows. The
    * caller re-plans against the new head and retries with a fresh
    * epoch — the Delta/Iceberg concurrent-modification answer.
    */
  final class ConcurrentUpdateException(root: String, epoch: Long)
    extends RuntimeException(
      s"concurrent MERGE-ON-READ update on $root: another update " +
        s"committed at epoch >= $epoch over overlapping keys while " +
        "this one was in flight — re-plan against the new snapshot " +
        "and retry")

  /** Commit-time conflict guard for an epoch-scoped update whose
    * tombstone keys are already staged at `tombDir`: refuses iff a
    * tombstone that was NOT in the PLANNING snapshot (`planned` — the
    * entry list the update derived its epoch and rewritten rows from)
    * appears in the fresh entry list AND its key set overlaps ours.
    * The guard keys on plan-time visibility, not epoch ordering: a
    * same-or-higher-epoch racer over shared keys would leave both
    * `morins` copies visible (silent duplication), and a LOWER-epoch
    * racer — one that planned from an older snapshot yet committed
    * between this update's plan and commit — would have its committed
    * rewrite silently hidden by our higher-epoch tombstone, its rows
    * absent from our re-inserts (computed from a snapshot that never
    * saw it): lost update. Both anomalies share one signature — an
    * unseen overlapping tombstone — so both refuse. Disjoint-key
    * racers MERGE correctly at any epoch (each tombstone hides only
    * lower epochs of KEYS IT NAMES) and are deliberately allowed. A
    * racer's morins directory never needs a separate check: it commits
    * atomically with a tombstone of the same keys, which this guard
    * already reads. Cost: one keys-only read of the racers'
    * tombstones, on the rare clash path only.
    */
  private[graft] def epochClashGuard(s: SparkSession, root: String,
      keyCol: String, epoch: Long, tombDir: String,
      planned: Seq[String])(prevList: Seq[String]): Unit = {
    val seen = planned.toSet
    val newTombs = prevList.filter(t =>
      isTombstone(t) && !seen.contains(t))
    if (newTombs.isEmpty) return
    val overlap = SchemaMemo.read(s, Seq(tombDir))
      .join(SchemaMemo.read(s, newTombs).select(col(keyCol)),
        Seq(keyCol), "left_semi")
    if (!overlap.isEmpty) throw new ConcurrentUpdateException(root, epoch)
  }

  /** Logically delete every row of the latest snapshot matching `pred`:
    * write the matched `keyCol` values as a tombstone directory under
    * `stagingDir` and commit it APPENDING. Write IO is the key list,
    * never data. Returns the committed version, or None when nothing
    * matched (no version burned, reader caches stay valid).
    */
  def deleteWhere(s: SparkSession, root: String, keyCol: String,
      pred: Column, stagingDir: String,
      committer: Committer = FsCreateCommitter): Option[Int] = {
    val v = Manifest.versions(s, root).last
    deleteKeys(s, root, keyCol,
      snapshot(s, root, keyCol, Some(v)).filter(pred), stagingDir,
      committer)
  }

  /** [[deleteWhere]] for the takedown shape requests actually arrive in
    * — an EXPLICIT key list (a right-to-be-forgotten ticket, an
    * upstream-retraction feed), no predicate scan of the table needed:
    * the tombstone commit costs only the key list's write. Keys absent
    * from the table are harmless (the read-side anti-join ignores
    * them), matching DELETE semantics on a missing row. Callers
    * deleting the same logical victims from SEVERAL derived tables
    * (postings + doclen, lists + codes) pass the one key frame to each
    * root and pay the derivation once.
    */
  def deleteKeys(s: SparkSession, root: String, keyCol: String,
      keys: DataFrame, stagingDir: String,
      committer: Committer = FsCreateCommitter): Option[Int] = {
    val v = Manifest.versions(s, root).last
    // uuid-suffixed, create-only: a deterministic path would let two
    // concurrent deletes (or a retry racing its crashed predecessor's
    // sweep) clobber each other's — possibly already-committed — key
    // list; a crashed attempt's private directory is an orphan for the
    // sweep, never an obstacle to the retry
    val tombDir = s"$stagingDir/${TombstonePrefix}v$v-" +
      java.util.UUID.randomUUID().toString
    keys.select(col(keyCol)).distinct().write.parquet(tombDir)
    // emptiness from the just-written footers on the driver — exact,
    // and no inference + count job for the common non-empty case
    if (Manifest.dirRowCount(s, Seq(tombDir)) == 0L) {
      new Path(tombDir).getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(new Path(tombDir), true)
      None
    } else Some(Manifest.commit(s, root, tombDir, committer))
  }

  /** Accumulated-tombstone-key cap for the broadcast form of the
    * merge's anti-join. Below it the tombstone keys broadcast (one scan
    * of the data, zero shuffle); above it — a heavy takedown stream
    * between [[fold]]s — the same anti-join runs SHUFFLED instead,
    * trading a shuffle for not pushing an unbounded key set through
    * driver memory and the broadcast limit. Results are identical
    * either way; the cap only picks the physical strategy. Gated on the
    * RAW tombstone row count (parquet FOOTER metadata,
    * [[Manifest.dirRowCount]], memoized — never a count job), which
    * upper-bounds the distinct key count.
    */
  private[graft] def maxBroadcastKeys(s: SparkSession): Long =
    s.conf.get("spark.graft.mor.maxBroadcastKeys", "4194304").toLong

  private def capped(s: SparkSession, tombs: Seq[String],
      keys: DataFrame): DataFrame =
    if (Manifest.dirRowCount(s, tombs) <= maxBroadcastKeys(s))
      broadcast(keys)
    else keys

  /** The distinct keys `tombs` name, broadcast within the cap. */
  private def keySet(s: SparkSession, tombs: Seq[String],
      keyCol: String): DataFrame =
    capped(s, tombs,
      SchemaMemo.read(s, tombs).select(col(keyCol)).distinct())

  /** Rows of `df` whose key a tombstone in `tombs` names — the rows a
    * newly committed set of tombstones hides, i.e. a window's delete
    * pre-images when `df` is the merged snapshot before them (new
    * tombstones outrank every row already visible).
    */
  private[graft] def namedBy(s: SparkSession, df: DataFrame,
      tombs: Seq[String], keyCol: String): DataFrame =
    df.join(keySet(s, tombs, keyCol), Seq(keyCol), "left_semi")

  private val DirEpochCol = "_graft_mor_de"
  private val TombRankCol = "_graft_mor_te"

  /** One row per key `tombs` name: (`keyCol`, its highest
    * [[tombRank]] as `_graft_mor_te`).
    */
  private[graft] def tombRanks(s: SparkSession, tombs: Seq[String],
      keyCol: String): DataFrame =
    tombs.groupBy(tombRank).toSeq.map { case (te, dirs) =>
      SchemaMemo.read(s, dirs).select(col(keyCol), lit(te).as(TombRankCol))
    }.reduce(_.union(_))
      .groupBy(col(keyCol)).agg(max(TombRankCol).as(TombRankCol))

  /** The merged rows of `data` under `tombs` — the epoch rule (see
    * above) in the one form every reader and rewrite uses. Each epoch
    * group of `data` reads tagged with its `de`, the groups joined by
    * name (a late column null-fills the groups written before it, the
    * standard drift semantic); then ONE anti-join against
    * [[tombRanks]] on `key = key && te > de` applies every tombstone to
    * every group at once, broadcast within [[maxBroadcastKeys]].
    * Without tombstones it is the plain read.
    */
  private[graft] def merged(s: SparkSession, data: Seq[String],
      tombs: Seq[String], keyCol: String): DataFrame = {
    if (tombs.isEmpty) return SchemaMemo.read(s, data)
    val rows = data.groupBy(dirEpoch).toSeq.sortBy(_._1)
      .map { case (de, dirs) =>
        SchemaMemo.read(s, dirs).withColumn(DirEpochCol, lit(de))
      }.reduce(_.unionByName(_, allowMissingColumns = true))
    val tk = capped(s, tombs, tombRanks(s, tombs, keyCol))
    rows.join(tk, rows(keyCol) === tk(keyCol) &&
        tk(TombRankCol) > rows(DirEpochCol), "left_anti")
      .drop(DirEpochCol)
  }

  /** The merged snapshot a version pins: [[merged]] over its data and
    * tombstone entries.
    */
  def snapshot(s: SparkSession, root: String, keyCol: String,
      version: Option[Int] = None): DataFrame = {
    val (tombs, data) = Manifest.entries(s, root, version)
      .partition(isTombstone)
    // a table whose every live entry is a tombstone (all rows logically
    // deleted, original data replaced away) snapshots EMPTY at the FULL
    // table schema — recovered from the latest prior version that still
    // carried data entries, so downstream projections of non-key
    // columns keep analyzing. Only when no version ever carried data
    // (or its files were already reclaimed) does the frame narrow to
    // the key column, the one schema the live entries still prove.
    if (data.isEmpty && tombs.nonEmpty) {
      val upTo = version.getOrElse(Manifest.versions(s, root).last)
      val prior = Manifest.versions(s, root).filter(_ <= upTo)
        .sorted.reverse.iterator
        .map(v => Manifest.entries(s, root, Some(v))
          .filterNot(isTombstone))
        .find(_.nonEmpty)
      return prior.flatMap(dirs =>
        scala.util.Try(SchemaMemo.read(s, dirs).limit(0)).toOption)
        .getOrElse(
          SchemaMemo.read(s, tombs).select(col(keyCol)).limit(0))
    }
    merged(s, data, tombs, keyCol)
  }

  /** Write-cheap row-level UPDATE (the deletion-vector shape, io63):
    * ONE appending version carrying an epoch-scoped tombstone of the
    * updated keys plus a `morins-<epoch>` directory of the rewritten
    * rows — write IO ∝ the update, data untouched, [[fold]] ends the
    * deferral exactly like a delete's. `rows` must carry the table's
    * full schema with `keyCol` matching `keys` (the caller's
    * contract — the SQL path derives both from the same matched set).
    * Refuses while unscoped tombstones (a MoR DELETE's) are live: they
    * outrank every epoch, so they would hide this update's re-inserted
    * rows — fold first. Returns None (nothing committed) on an empty update.
    * Concurrent updates racing this one: disjoint key sets merge
    * correctly (each epoch-N tombstone hides only lower epochs);
    * OVERLAPPING keys throw [[ConcurrentUpdateException]] from the
    * commit loop — re-plan and retry.
    */
  def updateRows(s: SparkSession, root: String, keyCol: String,
      keys: DataFrame, rows: DataFrame, stagingDir: String,
      statsCols: Seq[String] = Seq.empty,
      committer: Committer = FsCreateCommitter): Option[Int] = {
    val entries = Manifest.entries(s, root)
    require(!entries.exists(t => isTombstone(t) && tombEpoch(t).isEmpty),
      s"$root carries unscoped (MoR DELETE) tombstones — they outrank " +
        "every epoch and would hide this update's rewritten rows; " +
        "fold first")
    val epoch = nextEpoch(entries)
    // uuid-suffixed, create-only staging: a deterministic path under
    // mode=overwrite would let a concurrent caller that computed the
    // same epoch CLOBBER this one's (possibly already-committed) key
    // list — with a unique path each caller stages privately, a crashed
    // attempt's leftovers are orphans for the sweep, and the commit
    // loop's epoch guard (below) arbitrates the epoch itself
    val uuid = java.util.UUID.randomUUID().toString
    val tombDir = s"$stagingDir/${TombstonePrefix}e$epoch-$uuid"
    val insDir = s"$stagingDir/$InsertPrefix$epoch-$uuid"
    // the key-list and re-insert writes are independent jobs over
    // private staging dirs — submit both at once (guide §2.6) instead
    // of serially; an empty key list (pure-preimage slice) deletes
    // both staged dirs, exactly the old early-return
    val plan = Landing.plan(s, root, statsCols)
    val seen = GraftPar.all(Seq(
      () => { keys.select(col(keyCol)).distinct().write.parquet(tombDir)
        None },
      () => Some(Landing.observing(plan, rows)(_.write.parquet(insDir)))))
      .flatten
    val f = new Path(tombDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    if (Manifest.dirRowCount(s, Seq(tombDir)) == 0L) {
      f.delete(new Path(tombDir), true)
      f.delete(new Path(insDir), true)
      return None
    }
    Landing.prepare(s, plan, insDir, seen.headOption)
    // conflict-detecting commit: a racer that landed a same-or-higher
    // epoch over OVERLAPPING keys refuses (both morins copies of a
    // shared key would stay visible — silent duplication); disjoint-key
    // racers merge correctly and are allowed through
    Some(Manifest.commitAllGuarded(s, root, Seq(tombDir, insDir),
      epochClashGuard(s, root, keyCol, epoch, tombDir, entries),
      committer))
  }

  /** Maintenance: apply the accumulated tombstones copy-on-write — only
    * directories containing a tombstoned key are rewritten, the rest
    * carry verbatim — and commit a REPLACING version with no tombstone
    * entries. A no-tombstone table is left untouched. Old versions keep
    * their tombstones for time travel; retention reclaims them.
    */
  def fold(s: SparkSession, root: String, keyCol: String,
      stagingDir: String,
      committer: Committer = FsCreateCommitter): Option[RowDelete.Result] = {
    val baseV = Manifest.versions(s, root).last
    val (tombs, data) = Manifest.entries(s, root).partition(isTombstone)
    if (tombs.isEmpty) return None
    val plan = Landing.plan(s, root)
    // the read rule applied copy-on-write: data dirs group by the
    // tombstones that outrank them, one split and one rewrite per group
    // — one group while every tombstone is unscoped, never more than
    // the live epochs otherwise. Keys broadcast within the same cap as
    // the read path: a fold running BECAUSE tombstones piled up must
    // not be the thing that trips the broadcast limit
    val results = data.groupBy(d => tombs.filter(tombRank(_) > dirEpoch(d)))
      .toSeq.sortBy(_._2.map(dirEpoch).min)
      .map { case (applicable, dirs) =>
        if (applicable.isEmpty) (dirs, Seq.empty[String])
        else {
          val keys = keySet(s, applicable, keyCol)
          val (hit, carried) = Cow.split(s, dirs,
            _.join(keys, Seq(keyCol), "left_semi"))
          (carried, Cow.rewrite(s, plan, hit, stagingDir, "fold", baseV,
            _.join(keys, Seq(keyCol), "left_anti")))
        }
      }
    val carried = results.flatMap(_._1)
    val rewritten = results.flatMap(_._2)
    // op marker: a fold REWRITES the physical layout but preserves the
    // MERGED view exactly (it applies tombstones the read path was
    // already applying) — CDC skips it instead of diffing
    val v = Manifest.rewrite(s, root, carried ++ rewritten, committer,
      op = "fold")
    Some(RowDelete.Result(v, carried, rewritten))
  }
}

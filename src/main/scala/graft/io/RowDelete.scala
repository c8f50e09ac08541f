package graft.io

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{coalesce, lit}

/** Copy-on-write row-level DELETE on a [[Manifest]] table — the takedown
  * primitive a training-data lake needs (rights requests, contaminated or
  * recalled documents) expressed as one REPLACING commit, the same shape
  * Iceberg/Delta copy-on-write uses.
  *
  * Scale contract: one predicate-filtered scan over the snapshot finds
  * the directories that contain matches (the predicate reaches the
  * parquet scan, so row-group stats and dictionary pages prune no-match
  * files to metadata reads when the predicate is pushable); directories
  * without matches are carried into the next version VERBATIM — zero
  * bytes copied — and only the affected directories are rewritten minus
  * their matching rows. Total write IO is proportional to the data that
  * shares a directory with a deleted row, never to the table. Old
  * versions still read the old files, so the delete is time-travelable
  * and never disturbs a reader mid-query; retention ([[Manifest.expire]])
  * later reclaims the superseded directories, which is what makes the
  * delete eventually PHYSICAL, not just logical.
  */
object RowDelete {

  /** What a delete did: the committed version, the directories carried
    * verbatim, and the rewritten replacements of the affected ones.
    */
  final case class Result(version: Int, carried: Seq[String],
      rewritten: Seq[String])

  /** Delete every row matching `pred` from the table's latest snapshot.
    * Rewritten directories land under `stagingDir` (one `cowN` child per
    * affected directory). A predicate matching nothing commits nothing
    * and returns the current version — a no-op delete must not burn a
    * version slot or invalidate reader caches.
    *
    * NULL semantics match SQL DELETE (and Iceberg/Delta copy-on-write):
    * a row where `pred` evaluates to NULL is NOT matched and is KEPT.
    * The keep side therefore filters on `NOT coalesce(pred, false)` —
    * a bare `!pred` would drop NULL-predicate rows from rewritten
    * directories while identical rows in unaffected directories carry
    * verbatim, making the outcome depend on physical co-location.
    */
  def deleteWhere(s: SparkSession, root: String, pred: Column,
      stagingDir: String,
      committer: Committer = FsCreateCommitter): Result = {
    // live MergeOnRead tombstone directories are key lists, not data —
    // a row predicate must never classify or rewrite them (losing the
    // tombstone basename would resurrect every row it masks); they
    // carry verbatim and keep masking
    val baseV = Manifest.versions(s, root).last
    val (tombs, dirs) = Manifest.committed(s, root)
      .partition(MergeOnRead.isTombstone)
    val (hit, carriedData) = Cow.split(s, dirs, _.filter(pred))
    val carried = carriedData ++ tombs
    if (hit.isEmpty) return Result(baseV, carried, Nil)
    val rewritten = Cow.rewrite(s, Landing.plan(s, root), hit,
      stagingDir, "cow", baseV,
      _.filter(!coalesce(pred, lit(false))))
    val v = Manifest.rewrite(s, root, carried ++ rewritten, committer)
    Result(v, carried, rewritten)
  }
}

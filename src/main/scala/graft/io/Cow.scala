package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The shared copy-on-write machinery under [[RowDelete]],
  * [[MergeOnRead.fold]] and [[Merge.upsert]]: find the directories whose
  * rows a marker touches (one scan, parent derived from the scan's
  * `_metadata.file_path` — `input_file_name` cannot cross a join),
  * partition hit/carried, and rewrite each hit through a transform into
  * a directory [[Landing.prepare]]d with its source's sidecar columns.
  * One implementation so a fix to the path mapping lands in every
  * mutation at once.
  */
private[io] object Cow {

  /** Partition `dirs` into (hit, carried) by whether `matches` keeps any
    * of their rows. The scan exposes the file path as `_graft_fp`; the
    * distinct parent set is bounded by the commit count, so the collect
    * is manifest-sized.
    */
  def split(s: SparkSession, dirs: Seq[String],
      matches: DataFrame => DataFrame): (Seq[String], Seq[String]) = {
    if (dirs.isEmpty) return (Nil, Nil)
    val touched = matches(SchemaMemo.read(s, dirs)
        .withColumn("_graft_fp", col("_metadata.file_path")))
      .select(regexp_replace(col("_graft_fp"), "/[^/]*$", "").as("d"))
      .distinct().collect()
      .map(r => new Path(r.getString(0)).toUri.getPath)
    def owns(dir: String): Boolean = {
      val p = new Path(dir).toUri.getPath
      touched.exists(tp => tp == p || tp.startsWith(p + "/"))
    }
    dirs.partition(owns)
  }

  /** Rewrite every hit directory through `xform` into
    * `stagingDir/prefix-vV-N`, named at the hit's own merge-on-read
    * epoch ([[MergeOnRead.epochName]]: a `morins-<E>` hit lands as
    * `morins-<E>-prefix-vV-N`, so live tombstones hide the rewrite
    * exactly as they hid its source) and landed under `plan` carrying
    * the hit's own sidecar columns, so maintenance never costs a table
    * its scan planning. Returns the
    * replacements in hit order. The per-directory rewrites are
    * independent jobs over disjoint inputs and outputs, so they run
    * through [[GraftPar.all]] instead of back to back.
    *
    * Staging names are keyed by `baseVersion` (the version the rewrite
    * was planned against): a LATER maintenance run on the same staging
    * dir gets fresh names and can never clobber a directory an earlier
    * run committed into the live manifest, while a RETRY of a crashed
    * run (same base version) overwrites its own orphan instead of
    * tripping on it. Two concurrent runs at the same version are the
    * manifest's documented single-committer scope.
    *
    * On failure: one directory's rewrite throwing does not stop its
    * siblings — the first failure rethrows only after every sibling has
    * landed its output, and nothing is committed. Those landed outputs
    * are orphans under `stagingDir`; a retry at the same base version
    * overwrites them, and [[Manifest.sweepAllOrphans]] over the staging
    * root deletes them without touching a committed directory.
    */
  def rewrite(s: SparkSession, plan: Landing.Plan, hit: Seq[String],
      stagingDir: String, prefix: String, baseVersion: Int,
      xform: DataFrame => DataFrame): Seq[String] =
    GraftPar.all(hit.zipWithIndex.map { case (d, i) => () =>
      val outd = s"$stagingDir/" +
        MergeOnRead.epochName(d, s"$prefix-v$baseVersion-$i")
      val carried = plan.carrying(s, Seq(d))
      val seen = Landing.observing(carried, xform(SchemaMemo.read(s,
        Seq(d))))(_.write.mode("overwrite").parquet(outd))
      Landing.prepare(s, carried, outd, Some(seen))
      outd
    })
}

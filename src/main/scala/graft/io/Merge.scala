package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Copy-on-write MERGE (upsert) on a [[Manifest]] table — the third leg
  * of the row-level mutation family beside [[RowDelete]] (copy-on-write
  * delete) and [[MergeOnRead]] (deferred delete): `MERGE INTO table
  * USING source ON table.key = source.key WHEN MATCHED THEN UPDATE *
  * WHEN NOT MATCHED THEN INSERT *`, the shape a slowly-corrected corpus
  * needs (re-crawled documents, fixed labels, late-arriving upstream
  * rows) committed as ONE replacing version.
  *
  * This Scala helper is deliberately the KEY-REPLACING upsert only —
  * the full ANSI clause surface (conditional matched UPDATE/DELETE,
  * first-match-wins ordering, `NOT MATCHED BY SOURCE`) lives on the
  * SQL path, where Spark's `RewriteMergeIntoTable` plans it over
  * [[graft.io.dsv2.GraftGroupRewrite]] (gate io64); re-implementing
  * clause dispatch here would duplicate the planner.
  *
  * Scale contract: the source batch is assumed small relative to the
  * table (the usual upsert regime) — its key set broadcasts into a
  * semi-join against the scan's `_metadata.file_path`, so finding the
  * affected directories is one table pass with no shuffle. Directories
  * holding no matched key carry into the next version VERBATIM; affected
  * ones rewrite minus their matched rows; the whole source lands as one
  * appended directory. Write IO ∝ data sharing a directory with a
  * matched key + the source itself, never the table. Upsert semantics
  * are key-replacing: every existing row of a matched key is superseded
  * by that key's source rows — including a key currently DELETED by a
  * live [[MergeOnRead]] tombstone, whose tombstone entry is rewritten
  * minus the source keys (the upsert is the key's new truth; other
  * tombstoned keys keep masking).
  */
object Merge {

  /** Upsert `source` into the table's latest snapshot by `keyCol`.
    * Matched keys have their rows replaced by the source's; unmatched
    * source rows are inserts. One REPLACING commit; an empty source
    * commits nothing. Rewrites land under `stagingDir`.
    */
  def upsert(s: SparkSession, root: String, keyCol: String,
      source: DataFrame, stagingDir: String,
      committer: Committer = FsCreateCommitter): Option[RowDelete.Result] = {
    if (source.isEmpty) return None
    val baseV = Manifest.versions(s, root).last
    val (tombs, dirs) = Manifest.committed(s, root)
      .partition(MergeOnRead.isTombstone)
    val keys = source.select(col(keyCol)).distinct()
    def minusKeys(df: DataFrame): DataFrame =
      df.join(broadcast(keys), Seq(keyCol), "left_anti")
    val (hit, carried) = Cow.split(s, dirs,
      _.join(broadcast(keys), Seq(keyCol), "left_semi"))
    val plan = Landing.plan(s, root)
    val rewritten = Cow.rewrite(s, plan, hit, stagingDir, "merge", baseV,
      minusKeys)
    // a live tombstone over an upserted key would mask the incoming row
    // — the upsert IS the key's new truth, so intersecting tombstones
    // rewrite minus the source keys, under their own kind and epoch so
    // they keep masking their remaining keys exactly as before; the
    // key's stale data rows were already rewritten out above, so
    // nothing resurrects. A tombstone the source fully covers drops
    // from the manifest without being rewritten at all.
    val (tombHit, tombCarried) = Cow.split(s, tombs,
      _.join(broadcast(keys), Seq(keyCol), "left_semi"))
    val newTombs = tombHit.zipWithIndex.flatMap { case (d, i) =>
      val remaining = minusKeys(SchemaMemo.read(s, Seq(d)))
      if (remaining.isEmpty) None
      else {
        val outd = s"$stagingDir/" +
          MergeOnRead.epochName(d, s"merge-v$baseV-$i")
        remaining.write.mode("overwrite").parquet(outd)
        Some(outd)
      }
    }
    val upsertDir = s"$stagingDir/merge-upsert-v$baseV"
    // the appended source inherits the table's pruning discipline: the
    // union of every data directory's sidecar columns, cut down by
    // Landing to the columns the SOURCE has at a supported type (the
    // source schema is the caller's, not the table's)
    val upsertPlan = plan.carrying(s, dirs)
    val seen = Landing.observing(upsertPlan, source)(
      _.write.mode("overwrite").parquet(upsertDir))
    Landing.prepare(s, upsertPlan, upsertDir, Some(seen))
    val v = Manifest.rewrite(s, root,
      carried ++ tombCarried ++ newTombs ++ rewritten :+ upsertDir,
      committer)
    Some(RowDelete.Result(v, carried ++ tombCarried,
      (newTombs ++ rewritten) :+ upsertDir))
  }
}

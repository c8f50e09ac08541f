package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Maintenance for APPENDING manifest-table indexes — t25's BM25
  * postings, s14's IVF lists, st8-style streamed ingests: each arriving
  * batch lands as its own committed directory, which is exactly right at
  * write time (build cost ∝ new data, nothing rewritten) and wrong after
  * thousands of increments (the query-side scan pays per-file open/footer
  * overhead and the driver pays split enumeration over an ever-growing
  * directory count).
  *
  * The remedy is io17's discipline applied to index tables:
  * compact-as-a-REPLACING-commit. The current snapshot is rewritten into
  * ~targetBytes files and committed as the next manifest version — the
  * census is unchanged (file-level rewrite, row values preserved),
  * readers mid-query keep the version they resolved, time travel keeps
  * every pre-compact increment readable, and [[Manifest.expire]] later
  * reclaims the superseded fragment directories.
  *
  * Two shapes because index tables keep two kinds of state:
  *  - the INDEX ROWS (postings, list entries): file-level compaction,
  *    values untouched — [[compact]];
  *  - the PER-INCREMENT STATS rows (one (n_docs, total_len)-style row
  *    per ingest commit, distributive by design): compaction must
  *    RE-AGGREGATE, not just rewrite, or the row count grows forever
  *    even though queries only ever fold it — [[compactStats]].
  */
object IndexCompaction {

  /** Rewrite the current snapshot of `root` into `dest` (~targetBytes
    * files), land it through [[Landing.prepare]] (`statsCols` are its
    * explicit stats columns) and commit `dest` as a REPLACING manifest
    * version. Returns the new version number.
    */
  def compact(s: SparkSession, root: String, dest: String,
      targetBytes: Long = 64L * 1024 * 1024,
      statsCols: Seq[String] = Nil): Int = {
    val entries = Manifest.committed(s, root)
    val plan = Landing.plan(s, root, statsCols).carrying(s, entries)
    val seen = Landing.observing(plan,
      Compaction.sized(s, entries, targetBytes)._1)(
      _.write.mode("overwrite").parquet(dest))
    Landing.prepare(s, plan, dest, Some(seen))
    Manifest.rewrite(s, root, Seq(dest), op = "compact")
  }

  /** SCOPED compaction — Delta `OPTIMIZE … WHERE` for manifest tables:
    * rewrite ONLY the directories whose sidecar stats overlap the
    * given ranges (plus any directory without stats for a range's
    * column — conservatively a candidate) into ~targetBytes files, and
    * commit through the CONFLICT-DETECTING partial replace
    * ([[Manifest.replaceDirs]]): untouched directories carry VERBATIM,
    * concurrent appends racing the compaction keep their entries, and
    * a replacing commit that consumed a candidate mid-flight refuses
    * loudly. This is the maintenance shape a 100 TB table actually
    * runs — compact yesterday's partition, never the table: work ∝
    * the scoped slice, commit metadata ∝ 1.
    *
    * The rewritten directory lands through [[Landing.prepare]], so it
    * carries the candidates' sidecar columns — maintenance must never
    * leave an unprunable hole. Returns None (nothing committed) when
    * fewer than two candidate directories match (nothing to gain — a
    * single directory is already compact at this granularity).
    * Refuses while MoR tombstones are live: a scoped rewrite cannot
    * know which tombstoned keys live in its slice — fold first.
    */
  def compactWhere(s: SparkSession, root: String, dest: String,
      ranges: Seq[SkipStats.ColRange],
      targetBytes: Long = 64L * 1024 * 1024,
      statsCols: Seq[String] = Nil): Option[Int] = {
    val entries = Manifest.committed(s, root)
    require(!entries.exists(MergeOnRead.isTombstone),
      s"$root carries live tombstones — fold before compacting")
    val (kept, _) = SkipStats.prunedDirs(s, root, ranges, None)
    val candidates = kept.filterNot(ColumnMapping.isMapping)
    if (candidates.size < 2) return None
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val bytes = candidates.map(d => f.getContentSummary(
      new org.apache.hadoop.fs.Path(d)).getLength).sum
    val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    // mergeSchema: a drift-evolved slice must carry the UNION schema
    // through the rewrite (the cluster rule), not a random footer's
    val plan = Landing.plan(s, root, statsCols).carrying(s, candidates)
    val seen = Landing.observing(plan,
      SchemaMemo.readMerged(s, candidates).repartition(n))(
      _.write.mode("overwrite").parquet(dest))
    Landing.prepare(s, plan, dest, Some(seen))
    Some(Manifest.replaceDirs(s, root, candidates.toSet, Seq(dest),
      op = "compact"))
  }

  /** Fold a distributive per-increment stats table into its single-row
    * equivalent and commit it as a REPLACING version. The caller
    * supplies the fold (only it knows the measure columns); the result
    * must satisfy fold(increments) == fold(fold(a..k) ∪ increments
    * k+1..n) — true of any sum/count/min/max stats row — so a query
    * that aggregates the snapshot reads the same totals before and
    * after. Returns the new version number.
    */
  def compactStats(s: SparkSession, root: String, dest: String)(
      agg: DataFrame => DataFrame): Int = {
    val plan = Landing.plan(s, root)
      .carrying(s, Manifest.committed(s, root))
    val seen = Landing.observing(plan,
      agg(Manifest.snapshot(s, root)).coalesce(1))(
      _.write.mode("overwrite").parquet(dest))
    Landing.prepare(s, plan, dest, Some(seen))
    Manifest.rewrite(s, root, Seq(dest))
  }
}

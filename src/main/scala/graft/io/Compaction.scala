package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Small-file compaction — the table-maintenance operator every long-lived
  * 100 TB lake needs: streaming appends, per-key partitioned writes, and
  * over-parallel jobs all leave directories of KB-size files whose open/
  * footer overhead dominates scan time and whose count bloats the driver's
  * split enumeration.
  *
  * `plan` is a pure metadata op (one directory listing — the same listing
  * any scan pays); `compact` rewrites the data through a round-robin
  * `repartition(n)` sized so output files land near `targetBytes`. The
  * rewrite is a full shuffle BY DESIGN: round-robin is what equalizes
  * output sizes regardless of input skew. Row-level content is preserved
  * exactly (no order guarantee — parquet directories never had one).
  */
object Compaction {

  /** Target output file count for a directory: ceil(dataBytes /
    * targetBytes), at least 1. Counts only data files (skips hidden and
    * `_SUCCESS`-style markers).
    */
  def plan(s: SparkSession, dir: String, targetBytes: Long): (Int, Long) = {
    require(targetBytes > 0, "targetBytes must be positive")
    val p = new Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val bytes = fs.listStatus(p).iterator.collect {
      case f if f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith(".") => f.getLen
    }.sum
    (math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt, bytes)
  }

  /** Rewrite `dir` (parquet) into `out` as ~targetBytes files; returns the
    * file count written. Compression typically shrinks output below the
    * raw-bytes estimate — the target is an upper bound on file count, which
    * is the quantity that hurts.
    */
  def compact(s: SparkSession, dir: String, out: String,
      targetBytes: Long): Int = {
    val (n, _) = plan(s, dir, targetBytes)
    SchemaMemo.read(s, Seq(dir)).repartition(n)
      .write.mode("overwrite").parquet(out)
    n
  }

  /** Multi-directory variant: compacts a SNAPSHOT (e.g. a manifest
    * version's committed directory list) in ONE rewrite — the fragmented
    * source files feed the shuffle directly, with no intermediate copy of
    * the table.
    */
  def compactAll(s: SparkSession, dirs: Seq[String], out: String,
      targetBytes: Long): Int = {
    val (rows, n) = sized(s, dirs, targetBytes)
    rows.write.mode("overwrite").parquet(out)
    n
  }

  /** The snapshot's rows repartitioned into the file count
    * [[compactAll]] writes, and that count.
    */
  def sized(s: SparkSession, dirs: Seq[String],
      targetBytes: Long): (DataFrame, Int) = {
    require(dirs.nonEmpty, "no input directories")
    val bytes = dirs.map(d => plan(s, d, targetBytes)._2).sum
    val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    (SchemaMemo.read(s, dirs).repartition(n), n)
  }
}

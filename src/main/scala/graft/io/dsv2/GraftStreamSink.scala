package graft.io.dsv2

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.sources.StreamSinkProvider
import org.apache.spark.sql.streaming.OutputMode

import graft.io.{Landing, Manifest}

/** `writeStream.format("graft")` — a manifest table as a streaming SINK:
  * every microbatch is ONE manifest commit, and exactly-once lands on
  * the protocol's own idempotency instead of a sink-side dedup log:
  * the batch directory is NAMED by the batch id (`data/batch-%09d`),
  * and the commit is [[Manifest.commitIfAbsent]] — a restarted query
  * replaying batch N finds N's directory already committed and
  * re-commits nothing, so readers (including
  * [[GraftMicroBatchStream]] consumers downstream) never see a row
  * twice. Readers also never see a PARTIAL batch: data lands as an
  * uncommitted orphan first and becomes visible in the single commit.
  *
  * Append output mode only — a replacing mode would rewrite history
  * under downstream streams (exactly the double-count
  * [[GraftMicroBatchStream]] refuses). Each batch lands through
  * [[Landing.prepare]] like a batch write: sidecars over the
  * `statsCols`/`bloomCols` options plus the table's `TBLPROPERTIES`,
  * and the declared CHECK constraints, which refuse a violating batch.
  * The re-written batch directory on replay is overwritten BEFORE the
  * absent-check, so a crash between data-write and commit leaves only
  * an orphan that the replay replaces.
  */
class GraftStreamSink(parameters: Map[String, String]) extends Sink {

  private val root = parameters.getOrElse("path",
    throw new IllegalArgumentException(
      "graft sink requires a path (the manifest table root)"))

  private def opt(key: String): Seq[String] =
    Landing.csv(parameters.get(key.toLowerCase).orElse(parameters.get(key)))

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val s = data.sparkSession
    val dir = f"$root/data/batch-$batchId%09d"
    // replay guard: the latest list is the common case; a compaction
    // that folded this batch's dir OUT of the latest list between its
    // commit and the replay is caught by the full-history membership
    // check — which only runs when the batch directory is already on
    // disk (a replay or a crash orphan), never for a fresh batch
    val already = scala.util.Try(Manifest.committed(s, root))
      .getOrElse(Seq.empty).contains(dir) ||
      (new Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)
        .exists(new Path(dir)) && Manifest.everCommitted(s, root, dir))
    if (already) return // replayed batch: the commit already holds it
    // the sink receives a streaming-tagged plan; re-wrap its rows as a
    // batch frame to write (the file sink's own move)
    val out = org.apache.spark.sql.graftbridge.StreamingBatch.asBatch(data)
    // properties are read per batch: the table may not exist before
    // the first one
    val plan = Landing.plan(s, root, opt("statsCols"), opt("bloomCols"))
    val seen = Landing.observing(plan, out)(
      _.write.mode("overwrite").parquet(dir))
    Landing.prepare(s, plan, dir, Some(seen))
    Manifest.commitIfAbsent(s, root, dir)
  }

  override def toString: String = s"GraftStreamSink[$root]"
}

/** Registration half: lets `writeStream.format("graft")` resolve to the
  * sink (the same provider class serves batch read/write and the
  * streaming source — this completes the matrix).
  */
trait GraftStreamSinkSupport extends StreamSinkProvider {
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    require(outputMode == OutputMode.Append(),
      s"graft sink supports Append output mode only (got $outputMode): " +
        "a replacing mode would rewrite history under downstream " +
        "streaming readers")
    require(partitionColumns.isEmpty,
      "graft sink does not partition by columns — the manifest commit " +
        "is the unit of layout; use statsCols for pruning")
    new GraftStreamSink(parameters)
  }
}

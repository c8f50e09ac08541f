package graft.io.dsv2

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.connector.metric.CustomTaskMetric
import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory,
  WriterCommitMessage}
import org.apache.spark.sql.types.{DataType, LongType, StringType,
  StructType, TimestampType}

import graft.io.SkipStats

/** The skip-stats of a DataSourceV2 write, observed while it writes:
  * [[Factory]] wraps the parquet writer factory, each task aggregates
  * the observed columns of the rows it writes and returns its
  * [[Partial]] inside its commit message, and the driver's `commit`
  * merges the partials of the committed tasks ([[observed]]). A task
  * attempt that aborts returns no message, so a retried task counts
  * once. Bounds are compared with the ordering Spark's `Min`/`Max` use
  * and rendered through Spark's own cast to string, so the sidecar
  * bytes equal those of [[SkipStats.write]]'s re-read of the directory.
  */
private[graft] object ObservingWrites {

  /** One task's statistics: row count, and per observed column its
    * minimum and maximum (internal values of [[statType]], null when
    * the column held no value) and its non-null count.
    */
  final case class Partial(rows: Long, mins: Array[Any], maxs: Array[Any],
      nonNull: Array[Long])

  /** A task's commit message with its statistics beside it. */
  final case class Message(inner: WriterCommitMessage, partial: Partial)
    extends WriterCommitMessage

  /** The message the wrapped factory's writer returned. */
  def inner(m: WriterCommitMessage): WriterCommitMessage = m match {
    case Message(i, _) => i
    case other => other
  }

  /** The type a column's bounds aggregate in: [[SkipStats.statExpr]]'s
    * (timestamps as epoch micros, everything else as itself).
    */
  private def statType(dt: DataType): DataType = dt match {
    case TimestampType => LongType
    case other => other
  }

  /** Wraps `inner` so each task also aggregates `cols` of `schema`
    * (the rows as the parquet writer receives them).
    */
  class Factory(inner: DataWriterFactory, schema: StructType,
      cols: Seq[String]) extends DataWriterFactory {

    private val ordinals = cols.map(schema.fieldIndex).toArray
    private val types = cols.map(c => schema(c).dataType).toArray

    override def createWriter(partitionId: Int, taskId: Long)
        : DataWriter[InternalRow] = {
      val d = inner.createWriter(partitionId, taskId)
      new DataWriter[InternalRow] {
        private val n = ordinals.length
        private val get = types.map(InternalRow.getAccessor(_))
        private val ord = types.map(t =>
          TypeUtils.getInterpretedOrdering(statType(t)))
        private var rows = 0L
        private val mins = new Array[Any](n)
        private val maxs = new Array[Any](n)
        private val nonNull = new Array[Long](n)

        override def write(row: InternalRow): Unit = {
          var i = 0
          while (i < n) {
            val o = ordinals(i)
            if (!row.isNullAt(o)) {
              val v = get(i)(row, o)
              if (mins(i) == null || ord(i).lt(v, mins(i)))
                mins(i) = InternalRow.copyValue(v)
              if (maxs(i) == null || ord(i).gt(v, maxs(i)))
                maxs(i) = InternalRow.copyValue(v)
              nonNull(i) += 1
            }
            i += 1
          }
          rows += 1
          d.write(row)
        }
        override def commit(): WriterCommitMessage =
          Message(d.commit(), Partial(rows, mins, maxs, nonNull))
        override def abort(): Unit = d.abort()
        override def close(): Unit = d.close()
        override def currentMetricsValues(): Array[CustomTaskMetric] =
          d.currentMetricsValues()
      }
    }
  }

  /** The statistics of `cols` of `schema` over the committed tasks'
    * `messages` (built by a [[Factory]] over the same columns), with
    * bounds rendered as the re-read renders them.
    */
  def observed(s: SparkSession, schema: StructType, cols: Seq[String],
      messages: Seq[WriterCommitMessage]): SkipStats.Observed = {
    val tz = s.conf.get("spark.sql.session.timeZone")
    val parts = messages.collect { case Message(_, p) => p }
    SkipStats.Observed(parts.map(_.rows).sum, cols.zipWithIndex.map {
      case (c, i) =>
        val st = statType(schema(c).dataType)
        val ord = TypeUtils.getInterpretedOrdering(st)
        def render(v: Any) =
          Cast(Literal(v, st), StringType, Some(tz)).eval().toString
        val bounds = for {
          mn <- parts.map(_.mins(i)).filter(_ != null)
            .reduceOption[Any](ord.min(_, _))
          mx <- parts.map(_.maxs(i)).filter(_ != null)
            .reduceOption[Any](ord.max(_, _))
        } yield (render(mn), render(mx))
        c -> ((SkipStats.ColStats(SkipStats.tagOf(schema, c), bounds),
          parts.map(_.nonNull(i)).sum))
    }.toMap)
  }
}

package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Minimal JSON writer for the run record (maps, sequences, strings,
  * numbers, booleans, null).
  */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

/** One timed region: a layer boundary the benchmark crosses. `parent` is
  * the enclosing span's id (-1 at the root); `op` groups the spans of one
  * measured op. Times are epoch milliseconds with sub-ms precision, on
  * the same clock as Spark's job events.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startMs: Double, endMs: Double)

/** Spans are kept in memory and written out with the record at the end
  * of the run. With tracing off, `span` only runs its body.
  */
final class Tracer(val enabled: Boolean) {
  private val t0Nanos = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var currentOp = -1

  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nanos) / 1e6

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += null
      stack = id :: stack
      val start = nowMs
      try body
      finally {
        spans(id) = Span(id, parent, currentOp, name, start, nowMs)
        stack = stack.tail
      }
    }

  /** Runs one measured op: a root span, and a Spark job group naming the
    * op so its jobs can be attributed to it.
    */
  def op[T](spark: SparkSession, opId: Int, kind: String)(body: => T): T = {
    val sc = spark.sparkContext
    currentOp = opId
    if (enabled) sc.setJobGroup(s"perfbench-op-$opId", kind)
    try span(kind)(body)
    finally {
      if (enabled) sc.clearJobGroup()
      currentOp = -1
    }
  }

  def records: Seq[Map[String, Any]] = spans.toSeq.filter(_ != null).map(s =>
    Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs))
}

/** Job, stage and task facts gathered by a listener the benchmark
  * registers itself. Jobs carry the job group of the submitting thread
  * when it had one; jobs submitted from pool threads that did not inherit
  * it carry none and are attributed by time overlap in the report.
  */
final class JobListener extends SparkListener {
  private final class StageAcc {
    var tasks = 0L; var cpuNs = 0L; var shuffleBytes = 0L; var spillBytes = 0L
    var inputRecords = 0L; var inputBytes = 0L; var outputBytes = 0L
    var readingTasks = 0L
  }
  private final case class JobRec(id: Int, group: String, startMs: Long,
      stages: Seq[Int], var endMs: Long = -1L)

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentHashMap[Int, StageAcc]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
    jobs.put(e.jobId, JobRec(e.jobId, group, e.time, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val acc = stages.computeIfAbsent(e.stageId, _ => new StageAcc)
      acc.synchronized {
        acc.tasks += 1
        acc.cpuNs += m.executorCpuTime
        acc.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        acc.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        acc.inputRecords += m.inputMetrics.recordsRead
        acc.inputBytes += m.inputMetrics.bytesRead
        acc.outputBytes += m.outputMetrics.bytesWritten
        if (m.inputMetrics.bytesRead > 0) acc.readingTasks += 1
      }
    }
  }

  def records: Seq[Map[String, Any]] =
    jobs.values().asScala.toSeq.sortBy(_.id).map { j =>
      val accs = j.stages.flatMap(s => Option(stages.get(s)))
      def sum(f: StageAcc => Long): Long = accs.map(f).sum
      Map("id" -> j.id, "group" -> j.group, "start_ms" -> j.startMs,
        "end_ms" -> j.endMs, "tasks" -> sum(_.tasks),
        "cpu_ms" -> sum(_.cpuNs) / 1e6,
        "shuffle_bytes" -> sum(_.shuffleBytes),
        "spill_bytes" -> sum(_.spillBytes),
        "input_records" -> sum(_.inputRecords),
        "input_bytes" -> sum(_.inputBytes),
        "output_bytes" -> sum(_.outputBytes),
        "reading_tasks" -> sum(_.readingTasks))
    }
}

package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.SparkEntry

/** One `orders` row: only the columns the declared query reads. */
final case class ORow(o_orderkey: Long, o_custkey: Long, o_orderstatus: String)

/** One `events` row; `ts` is epoch nanoseconds, the engine's own flavour. */
final case class ERow(event_id: Long, ts: Long, user_id: Long,
    event_type: String, value: Double)

/** Declared queries of `SparkEntry.queries` over small tables the
  * benchmark writes itself: `q12_set_ops` (set operations in the
  * relational planner) and `st4_stream_dedup` (a Structured Streaming
  * query drained with `Trigger.AvailableNow`). Each query is one op, and
  * its result is compared with an in-memory model of its tables.
  */
final class Queries(spark: SparkSession, seed: Long) {
  import Queries._

  private var dir: String = _
  private val checksBuf = mutable.ArrayBuffer.empty[Check]
  private var runs = 0

  private val orders = Array.tabulate(Orders)(i => order(seed, i))
  private val events = Array.tabulate(Events)(i => event(seed, i))

  /** Writes the tables as single parquet files named as the engine's
    * loaders expect.
    */
  def setup(d: String): Unit = {
    dir = d
    Files.createDirectories(Paths.get(d))
    def single[T](name: String, ds: org.apache.spark.sql.Dataset[T]): Unit = {
      val staged = s"$d/_$name"
      ds.coalesce(1).write.parquet(staged)
      val part = Files.list(Paths.get(staged)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, Paths.get(s"$d/$name.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
      val path = new org.apache.hadoop.fs.Path(staged)
      path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(path, true)
    }
    val sd = seed // the closures below must not capture `this`
    single("orders", spark.range(0, Orders, 1, Settings.Cores)
      .map(i => order(sd, i.toInt))(Encoders.product[ORow]))
    single("events", spark.range(0, Events, 1, Settings.Cores)
      .map(i => event(sd, i.toInt))(Encoders.product[ERow]))
  }

  /** Issues every query once, in a fixed order. */
  def pass(run: OpRunner): Unit = {
    for (q <- Names) {
      var got: Seq[String] = Nil
      val op = run(Kind + q, 1) {
        got = SparkEntry.queries(q)(spark, dir).collect().toSeq
          .map(_.toSeq.mkString("|"))
      }
      if (op.ok) checksBuf += Check(s"q$runs.$q", expected(q).mkString(";"),
        got.mkString(";"))
    }
    runs += 1
  }

  def checks(): Seq[Check] = {
    val out = checksBuf.toSeq
    checksBuf.clear()
    out
  }

  /** The queries' rows, in their ORDER BY order, from the in-memory
    * tables.
    */
  def expected(q: String): Seq[String] = q match {
    case "q12_set_ops" =>
      def custs(st: String) =
        orders.filter(_.o_orderstatus == st).map(_.o_custkey).toSet
      val (f, o) = (custs("F"), custs("O"))
      Seq("both" -> (f & o), "f_only" -> (f -- o)).filter(_._2.nonEmpty)
        .map { case (b, s) => s"$b|${s.size}|${s.sum}" }
    case "st4_stream_dedup" =>
      events.filter(_.user_id < 30).groupBy(_.user_id).toSeq.sortBy(_._1)
        .map { case (u, es) =>
          s"$u|${es.length}|${es.map(_.event_id).sum}|" +
            s"${es.map(e => math.round(e.value * 100)).sum}"
        }
  }
}

object Queries {
  val Names = Seq("q12_set_ops", "st4_stream_dedup")
  /** Op kind prefix of a declared query. */
  val Kind = "query."
  val Orders = 15000
  val Customers = 1500
  val Events = 20000
  val Users = 150
  /** All events fall inside one hour, so the 1-hour watermark of
    * `st4_stream_dedup` never drops one and every drain is exact.
    */
  val SpanNanos = 3600L * 1000000000L
  val Ts0 = 1704067200L * 1000000000L

  def order(seed: Long, i: Int): ORow = {
    val r = new java.util.SplittableRandom(seed * 0x2545F4914F6CDD1DL + i)
    ORow(i.toLong, 1 + r.nextInt(Customers), Seq("F", "O", "P")(r.nextInt(3)))
  }

  /** Values are whole cents, so the query's decimal cast is exact. */
  def event(seed: Long, i: Int): ERow = {
    val r = new java.util.SplittableRandom(seed * 0x5851F42D4C957F2DL + i)
    ERow(i.toLong, Ts0 + r.nextLong(SpanNanos), r.nextInt(Users).toLong,
      Seq("view", "click", "cart", "buy", "share")(r.nextInt(5)),
      r.nextInt(100000) / 100.0)
  }
}

/** Progress of every streaming micro-batch, gathered by a listener the
  * benchmark registers itself. `durationMs` holds Spark's per-phase
  * timings (queryPlanning, getBatch, addBatch, walCommit, ...).
  */
final class StreamListener extends StreamingQueryListener {
  private val batches =
    new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()

  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    batches.add(Map("batch_id" -> p.batchId,
      "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "input_rows" -> p.numInputRows,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) =>
        k -> v.longValue }.toMap))
  }

  def records: Seq[Map[String, Any]] = batches.asScala.toSeq
}

package graft.runner

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.{KlioConfig, KlioIoConfig}
import graft.io.EventIO
import graft.model.KlioMessage
import graft.operators.{HandleKlio, Metrics, Prelude}

/** Config → running batch pipeline, mirroring the reference's
  * `_setup_pipeline` assembly order (`exec/src/klio_exec/commands/run.py:
  * 511-558`): per event input — read → recipients → audit → ping →
  * output-exists(+force) → input-exists → user transform — then user output
  * and pass-thru branches flow to the event outputs.
  *
  * The reference launches this inside a Docker container via `klioexec`;
  * here the equivalent entrypoint is a `spark-submit` of a main that calls
  * [[KlioPipeline.run]] with a transform. Catalyst replaces Dataflow's
  * fusion; checkpointing replaces per-message acks.
  */
object KlioPipeline {

  /** Counts observed after the run (parity with the reference's kmsg-*
    * counters, metrics client `lib/src/klio/metrics/client.py:44-172`).
    */
  case class RunSummary(processed: Long, passedThru: Long, dropped: Long)

  def readEventInput(spark: SparkSession, cfg: KlioConfig,
      io: KlioIoConfig): DataFrame = io.ioType match {
    case "file" => EventIO.readText(spark, io.location,
      cfg.jobConfig.allowNonKlioMessages)
    case "bq" => EventIO.readBq(spark, io.location, io.columns)
    case "wire" | "avro" => EventIO.readWire(spark, io.location)
    case other => sys.error(s"unsupported event input type: $other")
  }

  def writeEventOutput(df: DataFrame, io: KlioIoConfig): Unit =
    io.ioType match {
      case "file" => EventIO.writeText(df, io.location)
      case "wire" | "avro" => EventIO.writeWire(df, io.location)
      case "bq" =>
        require(io.schemaFields.nonEmpty,
          "bq event output requires a declared schema (schema.fields)")
        EventIO.writeBq(df, io.location, io.bqSchema)
      case other => sys.error(s"unsupported event output type: $other")
    }

  /** The configured standard prelude as a tagging function
    * ([[Prelude.tag]]): the existence listings of the first data input
    * and output (none when the check is skipped or the location unset)
    * and their force/ping defaults, derived from `cfg` here and nowhere
    * else. The listings are taken NOW, once; every event input the
    * returned function tags shares them — a caller that must see fresh
    * listings (a streaming micro-batch) calls this again.
    */
  def prelude(spark: SparkSession, cfg: KlioConfig,
      now: Column = current_timestamp()): DataFrame => DataFrame = {
    def listing(io: KlioIoConfig): Option[DataFrame] =
      if (io.skipExistenceCheck || io.location.isEmpty) None
      else Some(Prelude.listingFor(spark, io.location, io.fileSuffix))
    val data = cfg.jobConfig.data
    val dataIn = data.inputs.headOption.flatMap(listing)
    val dataOut = data.outputs.headOption.flatMap(listing)
    val forceDefault = data.outputs.headOption.exists(_.force)
    val pingDefault = data.inputs.headOption.exists(_.ping)
    msgs => Prelude.tag(msgs, cfg.jobRef, dataIn, dataOut,
      forceDefault, pingDefault, now)
  }

  /** An observation named uniquely: Spark rejects two different
    * observations of one name in a plan, and one run may hold several.
    */
  private[graft] def observation(prefix: String): Observation =
    Observation(s"$prefix-${java.util.UUID.randomUUID()}")

  /** The count `name` of an observation whose action has run. */
  private[graft] def counted(o: Observation, name: String): Long =
    o.get(name).asInstanceOf[Long]

  /** Writes `outBound` to every configured event output: the run's one
    * action, which completes its observations. Cached only when more than
    * one output consumes it, so the transform still runs once per message;
    * with no output, a `noop` write runs the plan.
    */
  private def writeOutputs(outBound: DataFrame, cfg: KlioConfig): Unit =
    cfg.jobConfig.events.outputs match {
      case Seq() => outBound.write.format("noop").mode("overwrite").save()
      case Seq(io) => writeEventOutput(outBound, io)
      case ios =>
        val shared = outBound.cache()
        try ios.foreach(writeEventOutput(shared, _))
        finally shared.unpersist()
    }

  /** Multi-event-input fan-in (reference `run.py:458-508`): one prelude
    * chain PER event input, then the user function receives the named map
    * of process-branches (the namedtuple-of-PCollections parity) and
    * returns the outbound messages; pass-thru branches from every input
    * union into the event outputs, exactly like the single-input path.
    * Input names are the IO locations (the reference names fields by a
    * sanitized identifier derived the same way). Counts come from
    * observations on the write's plan: the user output's rows, and the
    * routes of each input on its pass-thru path, which reads every message.
    */
  def runMulti(spark: SparkSession, cfg: KlioConfig,
      userFn: Map[String, DataFrame] => DataFrame,
      now: Column = current_timestamp()): RunSummary = {
    val route = prelude(spark, cfg, now)
    val locations = cfg.jobConfig.events.inputs.map(_.location)
    require(locations.distinct.length == locations.length,
      s"duplicate event input locations: $locations — inputs are named by " +
        "location, so a duplicate would silently shadow its twin")
    val tagged = cfg.jobConfig.events.inputs.map(io =>
      io.location -> route(readEventInput(spark, cfg, io)))
    require(tagged.nonEmpty, "at least one event input required")
    val outRows = observation("klio_user_out")
    val out = userFn(tagged.map { case (loc, t) =>
      loc -> Prelude.split(t).process }.toMap)
      .observe(outRows, count(lit(1)).as("n"))
    val routes = tagged.map(_ => observation("klio_routes"))
    val passThru = tagged.zip(routes).map { case ((_, t), o) =>
      Prelude.split(Prelude.observeRoutes(t, o)).passThru
    }.reduce(_ unionByName _)
    writeOutputs(out.unionByName(passThru), cfg)
    RunSummary(
      processed = counted(outRows, "n"),
      passedThru = routes.map(counted(_, Prelude.PassThru)).sum,
      dropped = routes.map(counted(_, Prelude.Drop)).sum)
  }

  /** Run the configured pipeline with a message-level user transform, as
    * one pass with one action: every message is tagged with its route,
    * one typed map runs the transform (with HandleKlio's retry/timeout
    * loop) on the `process` rows and passes the `pass_thru` rows with
    * `attempts = 0`, and the event-output write consumes the result.
    * Route and error counts are observed on the write's plan; timer and
    * retry metrics likewise (kmsg-timer-*, reference client.py:119-151).
    * Returns routing counts. `now` is injectable for deterministic tests.
    */
  def run(spark: SparkSession, cfg: KlioConfig,
      transform: KlioMessage => KlioMessage,
      retries: Int = 0, timeoutMs: Long = 0,
      now: Column = current_timestamp()): RunSummary = {
    import spark.implicits._

    val inputs = cfg.jobConfig.events.inputs
      .map(io => readEventInput(spark, cfg, io))
    require(inputs.nonEmpty, "at least one event input required")
    val messages = inputs.reduce(_ unionByName _)

    val routes = observation("klio_routes")
    val errors = observation("klio_errors")
    val work = HandleKlio.attempt(transform, retries = retries,
      timeoutMs = timeoutMs)
    val attempts = Metrics.timed(
      Prelude.observeRoutes(prelude(spark, cfg, now)(messages), routes)
        .filter(col(Prelude.RouteCol) =!= Prelude.Drop)
        .select(struct(KlioMessage.schema.fieldNames.map(col): _*).as("msg"),
          (col(Prelude.RouteCol) === Prelude.Process).as("process"))
        .as[(KlioMessage, Boolean)]
        .map { case (msg, process) =>
          if (process) work(msg)
          else HandleKlio.Attempt(msg, ok = true, "", attempts = 0)
        },
      cfg.jobName + "-transform")
      .observe(errors, count(when(!col("ok"), 1)).as("n"))

    // User output ∪ pass-thru rows feed every configured event output
    // (run.py:545-558).
    writeOutputs(attempts.filter(col("ok")).select(col("msg.*")), cfg)

    val errored = counted(errors, "n")
    RunSummary(
      processed = counted(routes, Prelude.Process) - errored,
      passedThru = counted(routes, Prelude.PassThru),
      dropped = counted(routes, Prelude.Drop) + errored)
  }
}

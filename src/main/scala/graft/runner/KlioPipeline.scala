package graft.runner

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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

  /** The configured standard prelude: the existence listings of the
    * first data input and output (none when the check is skipped or the
    * location unset) and their force/ping defaults, derived from `cfg`
    * here and nowhere else. The listings are taken NOW, once; every
    * event input the returned function routes shares them — a caller
    * that must see fresh listings (a streaming micro-batch) calls this
    * again.
    */
  def prelude(spark: SparkSession, cfg: KlioConfig,
      now: Column = current_timestamp()): DataFrame => Prelude.Routed = {
    def listing(io: KlioIoConfig): Option[DataFrame] =
      if (io.skipExistenceCheck || io.location.isEmpty) None
      else Some(Prelude.listingFor(spark, io.location, io.fileSuffix))
    val data = cfg.jobConfig.data
    val dataIn = data.inputs.headOption.flatMap(listing)
    val dataOut = data.outputs.headOption.flatMap(listing)
    val forceDefault = data.outputs.headOption.exists(_.force)
    val pingDefault = data.inputs.headOption.exists(_.ping)
    msgs => Prelude.standard(msgs, cfg.jobRef, dataIn, dataOut,
      forceDefault, pingDefault, now)
  }

  /** Multi-event-input fan-in (reference `run.py:458-508`): one prelude
    * chain PER event input, then the user function receives the named map
    * of process-branches (the namedtuple-of-PCollections parity) and
    * returns the outbound messages; pass-thru branches from every input
    * union into the event outputs, exactly like the single-input path.
    * Input names are the IO locations (the reference names fields by a
    * sanitized identifier derived the same way).
    */
  def runMulti(spark: SparkSession, cfg: KlioConfig,
      userFn: Map[String, DataFrame] => DataFrame,
      now: Column = current_timestamp()): RunSummary = {
    val route = prelude(spark, cfg, now)
    val locations = cfg.jobConfig.events.inputs.map(_.location)
    require(locations.distinct.length == locations.length,
      s"duplicate event input locations: $locations — inputs are named by " +
        "location, so a duplicate would silently shadow its twin")
    val inputsCached = cfg.jobConfig.events.inputs.map(io =>
      io.location -> readEventInput(spark, cfg, io).cache())
    val routedPerInput = inputsCached.map { case (loc, msgs) =>
      loc -> route(msgs)
    }
    require(routedPerInput.nonEmpty, "at least one event input required")
    // cached: the user transform must run once, not once per consumer
    // (event output write + processed count)
    val out = userFn(routedPerInput.map { case (k, r) => k -> r.process }
      .toMap).cache()
    val passThru = routedPerInput.map(_._2.passThru).reduce(_ unionByName _)
    val outBound = out.unionByName(passThru).cache()
    cfg.jobConfig.events.outputs.foreach(writeEventOutput(outBound, _))
    val summary = RunSummary(
      processed = out.count(),
      passedThru = passThru.count(),
      dropped = routedPerInput.map(_._2.drop.count()).sum)
    outBound.unpersist()
    out.unpersist()
    inputsCached.foreach(_._2.unpersist())
    summary
  }

  /** Run the configured pipeline with a message-level user transform.
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
    val messages = inputs.reduce(_ unionByName _).cache()

    val routed = prelude(spark, cfg, now)(messages)

    // cached: the user transform (typically heavy media work, possibly
    // retried/timed-out per element) must execute exactly once per message
    // — the ok/error splits, the output writes, and the summary counts are
    // all separate consumers of the same attempt stream. Timer/retry
    // metrics observe the stream in passing (kmsg-timer-*, reference
    // client.py:119-151).
    val attempts = Metrics.timed(
      HandleKlio(routed.process.as[KlioMessage], transform,
        retries = retries, timeoutMs = timeoutMs),
      cfg.jobName + "-transform").cache()
    val okOut = HandleKlio.ok(attempts).toDF()
    val errored = HandleKlio.dropped(attempts)

    // User output ∪ pass-thru branches feed every configured event output
    // (run.py:545-558); cache because N outputs re-consume it.
    val outBound = okOut.unionByName(routed.passThru).cache()
    cfg.jobConfig.events.outputs.foreach(writeEventOutput(outBound, _))

    val summary = RunSummary(
      processed = okOut.count(),
      passedThru = routed.passThru.count(),
      dropped = routed.drop.count() + errored.count())
    outBound.unpersist()
    attempts.unpersist()
    messages.unpersist()
    summary
  }
}

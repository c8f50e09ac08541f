package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.KlioJobRef

/** The standard klio pipeline prelude, re-expressed as one declarative
  * DataFrame projection that tags each message with its route (reference
  * `exec/src/klio_exec/commands/run.py:320-454` assembles the same chain
  * out of tagged-output DoFns).
  *
  * Semantics preserved:
  *  - recipients check (helpers.py:354-430): drop unless `anyone` or this
  *    job is a limited recipient; bottom-up → top-down resume via
  *    `triggerChildrenOf`.
  *  - audit log append (helpers.py:433-474).
  *  - ping filter (helpers.py:107-154): ping messages bypass work and flow
  *    straight to the event output.
  *  - output-exists + force (helpers.py:91-104,157-211): work whose output
  *    already exists is skipped unless forced — klio's incremental-compute
  *    memoization.
  *  - input-exists (helpers.py:91-96): messages whose input data is missing
  *    are dropped (or routed to trigger-upstream).
  *
  * Scale note: the whole prelude is one projection that tags each message
  * with its route ([[tag]]). Existence is an IN-subquery against the
  * listing DataFrame, which Catalyst plans as a broadcast existence join:
  * vectorized, shuffle-free, one pass over the messages — never a
  * per-element RPC like the reference's GCS `exists()` call per message
  * (`_helpers.py:267-279`).
  */
object Prelude {

  /** A three-way routed stream, klio's TaggedStates (process / pass_thru /
    * drop, `_helpers.py:50-54`), as three filters over one [[tag]]ged
    * frame.
    */
  case class Routed(process: DataFrame, passThru: DataFrame, drop: DataFrame)

  /** The route column [[tag]] adds, and its three values. */
  val RouteCol = "klio_route"
  val Process = "process"
  val PassThru = "pass_thru"
  val Drop = "drop"

  /** `tagged` observing its per-route message counts under `o`, one
    * count named after each route.
    */
  def observeRoutes(tagged: DataFrame, o: Observation): DataFrame = {
    val counts = Seq(Process, PassThru, Drop)
      .map(r => count(when(col(RouteCol) === r, 1)).as(r))
    tagged.observe(o, counts.head, counts.tail: _*)
  }

  /** KlioFilterPing: ping messages trace the DAG without doing work. The
    * per-message flag ORs with the data-input config's global ping, exactly
    * like the reference (helpers.py:107-154: msg_ping if msg_ping else
    * global_ping) — a config-level `ping: true` job does no work at all.
    */
  def splitPing(df: DataFrame, pingDefault: Boolean = false)
      : (DataFrame, DataFrame) = {
    val ping = isPing(pingDefault)
    (df.filter(!ping), df.filter(ping))
  }

  // coalesce: a null flag (message from a source that bypassed decode)
  // must land in exactly one branch — a bare null predicate excludes the
  // row from BOTH filters, silently losing it
  private def isPing(pingDefault: Boolean): Column =
    coalesce(col("metadata.ping"), lit(false)) || lit(pingDefault)

  /** Whether the message's element is listed in `listing` (an `element`
    * DataFrame). An IN-subquery, planned as a broadcast existence join,
    * the same for a driver listing, a distributed one or any query; a
    * null element is never listed.
    */
  private def listed(listing: DataFrame): Column =
    coalesce(col("element").isin(broadcast(listing.select(col("element")))),
      lit(false))

  /** The two recipient tests of KlioCheckRecipients, both never null:
    * whether this job is addressed, and whether it is the message's
    * `triggerChildrenOf` origin. A null metadata, mode or origin field
    * (a source that bypassed decode) reads as false, so such a message
    * drops instead of vanishing from every branch.
    */
  private def addressedTo(job: KlioJobRef): (Column, Column) = {
    val mode = col("metadata.intendedRecipients.mode")
    val isRecipient = exists(col("metadata.intendedRecipients.recipients"),
      r => r.getField("jobName") === job.jobName &&
        r.getField("gcpProject") === job.gcpProject)
    val trig = col("metadata.intendedRecipients.triggerChildrenOf")
    val keep = coalesce(
      mode === "anyone" || (mode === "limited" && isRecipient), lit(false))
    val isTriggerOrigin = coalesce(
      trig.getField("jobName") === job.jobName &&
        trig.getField("gcpProject") === job.gcpProject, lit(false))
    (keep, isTriggerOrigin)
  }

  /** The trigger origin's flip back to top-down flow: mode `anyone`, no
    * `triggerChildrenOf`.
    */
  private def resumed(metadata: Column): Column = metadata
    .withField("intendedRecipients.mode", lit("anyone"))
    .withField("intendedRecipients.triggerChildrenOf",
      lit(null).cast("struct<jobName:string,gcpProject:string>"))

  /** KlioCheckRecipients (v2): `anyone` → process; `limited` → process only
    * if `job` is a recipient, flipping to `anyone` when this job is the
    * `triggerChildrenOf` job (bottom-up backfill reaching its origin resumes
    * top-down flow, helpers.py:399-411). Everything else drops.
    */
  def checkRecipients(df: DataFrame, job: KlioJobRef)
      : (DataFrame, DataFrame) = {
    val (keep, isTriggerOrigin) = addressedTo(job)
    (df.filter(keep).withColumn("metadata",
      when(isTriggerOrigin, resumed(col("metadata")))
        .otherwise(col("metadata"))),
      df.filter(!keep))
  }

  /** KlioUpdateAuditLog: append (now, this job) to the provenance trail.
    * `now` defaults to current_timestamp; pass a literal for deterministic
    * tests.
    */
  def updateAuditLog(df: DataFrame, job: KlioJobRef,
      now: Column = current_timestamp()): DataFrame =
    df.withColumn("metadata", audited(col("metadata"), job, now))

  private def audited(metadata: Column, job: KlioJobRef, now: Column)
      : Column =
    metadata.withField("jobAuditLog", concat(metadata.getField("jobAuditLog"),
      array(struct(now.as("timestamp"), lit(job.jobName).as("jobName"),
        lit(job.gcpProject).as("gcpProject")))))

  /** KlioTriggerUpstream's metadata rewrite (helpers.py:702-734): address
    * the message to {upstream, this job} in limited mode with
    * `triggerChildrenOf` = this job, so the backfill resumes top-down once
    * it flows back through here.
    */
  def triggerUpstream(df: DataFrame, upstream: KlioJobRef, self: KlioJobRef)
      : DataFrame =
    df.withColumn("metadata", col("metadata")
      .withField("intendedRecipients.mode", lit("limited"))
      .withField("intendedRecipients.recipients",
        array(
          struct(lit(upstream.jobName).as("jobName"),
            lit(upstream.gcpProject).as("gcpProject")),
          struct(lit(self.jobName).as("jobName"),
            lit(self.gcpProject).as("gcpProject"))))
      .withField("intendedRecipients.triggerChildrenOf",
        struct(lit(self.jobName).as("jobName"),
          lit(self.gcpProject).as("gcpProject"))))

  /** The full default prelude in the reference's order
    * (run.py:511-558): recipients → audit → ping → output-exists(+force) →
    * input-exists → drop, as one projection. Adds [[RouteCol]]: process,
    * pass_thru (ping ∪ output listed and not forced) or drop (wrong
    * recipient ∪ input not listed). Addressed messages get the audit
    * entry (and the trigger origin's flip); a wrong-recipient message
    * keeps its metadata as it came.
    */
  def tag(df: DataFrame, job: KlioJobRef,
      existingInputs: Option[DataFrame],
      existingOutputs: Option[DataFrame],
      forceDefault: Boolean = false,
      pingDefault: Boolean = false,
      now: Column = current_timestamp()): DataFrame = {
    val (keep, isTriggerOrigin) = addressedTo(job)
    val isForced = coalesce(col("metadata.force"), lit(false)) ||
      lit(forceDefault)
    val outputListed = existingOutputs.fold(lit(false))(listed)
    val inputListed = existingInputs.fold(lit(true))(listed)
    val route = when(!keep, Drop)
      .when(isPing(pingDefault), PassThru)
      .when(outputListed && !isForced, PassThru)
      .when(!inputListed, Drop)
      .otherwise(Process)
    val md = col("metadata")
    df.withColumn(RouteCol, route)
      .withColumn("metadata", when(keep, audited(
        when(isTriggerOrigin, resumed(md)).otherwise(md), job, now))
        .otherwise(md))
  }

  /** The three route views of a [[tag]]ged frame, without [[RouteCol]]. */
  def split(tagged: DataFrame): Routed = {
    def only(route: String) =
      tagged.filter(col(RouteCol) === route).drop(RouteCol)
    Routed(only(Process), only(PassThru), only(Drop))
  }

  /** [[tag]], split into its three routes. */
  def standard(df: DataFrame, job: KlioJobRef,
      existingInputs: Option[DataFrame],
      existingOutputs: Option[DataFrame],
      forceDefault: Boolean = false,
      pingDefault: Boolean = false,
      now: Column = current_timestamp()): Routed =
    split(tag(df, job, existingInputs, existingOutputs, forceDefault,
      pingDefault, now))

  /** KlioDebugMessage (helpers.py:477-520): log each element with a prefix
    * as it flows past, pass-through. Logging per row is the reference's
    * semantics (debug tooling, not a hot-path op); executor-side log4j.
    */
  def debugMessage(df: DataFrame, prefix: String = "DEBUG"): DataFrame = {
    val logger = udf((e: String) => {
      org.apache.log4j.Logger.getLogger("graft.klio.debug")
        .info(s"$prefix $e")
      e
    })
    df.withColumn("element", logger(col("element")))
  }

  /** KlioDrop (helpers.py:264-284): terminal branch — count via observe,
    * propagate nothing.
    */
  def dropAll(df: DataFrame): DataFrame =
    df.observe("klio_drop", count(lit(1)).as("kmsg-drop")).filter(lit(false))

  /** Directory listing as an `element` DataFrame: basenames under `dir`
    * matching `suffix`, suffix stripped — the vectorized stand-in for
    * klio's per-element existence RPC. Listing happens once per batch on
    * the driver (a metadata op) — the fast path for directories that fit
    * one RPC; [[distributedListingFor]] is the same contract for object
    * stores with millions of keys.
    */
  def listingFor(spark: SparkSession, dir: String, suffix: String)
      : DataFrame = {
    val names = entryNames(spark, dir)
      // hidden-file convention (matches Spark's file-source index, so
      // this listing and distributedListingFor stay interchangeable):
      // '_'/'.' prefixes are metadata (_SUCCESS, .crc), never data
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
      .filter(_.endsWith(suffix))
      .map(_.dropRight(suffix.length))
    import spark.implicits._
    names.toDF("element")
  }

  /** The entry names directly under `dir` (a file lists itself; a missing
    * path lists nothing), by name only. On the local filesystem a
    * `java.nio` directory stream reads the names without the `stat` per
    * entry that Hadoop's local `listStatus` pays (9,400 empty files on a
    * 4-core machine, 12 listings in one JVM: 5–29 ms against 104–314 ms).
    * Other schemes keep `listStatus`, the listing object stores implement.
    */
  private def entryNames(spark: SparkSession, dir: String): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.getScheme == "file") {
      import java.nio.file.{Files, Paths}
      val local = Paths.get(fs.makeQualified(path).toUri)
      if (Files.isDirectory(local)) {
        val entries = Files.newDirectoryStream(local)
        try {
          import scala.jdk.CollectionConverters._
          entries.asScala.map(_.getFileName.toString).toVector
        } finally entries.close()
      } else if (Files.exists(local)) Seq(local.getFileName.toString)
      else Seq.empty
    } else if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq.map(_.getPath.getName)
  }

  /** [[listingFor]] through Spark's file-source index instead of a
    * driver `listStatus`: the `binaryFile` source discovers files with a
    * distributed listing job once the path count crosses
    * `spark.sql.sources.parallelPartitionDiscovery.threshold`, and the
    * projection keeps only `path`, so file CONTENT is pruned at the scan
    * — no byte of data is read, only metadata. Same (element) contract,
    * so the existence tests are interchangeable between the two;
    * use this for object-store prefixes with millions of keys where a
    * single driver listing RPC stalls the batch.
    */
  def distributedListingFor(spark: SparkSession, dir: String,
      suffix: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    import spark.implicits._
    if (!fs.exists(path)) Seq.empty[String].toDF("element")
    else {
      val glob = if (suffix.nonEmpty) s"*$suffix" else "*"
      val name = substring_index(col("path"), "/", -1)
      val element =
        if (suffix.isEmpty) name
        else name.substr(lit(1), length(name) - suffix.length)
      spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(dir)
        .select(element.as("element"))
    }
  }
}
